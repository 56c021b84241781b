#!/usr/bin/env python3
"""Pin the expected results of a batch workload.

Usage (from the repository root, on the commit whose results are pinned):
  python3 layerbench/pin.py <workload> <local_verify.json> [query ...]

<local_verify.json> is the output of `scripts/local_verify.py` over the
benchmark's generated tables (graft.Verify first, see layerbench/README.md);
only queries it reports as matching the DuckDB oracle are pinned. The
harness then runs every such query three times, as a traced run does; a
query is pinned only when all three give the same row count and
fingerprint. Writes layerbench/expected/<workload>.json with, per query,
the rows, the fingerprint, the family, the reference latency (median of
the three passes, ms) and the build-time job count.
"""
import json
import shutil
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

# Query families as graft.BenchFamilies classified them when the pins were made.
GRAPH = set("""q_pagerank q_pagerank_w q_sssp q_harmonic q_kcore q_lpa q_triangles q_adamic
q_hop_distance q_trustrank q_hits q_modularity q_assortativity q_reciprocity
q_clustering_coef q_common_neighbors q_degree_dist q_centralization q_rich_club q_walks
q_paths q_islands q_prank q_follows q_transitions q_concurrency q_betweenness
q_graph_dist""".split())
SIMILARITY = set("""q_sim_brute q_sim_lsh q_sim_ivf q_sim_pq q_sim_ivfpq q_knn_graph
q_knn_eval q_ann_graph q_matryoshka q_jlproj q_hard_negatives q_doc_embed q_embed_pairs
q_embed_norms q_pca2 q_whiten q_mahalanobis q_power_iter q_semdedup q_semdedup_knn
q_cluster q_silhouette q_db_index q_ch q_dunn q_mixture q_cka q_kcenter q_shapley
q_shapley_ann q_mmr""".split())
DEDUP = set("""q_chunk_dedup q_para_dedup q_span_dup q_span_removal q_prefix_dup
q_jaccard_sweep q_containment q_edit_dist q_jaro_link q_fuzzy_join q_split_assign
q_cdc_chunks q_cdc_merge q_boilerplate q_novelty q_contamination""".split())


def family(q):
    if q.startswith("q_dedup") or q.startswith("q_dup") or q in DEDUP:
        return "dedup"
    if q in GRAPH:
        return "graph"
    if q in SIMILARITY:
        return "similarity"
    return "other"


def main():
    workload, verified = sys.argv[1], sys.argv[2]
    cfg = run.CONFIG["workloads"][workload]
    text = Path(verified).read_text()
    report = json.loads(text[:text.rindex("\n==")] if "\n==" in text else text)
    matched = {q for q, e in report.items() if e.get("status") == "match"}
    wanted = sys.argv[3:] or cfg.get("queries") or sorted(matched)
    ops = [q for q in wanted if q in matched and q not in run.CONFIG["warmup"]["queries"]]
    work = run.BUILD / "pin"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    plan = {"workload": workload, "kind": "batch", "cores": run.CONFIG["cores"],
            "setups": 1, "trace": 1, "work_dir": work / "jvm",
            "out": work / "result.json", "spans": work / "spans.jsonl",
            "sf_dir": run.ensure_data(cfg["sf"]), "ops": ",".join(ops),
            "warmup": ",".join(run.CONFIG["warmup"]["queries"]),
            "warmup_dir": run.ensure_data(run.CONFIG["warmup"]["sf"])}
    run.JVM_TIMEOUT_S = 7200
    raw = run.run_jvm(plan, work)
    seen = {}
    for p in raw["passes"]:
        for op in p["ops"]:
            seen.setdefault(op["name"], []).append(op)
    pinned, dropped = {}, {}
    for q in ops:
        runs = seen.get(q, [])
        if len(runs) != 3 or any(r["error"] for r in runs):
            dropped[q] = "error: " + str(next((r["error"] for r in runs if r["error"]), "missing"))
        elif len({(r["rows"], r["fp"]) for r in runs}) != 1:
            dropped[q] = "fingerprint differs between passes"
        else:
            pinned[q] = {"rows": runs[0]["rows"], "fp": runs[0]["fp"], "family": family(q),
                         "ref_ms": round(statistics.median(
                             r["build_ms"] + r["action_ms"] for r in runs), 1),
                         "build_jobs": int(next(r for r in runs if r["traced"])
                                           ["counters"]["build_jobs"])}
    out = HERE / cfg["expected"]
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(pinned, indent=1, sort_keys=True) + "\n")
    print(json.dumps({"pinned": len(pinned), "dropped": dropped}, indent=1))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
