#!/usr/bin/env python3
"""Layer-split benchmark of the graft engine.

Usage (from the repository root):
  python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness and the repository from source on first use (sbt,
offline), generates the input tables, runs one workload in a fresh JVM,
checks every result and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Everything it writes stays under
.bench_build/ in the checkout; traced runs leave their summary and spans in
.bench_build/traces/ for trace_diff.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import benchlib  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CONFIG = json.loads((HERE / "workloads.json").read_text())
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Deterministic per-query counters compared between the two traced passes.
EXACT = ["open_jobs", "build_jobs", "build_stages", "action_jobs", "action_stages",
         "tasks", "shuffle_write_b", "leaked_rdds"]
# Percentiles, printed with their sample count.
SAMPLED = {"query_p50_ms", "query_p90_ms", "event_latency_p50_ms", "event_latency_p99_ms"}
# The open loop's batching follows the clock; only the replay's is fixed.
STREAM_EXACT = ["batches", "input_rows"]


def fail(msg, code=2):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(code)

# ---------------------------------------------------------------- build


def source_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties",
             ROOT / "build.sbt", *sorted((ROOT / "project").glob("*.sbt")),
             *sorted((ROOT / "project").glob("*.properties"))]
    for base in (HERE / "src", ROOT / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def ensure_built():
    """Compile with sbt when the sources changed; returns (classpath, jvm opts)."""
    launch, stamp = BUILD / "launch.txt", BUILD / "launch.digest"
    digest = source_digest()
    if not (launch.exists() and stamp.exists() and stamp.read_text() == digest):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = BUILD / "build.log"
        with open(log, "w") as out:
            rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            f"-Dlayerbench.launch={launch}", "writeLaunch"],
                           cwd=HERE, env=env, out=out, timeout=BUILD_TIMEOUT_S)
        if rc != 0:
            fail(f"build failed (exit {rc}), see {log}", 3)
        stamp.write_text(digest)
    lines = launch.read_text().splitlines()
    return lines[0], [x for x in lines[1:] if x]


def run_child(cmd, cwd, env, out, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

# ----------------------------------------------------------------- data


def ensure_data(sf):
    """Generate the tables of one scale factor once per checkout."""
    import gen_data
    out = BUILD / "data" / f"sf{sf}"
    stamp = out / ".digest"
    digest = hashlib.sha256((HERE / "gen_data.py").read_bytes()).hexdigest()
    if not (stamp.exists() and stamp.read_text() == digest):
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(float(sf), out)
        stamp.write_text(digest)
    return out


def stage_parcels(cfg, seed, seconds, stage):
    """Write the parcels input files of one run: a warm-up replay, the
    open-loop files (phase 1) and the pre-written replay (phase 2). Orders
    are disjoint between the three; the seed draws which orders and how
    their events interleave. Each event carries its file's due offset."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    data = ensure_data(cfg["sf"])
    o = pq.read_table(data / "orders.parquet", columns=["o_orderkey", "o_orderdate"])
    li = pq.read_table(data / "lineitem.parquet", columns=["l_orderkey", "l_shipdate"])
    okey, ots = o.column(0).to_numpy(), o.column(1).cast(pa.int64()).to_numpy()
    lkey, lts = li.column(0).to_numpy(), li.column(1).cast(pa.int64()).to_numpy()
    lines = np.bincount(lkey, minlength=int(okey.max()) + 1)[okey]
    sizes = dict(zip(okey[lines > 0].tolist(), (lines[lines > 0] + 1).tolist()))
    keys = benchlib.seeded_order(sorted(sizes), seed)
    period = cfg["period_ms"]
    per_file = int(cfg["rate_events_per_s"] * period / 1000)
    n_files = max(1, int(seconds * cfg["open_loop_share"] * 1000 / period))
    warm = benchlib.take_orders(sizes, keys, cfg["warmup_events"])
    p1 = benchlib.take_orders(sizes, keys[len(warm):], per_file * n_files)
    p2 = benchlib.take_orders(sizes, keys[len(warm) + len(p1):], cfg["drain_events"])
    chosen = np.array(warm + p1 + p2)
    mo, ml = np.isin(okey, chosen), np.isin(lkey, chosen)
    events = benchlib.parcels_events(okey[mo], ots[mo], lkey[ml], lts[ml])
    plan = {}
    for name, chosen, files, period_ in (("warmup", warm, cfg["warmup_files"], 0),
                                         ("p1", p1, n_files, period),
                                         ("p2", p2, cfg["drain_files"], 0)):
        d = stage / name
        d.mkdir(parents=True)
        seq = benchlib.interleave({k: events[k] for k in chosen}, seed)
        for i, part in enumerate(benchlib.split(seq, files)):
            pq.write_table(pa.table({
                "order_key": pa.array([k for k, _ in part], pa.int64()),
                "kind": [ev[0] for _, ev in part],
                "ts_us": pa.array([ev[1] for _, ev in part], pa.int64()),
                "to_ship": pa.array([ev[2] for _, ev in part], pa.int32()),
                "due_ms": pa.array([i * period_] * len(part), pa.int64())}),
                d / f"f{i:05d}.parquet")
        plan[name] = len(seq)
    return {"p1_period_ms": period, "p1_events_per_file": per_file,
            "p2_max_files": cfg["drain_max_files"], "sla_days": cfg["sla_days"],
            "stage_dir": stage, "events": plan}

# ------------------------------------------------------------------ run


def mix(cfg, expected):
    """The queries of a batch workload. The stratified mix is drawn once, by
    `draw_seed`, so every run measures the same work; runs differ in order.
    Strata are cut within each family and, apart, among its iterative
    queries (5 or more build-time jobs), so both keep their share. An
    `every` list keeps every n-th query ranked by reference latency."""
    if cfg["select"] == "every":
        ranked = sorted(cfg["queries"], key=lambda q: (expected[q]["ref_ms"], q))
        return ranked[::cfg["every"]]
    cands = {q: {"family": e["family"] + ("/iterative" if e["build_jobs"] >= 5 else ""),
                 "ref_ms": e["ref_ms"]}
             for q, e in expected.items()
             if e["ref_ms"] <= cfg["max_ref_ms"] and q not in CONFIG["warmup"]["queries"]}
    return benchlib.stratified_draw(cands, cfg["draw_seed"], cfg["stratum"])


def make_plan(name, cfg, seed, seconds, trace, work):
    plan = {"workload": name, "kind": cfg["kind"], "cores": CONFIG["cores"],
            "setups": CONFIG["setups"], "trace": int(trace),
            "work_dir": work / "jvm", "out": work / "result.json",
            "spans": work / "spans.jsonl"}
    info = {}
    if cfg["kind"] == "batch":
        expected = json.loads((HERE / cfg["expected"]).read_text())
        ops = benchlib.seeded_order(mix(cfg, expected), seed)
        plan.update(sf_dir=ensure_data(cfg["sf"]), ops=",".join(ops),
                    warmup=",".join(CONFIG["warmup"]["queries"]),
                    warmup_dir=ensure_data(CONFIG["warmup"]["sf"]))
        info.update(ops=ops, expected=expected)
    else:
        s = stage_parcels(cfg, seed, seconds, work / "stage")
        info["events"] = s.pop("events")
        plan.update(s)
    return plan, info


def run_jvm(plan, work):
    cp, opts = ensure_built()
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    plan_file = work / "plan.txt"
    plan_file.write_text("".join(f"{k}={v}\n" for k, v in plan.items()))
    cmd = ["java", f"-Xms{CONFIG['heap']}", f"-Xmx{CONFIG['heap']}",
           f"-Djava.io.tmpdir={work / 'tmp'}", *opts, "-cp", cp, "layerbench.Main", str(plan_file)]
    log = work / "jvm.log"
    with open(log, "w") as out:
        rc = run_child(cmd, cwd=work, env=os.environ, out=out, timeout=JVM_TIMEOUT_S)
    if rc != 0 or not Path(plan["out"]).exists():
        tail = log.read_text(errors="replace")[-3000:]
        fail(f"harness failed (exit {rc}):\n{tail}", 4)
    return json.loads(Path(plan["out"]).read_text())

# -------------------------------------------------------------- metrics


def op_wall(op):
    return op["build_ms"] + op["action_ms"] + op["release_ms"]


def batch_metrics(raw, info):
    """End-to-end numbers of a batch run from its untraced queries (pass M,
    or the untraced half of a traced run's pass A); every query is checked."""
    ops = [op for p in raw["passes"] for op in p["ops"]]
    failed, bad = benchlib.check_ops(ops, info["expected"])
    first = raw["passes"][0]
    measured = [op for op in first["ops"] if not op["traced"]]
    lat = [op["build_ms"] + op["action_ms"] for op in measured]
    return {"attempted": len(ops), "failed": failed, "bad": bad,
            "cpu_s": first["cpu_ms"] / 1000,
            "mix_wall_s": sum(op_wall(op) for op in measured) / 1000,
            "query_p50_ms": statistics.median(lat),
            "query_p90_ms": benchlib.percentile(lat, 90), "samples": len(lat)}


def stream_metrics(raw):
    p = next(x for x in raw["passes"] if not x["traced"])
    p1, p2 = p["p1"], p["p2"]
    attempted = p1["orders"] + p2["orders"]
    failed = p1["wrong"] + p2["wrong"]
    late_max, late_files = benchlib.lateness(p1["due_ms"], p1["actual_ms"])
    return {"attempted": attempted, "failed": failed, "bad": [],
            "drain_s": p2["drain_ms"] / 1000, "cpu_s": p2["cpu_ms"] / 1000,
            "drain_events_per_s": p2["events"] / (p2["drain_ms"] / 1000),
            "event_latency_p50_ms": statistics.median(p1["latency_ms"]),
            "event_latency_p99_ms": benchlib.percentile(p1["latency_ms"], 99),
            "late_ms_max": late_max, "late_files": late_files, "samples": len(p1["latency_ms"])}


def batch_layers(raw, cores):
    """Per-layer metrics of a traced batch run. Times and counts come from
    pass B, where every query is traced; its counts are compared with the
    traced half of pass A. The overhead compares A's traced and untraced
    runs of the same queries."""
    a_ops = raw["passes"][0]["ops"]
    b_ops = raw["passes"][1]["ops"]

    def total(k):
        return sum(op["counters"][k] for op in b_ops)
    build = sum(op["build_ms"] for op in b_ops)
    action = sum(op["action_ms"] for op in b_ops)
    cat = {k: total(k + "_ms") for k in ("analysis", "optimization", "planning")}
    jobs_build, jobs_action = total("build_jobs"), total("action_jobs")
    out = {
        "sources.open_jobs": total("open_jobs"), "sources.open_ms": total("open_ms"),
        "operators.build_ms": build, "operators.build_jobs": jobs_build,
        "operators.build_stages": total("build_stages"),
        "operators.build_job_share": jobs_build / max(1, jobs_build + jobs_action),
        "catalyst.analysis_ms": cat["analysis"],
        "catalyst.optimization_ms": cat["optimization"],
        "catalyst.planning_ms": cat["planning"],
        "exec.action_ms": action, "exec.jobs": jobs_action,
        "exec.stages": total("action_stages"), "exec.tasks": total("tasks"),
        "exec.task_run_ms": total("task_run_ms"), "exec.task_cpu_ms": total("task_cpu_ms"),
        "exec.idle_slot_ms": action * cores - total("task_run_ms"),
        "exec.shuffle_write_b": total("shuffle_write_b"), "exec.spill_b": total("spill_b"),
        "exec.task_gc_ms": total("task_gc_ms"), "exec.tasks_failed": total("tasks_failed"),
        "cache.release_ms": sum(op["release_ms"] for op in b_ops),
        "cache.leaked_rdds": sum(op["leaked_rdds"] for op in b_ops),
        "sources.self_ms": total("open_ms"),
        "operators.self_ms": build - total("open_ms"),
        "catalyst.self_ms": sum(cat.values()),
        "exec.self_ms": action - sum(cat.values()),
    }
    out["cache.self_ms"] = out["cache.release_ms"]
    out.update({k: 0.0 for k in (
        "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
        "streaming.planning_ms", "streaming.source_ms", "streaming.commit_ms",
        "streaming.state_rows", "streaming.state_mem_b", "streaming.backlog_files_end",
        "streaming.self_ms")})

    def per_query(ops):
        return {op["name"]: dict(op["counters"], leaked_rdds=op["leaked_rdds"],
                                 build_ms=op["build_ms"], action_ms=op["action_ms"],
                                 release_ms=op["release_ms"])
                for op in ops if op["traced"]}
    traced = sum(op_wall(op) for op in a_ops if op["traced"])
    untraced = sum(op_wall(op) for op in a_ops if not op["traced"])
    return out, {"A": per_query(a_ops), "B": per_query(b_ops)}, traced / untraced - 1


def stream_layers(raw, cores):
    """Per-layer metrics of a traced stream run (passes A traced, U
    untraced, B traced): times are the mean of A and B, counts come from A
    and the replay's counts are compared with B. The overhead compares the
    replay drain of A and B with U's."""
    a, u, b = raw["passes"]

    def mean(f):
        return (f(a) + f(b)) / 2

    def layer(phase, k):
        return mean(lambda p: p[phase]["layers"][k])
    action = mean(lambda p: sum(p[ph]["layers"]["trigger_ms"] * p[ph]["layers"]["batches"]
                                for ph in ("p1", "p2")))
    run_ms = mean(lambda p: p["counters"]["task_run_ms"])
    c = a["counters"]
    out = {k: 0.0 for k in (
        "sources.open_jobs", "sources.open_ms", "sources.self_ms", "operators.build_ms",
        "operators.build_jobs", "operators.build_stages", "operators.build_job_share",
        "operators.self_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms", "catalyst.self_ms", "cache.release_ms", "cache.leaked_rdds",
        "cache.self_ms")}
    out.update({
        "exec.action_ms": action, "exec.jobs": c["action_jobs"],
        "exec.stages": c["action_stages"], "exec.tasks": c["tasks"],
        "exec.task_run_ms": run_ms, "exec.task_cpu_ms": mean(lambda p: p["counters"]["task_cpu_ms"]),
        "exec.idle_slot_ms": action * cores - run_ms,
        "exec.shuffle_write_b": c["shuffle_write_b"], "exec.spill_b": c["spill_b"],
        "exec.task_gc_ms": mean(lambda p: p["counters"]["task_gc_ms"]),
        "exec.tasks_failed": c["tasks_failed"], "exec.self_ms": action,
        "streaming.batches": a["p1"]["layers"]["batches"] + a["p2"]["layers"]["batches"],
        "streaming.trigger_ms": layer("p2", "trigger_ms"),
        "streaming.add_batch_ms": layer("p2", "add_batch_ms"),
        "streaming.planning_ms": layer("p2", "planning_ms"),
        "streaming.source_ms": layer("p2", "source_ms"),
        "streaming.commit_ms": layer("p2", "commit_ms"),
        "streaming.state_rows": a["p1"]["layers"]["state_rows"],
        "streaming.state_mem_b": a["p1"]["layers"]["state_mem_b"],
        "streaming.backlog_files_end": a["p1"]["layers"]["backlog_files_end"],
        "streaming.self_ms": action,
    })

    def replay(p):
        return {"replay": {"batches": p["p2"]["layers"]["batches"],
                           "input_rows": p["p2"]["layers"]["input_rows"],
                           "drain_ms": p["p2"]["drain_ms"]}}
    overhead = mean(lambda p: p["p2"]["drain_ms"]) / u["p2"]["drain_ms"] - 1
    return out, {"A": replay(a), "B": replay(b)}, overhead


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        fail(f"{ROOT} holds no graft sources to build and measure")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cfg = CONFIG["workloads"][args.workload]
    BUILD.mkdir(exist_ok=True)
    work = BUILD / "run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        plan, info = make_plan(args.workload, cfg, args.seed, args.seconds, args.trace, work)
        raw = run_jvm(plan, work)
        m = batch_metrics(raw, info) if cfg["kind"] == "batch" else stream_metrics(raw)
        spans = Path(plan["spans"]).read_text() if args.trace else ""
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args, cfg, raw, m, info, spans)


def report(args, cfg, raw, m, info, spans):
    setup_s = statistics.median(raw["setup_ms"]) / 1000
    failed_frac = m["failed"] / m["attempted"]
    named = {"setup_s": (setup_s, "s"), "failed_frac": (failed_frac, "ratio"),
             "live_heap_mb": (raw["live_heap_mb"], "MB")}
    if cfg["kind"] == "batch":
        named.update(mix_wall_s=(m["mix_wall_s"], "s"), query_p50_ms=(m["query_p50_ms"], "ms"))
        if args.workload.startswith("catalog"):
            named["query_p90_ms"] = (m["query_p90_ms"], "ms")
        wall = m["mix_wall_s"]
    else:
        named.update(event_latency_p50_ms=(m["event_latency_p50_ms"], "ms"),
                     event_latency_p99_ms=(m["event_latency_p99_ms"], "ms"),
                     drain_events_per_s=(m["drain_events_per_s"], "events/s"),
                     generator_late_ms_max=(m["late_ms_max"], "ms"),
                     generator_late_files=(m["late_files"], "count"))
        wall = m["drain_s"]
    for name, (v, unit) in named.items():
        shown = "n/a (fewer than 10 samples beyond it)" if v is None else f"{v:.6g} {unit}"
        if name in SAMPLED:
            shown += f" (n={m['samples']})"
        print(f"{args.workload}  {name:<22} {shown}")
    record = {"workload": args.workload, "seed": args.seed, "rule": cfg["rule"],
              "box": raw["box"], "heap": CONFIG["heap"], "setup_ms": raw["setup_ms"],
              "measured_ms": raw["measured_ms"]}
    if cfg["kind"] == "batch":
        record["queries"] = info["ops"]
    else:
        record.update({k: cfg[k] for k in ("rate_events_per_s", "period_ms", "drain_events",
                                           "drain_files", "drain_max_files", "sla_days")},
                      events=info["events"])
    print(f"{args.workload}  record {json.dumps(record)}")
    for q, why in m["bad"][:20]:
        print(f"{args.workload}  FAILED {q}: {why}", file=sys.stderr)

    if not args.trace:
        metrics = {"setup_s": (setup_s, "s"), "wall_s": (wall, "s"),
                   "live_heap_mb": (raw["live_heap_mb"], "MB")}
    else:
        layers, per_query, overhead = (batch_layers if cfg["kind"] == "batch" else
                                       stream_layers)(raw, raw["cores"])
        layers["trace.overhead_frac"] = overhead
        flags = benchlib.unrepeated(per_query["A"], per_query["B"],
                                    EXACT if cfg["kind"] == "batch" else STREAM_EXACT)
        for q, k, va, vb in flags:
            print(f"{args.workload}  UNREPEATED {q}.{k}: pass A {va}, pass B {vb}")
        extra = {"check.failed_frac": failed_frac, "check.counters_unrepeated": len(flags),
                 "driver.gc_ms": raw["driver_gc_ms"], "jvm.cpu_ms": m["cpu_s"] * 1000,
                 "gen.late_ms_max": m.get("late_ms_max", 0.0),
                 "stream.event_latency_p50_ms": m.get("event_latency_p50_ms", 0.0),
                 "stream.event_latency_p99_ms": m.get("event_latency_p99_ms") or 0.0,
                 "mix.query_p50_ms": m.get("query_p50_ms", 0.0),
                 "stream.drain_events_per_s": m.get("drain_events_per_s", 0.0),
                 "mix.query_p90_ms": m.get("query_p90_ms") or 0.0}
        layers.update(extra)
        wanted = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
        metrics = {x["name"]: (layers[x["name"]], x["unit"]) for x in wanted}
        traces = BUILD / "traces"
        traces.mkdir(exist_ok=True)
        stem = traces / f"{args.workload}-seed{args.seed}"
        stem.with_suffix(".json").write_text(json.dumps({
            "workload": args.workload, "seed": args.seed, "layers": layers,
            "per_query": per_query, "unrepeated": flags}, indent=1))
        stem.with_suffix(".spans.jsonl").write_text(spans)
        print(f"{args.workload}  trace summary {stem.with_suffix('.json')}")
    print(json.dumps({"correct": m["failed"] == 0, "attempted": m["attempted"],
                      "failed": m["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
