"""The benchmark's own logic: seeded draws, percentiles, result checks,
generator lateness, the parcels replay and the per-layer rollup.

Everything here is plain Python over plain data so it can be tested
without Spark (see tests/test_benchlib.py).
"""
import math
import random

# ---------------------------------------------------------------- draws


def stratified_draw(candidates, seed, stratum):
    """One query per stratum, drawn by `seed`, in seeded order.

    `candidates` maps query -> {"family": str, "ref_ms": float}. Within each
    family the queries are ranked by reference cost and cut into strata of
    `stratum` consecutive ranks (the last one may be smaller), so every draw
    has the same family mix and nearly the same cost profile.
    """
    rnd = random.Random(seed)
    families = {}
    for q, c in candidates.items():
        families.setdefault(c["family"], []).append(q)
    drawn = []
    for fam in sorted(families):
        ranked = sorted(families[fam], key=lambda q: (candidates[q]["ref_ms"], q))
        for i in range(0, len(ranked), stratum):
            drawn.append(rnd.choice(ranked[i:i + stratum]))
    rnd.shuffle(drawn)
    return drawn


def seeded_order(queries, seed):
    out = list(queries)
    random.Random(seed).shuffle(out)
    return out

# ---------------------------------------------------------- percentiles


MIN_BEYOND = 10


def percentile(values, p, min_beyond=MIN_BEYOND):
    """A tail percentile (linear interpolation), or None when fewer than
    `min_beyond` samples lie at or beyond it (latencies tie within a
    micro-batch, so ties count)."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    if sum(1 for x in xs if x >= v) < min_beyond:
        return None
    return v

# --------------------------------------------------------------- checks


def check_ops(ops, expected):
    """Count failed ops: errors, and results whose row count or fingerprint
    differs from the pinned one (an op with nothing pinned cannot be checked
    and counts as failed). Returns (failed, [(name, reason)])."""
    bad = []
    for op in ops:
        exp = expected.get(op["name"])
        if op.get("error"):
            bad.append((op["name"], "error: " + op["error"]))
        elif exp is None:
            bad.append((op["name"], "no pinned result"))
        elif op["rows"] != exp["rows"] or op["fp"] != exp["fp"]:
            bad.append((op["name"], f"got {op['rows']} rows {op['fp']}, "
                                    f"pinned {exp['rows']} rows {exp['fp']}"))
    return len(bad), bad


def lateness(due_ms, actual_ms):
    """How late the open-loop generator made each file visible: the largest
    lateness in ms (0 when never late) and the number of files later than
    half a period."""
    late = [max(0.0, a - d) for d, a in zip(due_ms, actual_ms)]
    period = (due_ms[1] - due_ms[0]) if len(due_ms) > 1 else float("inf")
    return (max(late) if late else 0.0), sum(1 for x in late if x > period / 2)


def unrepeated(counters_a, counters_b, keys):
    """(query, counter) pairs whose deterministic count differs between two
    traced passes (or runs)."""
    out = []
    for q in sorted(set(counters_a) & set(counters_b)):
        for k in keys:
            if counters_a[q].get(k) != counters_b[q].get(k):
                out.append((q, k, counters_a[q].get(k), counters_b[q].get(k)))
    return out

# -------------------------------------------------------------- parcels


def parcels_events(order_keys, order_ts_us, line_order, line_ship_us):
    """Per-order event lists from orders joined with lineitem: one ORDER
    event (to_ship = its line count) and one SHIPMENT per line, each order's
    events in event-time order (ORDER first on ties). Orders without lines
    are left out."""
    lines = {}
    for k, ts in zip(line_order, line_ship_us):
        lines.setdefault(int(k), []).append(int(ts))
    out = {}
    for k, ts in zip(order_keys, order_ts_us):
        ships = lines.get(int(k))
        if not ships:
            continue
        evs = [(int(ts), 0, "ORDER", len(ships))] + [(s, 1, "SHIPMENT", 0) for s in ships]
        evs.sort()
        out[int(k)] = [(kind, ts_, n) for ts_, _, kind, n in evs]
    return out


def interleave(orders, seed):
    """Mix the orders' events into one sequence, keeping each order's own
    order: every event gets a seeded random slot, and each order's slots are
    handed out to its events in event-time order."""
    rnd = random.Random(seed)
    slots = []
    for k in sorted(orders):
        evs = orders[k]
        us = sorted(rnd.random() for _ in evs)
        slots.extend((u, k, ev) for u, ev in zip(us, evs))
    slots.sort()
    return [(k, ev) for _, k, ev in slots]


def take_orders(sizes, keys, n_events):
    """Whole orders from `keys`, in order, until about `n_events` events;
    `sizes` maps an order to its number of events."""
    out, total = [], 0
    for k in keys:
        if total >= n_events:
            break
        out.append(k)
        total += sizes[k]
    return out


def split(seq, parts):
    """`seq` cut into `parts` consecutive pieces whose sizes differ by at most one."""
    n, k = len(seq), max(1, parts)
    return [seq[i * n // k:(i + 1) * n // k] for i in range(k)]
