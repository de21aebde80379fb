"""The benchmark's statistics, kept apart from run.py so they are tested
(test_stats.py) without building or running anything.

Raw results come from the Scala harness: one entry per attempted op with
`sched` (ms: when the op was due for an open loop, when it started for a
closed loop), `done` (ms, or None if it never finished), `error`, `wrong`,
`timed` (whether it feeds the cost percentiles) and `cost_ms` (its CPU
time, when the harness measured one).
"""
import statistics

# Tail percentiles tried, highest first.
TAIL_GRID = (99, 95, 90, 75)
# A tail percentile needs at least this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (numpy's default), p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_pct(n):
    """The highest percentile in TAIL_GRID with at least MIN_BEYOND of n
    samples beyond it. With too few samples for any (fewer than 40) the
    tail is the slowest op (100): a run that few ops make up is a fixed
    set of ops, whose slowest is the same op from run to run."""
    for p in TAIL_GRID:
        if n * (100 - p) / 100.0 >= MIN_BEYOND:
            return p
    return 100


def op_failed(op):
    """An op fails if it threw, if its output check failed, or if it had
    not finished when the run ended."""
    return bool(op.get("error")) or bool(op.get("wrong")) or op.get("done") is None


def op_cost_ms(op):
    """An op's cost: its CPU time when the harness measured one, else its
    latency from when it was due (open loop) or started (closed loop)."""
    if op.get("cost_ms") is not None:
        return op["cost_ms"]
    return op["done"] - op["sched"]


def costs_ms(ops):
    """Cost of every finished timed op. An op with a wrong output
    finished, so it counts too."""
    return [op_cost_ms(op) for op in ops
            if op.get("timed", True) and op.get("done") is not None]


def summarize(raw):
    """(correct, attempted, failed, end-to-end metrics, details) of one
    untraced run."""
    ops = raw["ops"]
    attempted = len(ops)
    failed = sum(1 for op in ops if op_failed(op))
    wrong = sum(1 for op in ops if op.get("wrong"))
    lat = costs_ms(ops)
    if not lat:
        raise ValueError("no finished timed op to take costs from")
    tail = tail_pct(len(lat))
    metrics = {
        "setup_s": raw["jvm_to_session_s"] + raw["setup_s"],
        "ops_per_cpu_s": raw["items"] / raw["items_seconds"],
        "op_p50_ms": percentile(lat, 50),
        "op_tail_ms": percentile(lat, tail),
        "ok_frac": 1.0 - failed / attempted if attempted else 0.0,
    }
    details = {"cost_samples": len(lat), "tail_pct": tail,
               "wrong_ops": wrong}
    return wrong == 0 and attempted > 0, attempted, failed, metrics, details


def layer_value(v):
    """A per-layer value is a number, or a sample list reduced to its
    median (0 when the layer produced no sample)."""
    if isinstance(v, list):
        return statistics.median(v) if v else 0.0
    return float(v)


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
