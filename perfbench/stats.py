"""Pure helpers of the benchmark: percentiles, the sample-count rule, the
per-op output check and failure accounting. No I/O; see tests/."""

import json
import math
import statistics

# A percentile is reported only with at least this many samples beyond it.
MIN_TAIL = 10


def quantile(values, q):
    """Nearest-rank q-quantile (0 < q <= 1) of a non-empty sample."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def tail_count(n, q):
    """Samples strictly beyond the nearest-rank q-quantile of n samples."""
    return n - max(1, math.ceil(q * n))


def min_samples(q, tail=MIN_TAIL):
    """Smallest sample count that leaves `tail` samples beyond quantile q."""
    n = 1
    while tail_count(n, q) < tail:
        n += 1
    return n


def values_match(want, got, rel_tol=1e-9):
    """Equality of one result cell; floats within a relative tolerance."""
    if isinstance(want, bool) or isinstance(got, bool):
        return want == got
    if isinstance(want, (int, float)) and isinstance(got, (int, float)):
        if isinstance(want, int) and isinstance(got, int):
            return want == got
        return math.isclose(float(want), float(got), rel_tol=rel_tol, abs_tol=1e-9)
    return want == got


def rows_match(want_rows, got_rows, rel_tol=1e-9):
    """Ordered rows (dicts by column name) equal cell by cell."""
    if len(want_rows) != len(got_rows):
        return False
    return all(w.keys() == g.keys() and all(values_match(w[k], g[k], rel_tol) for k in w)
               for w, g in zip(want_rows, got_rows))


def check_op(op, expect):
    """Return None if the op's response is correct, else the reason.

    `expect` holds the statement's answer computed outside the timed region:
    {"rows": [dict, ...]} for an aggregate, or {"count": n, "digest": d} for
    a row stream (digest over the reference run's JSON lines)."""
    if op["head"] != "ok":
        return "no ok: " + op["head"][:120]
    parts = op["trailer"].split()
    if len(parts) != 2 or parts[0] != "done":
        return "bad trailer: " + op["trailer"][:120]
    if int(parts[1]) != op["rows"]:
        return f"trailer says {parts[1]} rows, client read {op['rows']}"
    if "rows" in expect:
        got = [json.loads(line) for line in op["kept"]]
        if not rows_match(expect["rows"], got):
            return "rows differ from the expected answer"
    else:
        if op["rows"] != expect["count"]:
            return f"{op['rows']} rows, expected {expect['count']}"
        if op["digest"] != expect["digest"]:
            return "row digest differs from the reference run"
    return None


def latency_summary(ops, failed_ids, cap=math.inf):
    """Latency percentiles over every attempted op; a failed op counts as
    missing any limit: its latency is `cap` (the whole measured window when
    the result must stay finite). Returns (p50, p95, n, tail95)."""
    lat = [cap if i in failed_ids else op["done"] - op["send"] for i, op in enumerate(ops)]
    n = len(lat)
    return quantile(lat, 0.50), quantile(lat, 0.95), n, tail_count(n, 0.95)


def spread(values):
    """Inter-quartile distance as a share of the median (the steadiness rule)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf
