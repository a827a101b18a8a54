"""The benchmark's arithmetic: percentiles, the tail choice, span self
time and the seeded choice and order of ops. Pure Python, so the
self-tests in test_stats.py run without Spark.
"""
import random

# Tail percentiles tried from the top; the first with enough samples
# beyond it wins.
TAIL_GRID = [99.9, 99.0] + [float(p) for p in range(95, 49, -5)]
TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    return s[_rank(len(s), p) - 1]


def _rank(n, p):
    """1-based nearest rank of the p-th percentile, in exact integer
    arithmetic on tenths of a percent."""
    return max(1, -(-round(p * 10) * n // 1000))


def beyond(n, p):
    """Samples ranked above the nearest-rank p-th percentile."""
    return n - _rank(n, p)


def tail_choice(n):
    """(percentile, samples beyond it) for n samples: the highest grid
    percentile with at least TAIL_MIN_BEYOND samples beyond it. Below
    2 x TAIL_MIN_BEYOND samples no grid point qualifies and the median
    is used; its count says so."""
    for p in TAIL_GRID:
        if beyond(n, p) >= TAIL_MIN_BEYOND:
            return p, beyond(n, p)
    return 50.0, beyond(n, 50.0)


def median(values):
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_s is None or s > cur_e:
            if cur_s is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_s is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Map span id -> self time: its duration minus the part of it its
    children cover. Children may overlap each other (parallel jobs,
    stages) and may spill past their parent; only the covered part of
    the parent counts once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length(
            (max(lo, c["start_ms"]), min(hi, c["end_ms"]))
            for c in kids.get(s["id"], []))
        out[s["id"]] = (hi - lo) - covered
    return out


def module_of(name):
    """The ops module a query belongs to: its name's letter prefix."""
    return name[:len(name) - len(name.lstrip("abcdefghijklmnopqrstuvwxyz"))]


def stratified_sample(names, costs, per_stratum, max_cost):
    """About one query in `per_stratum` from every ops module, spread
    evenly over cost.

    Queries whose reference cost exceeds `max_cost` are left out. Each
    module's remaining queries are sorted by reference cost and cut
    into runs of `per_stratum`, and the middle query of each run is
    taken, so every module with a query under the cap is sampled. A
    query without a reference cost (new since the costs were taken)
    counts at the median cost. The sample does not depend on the seed:
    drawing it per seed moved the median op time by more than the
    benchmark's bounds, so the seed only orders the passes."""
    known = [costs[n] for n in names if n in costs]
    mid = median(known) if known else 0.0
    cost = {n: costs.get(n, mid) for n in names}
    by_module = {}
    for n in sorted((n for n in names if cost[n] <= max_cost), key=lambda n: (cost[n], n)):
        by_module.setdefault(module_of(n), []).append(n)
    picked = []
    for mod in sorted(by_module):
        pool = by_module[mod]
        for i in range(0, len(pool), per_stratum):
            run = pool[i:i + per_stratum]
            picked.append(run[len(run) // 2])
    return picked


def pass_orders(ops, seed, passes):
    """One seeded permutation of `ops` per pass."""
    rng = random.Random(f"order-{seed}")
    orders = []
    for _ in range(passes):
        order = list(ops)
        rng.shuffle(order)
        orders.append(order)
    return orders
