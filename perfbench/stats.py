"""Statistics of the benchmark: latency summaries, failure counting, and
self time per layer from the trace's spans. Pure functions; the tests are
in test_stats.py."""
import math
import statistics

# Driver-side span names: the benchmark's own timers. Catalyst phase spans
# arrive without a parent and are placed under the innermost of these whose
# interval contains them.
DRIVER_SPANS = ("op", "queries.construct", "execute", "pipelines.build",
                "sinks.csv", "sinks.parquet")


def _beta_cdf(x, a, b, steps=2000):
    """Regularized incomplete beta I_x(a, b) for a, b > 1, by Simpson's
    rule over the density, which is smooth and 0 at both ends here."""
    if x >= 1.0:
        return 1.0
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def density(t):
        if t <= 0.0 or t >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))

    h = x / steps
    inner = sum((4 if i % 2 else 2) * density(i * h) for i in range(1, steps))
    return (density(0.0) + inner + density(x)) * h / 3


def quantile(values, q):
    """Harrell-Davis estimate of the q-quantile: a weighted mean of all
    order statistics, weights from the Beta(q(n+1), (1-q)(n+1)) law. Unlike
    a single order statistic it does not jump when the sample is sparse
    around the quantile, which a few dozen ops of mixed sizes are."""
    ranked = sorted(values)
    n = len(ranked)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [_beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(ranked))


def tail(values, beyond=10):
    """Latency at the highest percentile that still has `beyond` samples
    above it: the quantile (n - beyond) / n, where the (beyond+1)-th
    largest sample sits. Returns (value, percentile, n)."""
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples leave no percentile with {beyond} beyond it")
    q = (n - beyond) / n
    return quantile(values, q), 100.0 * q, n


def paired_overhead(pairs):
    """Tracing overhead from ops run twice back to back, once traced and
    once not: the geometric mean of two medians of the traced/untraced
    latency ratio, one over the pairs whose traced run went first and one
    over the others, minus 1. The second run of a pair tends to be faster;
    taking each order apart and then their geometric mean cancels that
    effect, and the medians ignore a single disturbed op. Returns the
    overhead and the two medians (traced first, untraced first); how far
    apart those lie shows what is left of the order effect."""
    ratios = {True: [], False: []}
    for p in pairs:
        ratios[bool(p["traced_first"])].append(p["traced_s"] / p["untraced_s"])
    if not ratios[True] or not ratios[False]:
        raise ValueError("needs pairs in both orders")
    first, second = statistics.median(ratios[True]), statistics.median(ratios[False])
    return math.sqrt(first * second) - 1.0, first, second


def count_failures(ops, bad_names):
    """(attempted, failed): an execution fails if it raised, or if the
    check of its op's output failed."""
    failed = sum(1 for o in ops if o.get("error") or o["name"] in bad_names)
    return len(ops), failed


def _union_ms(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def attach_orphans(spans):
    """Gives each span without a parent (parent -1) the innermost driver
    span whose interval holds its midpoint; 0 if none does."""
    drivers = [s for s in spans if s["name"] in DRIVER_SPANS]
    out = []
    for s in spans:
        if s["parent"] == -1:
            mid = (s["start_ms"] + s["end_ms"]) / 2
            holders = [d for d in drivers if d["start_ms"] <= mid <= d["end_ms"]]
            inner = min(holders, key=lambda d: d["end_ms"] - d["start_ms"], default=None)
            s = dict(s, parent=inner["id"] if inner else 0,
                     op=inner["op"] if inner else s["op"])
        out.append(s)
    return out


def self_times(spans):
    """Self time of each span, by id: its duration minus the part of its
    interval that its children cover (overlapping children count once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = [(max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                   for c in kids.get(s["id"], [])]
        covered = [(a, b) for a, b in covered if b > a]
        out[s["id"]] = (hi - lo) - _union_ms(covered)
    return out


def self_by_layer(spans):
    """Self time summed per span name, in seconds."""
    selfs = self_times(spans)
    by = {}
    for s in spans:
        by[s["name"]] = by.get(s["name"], 0.0) + selfs[s["id"]] / 1e3
    return by
