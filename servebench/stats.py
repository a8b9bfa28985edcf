"""The benchmark's arithmetic: percentiles, failure accounting and span self time.
Everything here is pure so tests/ can pin it.
"""
import math
import statistics

MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile `p` (0 < p < 100) of `samples`.

    Refused (TooFewSamples) unless at least MIN_BEYOND samples lie beyond it:
    a tail percentile resting on two or three samples is what made earlier
    p90 readings drift between identical runs.
    """
    xs = sorted(samples)
    if not xs:
        raise TooFewSamples("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    beyond = len(xs) - rank
    if beyond < MIN_BEYOND:
        raise TooFewSamples(
            f"p{p:g} of {len(xs)} samples has {beyond} beyond it; need {MIN_BEYOND}")
    return xs[rank - 1]


def median(samples) -> float:
    if not samples:
        raise TooFewSamples("no samples")
    return statistics.median(samples)


def latency_summary(records):
    """Client-side latency over successful requests only.

    `records` are dicts with `ok` (bool), `ms` (float) and optionally `kind`
    (the request's query or entry). A failed request is never timed as a
    success: it is left out of every latency figure and counted in
    `failure_rate` instead.

    `latency_p50_ms` is each kind's median latency, averaged over the kinds.
    Where kinds differ in cost, the median of all requests lands in one kind's
    cluster and jumps between clusters as they reorder; the mean of the
    kinds' medians moves with every kind. Without kinds it is the median.
    """
    ok = [r["ms"] for r in records if r["ok"]]
    by_kind = {}
    for r in records:
        if r["ok"]:
            by_kind.setdefault(r.get("kind"), []).append(r["ms"])
    failed = sum(1 for r in records if not r["ok"])
    out = {
        "attempted": len(records),
        "failed": failed,
        "failure_rate": failed / len(records) if records else 1.0,
        "samples": len(ok),
        "kinds": len(by_kind),
        "latency_p50_ms": statistics.fmean(median(xs) for xs in by_kind.values()) if ok else None,
        "latency_median_ms": median(ok) if ok else None,
    }
    try:
        out["latency_p90_ms"] = percentile(ok, 90)
    except TooFewSamples:
        out["latency_p90_ms"] = None
    return out


def pass_throughput(records, pass_len: int) -> float:
    """Median over the timed passes of correct responses per second.

    `records` are dicts with `ok`, `start` and `end` (ns), in the order the
    plan sent them; each run of `pass_len` of them is one pass, which holds the
    workload's whole request mix once. A pass's rate is its correct responses
    over the time from its first send to its last reply. The median keeps a
    stall of the machine that hits one pass from moving the whole reading.
    """
    rates = []
    for i in range(0, len(records) - pass_len + 1, pass_len):
        p = records[i:i + pass_len]
        wall_s = (max(r["end"] for r in p) - min(r["start"] for r in p)) / 1e9
        rates.append(sum(1 for r in p if r["ok"]) / wall_s)
    return median(rates)


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval that
    its direct children cover (children may overlap each other).

    `spans` is a list of (name, parent_index, start, end), indexed by position.
    Returns a list of self times aligned with `spans`.
    """
    children = [[] for _ in spans]
    for i, (_, parent, _, _) in enumerate(spans):
        if parent >= 0:
            children[parent].append(i)
    out = []
    for i, (_, _, start, end) in enumerate(spans):
        covered = 0
        cur_s = cur_e = None
        for s, e in sorted((max(spans[c][2], start), min(spans[c][3], end)) for c in children[i]):
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((end - start) - covered)
    return out


def iqr_share(values) -> float:
    """Inter-quartile distance as a share of the median (the steadiness test)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
