"""Failure accounting and summary statistics for one benchmark run."""
import statistics

# a tail percentile is reported only when at least this many samples lie
# beyond it; below that it would be extrapolated from too few points
MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated p-th percentile (0..100) of a non-empty list."""
    xs = sorted(values)
    h = (len(xs) - 1) * p / 100.0
    lo = int(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (h - lo) * (xs[hi] - xs[lo])


def tail_percentile(n):
    """Highest of p90/p99/p99.9 with at least MIN_BEYOND of `n` samples
    beyond it, or None when even p90 has fewer."""
    best = None
    for p in (90.0, 99.0, 99.9):
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            best = p
    return best


def summarise(values):
    """Median, sample count and the highest well-supported tail percentile."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = percentile(values, p)
    return out


def account(ops, reference, jobs):
    """Split op records into timings and failures.

    An op fails when it raised, or when its output digest differs from the
    reference digest for that op. A job with any failed op contributes no
    job time and no op latency at all (its later ops may have run on bad
    input): an aborted op must not read as a fast one.
    """
    failed = []
    for o in ops:
        want = reference.get(o["op"])
        if o.get("error") is not None:
            failed.append({"job": o["job"], "op": o["op"], "why": o["error"]})
        elif want is None or o.get("digest") != want:
            failed.append({"job": o["job"], "op": o["op"],
                           "why": f"digest {o.get('digest')} != reference {want}"})
    bad_jobs = {f["job"] for f in failed}
    latencies = [(o["end"] - o["start"]) / 1e9 for o in ops if o["job"] not in bad_jobs]
    job_times = [(j["end"] - j["start"] - j.get("check_ns", 0)) / 1e9
                 for j in jobs if j["job"] not in bad_jobs]
    return {"attempted": len(ops), "failed": failed, "latencies": latencies,
            "job_times": job_times}
