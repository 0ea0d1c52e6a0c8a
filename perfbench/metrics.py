"""The benchmark's arithmetic: percentiles, span self time, driver gap,
file-to-micro-batch attribution, backlog growth and stream latency.

Pure functions over plain lists and dicts, so tests/test_metrics.py can
check each rule without Spark.
"""
import glob
import json
import os
import statistics

TAIL_BEYOND = 10  # samples a reported tail percentile must leave above it


def percentile(values, p):
    """The p-th percentile (0..100) with linear interpolation between
    closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(values, beyond=TAIL_BEYOND):
    """The highest whole percentile above the median with at least `beyond`
    samples strictly above its value, or None when the sample cannot
    support one."""
    for p in range(99, 50, -1):
        cut = percentile(values, p)
        if sum(1 for v in values if v > cut) >= beyond:
            return p
    return None


def summary(values, beyond=TAIL_BEYOND):
    """Median, quartiles, n and the supported tail of a timing sample."""
    if not values:
        return {"n": 0}
    out = {"n": len(values), "p50": statistics.median(values),
           "p25": percentile(values, 25), "p75": percentile(values, 75),
           "samples": list(values)}
    p = tail_percentile(values, beyond)
    out["tail_pct"] = p
    out["tail"] = None if p is None else percentile(values, p)
    return out


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Self time per span id: its duration minus the part of that interval
    its child spans cover (children may overlap each other)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - union_length(
        _clip(kids.get(s["id"], []), s["start_ms"], s["end_ms"])) for s in spans}


def layer_totals(spans):
    """Per span name: (total duration ms, total self time ms, count)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        d, own, n = out.get(s["name"], (0.0, 0.0, 0))
        out[s["name"]] = (d + s["end_ms"] - s["start_ms"], own + st[s["id"]], n + 1)
    return out


def driver_gap_ms(windows, job_intervals):
    """Time inside the given (start, end) windows during which no Spark job
    was running: the driver-side share (planning, commits, listing)."""
    return sum((e - s) - union_length(_clip(job_intervals, s, e)) for s, e in windows)


def attribute_files(checkpoint):
    """Map each file name to the micro-batch that read it, from the file
    source's own metadata log (`sources/0/<batch>` and `.compact` files,
    a version line followed by one JSON entry per file)."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        name = os.path.basename(path)
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(path) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def file_latencies(drops, file_batch, batch_end):
    """Seconds from each file's due time to the end of the micro-batch that
    committed it; files no batch committed are returned separately."""
    lat, missing = [], []
    for d in drops:
        b = file_batch.get(d["file"])
        if b is None or b not in batch_end:
            missing.append(d["file"])
        else:
            lat.append((batch_end[b] - d["due_ms"]) / 1000.0)
    return lat, missing


def backlog_series(drops, file_batch, batch_end, step_ms=100.0):
    """(t seconds since the first due time, files dropped but not yet
    committed), sampled every `step_ms` over the drop window."""
    if not drops:
        return []
    dropped = sorted(d["drop_ms"] for d in drops)
    committed = sorted(batch_end.get(file_batch.get(d["file"]), float("inf"))
                       for d in drops)
    t0, t1 = drops[0]["due_ms"], max(d["due_ms"] for d in drops)
    out, t = [], t0
    while t <= t1 + 1e-9:
        n_drop = sum(1 for x in dropped if x <= t)
        n_done = sum(1 for x in committed if x <= t)
        out.append(((t - t0) / 1000.0, n_drop - n_done))
        t += step_ms
    return out


def slope(points):
    """Least-squares slope of (x, y) points; 0 for fewer than two."""
    if len(points) < 2:
        return 0.0
    mx = statistics.fmean(p[0] for p in points)
    my = statistics.fmean(p[1] for p in points)
    sxx = sum((p[0] - mx) ** 2 for p in points)
    if sxx == 0:
        return 0.0
    return sum((p[0] - mx) * (p[1] - my) for p in points) / sxx


def first_commit_s(drops, file_batch, batch_end):
    """Seconds from the first due time to the first micro-batch end that
    committed a dropped file; None when no batch committed one."""
    ends = [batch_end[file_batch[d["file"]]] for d in drops
            if file_batch.get(d["file"]) in batch_end]
    return (min(ends) - drops[0]["due_ms"]) / 1000.0 if ends else None


def backlog_trend(points, since_s):
    """Slope of the backlog from the first commit (`since_s`) on. Before it
    the backlog only ramps up from 0, even in a stream that keeps up, so
    that start is left out. A stream that committed nothing before the last
    due time keeps its whole series: every file dropped is still waiting."""
    after = [p for p in points if since_s is not None and p[0] >= since_s]
    return slope(after if len(after) >= 2 else points)


def backlog_grows(points, since_s, rate_files_per_s, share=0.5):
    """A stream that keeps up commits, batch after batch, what arrived
    during the batch before, so from its first commit on its backlog
    saw-tooths around a level. One that serves c of the r files arriving
    per second gains r - c files a second. The backlog grows when it rises
    by more than `share` of the arrival rate, that is when the stream
    serves less than half of what arrives; a stream that commits nothing
    while files arrive gains the full rate."""
    return backlog_trend(points, since_s) > share * rate_files_per_s


def fail_share(attempted, failed):
    return failed / attempted if attempted else 1.0
