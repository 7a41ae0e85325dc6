"""Pure statistics of the benchmark: percentiles, span self time, digests,
Spark listener aggregates and result comparability."""
import decimal
import hashlib
import math
import statistics


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """Latency at the highest percentile that has at least ten samples
    beyond it: the (n-10)-th smallest of n samples. Below 21 samples that
    percentile is under the median, so the maximum is reported instead.
    Returns (value, percentile, n)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    if n <= 20:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def merge_cover(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. `spans` maps id -> (parent, name, start, end)."""
    children = {}
    for sid, (parent, _, start, end) in spans.items():
        children.setdefault(parent, []).append((start, end))
    return {sid: (end - start) - merge_cover(children.get(sid, ()), start, end)
            for sid, (_, _, start, end) in spans.items()}


# ------------------------------------------------------------ digests

def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if isinstance(v, int) and abs(v) >= 2 ** 53:
            return v
        if math.isnan(f):
            return "NaN"
        if f.is_integer() and abs(f) < 2 ** 53:
            return int(f)
        return round(f, 9) + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return str(v)


def rows_digest(rows):
    """Order-insensitive digest of a result set. Numbers compare by value
    (1 == 1.0), floats to 9 decimals, as the project's oracle check does."""
    lines = sorted(repr(_norm(tuple(r))) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def digest_mismatches(pairs):
    """Names whose {'got', 'want'} digests differ or are missing."""
    return sorted(name for name, p in pairs.items()
                  if not p.get("got") or not p.get("want") or p["got"] != p["want"])


# ------------------------------------------------------------ Spark layers

def spark_layers(listener, steps, step_ids, lanes):
    """Aggregate listener records over the jobs issued by `step_ids`.
    `steps` maps span id -> (start, end) for every step of the run."""
    jobs = [j for j in listener["jobs"] if step_of(j) in step_ids]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in listener["stages"] if s["id"] in stage_ids]
    busy = sum(s["run_ms"] for s in stages) / 1e3
    wall = sum(steps[i][1] - steps[i][0] for i in step_ids) / 1e9
    gap = sum((steps[i][1] - steps[i][0]) - merge_cover(
        [(j["start"], j["end"]) for j in jobs if step_of(j) == i], steps[i][0], steps[i][1])
        for i in step_ids) / 1e9
    skews, weights = [], []
    for s in stages:
        t = s["task_ms"]
        if len(t) >= 2 and median(t) > 0:
            skews.append(max(t) / median(t))
            weights.append(s["run_ms"])
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(len(s["task_ms"]) for s in stages),
        "spark.executor_busy_s": busy,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "spark.lane_util": busy / (wall * lanes) if wall > 0 else 0.0,
        "spark.driver_gap_s": gap,
        "spark.shuffle_bytes": sum(s["shuffle_write"] for s in stages),
        "spark.scan_bytes": sum(s["input_bytes"] for s in stages),
        "spark.task_skew": (sum(k * w for k, w in zip(skews, weights)) / sum(weights)
                            if weights and sum(weights) > 0 else 1.0),
        "spark.unattributed_jobs": sum(1 for j in listener["jobs"] if step_of(j) not in steps),
    }


def job_ms(listener, step_ids):
    """Durations of the jobs issued by `step_ids`."""
    return [(j["end"] - j["start"]) / 1e6 for j in listener["jobs"] if step_of(j) in step_ids]


def step_of(job):
    g = job.get("group") or ""
    return int(g[3:]) if g.startswith("pb-") and g[3:].isdigit() else None


# ------------------------------------------------------------ comparability

FINGERPRINT_KEYS = ("nproc", "lanes", "cpu_model", "java", "xmx", "workload", "config")


def comparable(a, b):
    """Two results may be compared only if host fingerprint and workload
    config are identical. Returns the list of differing keys."""
    fa, fb = a.get("fingerprint", {}), b.get("fingerprint", {})
    return [k for k in FINGERPRINT_KEYS if fa.get(k) != fb.get(k) or k not in fa]
