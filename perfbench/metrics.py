"""Pure helpers of the benchmark: names, order statistics, busy time and the
mapping from a Spark job's call site to the program layer it belongs to."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Source file of a job's call site -> the layer that launched it. Files not
# listed here (the harness, fetchers, expression kernels, Spark's own thread
# pools) take the layer of the innermost open span.
FILE_LAYERS = {
    "Relational.scala": "queries.Relational",
    "Stats.scala": "queries.Stats",
    "TextOps.scala": "queries.TextOps",
    "VectorOps.scala": "queries.VectorOps",
    "SeenOps.scala": "queries.SeenOps",
    "CrawlRound.scala": "crawl.CrawlRound",
    "Frontier.scala": "crawl.Frontier",
    "Robots.scala": "crawl.Frontier",
    "Seen.scala": "crawl.Seen",
    "Crawler.scala": "crawl.Crawler",
    "SnapshotTable.scala": "store.SnapshotTable",
}
HARNESS = "harness"
LAYERS = [
    "queries.Relational", "queries.Stats", "queries.TextOps",
    "queries.VectorOps", "queries.SeenOps", "crawl.CrawlRound",
    "crawl.Frontier", "crawl.Seen", "crawl.Crawler", "store.SnapshotTable", HARNESS,
]
CALL_SITE_RE = re.compile(r"\bat ([A-Za-z0-9_$]+\.(?:scala|java)):\d+")


def check_name(name):
    """Returns `name` if it is a valid metric name, else raises ValueError."""
    if not NAME_RE.match(name):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(values, n=4)` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def tail_percentile(values, beyond=10):
    """The highest whole percentile with at least `beyond` samples above it,
    as (percentile, value), or None when there are too few samples.

    The value is the nearest-rank sample: with n samples, the sample of rank
    n - beyond (1-based, ascending) leaves exactly `beyond` samples beyond."""
    n = len(values)
    if n <= beyond:
        return None
    rank = n - beyond
    return math.floor(100 * rank / n), sorted(values)[rank - 1]


def interval_union(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def call_site_file(call_site):
    m = CALL_SITE_RE.search(call_site or "")
    return m.group(1) if m else None


def layer_of(call_site, span_layer):
    """Layer of a job: the program file that launched it, else the layer of
    the span open when it started, else the harness."""
    return FILE_LAYERS.get(call_site_file(call_site)) or span_layer or HARNESS


def innermost(spans, t):
    """The innermost client-thread span open at time `t`, or None."""
    best = None
    for s in spans:
        if s["start_ms"] <= t <= s["end_ms"]:
            if best is None or s["start_ms"] >= best["start_ms"]:
                best = s
    return best


def attribute(jobs, spans):
    """Pairs (job, layer). A job that starts outside every timed span is the
    harness's own work (warm-up, input set-up, output checks)."""
    timed = [s for s in spans if s["timed"]]
    out = []
    for j in jobs:
        t = j["start_ms"]
        if not any(s["start_ms"] <= t <= s["end_ms"] for s in timed):
            out.append((j, HARNESS))
            continue
        span = innermost(spans, t)
        out.append((j, layer_of(j["call_site"], span and span["layer"])))
    return out


def layer_totals(jobs, spans):
    """Per layer: busy seconds (union of its job intervals), task CPU seconds
    and shuffle bytes written. Every layer in LAYERS is present."""
    by = {layer: [] for layer in LAYERS}
    for job, layer in attribute(jobs, spans):
        by.setdefault(layer, []).append(job)
    out = {}
    for layer, js in by.items():
        out[layer] = {
            "busy_s": interval_union(
                [(j["start_ms"], j["end_ms"]) for j in js if j["end_ms"] >= 0]) / 1000.0,
            "task_cpu_s": sum(j["task_cpu_ns"] for j in js) / 1e9,
            "shuffle_bytes": sum(j["shuffle_write_bytes"] for j in js),
        }
    return out


def phase_busy(jobs, spans, windows):
    """Per layer, busy seconds of the jobs that start inside any of the
    (start_ms, end_ms) spans in `windows`."""
    by = {}
    for job, layer in attribute(jobs, spans):
        if job["end_ms"] >= 0 and any(w["start_ms"] <= job["start_ms"] <= w["end_ms"]
                                      for w in windows):
            by.setdefault(layer, []).append((job["start_ms"], job["end_ms"]))
    return {layer: interval_union(iv) / 1000.0 for layer, iv in by.items()}
