"""Metric arithmetic for the graft benchmark.

Pure functions over the raw result file that the Scala harness writes
(`perfbench.Main`) and, for traced runs, its span file:

* the tail rule (the highest percentile with at least ten samples beyond it);
* span self time (duration minus the part its children cover);
* call-site attribution of Spark jobs to the engine's source files and layers;
* the end-to-end metrics of an untraced run and the per-layer metrics of a
  traced one.
"""
import re
import statistics
from collections import defaultdict

MB = 1048576.0

# Source file (from a job's `callSite.short`) -> layer. Files not listed
# fall back to "other"; the benchmark's own files are "benchmark".
LAYERS = {
    "queries": ["Relational", "Stats", "Text", "Dedup", "Graph", "Similarity",
                "Multimodal", "TrainPrep", "Lifecycle", "Tables"],
    "standing": ["DedupIndex", "AnnIndex", "AggState", "ClusterState",
                 "Generations", "Compaction", "Reconcile", "ViewState",
                 "Takedown", "Vacuum"],
    "pipeline": ["CorpusStream", "EventsPipeline", "AuditStream"],
    "benchmark": ["Main", "ReportQueries", "IndexServing", "CurationWaves",
                  "Gen", "Trace"],
}
FILE_LAYER = {f: layer for layer, files in LAYERS.items() for f in files}

# The per-layer metrics a traced run prints, with units. Workload-specific
# counters (index.*, pipeline.*, generations.*, curation.*, site.*), and
# shuffle fetch wait and spill (zero at these sizes in local mode), go to the
# detail line only, since every printed metric must exist on every workload.
PER_LAYER = {
    "driver.self_ms": "ms", "driver.analysis_ms": "ms", "driver.optimization_ms": "ms",
    "driver.planning_ms": "ms", "driver.gc_ms": "ms", "queries.build_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.delay_ms": "ms", "executor.run_ms": "ms", "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms", "executor.busy_share": "ratio", "shuffle.read_mb": "MB",
    "shuffle.write_mb": "MB", "scan.input_mb": "MB", "plan.sort_aggregates": "count",
    "failed_share": "ratio", "trace.overhead_ms": "ms",
}


SITE_RE = re.compile(r"\bat ([A-Za-z0-9_$]+)\.(?:scala|java):\d+")


def site_file(call_site):
    """The source file (without extension) a job's short call site names,
    e.g. 'parquet at DedupIndex.scala:105' -> 'DedupIndex'."""
    m = SITE_RE.search(call_site or "")
    return m.group(1) if m else "unknown"


def site_layer(call_site):
    return FILE_LAYER.get(site_file(call_site), "other")


def median(values):
    return statistics.median(values) if values else float("nan")


def tail(values, beyond=10):
    """(percentile, value, n) at the highest sample rank with at least
    `beyond` samples above it. Below 2*beyond+1 samples that rank falls
    under the median, so the median is reported instead (percentile 50)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 50.0, float("nan"), 0
    k = n - 1 - beyond
    if k <= (n - 1) / 2:
        return 50.0, median(xs), n
    return 100.0 * k / (n - 1), xs[k], n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def end_to_end(res):
    """The end-to-end metrics of one run, from the raw result file."""
    ops = [o for o in res["ops"] if o["ok"]]
    lat = [(o["end"] - o["start"]) / 1e3 for o in ops]
    reads = [o["read_ms"] / 1e3 for o in ops if o["read_ms"] > 0]
    writes = [o["write_ms"] / 1e3 for o in ops if o["write_ms"] > 0]
    p, tail_s, n = tail(lat)
    m = {
        "setup_s": res["setup"]["setup_s"],
        "op_s_p50": median(lat),
        "op_s_tail": tail_s,
        "ops_per_s": len(lat) / sum(lat) if lat else 0.0,
        "docs_per_s": res["docs"] / (res["docs_wall_ms"] / 1e3)
        if res["docs_wall_ms"] > 0 else 0.0,
        "read_s_p50": median(reads),
        "write_s_p50": median(writes),
        "state_mb": res["state_bytes"] / MB,
        "peak_heap_mb": res["peak_old_gen_mb"],
    }
    detail = {"op_s_tail_percentile": p, "op_samples": n,
              "read_samples": len(reads), "write_samples": len(writes)}
    return m, detail


def overhead_ms(res):
    """Tracing overhead: per op name, median latency of traced ops minus
    that of untraced ones; the median of those differences over the op
    names. A median, not a mean, since one op name's pair can hold a cold
    and a warm run (the first optimize of a process) and its difference
    is then not tracing at all."""
    by = defaultdict(lambda: ([], []))
    for o in res["ops"]:
        if o["ok"]:
            by[o["name"]][int(o["attrs"].get("traced", 0))].append(o["end"] - o["start"])
    return median([median(t) - median(u) for u, t in by.values() if u and t])


def per_layer(res, spans, cores):
    """Per-layer metrics of a traced run: per traced op means of counts and
    times, from the spans of each op's trace and the plan counters."""
    by_trace = defaultdict(list)
    for s in spans:
        by_trace[s["trace"]].append(s)
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    op_spans = [s for s in spans if s["kind"] == "op"]
    n = len(op_spans)
    sums = defaultdict(float)
    site_jobs = defaultdict(float)
    site_ms = defaultdict(float)
    layer_ms = defaultdict(float)
    self_ms = defaultdict(float)
    wall = 0.0
    for op in op_spans:
        t = by_trace[op["id"]]
        jobs = [s for s in t if s["kind"] == "job"]
        stages = [s for s in t if s["kind"] == "stage"]
        dur = op["end"] - op["start"]
        wall += dur
        sums["driver.self_ms"] += dur - union_length(
            [(j["start"], j["end"]) for j in jobs], op["start"], op["end"])
        sums["scheduler.jobs"] += len(jobs)
        sums["scheduler.stages"] += len(stages)
        for key, name in [("tasks", "scheduler.tasks"), ("delay_ms", "scheduler.delay_ms"),
                          ("run_ms", "executor.run_ms"), ("cpu_ms", "executor.cpu_ms"),
                          ("gc_ms", "executor.gc_ms"),
                          ("fetch_wait_ms", "shuffle.fetch_wait_ms")]:
            sums[name] += sum(s["attrs"].get(key, 0.0) for s in stages)
        for key, name in [("shuffle_read_b", "shuffle.read_mb"),
                          ("shuffle_write_b", "shuffle.write_mb"),
                          ("spill_b", "shuffle.spill_mb"), ("input_b", "scan.input_mb")]:
            sums[name] += sum(s["attrs"].get(key, 0.0) for s in stages) / MB
        sums["queries.build_ms"] += sum(s["end"] - s["start"] for s in t
                                        if s["name"] == "queries.build")
        plans = res.get("plans", {}).get(str(op["id"]), {})
        for p in ("analysis", "optimization", "planning"):
            sums[f"driver.{p}_ms"] += plans.get(f"{p}_ms", 0.0)
        sums["plan.sort_aggregates"] += plans.get("sort_aggregates", 0.0)
        for j in jobs:
            f = site_file(j["name"])
            site_jobs[f] += 1
            site_ms[f] += j["end"] - j["start"]
            layer_ms[site_layer(j["name"])] += j["end"] - j["start"]
        for s in t:
            label = s["kind"] if s["kind"] in ("job", "stage", "op") else s["name"]
            self_ms[label] += self_time(s, children.get(s["id"], []))
    m = {k: sums[k] / n if n else 0.0 for k in PER_LAYER}
    m["executor.busy_share"] = (sums["executor.run_ms"] / (wall * cores)) if wall else 0.0
    attempted = len(res["ops"])
    m["failed_share"] = res.get("failed", 0) / attempted if attempted else 0.0
    overhead = overhead_ms(res)
    m["trace.overhead_ms"] = overhead if overhead == overhead else 0.0
    m["driver.gc_ms"] = res["driver_gc_ms"]
    detail = {
        "traced_ops": n, "trace.overhead_measured": overhead == overhead,
        **{f"site.jobs.{f}": v / n for f, v in site_jobs.items()},
        **{f"site.job_ms.{f}": v / n for f, v in site_ms.items()},
        **{f"layer.job_ms.{k}": v / n for k, v in layer_ms.items()},
        "shuffle.fetch_wait_ms": sums["shuffle.fetch_wait_ms"] / n if n else 0.0,
        "shuffle.spill_mb": sums["shuffle.spill_mb"] / n if n else 0.0,
        **{f"self_ms.{k}": v / n for k, v in self_ms.items()},
        **op_attrs(res),
    }
    return m, detail


def op_attrs(res):
    """Workload counters the ops carry (index.*, pipeline.*, curation.*,
    generations.*): per-op means, and per-kind means for `index.*_ms`."""
    sums = defaultdict(float)
    counts = defaultdict(int)
    for o in res["ops"]:
        for k, v in o["attrs"].items():
            if "." in k:
                sums[k] += v
                counts[k] += 1
    out = {k: sums[k] / counts[k] for k in sums}
    for k, v in res.get("traffic", {}).items():
        out[f"traffic.{k}"] = v
    return out
