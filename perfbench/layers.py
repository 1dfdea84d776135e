"""Per-layer metrics of a traced run, computed from the span file.

Each metric is listed with its unit and the end-to-end metric and workload it
should move. Layers are the program's modules (`graft.sources`, `.engine`,
`.compile`, `.jmespath`, `.sinks`, `.ext`), the Spark runtime, and the
benchmark itself. A workload that does not exercise a layer reports its
metrics as 0 and names them on the `bypassed` line.
"""
import json
import statistics

# The operator-suite queries, one ext.<query>_s metric each (see
# WORKLOADS.md for how they were chosen).
SUITE_QUERIES = [
    "dedup_incremental", "dedup_jaccard_pairs", "dedup_components", "pagerank", "item_cooc",
    "leakage_split", "jmes_wide", "jmes_wide_interp",
]

SPAN_LAYERS = ["engine", "sources", "compile", "sinks", "spark", "sql", "ext"]

D_RPS, D_FIRST = "records_per_s@drain_wide", "wall_s@drain_wide"
D_BATCH, D_P50, D_P99 = ("query_geomean_s@drain_wide", "latency_p50_ms@drain_wide",
                         "latency_p99_ms@drain_wide")
S_WALL, S_GEO, S_RPS = "wall_s@ops_suite", "query_geomean_s@ops_suite", "records_per_s@ops_suite"

METRICS = [
    ("sources.latest_offset_ms_p50", "ms", [D_FIRST, D_RPS]),
    ("sources.read_amplification", "ratio", [D_RPS, D_BATCH]),
    ("sources.records_behind_max", "count", [D_RPS]),
    ("engine.batches", "count", [D_RPS, D_BATCH]),
    ("engine.rows_per_batch_p50", "count", [D_BATCH, D_P99]),
    ("engine.trigger_ms_p50", "ms", [D_BATCH, D_RPS]),
    ("engine.trigger_ms_p99", "ms", [D_BATCH, D_P99]),
    ("engine.wal_commit_ms_p50", "ms", [D_FIRST, D_RPS]),
    ("compile.query_planning_ms_p50", "ms", [D_FIRST, D_BATCH]),
    ("compile.planning_s", "s", [S_WALL, S_GEO]),
    ("compile.lowered_ratio", "ratio", [D_RPS]),
    ("jmespath.parse_us_per_doc", "us", [D_RPS, S_RPS]),
    ("jmespath.search_us_per_doc", "us", [D_RPS, S_RPS]),
    ("sinks.add_batch_ms_p50", "ms", [D_BATCH, D_P50]),
    ("sinks.lines_out", "count", ["work count, equals the expected lines"]),
    ("sinks.bytes_out", "bytes", ["work count, equals the expected bytes"]),
    ("spark.jobs_per_batch", "count", [D_P50, D_RPS]),
    ("spark.cpu_utilization", "ratio", [D_RPS]),
    ("spark.scaling_x", "ratio", [D_RPS]),
    ("spark.jobs", "count", [S_WALL]),
    ("spark.stages", "count", [S_WALL]),
    ("spark.tasks", "count", [S_WALL]),
    ("spark.executor_run_s", "s", [S_WALL]),
    ("spark.executor_cpu_s", "s", [S_WALL]),
    ("spark.shuffle_bytes", "bytes", [S_WALL]),
    ("spark.spill_bytes", "bytes", [S_WALL]),
    ("spark.driver_only_s", "s", [S_WALL]),
] + [("ext.%s_s" % q, "s", [S_WALL, S_GEO] + [S_RPS] * q.startswith("jmes_"))
     for q in SUITE_QUERIES] + [
    ("self.%s_s" % layer, "s", ["self time of the %s spans in the measured window" % layer])
    for layer in SPAN_LAYERS
] + [
    ("host.other_cpu_frac", "ratio", ["run validity: CPU used outside the benchmark"]),
    ("trace.overhead_frac", "ratio", ["check that tracing does not distort results"]),
]

PHASE_METRICS = {
    "sources.latest_offset_ms_p50": ("latestOffset",),
    "engine.wal_commit_ms_p50": ("walCommit", "commitOffsets"),
    "compile.query_planning_ms_p50": ("queryPlanning",),
    "sinks.add_batch_ms_p50": ("addBatch",),
}


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    i = min(len(xs) - 1, max(0, int(round(q * (len(xs) - 1)))))
    return xs[i]


def union_s(intervals, lo, hi):
    """Seconds of [lo, hi] covered by the union of (start, end) microsecond intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e6


def self_times(spans):
    """Per layer: span time not covered by the span's own children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {layer: 0.0 for layer in SPAN_LAYERS}
    for s in spans:
        kids = [(c["start_us"], c["end_us"]) for c in children.get(s["span"], [])]
        dur = (s["end_us"] - s["start_us"]) / 1e6
        own = dur - union_s(kids, s["start_us"], s["end_us"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, own)
    return out


def in_window(s, lo, hi):
    return lo <= s["start_us"] <= hi


def spark_totals(spans, lo, hi, cores):
    jobs = [s for s in spans if s["layer"] == "spark" and in_window(s, lo, hi)]
    a = [j["attrs"] for j in jobs]
    wall = (hi - lo) / 1e6
    cpu_s = sum(x["executor_cpu_ns"] for x in a) / 1e9
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(x["stages"] for x in a),
        "spark.tasks": sum(x["tasks"] for x in a),
        "spark.executor_run_s": sum(x["executor_run_ms"] for x in a) / 1e3,
        "spark.executor_cpu_s": cpu_s,
        "spark.shuffle_bytes": sum(x["shuffle_read_bytes"] + x["shuffle_write_bytes"] for x in a),
        "spark.spill_bytes": sum(x["spill_bytes"] for x in a),
        "spark.cpu_utilization": cpu_s / (wall * cores) if wall > 0 else 0.0,
        "spark.driver_only_s": wall - union_s([(j["start_us"], j["end_us"]) for j in jobs], lo, hi),
    }


def planning(spans, lo, hi):
    plan = [s for s in spans if s["name"].startswith("plan.") and in_window(s, lo, hi)]
    actions = [s for s in spans if s["name"].startswith("action:") and in_window(s, lo, hi)]
    interp = sum(s["attrs"]["jmes_interpreted"] for s in actions)
    lowered = sum(s["attrs"]["jmes_lowered"] for s in actions)
    out = {"compile.planning_s": sum(s["end_us"] - s["start_us"] for s in plan) / 1e6}
    if interp + lowered:
        out["compile.lowered_ratio"] = lowered / (interp + lowered)
    return out


def window_self_times(spans, lo, hi):
    return {"self.%s_s" % k: v for k, v in
            self_times([s for s in spans if in_window(s, lo, hi)]).items()}


def stream_layers(spans, lo, hi, cores):
    """Micro-batch, source, sink and Spark metrics of the batches that began in
    [lo, hi] (epoch microseconds), leaving out the warm-up batch."""
    batches = [s for s in spans if s["name"] == "microbatch" and s["attrs"]["ran"]
               and s["attrs"]["batch_id"] > 0 and s["attrs"]["input_rows"] > 0
               and lo - 1_000_000 <= s["start_us"] <= hi]
    out = {}
    if batches:
        d = [b["attrs"]["duration_ms"] for b in batches]
        for name, phases in PHASE_METRICS.items():
            out[name] = statistics.median(sum(x.get(p, 0) for p in phases) for x in d)
        trig = [x.get("triggerExecution", 0) for x in d]
        out["engine.batches"] = len(batches)
        out["engine.rows_per_batch_p50"] = statistics.median(
            b["attrs"]["input_rows"] for b in batches)
        out["engine.trigger_ms_p50"] = statistics.median(trig)
        out["engine.trigger_ms_p99"] = pct(trig, 0.99)
        out["sources.records_behind_max"] = max(
            b["attrs"]["records_behind_latest"] for b in batches)
        traces = {b["trace"] for b in batches}
        batch_jobs = [s for s in spans if s["layer"] == "spark" and s["trace"] in traces]
        out["spark.jobs_per_batch"] = len(batch_jobs) / len(batches)
    out.update(spark_totals(spans, lo, hi, cores))
    out.update(planning(spans, lo, hi))
    out.update(window_self_times(spans, lo, hi))
    return out


def suite_layers(spans, cores):
    queries = [s for s in spans if s["layer"] == "ext"]
    if not queries:
        return {}
    lo = min(s["start_us"] for s in queries)
    hi = max(s["end_us"] for s in queries)
    out = {"ext.%s_s" % s["name"].split(":", 1)[1]: (s["end_us"] - s["start_us"]) / 1e6
           for s in queries}
    out.update(spark_totals(spans, lo, hi, cores))
    out.update(planning(spans, lo, hi))
    out.update(window_self_times(spans, lo, hi))
    return out


def finish(measured):
    """Every per-layer metric, in table order: measured values as they are,
    the rest 0 and listed as bypassed."""
    metrics, bypassed = {}, []
    for name, unit, _ in METRICS:
        if name in measured:
            metrics[name] = {"value": measured[name], "unit": unit}
        else:
            metrics[name] = {"value": 0, "unit": unit}
            bypassed.append(name)
    return metrics, bypassed
