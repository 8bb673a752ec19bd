"""Per-layer metrics of a traced run, from its span file.

Every span carries the Spark work charged to it: tasks and stages through
the job group (the innermost open span), planning phases through the
query-execution listener (the operation's top-level span). Figures are per
operation unless named otherwise; a layer a workload does not exercise
reads 0.
"""
import json
import statistics

USAGE = ["jobs", "stages", "tasks", "run_ms", "gc_ms", "sched_delay_ms", "scan_bytes",
         "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "analysis_ms",
         "optimization_ms", "planning_ms"]
MB = 1048576.0
MODULES = ["RelationalQueries", "ServingQueries", "PipelineQueries", "ScoringQueries",
           "SignalQueries", "StatsQueries", "TextQueries", "DedupQueries",
           "EmbeddingQueries", "MultimodalQueries", "SketchQueries", "CurationQueries",
           "TemporalQueries", "GraphQueries", "RetrievalQueries", "SelectionQueries",
           "InferenceQueries", "TpchQueries"]


def _dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def self_time(spans):
    """Span duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def per_layer(workload, res, spans_path, failed_frac, tail_pct, catalog):
    with open(spans_path) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    ops = res["ops"]
    n = len(ops)
    cores = res["cores"]
    op_spans = [s for s in spans if s["op"] >= 0]
    tot = {k: sum(s[k] for s in op_spans) for k in USAGE}
    wall = sum(o["latency_s"] for o in ops)
    by_name = lambda name: [s for s in op_spans if s["name"] == name]  # noqa: E731
    build = sum(_dur(s) for s in by_name("build"))
    action = sum(_dur(s) for s in by_name("action"))
    clear = [_dur(s) for s in by_name("clearCache")]
    m = {
        "failed_frac": (failed_frac, "ratio"),
        "op_tail_pct": (tail_pct, "%"),
        "trace.op_p50_s": (statistics.median(o["latency_s"] for o in ops), "s"),
        "queries.build_s": (build / n, "s"),
        "queries.action_s": (action / n, "s"),
        "queries.build_share": (build / (build + action) if build + action else 0.0, "ratio"),
        "plan.analysis_ms": (tot["analysis_ms"] / n, "ms"),
        "plan.optimization_ms": (tot["optimization_ms"] / n, "ms"),
        "plan.planning_ms": (tot["planning_ms"] / n, "ms"),
        "spark.jobs": (tot["jobs"] / n, "count"),
        "spark.stages": (tot["stages"] / n, "count"),
        "spark.tasks": (tot["tasks"] / n, "count"),
        "spark.tasks_per_stage": (tot["tasks"] / tot["stages"] if tot["stages"] else 0.0, "count"),
        "spark.sched_delay_s": (tot["sched_delay_ms"] / 1000.0 / n, "s"),
        "exec.run_s": (tot["run_ms"] / 1000.0 / n, "s"),
        "exec.utilization": (tot["run_ms"] / 1000.0 / (wall * cores), "ratio"),
        "exec.idle_core_s": ((wall * cores - tot["run_ms"] / 1000.0) / n, "s"),
        "exec.gc_s": (tot["gc_ms"] / 1000.0 / n, "s"),
        "exec.scan_mb": (tot["scan_bytes"] / MB / n, "MB"),
        "exec.shuffle_read_mb": (tot["shuffle_read_bytes"] / MB / n, "MB"),
        "exec.shuffle_write_mb": (tot["shuffle_write_bytes"] / MB / n, "MB"),
        "exec.spill_mb": (tot["spill_bytes"] / MB / n, "MB"),
        "plans.clear_cache_ms": (1000.0 * sum(clear) / n, "ms"),
    }

    # catalogue rollups, per pass over the list: each query's mean over its
    # operations, as the timed loop runs some queries more often than others
    jobs_of_op = {}
    for s in op_spans:
        jobs_of_op[s["op"]] = jobs_of_op.get(s["op"], 0) + s["jobs"]
    per_query = {}
    for o in ops:
        per_query.setdefault(o["name"], []).append(o)

    def rollup(names):
        wall = sum(statistics.mean(o["latency_s"] for o in per_query[q]) for q in names)
        jobs = sum(statistics.mean(jobs_of_op.get(o["i"], 0) for o in per_query[q]) for q in names)
        return wall, jobs

    for mod in MODULES:
        wall_s, jobs = rollup([q for q, qs in per_query.items() if qs[0].get("module") == mod])
        m[f"{mod}.wall_s"] = (wall_s, "s")
        m[f"{mod}.jobs"] = (jobs, "count")
    loops = {q["name"] for q in catalog if q.get("family") == "loop"}
    wall_s, jobs = rollup([q for q in per_query if q in loops])
    m["operators.loop_jobs"] = (jobs, "count")
    m["operators.loop_wall_s"] = (wall_s, "s")

    # sources: the ingest write path
    src = dict.fromkeys(["rows_in", "rows_kept", "kept_ratio", "store_read_mb", "compact_s",
                         "compact_rewritten_mb", "files_before", "files_after",
                         "post_compact_batch_s"], 0.0)
    if workload == "ingest":
        lay, comp = res["layers"], res["checks"]["compactions"]
        src["rows_in"] = lay["sources_rows_in"]
        src["rows_kept"] = lay["sources_rows_kept"]
        src["kept_ratio"] = lay["sources_rows_kept"] / lay["sources_rows_in"]
        src["store_read_mb"] = sum(s["scan_bytes"] for s in by_name("ingest")) / MB / n
        if comp:
            src["compact_s"] = statistics.mean(c["compact_s"] for c in comp)
            src["compact_rewritten_mb"] = statistics.mean(c["rewritten_bytes"] for c in comp) / MB
            src["files_before"] = statistics.mean(c["files_before"] for c in comp)
            src["files_after"] = statistics.mean(c["files_after"] for c in comp)
        post = [o["latency_s"] for o in ops if o.get("post_compact")]
        src["post_compact_batch_s"] = statistics.median(post) if post else 0.0
    units = {"rows_in": "count", "rows_kept": "count", "kept_ratio": "ratio",
             "store_read_mb": "MB", "compact_s": "s", "compact_rewritten_mb": "MB",
             "files_before": "count", "files_after": "count", "post_compact_batch_s": "s"}
    for k, v in src.items():
        m[f"sources.{k}"] = (v, units[k])

    lay = res["layers"]
    for k in ["text.html_mb_per_s", "text.section_mb_per_s", "text.chunk_mb_per_s"]:
        m[k] = (lay[k], "MB/s")
    for k in ["vec_dot", "sorted_intersect_count", "kmv", "bloom_probe", "jaro_winkler"]:
        m[f"kernel.{k}.rows_per_s"] = (lay[f"kernel.{k}.rows_per_s"], "rows/s")
    for k in ["vec_dot", "sorted_intersect_count", "kmv"]:
        m[f"kernel.{k}.builtin_rows_per_s"] = (lay[f"kernel.{k}.builtin_rows_per_s"], "rows/s")
    own = self_time(spans)
    res["self_time_s"] = {}
    for s in spans:
        key = s["name"] if s["parent"] or s["op"] < 0 else "op"
        res["self_time_s"][key] = res["self_time_s"].get(key, 0.0) + own[s["id"]]
    return m
