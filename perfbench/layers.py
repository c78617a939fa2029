"""Per-layer metrics of a traced run, computed from the raw record the JVM
writes (spans, jobs, stages, tasks, SQL executions, RDD block updates and
streaming progress).

A Spark job belongs to the innermost `graft.` frame of its call site (the
SQL execution's call site for SQL jobs, the first stage's otherwise); when
there is none, it belongs to the benchmark step whose span was active when
the job started. Each metric is computed per traced pass and reported as
the median over traced passes.
"""
from stats import clip, median, module_of_site, self_times, union_length

MB = 1048576.0
SKEW_MIN_TASK_MS = 50

SQL_GATES = ["q1_agg", "q3_topk_join", "q5_join_agg", "q18_large_orders",
             "w1_window", "a1_asof", "e1_upsert", "e2_scd2", "ev3_stream_window",
             "ev13_stream_incr_agg", "x3_ivfpq", "x5_bm25"]

# name -> unit, in the order BENCHMARK.json lists them.
METRICS = [
    ("engine.jobs", "count"), ("engine.stages", "count"), ("engine.tasks", "count"),
    ("engine.task_s", "s"), ("engine.cpu_s", "s"), ("engine.gc_s", "s"),
    ("engine.shuffle_write_mb", "MB"), ("engine.shuffle_read_mb", "MB"),
    ("engine.fetch_wait_s", "s"), ("engine.spill_mb", "MB"), ("engine.skew", "ratio"),
    ("engine.idle_s", "s"), ("engine.stored_mb", "MB"), ("engine.failed_tasks", "count"),
    ("sessions.start_s", "s"),
    ("pipeline.span_s", "s"), ("pipeline.idle_s", "s"), ("pipeline.tasks_failed", "count"),
    ("io.task_s", "s"), ("io.input_mb", "MB"), ("io.output_mb", "MB"),
    ("io.write_amp", "ratio"), ("io.scratch_left_mb", "MB"),
    ("etl.task_s", "s"), ("checks.task_s", "s"),
    ("operators.dedup.pairs_s", "s"), ("operators.dedup.resolve_s", "s"),
    ("operators.dedup.corpus_s", "s"),
    ("operators.dedup.shuffle_write_mb", "MB"), ("operators.dedup.spill_mb", "MB"),
    ("operators.dedup.cpu_s", "s"), ("operators.dedup.resolve_jobs", "count"),
    ("operators.dedup.pairs", "count"), ("operators.dedup.kept_frac", "ratio"),
    ("operators.dedup.lsh_s", "s"), ("operators.dedup.lsh_recall", "ratio"),
    ("operators.similarity.ivfpq_s", "s"), ("operators.similarity.task_s", "s"),
    ("operators.textops.bm25_s", "s"), ("operators.textops.task_s", "s"),
    ("operators.graph.bfs_s", "s"), ("operators.graph.sssp_s", "s"),
    ("operators.graph.ktruss_s", "s"), ("operators.graph.jobs", "count"),
    ("operators.graph.stages", "count"), ("operators.graph.idle_s", "s"),
    ("operators.graph.shuffle_write_mb", "MB"),
] + [(f"queries.{g}_s", "s") for g in SQL_GATES] + [
    ("queries.stages", "count"), ("queries.idle_s", "s"),
    ("streaming.batches", "count"), ("streaming.idle_s", "s"),
    ("trace_overhead", "ratio"), ("trace.step_cover", "ratio"),
]

# Step spans whose self time is a metric: (workload, step) -> metric.
STEP_METRICS = {
    ("curation", "pairs"): "operators.dedup.pairs_s",
    ("curation", "resolve"): "operators.dedup.resolve_s",
    ("curation", "corpus"): "operators.dedup.corpus_s",
    ("curation", "lsh"): "operators.dedup.lsh_s",
    ("curation", "ivfpq"): "operators.similarity.ivfpq_s",
    ("curation", "bm25"): "operators.textops.bm25_s",
    ("curation", "bfs"): "operators.graph.bfs_s",
    ("graph_rounds", "bfs"): "operators.graph.bfs_s",
    ("graph_rounds", "sssp"): "operators.graph.sssp_s",
    ("graph_rounds", "ktruss"): "operators.graph.ktruss_s",
    ("etl_zones", "pipeline"): "pipeline.span_s",
}
STEP_METRICS.update({(w, g): f"queries.{g}_s" for g in SQL_GATES
                     for w in ("sql_mix", "etl_zones")})

# Counters the JVM records per pass, reported as they are.
COUNTERS = ["pipeline.tasks_failed", "operators.dedup.pairs",
            "operators.dedup.kept_frac", "operators.dedup.lsh_recall"]


def _idle_s(task_iv, windows):
    """Seconds of the (start_ms, end_ms) windows when no task ran."""
    total = 0.0
    for lo, hi in windows:
        total += (hi - lo) - union_length(clip(task_iv, lo, hi))
    return total / 1000.0


def pass_metrics(workload, p, trace, source_bytes):
    """Per-layer metrics of one traced pass record `p`."""
    m = {name: 0.0 for name, _ in METRICS}
    spans = [s for s in trace["spans"] if s["pass"] == p["id"]]
    root = next(s for s in spans if s["parent"] == 0)
    steps = [s for s in spans if s["parent"] == root["id"]]
    selfs = self_times(spans)
    lo_ms, hi_ms = root["start_us"] / 1000.0, root["end_us"] / 1000.0

    sql_site = {e["exec"]: e["site"] for e in trace["sql"]}
    jobs = [j for j in trace["jobs"] if "job" in j and lo_ms <= j["start_ms"] <= hi_ms]

    def step_at(ms):
        for s in steps:
            if s["start_us"] / 1000.0 <= ms <= s["end_us"] / 1000.0:
                return s
        return None

    stage_job, job_layer, job_step = {}, {}, {}
    for j in jobs:
        st = step_at(j["start_ms"])
        site = sql_site.get(j["exec"], j["site"]) if j["exec"] >= 0 else j["site"]
        job_layer[j["job"]] = module_of_site(site) or (st["layer"] if st else "bench")
        job_step[j["job"]] = st["name"] if st else None
        for sid in j["stages"]:
            stage_job.setdefault(sid, j["job"])
    stages = [s for s in trace["stages"] if s["stage"] in stage_job]
    tasks = [t for t in trace["tasks"] if t["stage"] in stage_job]
    task_iv = [(t["launch_ms"], t["finish_ms"]) for t in tasks]

    def layer_tasks(layer):
        return [t for t in tasks if job_layer[stage_job[t["stage"]]] == layer]

    m["engine.jobs"] = len(jobs)
    m["engine.stages"] = len(stages)
    m["engine.tasks"] = len(tasks)
    m["engine.task_s"] = sum(t["run_ms"] for t in tasks) / 1000.0
    m["engine.cpu_s"] = sum(t["cpu_ns"] for t in tasks) / 1e9
    m["engine.gc_s"] = sum(t["gc_ms"] for t in tasks) / 1000.0
    m["engine.shuffle_write_mb"] = sum(t["sw_bytes"] for t in tasks) / MB
    m["engine.shuffle_read_mb"] = sum(t["sr_bytes"] for t in tasks) / MB
    m["engine.fetch_wait_s"] = sum(t["fetch_wait_ms"] for t in tasks) / 1000.0
    m["engine.spill_mb"] = sum(t["spill_disk"] for t in tasks) / MB
    m["engine.failed_tasks"] = sum(1 for t in tasks if t["failed"])
    by_stage = {}
    for t in tasks:
        if not t["failed"]:
            by_stage.setdefault(t["stage"], []).append(t["finish_ms"] - t["launch_ms"])
    skews = [max(d) / max(median(d), 1.0) for d in by_stage.values()
             if len(d) >= 2 and max(d) >= SKEW_MIN_TASK_MS]
    m["engine.skew"] = max(skews) if skews else 1.0
    m["engine.idle_s"] = _idle_s(task_iv, [(lo_ms, hi_ms)])
    before = [b["rdd_bytes"] for b in trace["blocks"] if b["ms"] < lo_ms]
    inside = [b["rdd_bytes"] for b in trace["blocks"] if lo_ms <= b["ms"] <= hi_ms]
    m["engine.stored_mb"] = max(before[-1:] + inside + [0]) / MB

    m["io.task_s"] = sum(t["run_ms"] for t in layer_tasks("io")) / 1000.0
    m["io.input_mb"] = sum(t["in_bytes"] for t in tasks) / MB
    m["io.output_mb"] = sum(t["out_bytes"] for t in tasks) / MB
    m["io.write_amp"] = sum(t["out_bytes"] for t in tasks) / source_bytes
    m["io.scratch_left_mb"] = p["scratch_left_mb"]
    m["etl.task_s"] = sum(t["run_ms"] for t in layer_tasks("etl")) / 1000.0
    m["checks.task_s"] = sum(t["run_ms"] for t in layer_tasks("checks")) / 1000.0

    dd = layer_tasks("operators.dedup")
    m["operators.dedup.shuffle_write_mb"] = sum(t["sw_bytes"] for t in dd) / MB
    m["operators.dedup.spill_mb"] = sum(t["spill_disk"] for t in dd) / MB
    m["operators.dedup.cpu_s"] = sum(t["cpu_ns"] for t in dd) / 1e9
    m["operators.dedup.resolve_jobs"] = sum(
        1 for j in jobs if job_step[j["job"]] == "resolve"
        and job_layer[j["job"]] == "operators.dedup")

    for layer in ("operators.similarity", "operators.textops"):
        m[f"{layer}.task_s"] = sum(t["run_ms"] for t in layer_tasks(layer)) / 1000.0

    gr = layer_tasks("operators.graph")
    gjobs = [j for j in jobs if job_layer[j["job"]] == "operators.graph"]
    m["operators.graph.jobs"] = len(gjobs)
    m["operators.graph.stages"] = sum(1 for s in stages
                                      if job_layer[stage_job[s["stage"]]] == "operators.graph")
    m["operators.graph.shuffle_write_mb"] = sum(t["sw_bytes"] for t in gr) / MB
    m["queries.stages"] = sum(1 for s in stages if job_layer[stage_job[s["stage"]]] == "queries")

    def windows(layer):
        return [(s["start_us"] / 1000.0, s["end_us"] / 1000.0) for s in steps
                if s["layer"] == layer]

    m["operators.graph.idle_s"] = _idle_s(task_iv, windows("operators.graph"))
    m["queries.idle_s"] = _idle_s(task_iv, windows("queries"))
    m["pipeline.idle_s"] = _idle_s(task_iv, windows("pipeline"))

    for s in steps:
        name = STEP_METRICS.get((workload, s["name"]))
        if name:
            m[name] = selfs[s["id"]] / 1e6
    wall = (root["end_us"] - root["start_us"]) / 1e6
    m["trace.step_cover"] = sum(selfs[s["id"]] for s in steps) / 1e6 / wall

    queries = {}
    for e in trace["streams"]:
        q = queries.setdefault(e["query"], {"start": None, "end": None, "busy": 0.0, "n": 0})
        if "started_ms" in e:
            q["start"] = e["started_ms"]
        elif "ended_ms" in e:
            q["end"] = e["ended_ms"]
        else:
            q["busy"] += e["duration_ms"]
            q["n"] += 1
    for q in queries.values():
        if q["start"] is not None and lo_ms <= q["start"] <= hi_ms:
            m["streaming.batches"] += q["n"]
            end = q["end"] if q["end"] is not None else hi_ms
            m["streaming.idle_s"] += max(0.0, (end - q["start"]) - q["busy"]) / 1000.0

    for c in COUNTERS:
        if c in p["counters"]:
            m[c] = p["counters"][c]
    return m


def per_layer(workload, result, source_bytes):
    """Median over traced passes of every per-layer metric, plus the set-up
    and tracing diagnostics."""
    timed = [p for p in result["passes"] if p["kind"] == "timed"]
    traced = [p for p in timed if p["traced"]]
    per_pass = [pass_metrics(workload, p, result["trace"], source_bytes) for p in traced]
    out = {name: median([pm[name] for pm in per_pass]) for name, _ in METRICS}
    out["sessions.start_s"] = result["setup"]["session_s"]
    plain = [p["wall_s"] for p in timed if not p["traced"]]
    out["trace_overhead"] = (median([p["wall_s"] for p in traced]) / median(plain)
                             if plain else 1.0)
    out["_spill_per_pass"] = [pm["engine.spill_mb"] for pm in per_pass]
    return out
