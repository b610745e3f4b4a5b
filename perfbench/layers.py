"""Per-layer attribution of traced spans.

Spans come from the benchmark's listeners (perfbench/scala/perfbench/
Trace.scala): one per Spark job (with its stage and mechanism layer and
summed task metrics), per executed query plan, per streaming query start
and per micro-batch. Times are epoch milliseconds.

Stage layers partition time: every instant an op spends inside some job
goes to the stage layer of the most recently started job running then
(`unattributed` if that job has none), so start-up + stage-layer job time
+ idle time adds up to the op's wall time. Mechanism layers (`keys`,
`sinks`) overlap the stage layers and are the union of their own jobs.
"""
import json
import os

STAGE_LAYERS = ("ingest", "curate", "consume", "sources")
MECH_LAYERS = ("keys", "sinks")

MEDALLION = (
    "pipeline.session_s", "pipeline.startup_s", "pipeline.backfill_s", "pipeline.daily_p50_s",
    "pipeline.rows_per_s", "pipeline.stored_bytes_per_input_byte",
    "ingest.job_s", "ingest.jobs", "ingest.input_mb", "ingest.rows_loaded",
    "ingest.rows_skipped", "curate.job_s", "curate.rows_in", "curate.shuffle_mb",
    "consume.job_s", "consume.jobs", "consume.shuffle_mb", "keys.job_s", "keys.tasks",
    "sinks.job_s", "sinks.files_written", "sinks.mb_written", "unattributed.job_s",
    "driver.idle_s")
QUERIES = (
    "driver.build_s", "driver.exec_s", "sources.job_s", "sources.jobs",
    "streaming.queries", "streaming.batches", "streaming.useful_batch_ratio",
    "streaming.addBatch_s", "streaming.walCommit_s", "streaming.queryPlanning_s",
    "streaming.latestOffset_s", "streaming.pre_s", "streaming.post_s")
# the terms that add up to a medallion op's wall time
ACCOUNTING = ("pipeline.startup_s", "ingest.job_s", "curate.job_s", "consume.job_s",
              "unattributed.job_s", "driver.idle_s")
PEAKS = ("jvm.peak_heap_mb", "exec.peak_task_mem_mb")
COMMON = (
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s", "exec.jobs",
    "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.peak_task_mem_mb", "sched.wait_s", "jvm.peak_heap_mb", "jvm.gc_s",
    "trace.overhead")


def read_spans(path):
    if not os.path.isfile(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def union_s(intervals):
    """Seconds covered by the union of (start_ms, end_ms) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def stage_time(jobs, start, end):
    """{stage layer: seconds} partitioning the time in [start, end] that
    some job covers; the newest running job owns each instant."""
    cuts = sorted({start, end} | {min(max(t, start), end)
                                  for j in jobs for t in (j["start"], j["end"])})
    out = {}
    for a, b in zip(cuts, cuts[1:]):
        running = [j for j in jobs if j["start"] <= a and j["end"] >= b]
        if running and b > a:
            owner = max(running, key=lambda j: (j["start"], j["id"]))
            layer = owner.get("stage_layer") or "unattributed"
            out[layer] = out.get(layer, 0.0) + (b - a) / 1000.0
    return out


def exec_totals(jobs, plans):
    """Executor and planner figures summed over the given spans."""
    return {
        "plan.analysis_s": sum(p.get("analysis_s", 0) for p in plans),
        "plan.optimization_s": sum(p.get("optimization_s", 0) for p in plans),
        "plan.planning_s": sum(p.get("planning_s", 0) for p in plans),
        "exec.jobs": len(jobs),
        "exec.tasks": sum(j["tasks"] for j in jobs),
        "exec.task_s": sum(j["task_s"] for j in jobs),
        "exec.cpu_s": sum(j["cpu_s"] for j in jobs),
        "exec.shuffle_write_mb": sum(j["shuffle_write_mb"] for j in jobs),
        "exec.spill_mb": sum(j["spill_mb"] for j in jobs),
        "exec.peak_task_mem_mb": max((j["peak_task_mem_mb"] for j in jobs), default=0.0),
        "sched.wait_s": sum(j["sched_wait_s"] for j in jobs),
    }


def medallion_op(spans, launch_ms, exit_ms):
    """Layer figures for one pipeline run, from its start (a fresh JVM's
    launch, or the `MedallionJob.run` call in a warm one) to its end."""
    jobs = [s for s in spans if s["kind"] == "job"]
    plans = [s for s in spans if s["kind"] == "plan"]
    first = min((j["start"] for j in jobs), default=exit_ms)
    wall = (exit_ms - launch_ms) / 1000.0
    startup = (first - launch_ms) / 1000.0
    staged = stage_time(jobs, first, exit_ms)
    out = {"pipeline.startup_s": startup,
           "driver.idle_s": wall - startup - sum(staged.values()),
           "unattributed.job_s": staged.get("unattributed", 0.0)}
    for layer in STAGE_LAYERS:
        mine = [j for j in jobs if j.get("stage_layer") == layer]
        out[f"{layer}.job_s"] = staged.get(layer, 0.0)
        out[f"{layer}.jobs"] = len(mine)
        out[f"{layer}.input_mb"] = sum(j["input_mb"] for j in mine)
        out[f"{layer}.rows_in"] = sum(j["records_in"] for j in mine)
        out[f"{layer}.shuffle_mb"] = sum(j["shuffle_write_mb"] for j in mine)
    for layer in MECH_LAYERS:
        mine = [j for j in jobs if j.get("mech_layer") == layer]
        out[f"{layer}.job_s"] = union_s([(j["start"], j["end"]) for j in mine])
        out[f"{layer}.tasks"] = sum(j["tasks"] for j in mine)
    out.update(exec_totals(jobs, plans))
    jvm = [s for s in spans if s["kind"] == "jvm"]
    out["jvm.peak_heap_mb"] = max((s["peak_heap_mb"] for s in jvm), default=0.0)
    out["jvm.gc_s"] = sum(s["gc_s"] for s in jvm)
    return out


def query_pass(spans, ops):
    """Layer figures for the traced ops of one or more passes (totals)."""
    jobs = [s for s in spans if s["kind"] == "job"]
    plans = [s for s in spans if s["kind"] == "plan"]
    batches = [s for s in spans if s["kind"] == "batch"]
    streams = [s for s in spans if s["kind"] == "stream"]
    out = exec_totals(jobs, plans)
    out["driver.build_s"] = sum(o["built"] - o["start"] for o in ops) / 1000.0
    out["driver.exec_s"] = sum(o["end"] - o["built"] for o in ops) / 1000.0
    src = [j for j in jobs if j.get("stage_layer") == "sources"]
    out["sources.job_s"] = union_s([(j["start"], j["end"]) for j in src])
    out["sources.jobs"] = len(src)
    out["streaming.queries"] = len(streams)
    out["streaming.batches"] = len(batches)
    useful = sum(1 for b in batches if b.get("input_rows", 0) > 0)
    out["streaming.useful_batch_ratio"] = useful / len(batches) if batches else 0.0
    for k in ("addBatch_s", "walCommit_s", "queryPlanning_s", "latestOffset_s"):
        out[f"streaming.{k}"] = sum(b.get(k, 0.0) for b in batches)
    pre = post = 0.0
    for o in ops:
        mine = [b for b in batches if o["start"] <= b["start"] <= o["end"]]
        if mine:
            pre += (min(b["start"] for b in mine) - o["start"]) / 1000.0
            post += (o["end"] - max(b["end"] for b in mine)) / 1000.0
    out["streaming.pre_s"] = pre
    out["streaming.post_s"] = post
    return out
