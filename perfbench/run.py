#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The program is built from source into
`.bench_build/` first (see build.py); inputs are generated under
`.bench_build/work/`, which the run removes again. Outputs are checked
outside the timed region. The last line of stdout is the result:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, from a run with the span listeners attached. The
line before it carries details (per-op times, sample counts, check
findings). Exit code 0 only if every output check passed.

Workloads (see README.md):
  medallion      MedallionJob.run once per drop in one JVM: a multi-day
                 backfill in set-up, then a timed single-day drop
  drain_queries  declared queries that start a stream or keep a durable
                 artifact across invocations
  batch_queries  stateless declared queries, in a GraftSession session
  medallion_jvm  MedallionJob.main once per drop, each in a fresh JVM
"""
import argparse
import glob
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_drops  # noqa: E402
import gen_tables  # noqa: E402
import layers  # noqa: E402
from stats import median, percentile  # noqa: E402

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
JVM_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")
CHILD_TIMEOUT_S = 150
SHM = "/dev/shm"
MEDALLION_SETUP_REPEATS = 3


def cpus():
    return len(os.sched_getaffinity(0))


def java(work, main, args, heap, extra=()):
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the whole call stack in each stage's recorded call site (Spark keeps
    # 20 frames by default, which a SQL write exhausts inside Spark itself)
    # so jobs can be attributed to the program's modules
    cmd += [f"-Xmx{heap}", "-Dspark.callstack.depth=1000",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}", *extra,
            "-cp", build.classpath(), main, *args]
    return cmd


def _shm_scratch():
    return set(glob.glob(os.path.join(SHM, "graft_*")))


def run_child(cmd, cwd, log, on_op=None):
    """Run one program JVM to completion; returns (exit code, stdout,
    launch ms, exit ms). A stdout line `PERFBENCH <json>` is an op the
    JVM finished: it is handed to `on_op`, and the JVM, which waits for
    it, is then told to go on with a line on its stdin. The child is
    always reaped, and scratch it left in /dev/shm is removed: the
    program places streaming sources and checkpoints there whenever it
    is writable, and some outlive the JVM."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(cwd, "spark-local"))
    before = _shm_scratch()
    out = []
    try:
        with open(log, "ab") as err:
            t0 = time.time()
            p = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.PIPE,
                                 stdout=subprocess.PIPE, stderr=err)
            timer = threading.Timer(CHILD_TIMEOUT_S, p.kill)
            timer.start()
            try:
                for line in p.stdout:
                    if line.startswith(b"PERFBENCH ") and on_op:
                        on_op(json.loads(line[len(b"PERFBENCH "):]))
                        p.stdin.write(b"\n")
                        p.stdin.flush()
                    else:
                        out.append(line.decode(errors="replace"))
                p.wait()
            except BaseException:
                p.kill()
                p.wait()
                raise
            finally:
                timer.cancel()
                p.stdin.close()
                p.stdout.close()
            t1 = time.time()
    finally:
        for leftover in _shm_scratch() - before:
            shutil.rmtree(leftover, ignore_errors=True)
    return p.returncode, "".join(out), t0 * 1000.0, t1 * 1000.0


def wh_stats(wh):
    """(files, bytes) of the warehouse's table data (metastore excluded)."""
    files = size = 0
    for base, dirs, fs in os.walk(wh):
        dirs[:] = [d for d in dirs if d != "_metastore"]
        files += len(fs)
        size += sum(os.path.getsize(os.path.join(base, f)) for f in fs)
    return files, size


# ---------------------------------------------------------------- medallion

def medallion(args, work, log):
    """`MedallionJob.run` once per drop in one JVM (MedallionRunner): the
    backfill in set-up, then timed passes over the daily drops. The
    warehouse is checked after every timed op; the backfill's loaded and
    skipped counts after it ran."""
    t_start = time.time()
    layout = gen_drops.Layout(**WORKLOADS["medallion"]["layout"])
    drops, expected = gen_drops.generate(os.path.join(work, "drops"), args.seed, layout)
    drops_file = os.path.join(work, "drops.txt")
    with open(drops_file, "w") as fh:
        fh.write("\n".join(drops) + "\n")
    wh = os.path.join(work, "warehouse")
    out = os.path.join(work, "out")
    os.makedirs(out)
    seen = []

    def check(m):
        m["files"], m["bytes"] = wh_stats(wh)
        report, exp = m["report"] or {}, expected[m["drop"]]
        if m["error"]:
            m["problems"] = [m["error"]]
        elif m["timed"]:
            m["problems"] = checks.medallion(wh, report, exp)
        else:
            m["problems"] = checks.source_counts(report, exp)
        seen.append(m)

    cmd = java(work, "perfbench.MedallionRunner",
               [wh, drops_file, str(args.seconds), "1" if args.trace else "0", out], "2g")
    code, _, _, _ = run_child(cmd, work, log, check)
    res_file = os.path.join(out, "result.json")
    if code != 0 or not os.path.isfile(res_file):
        raise RuntimeError(f"medallion runner exited {code} without a result; see {log}")
    res = json.load(open(res_file))
    ops = [o | c for o, c in zip(res["ops"], seen)]
    failed = [o for o in ops if o["problems"]]
    daily_rows = sum(e["rows"] for e in expected[1:])
    in_bytes = sum(e["bytes"] for e in expected)

    def dur(o):
        return (o["end"] - o["start"]) / 1000.0

    def passes(some):
        out = {}
        for o in some:
            out.setdefault(o["pass"], []).append(o)
        return list(out.values())

    timed = passes([o for o in ops if o["timed"] and not o["traced"]])
    pass_s = median([sum(dur(o) for o in p) for p in timed])
    reloads = [dur(o) for o in ops if o["pass"] > 0 and not o["timed"]]
    detail = {
        "workload": "medallion", "passes": len(passes(ops)) - 1,
        "session_s": res["session_s"],
        "ops": [{"pass": o["pass"], "drop": o["drop"], "timed": o["timed"], "wall_s": dur(o),
                 "problems": o["problems"]} | {k: (o["report"] or {}).get(k)
                                              for k in ("curated_total", "fact_rows_added")}
                for o in ops],
        "backfill_first_call_s": dur(ops[0]),
        "backfill_s": median(reloads) if reloads else None,
        "daily_p50_s": median([dur(o) for p in timed for o in p]),
        "rows_per_s": daily_rows / pass_s,
        "stored_bytes_per_input_byte": median([p[-1]["bytes"] / in_bytes for p in timed]),
        "input_rows": {"backfill": expected[0]["rows"], "daily": daily_rows},
        "input_bytes": in_bytes,
        "fail_frac": len(failed) / len(ops),
        "jvm": res["jvm"],
    }
    first_timed = min(o["start"] for o in ops if o["timed"])
    e2e = {"setup_s": first_timed / 1000.0 - t_start, "pass_s": pass_s}
    per_layer = {}
    if args.trace:
        traced = passes([o for o in ops if o["traced"]])
        spans = layers.read_spans(os.path.join(out, "spans.jsonl"))
        accounting = []
        for p in traced:
            prev_files = prev_bytes = 0
            for o in p:
                mine = [s for s in spans if o["start"] <= s["start"] <= o["end"]]
                lo = layers.medallion_op(mine, o["start"], o["end"])
                lo["sinks.files_written"] = o["files"] - prev_files
                lo["sinks.mb_written"] = (o["bytes"] - prev_bytes) / 1048576.0
                prev_files, prev_bytes = o["files"], o["bytes"]
                src = (o["report"] or {}).get("source", {})
                lo["ingest.rows_loaded"] = sum(v.get("loaded", 0) for v in src.values())
                lo["ingest.rows_skipped"] = sum(v.get("skipped", 0) for v in src.values())
                accounting.append({"drop": o["drop"], "timed": o["timed"]}
                                  | {k: round(lo[k], 4) for k in layers.ACCOUNTING}
                                  | {"wall_s": dur(o)})
                if not o["timed"]:
                    continue
                for k, v in lo.items():
                    per_layer[k] = max(per_layer.get(k, 0.0), v) if k in layers.PEAKS \
                        else per_layer.get(k, 0.0) + v / len(traced)
        traced_timed = [[o for o in p if o["timed"]] for p in traced]
        traced_pass = median([sum(dur(o) for o in p) for p in traced_timed])
        per_layer.update({
            "pipeline.session_s": res["session_s"],
            "pipeline.backfill_s": median([dur(o) for p in traced for o in p if not o["timed"]]),
            "pipeline.daily_p50_s": median([dur(o) for p in traced_timed for o in p]),
            "pipeline.rows_per_s": daily_rows / traced_pass,
            "pipeline.stored_bytes_per_input_byte": median(
                [p[-1]["bytes"] / in_bytes for p in traced]),
            "jvm.peak_heap_mb": res["jvm"]["peak_heap_mb"],
            "jvm.gc_s": res["jvm"]["gc_s"],
            "trace.overhead": traced_pass / pass_s - 1.0})
        detail["op_accounting"] = accounting
    return len(ops), len(failed), e2e, per_layer, detail


def medallion_jvm_pass(work, drops, expected, n, trace, log):
    wh = os.path.join(work, f"warehouse-{n}")
    ops, layer_ops = [], []
    for i, (ddir, exp) in enumerate(zip(drops, expected)):
        extra = ()
        spans_file = os.path.join(work, f"spans-{n}-{i}.jsonl")
        if trace:
            extra = ("-Dspark.extraListeners=perfbench.JobTracer",
                     "-Dspark.sql.queryExecutionListeners=perfbench.PlanTracer",
                     "-Dspark.sql.streaming.streamingQueryListeners=perfbench.StreamTracer",
                     f"-Dperfbench.trace.out={spans_file}")
        files0, bytes0 = wh_stats(wh)
        cmd = java(work, "graft.pipeline.MedallionJob", [ddir, wh], "2g", extra)
        code, out, t0, t1 = run_child(cmd, work, log)
        problems = []
        report = {}
        try:
            report = json.loads(out.strip().splitlines()[-1])
        except (ValueError, IndexError):
            problems.append(f"exit {code}, no report line")
        if code != 0:
            problems.append(f"exit code {code}")
        if not problems:
            problems = checks.medallion(wh, report, exp)
        files1, bytes1 = wh_stats(wh)
        ops.append({"drop": i, "wall_s": (t1 - t0) / 1000.0, "problems": problems,
                    "rows": exp["rows"], "bytes": exp["bytes"], "report": report})
        if trace:
            lo = layers.medallion_op(layers.read_spans(spans_file), t0, t1)
            lo["sinks.files_written"] = files1 - files0
            lo["sinks.mb_written"] = (bytes1 - bytes0) / 1048576.0
            src = report.get("source", {})
            lo["ingest.rows_loaded"] = sum(v.get("loaded", 0) for v in src.values())
            lo["ingest.rows_skipped"] = sum(v.get("skipped", 0) for v in src.values())
            layer_ops.append(lo)
    stored = wh_stats(wh)[1] / sum(e["bytes"] for e in expected)
    return ops, layer_ops, stored


def medallion_jvm(args, work, log):
    """The ungated diagnostic: `MedallionJob.main` once per drop, each in
    a fresh JVM, so every op pays JVM, session and metastore start-up."""
    layout = gen_drops.Layout(**WORKLOADS["medallion"]["layout"])
    gen_times = []
    for k in range(MEDALLION_SETUP_REPEATS):
        root = os.path.join(work, f"drops-{k}")
        t0 = time.perf_counter()
        drops, expected = gen_drops.generate(root, args.seed, layout)
        gen_times.append(time.perf_counter() - t0)
        if k:
            shutil.rmtree(os.path.join(work, f"drops-{k - 1}"))
    setup_s = median(gen_times)

    passes, t_start = [], time.time()
    n = 0
    while n == 0 or time.time() - t_start < args.seconds or (args.trace and n < 2):
        traced = args.trace and n >= 1
        passes.append((traced,) + medallion_jvm_pass(work, drops, expected, n, traced, log))
        n += 1
    timed = [p for p in passes if not p[0]]
    all_ops = [o for p in passes for o in p[1]]
    failed = sum(1 for o in all_ops if o["problems"])
    pass_s = median([sum(o["wall_s"] for o in p[1]) for p in timed])
    op_walls = [o["wall_s"] for p in timed for o in p[1]]
    rows = sum(e["rows"] for e in expected)
    detail = {
        "workload": "medallion_jvm", "passes": len(passes), "setup_samples_s": gen_times,
        "ops": [{k: o[k] for k in ("drop", "wall_s", "problems")}
                | {k: o["report"].get(k) for k in ("curated_total", "fact_rows_added")}
                for o in all_ops],
        "backfill_s": median([p[1][0]["wall_s"] for p in timed]),
        "daily_p50_s": median([o["wall_s"] for p in timed for o in p[1][1:]]),
        "rows_per_s": rows / pass_s,
        "stored_bytes_per_input_byte": median([p[3] for p in timed]),
        "input_rows": rows, "input_bytes": sum(e["bytes"] for e in expected),
        "fail_frac": failed / len(all_ops),
    }
    detail["op_p50_s"] = median(op_walls)
    detail["op_max_s"] = median([max(o["wall_s"] for o in p[1]) for p in timed])
    e2e = {"setup_s": setup_s, "pass_s": pass_s}
    per_layer = {}
    if args.trace:
        traced = [p for p in passes if p[0]][-1]
        ops, layer_ops = traced[1], traced[2]
        for k in layers.MEDALLION + layers.COMMON:
            vals = [lo[k] for lo in layer_ops if k in lo]
            if k in layers.PEAKS:
                per_layer[k] = max(vals, default=0.0)
            elif vals:
                per_layer[k] = sum(vals)
        traced_pass = sum(o["wall_s"] for o in ops)
        per_layer.update({
            "pipeline.backfill_s": ops[0]["wall_s"],
            "pipeline.daily_p50_s": median([o["wall_s"] for o in ops[1:]]),
            "pipeline.rows_per_s": rows / traced_pass,
            "pipeline.stored_bytes_per_input_byte": traced[3],
            "trace.overhead": traced_pass / pass_s - 1.0})
        detail["op_accounting"] = [
            {k: round(lo[k], 4) for k in layers.ACCOUNTING} | {"wall_s": o["wall_s"]}
            for o, lo in zip(ops, layer_ops)]
    return len(all_ops), failed, e2e, per_layer, detail


# ---------------------------------------------------------------- queries

def queries(args, work, log):
    spec = WORKLOADS[args.workload]
    names = list(spec["queries"])
    data = os.path.join(work, "data")
    gen_tables.generate(data, gen_tables.SEED, gen_tables.SCALE)
    rnd = random.Random(args.seed)
    order = os.path.join(work, "order.txt")
    with open(order, "w") as fh:
        for _ in range(256):
            rnd.shuffle(names)
            fh.write(",".join(names) + "\n")
    out = os.path.join(work, "out")
    os.makedirs(out)
    cmd = java(work, "perfbench.QueryRunner",
               [data, order, str(args.seconds), "1" if args.trace else "0", out], "3g")
    code, _, t_launch, _ = run_child(cmd, work, log)
    res_file = os.path.join(out, "result.json")
    if code != 0 or not os.path.isfile(res_file):
        raise RuntimeError(f"query runner exited {code} without a result; see {log}")
    res = json.load(open(res_file))
    ops = res["ops"]

    # output checks: oracle where declared, and the warm-up record for all
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    con = checks.oracle_views(data)
    mismatched = {}
    for c in res["checks"]:
        q = c["name"]
        if c["error"]:
            mismatched[q] = f"check run failed: {c['error']}"
            continue
        try:
            warm = checks.digest(os.path.join(out, "warm", q))
            now = checks.digest(os.path.join(out, "check", q))
            if warm != now:
                mismatched[q] = f"result {now} differs from warm-up record {warm}"
            elif q in oracle:
                diff = checks.against_oracle(con, oracle[q], os.path.join(out, "check", q))
                if diff:
                    mismatched[q] = diff
            elif warm[0] == 0:
                mismatched[q] = "empty result and no oracle"
        except Exception as e:  # a result that cannot be read is a mismatch
            mismatched[q] = f"{type(e).__name__}: {e}"
    con.close()
    failed_ops = [o for o in ops if o["error"] or o["name"] in mismatched]

    def dur(o):
        return (o["end"] - o["start"]) / 1000.0

    def by_pass(some):
        out = {}
        for o in some:
            out.setdefault(o["pass"], []).append(o)
        return list(out.values())

    def walls(some):
        return [(max(o["end"] for o in p) - min(o["start"] for o in p)) / 1000.0
                for p in by_pass(some)]
    timed = [o for o in ops if not o["traced"]]
    pass_walls = walls(timed)
    first_timed = min(o["start"] for o in ops)
    samples = [dur(o) for o in timed]
    try:
        p90 = percentile(samples, 0.9)
    except ValueError:
        p90 = None
    stateful = {q for q, v in res["observed"].items()
                if v["stream_starts"] or v["durable_writes"]}
    detail = {
        "workload": args.workload, "passes": len(pass_walls), "op_samples": len(samples),
        "op_p90_s": p90, "pass_samples_s": pass_walls,
        "session_s": res["session_s"],
        "warm_pass_s": (max(o["end"] for o in res["warm"])
                        - min(o["start"] for o in res["warm"])) / 1000.0,
        "op_s": {q: [round(dur(w), 3), round(median([dur(o) for o in timed if o["name"] == q]), 3)]
                 for w in res["warm"] for q in [w["name"]]},
        "mismatched": mismatched,
        "errors": {o["name"]: o["error"] for o in ops if o["error"]},
        "fail_frac": len(failed_ops) / len(ops),
        "observed_stateful": sorted(stateful & set(names)),
        "classification_drift": sorted((stateful & set(names)) ^ (
            set(names) if args.workload == "drain_queries" else set())),
        "jvm": res["jvm"],
    }
    detail["op_p50_s"] = median(samples)
    detail["op_max_s"] = median([max(dur(o) for o in p) for p in by_pass(timed)])
    e2e = {"setup_s": (first_timed - t_launch) / 1000.0, "pass_s": median(pass_walls)}
    per_layer = {}
    if args.trace:
        traced = [o for o in ops if o["traced"]]
        n_traced = len({o["pass"] for o in traced})
        spans = layers.read_spans(os.path.join(out, "spans.jsonl"))
        totals = layers.query_pass(spans, traced)
        for k, v in totals.items():
            per_layer[k] = v if k == "exec.peak_task_mem_mb" else v / n_traced
        fams = {}
        for o in traced:
            fams[o["family"]] = fams.get(o["family"], 0.0) + dur(o) / n_traced
        for fam in WORKLOADS["families"]:
            per_layer[f"family.{fam}_s"] = fams.get(fam, 0.0)
        per_layer["jvm.peak_heap_mb"] = res["jvm"]["peak_heap_mb"]
        per_layer["jvm.gc_s"] = res["jvm"]["gc_s"]
        traced_walls = walls(traced)
        per_layer["trace.overhead"] = median(traced_walls) / median(pass_walls) - 1.0
        detail["traced_pass_samples_s"] = traced_walls
    return len(ops), len(failed_ops), e2e, per_layer, detail


# ---------------------------------------------------------------- main

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s"}


def per_layer_unit(name):
    if name.endswith("rows_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb_written")):
        return "MB"
    if name.endswith(("ratio", "overhead", "per_input_byte")):
        return "ratio"
    return "count"


def per_layer_names():
    """Every workload reports the same per-layer set; a layer a workload
    does not reach reads 0 there."""
    return list(layers.QUERIES + layers.MEDALLION + layers.COMMON) + [
        f"family.{f}_s" for f in WORKLOADS["families"]]


def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True,
                    choices=("medallion", "batch_queries", "drain_queries", "medallion_jvm"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print(f"program sources not found under {ROOT}/src/main/scala", file=sys.stderr)
        return 2
    build.build()
    work = os.path.join(ROOT, ".bench_build", "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(ROOT, ".bench_build", f"{args.workload}.log")
    open(log, "wb").close()
    try:
        fn = {"medallion": medallion, "medallion_jvm": medallion_jvm}.get(args.workload, queries)
        attempted, failed, e2e, per_layer, detail = fn(args, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics = {k: {"value": float(per_layer.get(k, 0.0)), "unit": per_layer_unit(k)}
                   for k in per_layer_names()}
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    detail["end_to_end"] = e2e
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
