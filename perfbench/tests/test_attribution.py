"""Tests of the job-to-module attribution rule and the layer accounting.

The first two run real program entry points under the benchmark's job
tracer (perfbench/scala/perfbench/AttributionProbe.scala), so they build
the program first and need `java` and the Spark jars.
"""
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import build  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def probe_spans(tmp_path_factory):
    if shutil.which("java") is None or not os.path.isdir(build.SPARK_JARS):
        pytest.skip("java or the Spark jars are not available")
    build.build()
    work = str(tmp_path_factory.mktemp("probe"))
    cmd = run.java(work, "perfbench.AttributionProbe", [os.path.join(work, "wh")], "1g")
    out = subprocess.run(cmd, cwd=work, check=True, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, timeout=300).stdout.decode()
    return [json.loads(line) for line in out.splitlines() if line.startswith("{")]


def _jobs_in(spans, call):
    c = next(s for s in spans if s["kind"] == "call" and s["name"] == call)
    return [s for s in spans if s["kind"] == "job" and c["start"] <= s["start"] <= c["end"]]


def test_dimbuilder_build_attributes_to_consume(probe_spans):
    jobs = _jobs_in(probe_spans, "DimBuilder.build")
    assert jobs
    assert {j["stage_layer"] for j in jobs} == {"consume"}
    # its append starts inside the sink module; its key assignment in keys
    assert {"sinks", "keys"} <= {j["mech_layer"] for j in jobs}


def test_surrogatekeys_dense_attributes_to_keys(probe_spans):
    jobs = _jobs_in(probe_spans, "SurrogateKeys.dense")
    assert any(j["mech_layer"] == "keys" for j in jobs)
    assert all(j["stage_layer"] is None for j in jobs)


def _job(i, start, end, stage=None):
    return {"id": i, "kind": "job", "start": start, "end": end, "stage_layer": stage}


def test_stage_time_partitions_overlapping_jobs():
    jobs = [_job(1, 1000, 3000, "ingest"), _job(2, 2000, 2500, "curate"),
            _job(3, 4000, 5000)]
    got = layers.stage_time(jobs, 500, 6000)
    assert got == {"ingest": 1.5, "curate": 0.5, "unattributed": 1.0}


def test_medallion_op_accounts_for_wall_time():
    spans = [_job(1, 2000, 4000, "ingest") | {"tasks": 4, "task_s": 1.0, "cpu_s": 0.5,
                                              "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                                              "peak_task_mem_mb": 0.0, "input_mb": 1.0,
                                              "records_in": 10, "sched_wait_s": 0.0,
                                              "mech_layer": None},
             _job(2, 5000, 6000, "consume") | {"tasks": 1, "task_s": 0.2, "cpu_s": 0.1,
                                               "shuffle_write_mb": 0.0, "spill_mb": 0.0,
                                               "peak_task_mem_mb": 0.0, "input_mb": 0.0,
                                               "records_in": 0, "sched_wait_s": 0.0,
                                               "mech_layer": "sinks"}]
    lo = layers.medallion_op(spans, 0, 7000)
    parts = (lo["pipeline.startup_s"] + lo["driver.idle_s"] + lo["unattributed.job_s"]
             + sum(lo[f"{s}.job_s"] for s in layers.STAGE_LAYERS))
    assert parts == pytest.approx(7.0)
    assert lo["pipeline.startup_s"] == 2.0 and lo["sinks.job_s"] == 1.0
