"""Smoke tests for the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/tests -q      # ~3 min: each run starts Spark
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import run  # noqa: E402
from tracing import Tracer, attach_jobs, covered_seconds, fold_jobs  # noqa: E402


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def _declared(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def test_tiny_run_emits_every_end_to_end_metric():
    out = _result(_bench("--workload", "tpch_sql", "--seed", "3", "--seconds", "1",
                         "--trace", "0", "--scale", "tiny"))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 23 * 3
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == _declared("end_to_end") == run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_counts_a_corrupted_output():
    out = _result(_bench("--workload", "stream_stateful", "--seed", "3", "--seconds",
                         "1", "--trace", "1", "--scale", "tiny",
                         "--inject-fault", "streaming_exact_dedup"))
    assert out["failed"] == 1 and not out["correct"]
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == _declared("per_layer") == run.PER_LAYER
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["stream.add_batch_ms"] > 0
    assert m["state.rows_total"] > 0 and m["python.bytes_returned"] > 0
    assert m["events_per_s"] > 0 and m["batch_ms_p50"] > 0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "tpch_sql", "--seed", "1", "--seconds", "1",
                  "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


@pytest.mark.parametrize("seed", [1, 2])
def test_inputs_depend_only_on_the_seed(seed):
    assert datagen.stream_inputs(seed, 2, 20) == datagen.stream_inputs(seed, 2, 20)
    assert datagen.stream_inputs(seed, 2, 20) != datagen.stream_inputs(seed + 10, 2, 20)


def test_tpch_tables_are_fixed_and_sized_by_the_scale_factor():
    a, b = datagen.tpch_tables(0.001), datagen.tpch_tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)
    rows = {t: a[t].num_rows for t in a}
    assert rows == {"region": 5, "nation": 25, "customer": 150, "supplier": 10,
                    "part": 200, "orders": 1500, "lineitem": 6000}


def test_stream_inputs_are_per_key_ascending_and_resend_duplicates():
    rows = datagen.stream_inputs(5, 4, 100)
    last: dict[str, int] = {}
    for batch in rows["events"]:
        for ev in batch:
            assert ev["t"] > last.get(ev["user"], -1)
            last[ev["user"]] = ev["t"]
    texts = [" ".join(d["text"].lower().split()) for b in rows["docs"] for d in b]
    assert len(set(texts)) < len(texts)


def test_covered_seconds_is_the_clipped_union():
    assert covered_seconds(0, 10, [(1, 3), (2, 4), (8, 12), (-5, -1)]) == 5
    assert covered_seconds(0, 10, []) == 0


def test_jobs_outside_their_unit_are_not_counted():
    """A job still carrying a unit's group after the unit ended (as the
    correctness check's jobs would) is attributed to no unit."""
    tracer = Tracer()
    tracer.spans = [{"id": 0, "name": "q", "layer": "unit", "start": 10.0,
                     "end": 20.0, "parent": None}]
    inside = {"job": 0, "group": "g", "submit": 12.0, "end": 13.0, "tasks": 1}
    after = {"job": 1, "group": "g", "submit": 25.0, "end": 26.0, "tasks": 1}
    ungrouped = {"job": 2, "group": None, "submit": 15.0, "end": 16.0, "tasks": 1}
    attach_jobs(tracer, [inside, after, ungrouped], {"g": 0})
    assert inside["unit"] == 0 and ungrouped["unit"] == 0 and "unit" not in after
    assert [s["name"] for s in tracer.spans[1:]] == ["job 0", "job 2"]


def test_fold_jobs_sums_task_metrics_per_job():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}},
        *[{"Event": "SparkListenerTaskEnd", "Stage ID": s,
           "Task Info": {"Launch Time": 1000, "Finish Time": 1010,
                         "Accumulables": [{"Name": "data sent to Python workers",
                                           "Update": 7}]},
           "Task Metrics": {"Executor Run Time": 6, "Executor CPU Time": 2_000_000,
                            "JVM GC Time": 1, "Disk Bytes Spilled": 3,
                            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                            "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                     "Local Bytes Read": 2}}}
          for s in (0, 1)],
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1020},
    ]
    (job,) = fold_jobs(events)
    assert job["group"] == "g" and job["stages"] == {0, 1} and job["tasks"] == 2
    assert (job["run_ms"], job["cpu_ms"], job["gc_ms"]) == (12, 4.0, 2)
    assert job["task_overhead_ms"] == 8 and job["spill"] == 6
    assert (job["shuffle_write"], job["shuffle_read"], job["py_sent"]) == (10, 6, 14)
    assert (job["submit"], job["end"]) == (1.0, 1.02)
