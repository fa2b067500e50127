"""Tests of the benchmark itself (not part of the repository's tier-1 suite).

    python3 -m pytest perfbench -q

The smoke tests run every workload end to end at a tenth of its input
size, untraced and traced, through the same command the benchmark's users
run; they take several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.trace import read_event_log
from perfbench.workload import E2E_METRICS, LAYER_METRICS, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join(ROOT, "perfbench", "run.py")]


def _tables(d):
    return {t: pq.read_table(os.path.join(d, f"{t}.parquet")) for t in gen.TABLES}


def test_same_seed_gives_identical_tables(tmp_path):
    rows = gen.sizes(0.001)
    gen.generate(str(tmp_path / "a"), 7, rows)
    gen.generate(str(tmp_path / "b"), 7, rows)
    gen.generate(str(tmp_path / "c"), 8, rows)
    a, b, c = (_tables(str(tmp_path / x)) for x in "abc")
    for t in gen.TABLES:
        assert a[t].equals(b[t]), t
    assert not a["documents"].equals(c["documents"])
    assert not a["lineitem"].equals(c["lineitem"])


def test_plan_invariants_hold(tmp_path):
    gen.generate(str(tmp_path), 3, gen.sizes(0.001))
    t = _tables(str(tmp_path))
    docs = t["documents"].to_pydict()
    assert docs["doc_id"] == list(range(len(docs["doc_id"])))
    assert docs["n_chars"] == [len(x) for x in docs["text"]]
    vec_ids = t["embeddings"]["vec_id"].to_pylist()
    assert set(vec_ids) <= set(docs["doc_id"])
    assert sorted(set(t["embeddings"]["label"].to_pylist())) == list(range(gen.N_LABELS))
    assert sum(x.endswith(" dup") for x in docs["text"]) == len(docs["text"]) // 20
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"


def test_layout_matches_fixture(tmp_path):
    """Schema, row counts and row groups equal the sf0.1 fixture's."""
    from data_ingestion_din_spark.sources.tables import DEFAULT_SF_DIR

    if not os.path.isdir(DEFAULT_SF_DIR):
        pytest.skip(f"fixture directory {DEFAULT_SF_DIR} is not present")
    gen.generate(str(tmp_path), 1, gen.sizes(0.1))
    for t in gen.TABLES:
        want = pq.ParquetFile(os.path.join(DEFAULT_SF_DIR, f"{t}.parquet"))
        got = pq.ParquetFile(str(tmp_path / f"{t}.parquet"))
        assert got.schema_arrow.remove_metadata() == want.schema_arrow.remove_metadata(), t
        assert got.metadata.num_rows == want.metadata.num_rows, t
        assert got.metadata.num_row_groups == want.metadata.num_row_groups == 1, t


def test_event_log_critical_stage(tmp_path):
    app = tmp_path / "logs" / "eventlog_v2_app-1"
    app.mkdir(parents=True)
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 1, "Submission Time": 0, "Completion Time": 500}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 3, "Submission Time": 0, "Completion Time": 2000}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 0, "Finish Time": ms}}
        for ms in (100, 200, 1000)
    ]
    (app / "events_1_app-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    (app / "appstatus_app-1").write_text("")
    crit = read_event_log(str(tmp_path / "logs"))
    assert crit == {"g": {"crit_stage_s": 2.0, "crit_stage_tasks": 3, "crit_task_skew": 5.0}}


_BURN = """
import time

from pyspark.sql import SparkSession

from perfbench.workload import session_cpu_s

def burn(batches):
    t0 = time.process_time()
    while time.process_time() - t0 < 1.5:
        pass
    yield from batches

spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
df = spark.range(2, numPartitions=2)
df.mapInPandas(burn, df.schema).collect()  # start the Python workers
c0 = session_cpu_s()
df.mapInPandas(burn, df.schema).collect()
print(session_cpu_s() - c0)
spark.stop()
"""


def test_cpu_time_counts_python_workers():
    """An operation whose work is all inside mapInPandas (3 CPU seconds in
    PySpark's Python workers) shows in the session's CPU time."""
    proc = subprocess.run(
        [sys.executable, "-c", _BURN],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True,
        text=True,
        timeout=300,
        start_new_session=True,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert float(proc.stdout.split()[-1]) >= 2.8


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_METRICS


def test_fails_outside_a_checkout(tmp_path):
    """With only the benchmark's own files present there is nothing to
    measure: exit non-zero, print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize(
    "argv, env",
    [
        (["--workload", "nope", "--seed", "1", "--seconds", "1", "--trace", "0"], {}),
        (["--workload", "serve", "--seed", "-1", "--seconds", "1", "--trace", "0"], {}),
        (["--workload", "serve", "--seed", "1", "--seconds", "0", "--trace", "0"], {}),
        (["--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "2"], {}),
        (["--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0"],
         {"SPARK_GRAFT_CPUS": "4x"}),
        (["--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0"],
         {"PERFBENCH_SCALE": "2"}),
        (["--workload", "serve", "--seed", "1", "--seconds", "1", "--trace", "0"],
         {"SPARK_GRAFT_DRIVER_MEM": "lots"}),
    ],
)
def test_bad_input_fails_before_any_work(argv, env):
    proc = subprocess.run(
        RUN + argv, env={**os.environ, **env}, capture_output=True, text=True, timeout=60
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke(workload, trace):
    proc = subprocess.run(
        RUN + ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", trace],
        env={**os.environ, "PERFBENCH_SCALE": "0.1"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    names = LAYER_METRICS if trace == "1" else E2E_METRICS
    assert set(out["metrics"]) == set(names)
    if trace == "0":
        assert all(m["value"] > 0 for m in out["metrics"].values())
