"""Tests of the benchmark itself; run from the repository root with

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The smoke test runs every workload at sf0.001, traced and untraced, and
checks that every metric named in BENCHMARK.json is printed with its
unit.  It points the MySQL test-suite directory at an empty directory, so
it also shows that the benchmark needs no reference checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from tracing import Tracer, parse_metric  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, workload, trace, env=None, seconds="1"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", seconds, "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600, env=env,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke_prints_every_metric_with_its_unit(workload, tmp_path):
    spec = _spec()
    env = dict(os.environ, STONEDB_MTR_DIR=str(tmp_path / "no-reference"))
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        proc = _run(ROOT, workload, trace, env)
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        result, report = json.loads(lines[-1]), json.loads(lines[-2])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
        assert result["attempted"] >= 1
        expected = {m["name"]: m["unit"] for m in spec[key]}
        got = {name: m["unit"] for name, m in result["metrics"].items()}
        assert got == expected
        for name, m in result["metrics"].items():
            assert isinstance(m["value"], (int, float)), name
        if key == "end_to_end":
            assert all(m["value"] > 0 for m in result["metrics"].values())
        # only the three registry modules the benchmark names are loaded
        assert report["query_modules"] == [
            "stonedb_spark.queries.graph",
            "stonedb_spark.queries.pipeline",
            "stonedb_spark.queries.tpch",
        ]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "tpch-sf0.1", 0, seconds="1")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_tables_are_deterministic():
    a = datagen.generate_tables(0.001)
    b = datagen.generate_tables(0.001)
    assert set(a) == set(datagen.TABLES)
    for name in a:
        assert a[name].equals(b[name]), name


def test_ingest_batch_counts_its_rows(tmp_path):
    path = str(tmp_path / "b.csv")
    good, total = datagen.write_ingest_batch(path, seed=5, index=0, first_key=100, rows=200,
                                             malformed=7, n_customers=10)
    with open(path) as f:
        lines = f.read().splitlines()
    assert len(lines) == 200 and good == 193
    assert sum(1 for line in lines if "1.2.3" in line or line.startswith("k")) == 7
    again = str(tmp_path / "c.csv")
    assert datagen.write_ingest_batch(again, 5, 0, 100, 200, 7, 10) == (good, total)
    with open(path) as a, open(again) as b:
        assert a.read() == b.read()


def test_self_time_subtracts_children():
    t = Tracer("r", enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and inner["run_id"] == "r"
    st = t.self_times()
    assert st["outer"] == pytest.approx((outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))
    assert st["inner"] == pytest.approx(inner["end"] - inner["start"])


def test_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=False)
    with t.span("x") as s:
        assert s is None
    assert t.spans == []


def test_parse_metric_reads_status_store_strings():
    summary = "total (min, med, max (stageId: taskId))\n"
    assert parse_metric("1,204") == 1204
    assert parse_metric("350 ms") == pytest.approx(0.35)
    assert parse_metric(summary + "2.5 s (0 ms, 1.2 s, 1.3 s (stage 3.0: task 9))") == pytest.approx(2.5)
    assert parse_metric(summary + "1.5 m (1.0 s, 2.0 s, 3.0 s (stage 1.0: task 2))") == pytest.approx(90.0)
    assert parse_metric(summary + "12.0 MiB (1.0 MiB, 4.0 MiB, 7.0 MiB (stage 1.0: task 3))") == 12 * 2**20
    assert parse_metric(None) == 0.0
