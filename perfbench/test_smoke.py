"""Smoke runs of every workload at tiny size, plus the benchmark's own rules.

    python3 -m pytest perfbench -q

Each workload runs once traced at ``--scale 0.1``; the tests check the output
contract, the metric names against BENCHMARK.json, and the reconciliation of
the per-layer numbers with the end-to-end ones.
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
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(workload: str, trace: int, cwd: str = ROOT, seed: int = 3):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=cwd, capture_output=True, text=True, timeout=600, check=False,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_smoke(workload):
    out = _result(_run(workload, trace=1))
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert list(m) == [x["name"] for x in BENCH["per_layer"]]
    units = {x["name"]: x["unit"] for x in BENCH["per_layer"]}
    assert all(v["unit"] == units[k] for k, v in out["metrics"].items())
    assert m["setup.session_s"] > 0 and m["trace.wall_s"] > 0
    if workload == "crawl_iterative":
        assert 0.9 <= m["wave.reconcile"] <= 1.1
        assert m["wave.unmarked_s"] >= 0
        assert m["frontier.candidates"] >= m["frontier.new_urls"] >= m["frontier.admitted"]
        assert m["spark.jobs_per_wave"] > 0 and m["fetch.task_skew"] >= 1.0
        assert m["tableio.commit_union_s"] <= m["tableio.commit_sum_s"]
        with open(os.path.join(ROOT, ".perfbench_out", "trace-crawl_iterative-seed3.json")) as fh:
            spans = json.load(fh)["spans"]
        runs = {s["id"] for s in spans if s["name"] == "crawl.run"}
        inner = [s for s in spans if s["name"].startswith(("tableio.", "checkpoint."))]
        assert inner and all(s["parent"] in runs for s in inner)
        assert {s["wave"] for s in inner} == {0, 1}
    else:
        assert abs(m["gate.sum_s"] - m["trace.wall_s"]) <= 0.1 * m["trace.wall_s"]
        assert m["gate.pricing_summary.rows"] == 6


def test_untraced_smoke_prints_end_to_end():
    out = _result(_run("gate_queries", trace=0))
    assert list(out["metrics"]) == [x["name"] for x in BENCH["end_to_end"]]
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the run
    must fail without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("gate_queries", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_seed_block_matches_fixture():
    from auto_archiver_spark.sources.fixture import frontier_seed_rows

    import crawl

    rows = crawl.seed_block(2, 30)
    assert rows == [tuple(r.values()) for r in frontier_seed_rows(90)[60:]]
    assert crawl.seed_block(2, 30) == crawl.seed_block(2 + crawl.ID_BLOCKS, 30)


def test_gate_tables_are_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    import gate

    a, b = tmp_path / "a", tmp_path / "b"
    gate.write_tables(str(a), 5, 0.05)
    gate.write_tables(str(b), 5, 0.05)
    for t in gate.TABLES:
        assert pq.read_table(a / f"{t}.parquet").equals(pq.read_table(b / f"{t}.parquet"))
