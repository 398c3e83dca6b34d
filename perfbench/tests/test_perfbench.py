"""Self-test of the benchmark: every declared metric is emitted with its
unit, and a corrupted result is counted as failed.

Each case runs ``run.py`` in a subprocess at sf0.001 with ``--seconds 0``:
the cold pass and one warm pass, or two warm passes when traced.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)

sys.path.insert(0, REPO)

from perfbench.oracle import render  # noqa: E402
from perfbench.run import declared_units  # noqa: E402

END_TO_END, PER_LAYER = declared_units()


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", "0.001", *extra]
    out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    report = json.loads(lines[-2].split(": ", 1)[1])
    return json.loads(lines[-1]), report


def test_render_targets_both_engines():
    body = "select {dsum:x} as s from {lineitem}"
    assert render(body, "engine") == (
        "select CAST(SUM(CAST(x AS DECIMAL(27,4))) AS DOUBLE) as s "
        "from read_files('lineitem.parquet')"
    )
    assert render(body, "duckdb") == (
        "select CAST(CAST(SUM(CAST(x AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE) as s "
        "from lineitem"
    )


@pytest.mark.parametrize("workload", ["sql_service", "pipeline_batch", "tpch_etl"])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    result, report = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    assert report["failed_frac"] == 0.0
    assert "healthy" in report["health"]
    if workload == "sql_service":
        assert report["first_page_p50_s"] > 0
    if trace:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        if workload == "sql_service":
            assert m["engine.rowid_jobs"] >= 1 and m["engine.fetch_rows"] > 0
            assert m["service.polls_per_op"] >= 1
        if workload == "pipeline_batch":
            assert m["engine.rowid_s"] == 0 and m["service.overhead_s"] == 0
            assert m["operators.build_s"] > 0 and m["spark.jobs"] >= 1
        if workload == "tpch_etl":
            assert m["engine.materialize_s"] > 0 and m["spark.stages"] >= 1
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", ["sql_service", "pipeline_batch", "tpch_etl"])
def test_corrupted_result_counts_as_failed(workload):
    result, report = _run(workload, 0, "--corrupt")
    assert result["failed"] >= 1
    assert not result["correct"]
    assert report["failed_frac"] > 0


def test_refuses_to_run_outside_a_checkout(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in ("run.py", "harness.py", "__init__.py"):
        (bench / name).write_text(open(os.path.join(BENCH, name)).read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sql_service", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
