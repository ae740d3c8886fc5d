"""Smoke tests for the benchmark itself (not part of the engine's suite).

    python3 -m pytest perfbench/tests -q

Each workload runs once through the command line with a zero-second
window, so every phase runs its minimum number of operations; the traced
runs drive the companion workloads too.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.workloads import RagServing  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
CONTRACT = [w["name"] for w in SPEC["workloads"]]


def bench(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "0",
         "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("workload,trace", [(w, t) for w in CONTRACT for t in (0, 1)])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    out = bench(workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for name, metric in result["metrics"].items():
        assert isinstance(metric["value"], (int, float)), name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_without_the_engine_it_fails_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = bench(CONTRACT[0], 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert out.stdout == ""


def test_a_wrong_expected_top_k_is_a_failure(tmp_path, monkeypatch):
    from perfbench import inputs

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    monkeypatch.setattr(RagServing, "BATCH", 2)
    spark = run.start_session()
    wl = RagServing(spark, inputs.materialize_base(spark, run.BUILD), str(tmp_path / "w"),
                    seed=3, traced=True)
    try:
        wl.prepare()
        for ph in wl.phases():
            for i in range(2):
                built = ph.build(i)
                ph.keep(i, built, ph.act(built), 0.0)
        attempted, failed, _ = wl.check()
        assert (attempted, failed) == (6, 0)
        wrong = [[(v + 1, score) for v, score in hits] for hits in wl.expected]
        attempted, failed, msgs = wl.check(expected=wrong)
        assert failed == attempted == 6, msgs
    finally:
        wl.close()
        spark.stop()
