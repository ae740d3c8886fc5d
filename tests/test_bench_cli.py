"""Pin the bench.py CLI surface the driver and the big-SF recipe rely on.

The default mode's JSON contract is what the grading driver records as
BENCH_r{N}.json; --one/--isolate (VERDICT r4 item 5) is the canonical
fresh-JVM mode for big-SF sweeps. One subprocess smoke each at sf0.001
keeps this cheap."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_bench(*args: str) -> str:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_RUNS="1",
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_CPUS="2",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *args],
        capture_output=True,
        text=True,
        check=True,
        env=env,
        timeout=600,
    )
    return out.stdout.strip().splitlines()[-1]


def test_bench_one_runs_a_single_query_in_a_fresh_jvm(tmp_path):
    rec = json.loads(_run_bench("--one", "q1_pricing_summary"))
    assert set(rec) == {"median", "min"}
    assert rec["median"]["q1_pricing_summary"] > 0
    assert (
        rec["min"]["q1_pricing_summary"] <= rec["median"]["q1_pricing_summary"]
    )


def test_bench_default_json_contract():
    line = _run_bench()
    # VERDICT r10 #1: the driver captures only a 2000-char stdout tail —
    # BENCH_r10.json arrived "parsed": null when the final line outgrew
    # it. The stdout line must stay inside the capture window FOREVER,
    # regardless of headliner growth.
    assert len(line) <= 2000, f"bench stdout line is {len(line)} chars"
    rec = json.loads(line)
    assert rec["metric"] == "headline_queries_total"
    assert rec["unit"] == "sec"
    assert rec["sf"] == 0.001
    assert rec["value"] > 0 and len(rec["queries"]) >= 1
    assert rec.get("queries_omitted", 0) + len(rec["queries"]) >= 26
    # VERDICT r7 #2: the compact line still carries the cost floor and
    # its own host-noise context
    assert rec["value_min"] <= rec["value"]
    assert "steal_share" in rec and "cached_gb" in rec
    if rec["steal_share"] is not None:
        assert 0.0 <= rec["steal_share"] <= 1.0
    assert set(rec["cached_gb"]) == {"start", "end"}
    # VERDICT r9 #4: every record labels its cache regime so
    # round-over-round deltas compare like-for-like
    assert rec["regime"] in {"cold-cache", "warm-cache", "unknown"}
    if rec["cached_gb"]["start"] is not None:
        assert rec["regime"] == (
            "cold-cache" if rec["cached_gb"]["start"] < 4.0 else "warm-cache"
        )
    # the FULL record (every query, median + min, loadavg brackets) went
    # to bench_history.jsonl under the id the line references — trim it
    # after checking so smoke runs don't accumulate in the canonical
    # record
    hist = os.path.join(REPO, "bench_history.jsonl")
    with open(hist) as fh:
        lines = fh.readlines()
    full = json.loads(lines[-1])
    assert full["id"] == rec["history_ref"]
    assert full["sf"] == 0.001
    assert len(full["queries"]) >= 26
    assert set(full["queries_min"]) == set(full["queries"])
    assert len(full["loadavg"]["start"]) == 3 == len(full["loadavg"]["end"])
    assert full["value"] == rec["value"]
    with open(hist, "w") as fh:
        fh.writelines(lines[:-1])


def test_bench_isolate_rejects_any_unknown_name(monkeypatch):
    """A typo next to a valid name must fail the whole --isolate run,
    naming the typo, before any child JVM starts — not silently shrink
    the comparator set."""
    import importlib.util

    import pytest

    spec = importlib.util.spec_from_file_location(
        "bench_cli_under_test", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    spawned = []
    monkeypatch.setattr(
        bench.subprocess, "run", lambda *a, **k: spawned.append(a)
    )
    monkeypatch.setattr(
        sys, "argv",
        ["bench.py", "--isolate", "mm_strict_decode", "no_such_query"],
    )
    with pytest.raises(SystemExit) as exc:
        bench.main()
    assert exc.value.code not in (0, None)
    assert "no_such_query" in str(exc.value.code)
    assert "mm_strict_decode" not in str(exc.value.code)
    assert spawned == []
