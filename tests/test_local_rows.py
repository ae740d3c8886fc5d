"""``io.from_rows``: rows the driver holds become a local relation.

The frame is built from a ``pyarrow.Table``, so Spark plans a
``LocalRelation`` (``LocalTableScan``) instead of pickling the rows into a
Python RDD (``Scan ExistingRDD``), and keeps ``createDataFrame(list)``'s
values. These tests pin the plan, the job count, the value parity and the
engine sites that hand their driver-side results back through it.
"""

from __future__ import annotations

import datetime
import decimal
import json
import math
import os
import subprocess
import sys

from big_data_project_spark import io
from big_data_project_spark.plans import physical_plan

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PARITY_DDL = (
    "a bigint, b int, s string, d decimal(12,2), v array<double>, x double"
)
_PARITY_ROWS = [
    (1, 2, "x", decimal.Decimal("1.25"), [1.0, float("nan")], float("nan")),
    (None, None, None, None, None, None),
    (-(2**40), -7, "", decimal.Decimal("-0.50"), [], -0.0),
]


def _plain(rows):
    """Rows as tuples with NaN spelled out (NaN != NaN under ==)."""

    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, list):
            return [norm(x) for x in v]
        return v

    return [tuple(norm(v) for v in r) for r in rows]


def test_from_rows_runs_no_job_and_plans_local_table_scan(spark):
    sc = spark.sparkContext
    sc.setJobGroup("from-rows-probe", "from_rows job count")
    try:
        for _ in range(3):
            df = io.from_rows(spark, [(1, "a"), (2, "b")], "k bigint, s string")
            assert df.collect() == [(1, "a"), (2, "b")]
        jobs = sc.statusTracker().getJobIdsForGroup("from-rows-probe")
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == [], f"from_rows ran jobs: {jobs}"
    plan = physical_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_from_rows_matches_create_dataframe_list(spark):
    """Same rows and schema as createDataFrame(list), for every type the
    package passes; a NULL double stays apart from a NaN one."""
    for rows in (_PARITY_ROWS, []):
        got = io.from_rows(spark, rows, _PARITY_DDL)
        want = spark.createDataFrame(rows, _PARITY_DDL)
        assert got.schema == want.schema
        assert _plain(got.collect()) == _plain(want.collect())
        assert "LocalTableScan" in physical_plan(got)
    nulls = io.from_rows(spark, _PARITY_ROWS, _PARITY_DDL).where(
        "x IS NULL"
    ).count()
    assert nulls == 1


_TZ_SCRIPT = """
import datetime, json
from pyspark.sql import SparkSession
from big_data_project_spark import io
from big_data_project_spark.plans import physical_plan

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
rows = [(datetime.datetime(2024, 1, 1, 12, 0), 1), (None, 2)]
ddl = "ts timestamp, k int"
got = io.from_rows(spark, rows, ddl)
want = spark.createDataFrame(rows, ddl)
print(json.dumps({
    "got": [str(r.ts) for r in got.collect()],
    "want": [str(r.ts) for r in want.collect()],
    "schema_equal": got.schema == want.schema,
    "local": "LocalTableScan" in physical_plan(got),
}))
spark.stop()
"""


def test_from_rows_keeps_naive_datetime_wall_clock():
    """A naive datetime is local wall-clock time, as in
    createDataFrame(list): under TZ=America/New_York, 12:00 stays 12:00
    (a bare Arrow build reads it as UTC and returns 07:00)."""
    env = dict(os.environ, TZ="America/New_York")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _TZ_SCRIPT],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["got"] == out["want"] == ["2024-01-01 12:00:00", "None"], out
    assert out["schema_equal"] and out["local"], out


def test_connected_components_and_mmr_results_are_local(spark):
    """The driver-side union-find and MMR's ≤k collect hand their rows
    back as local relations, not as Python RDD scans."""
    from big_data_project_spark.operators import dedup, vector

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    cc = dedup.connected_components(pairs)
    assert sorted(cc.collect()) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)
    ]
    assert "ExistingRDD" not in physical_plan(cc), physical_plan(cc)

    cand = spark.createDataFrame(
        [(1, [1.0, 0.0], 0.9), (2, [0.0, 1.0], 0.8), (3, [0.7, 0.7], 0.7)],
        "vec_id long, embedding array<float>, score double",
    )
    mmr = vector.mmr_rerank(cand, k=2, lam=0.5)
    assert [r.vec_id for r in mmr.orderBy("rank").collect()][0] == 1
    assert "ExistingRDD" not in physical_plan(mmr), physical_plan(mmr)


def test_embedding_one_from_rows_row_plans_no_exchange(spark):
    """spread_input sees a local plan and adds no RoundRobin exchange: the
    query embedding folds into one local scan."""
    from big_data_project_spark.plugins import Embedder

    q = Embedder(model_name=None, dim=8).transform(
        io.from_rows(spark, [("what moved the market?",)], "text string")
    )
    plan = physical_plan(q).strip()
    assert "Exchange" not in plan, plan
    assert plan.startswith("LocalTableScan") and "\n" not in plan, plan
    assert len(q.collect()[0].embedding) == 8

