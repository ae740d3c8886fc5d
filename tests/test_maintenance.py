"""Tests for lake-maintenance operators: bucketed shuffle-free joins,
MERGE upserts, SCD2 history, partition pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_project_spark import io, plans
from big_data_project_spark.operators import maintenance as mt


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    return str(tmp_path_factory.mktemp("wh"))


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    import shutil

    # a previous session may have left managed-table directories behind with
    # no catalog entry (in-memory catalog) — saveAsTable then errors with
    # LOCATION_ALREADY_EXISTS, so clear both catalog and location first.
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)

    orders = io.load_table(spark, sf_dir, "orders")
    lineitem = io.load_table(spark, sf_dir, "lineitem")
    mt.write_bucketed(
        orders.select("o_orderkey", "o_totalprice"), "b_orders", "o_orderkey", 4
    )
    mt.write_bucketed(
        lineitem.select("l_orderkey", "l_quantity"), "b_lineitem", "l_orderkey", 4
    )
    a = spark.table("b_orders")
    b = spark.table("b_lineitem")
    joined = a.join(b, a.o_orderkey == b.l_orderkey)
    # co-bucketed tables: sort-merge join with ZERO Exchange
    assert plans.num_shuffles(joined) == 0, plans.physical_plan(joined)
    # and it still returns the right rows
    plain = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey).count()
    assert joined.count() == plain


def test_merge_upsert(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)], "id long, name string, v double"
    )
    out = {r.id: (r.name, r.v) for r in mt.merge_upsert(target, updates, "id").collect()}
    assert out == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_duplicate_and_null_update_keys(spark):
    """The anti-join takes the update keys without a distinct: a key that
    repeats in the batch still removes its target row exactly once (every
    update row survives, as before), and a null update key matches
    nothing, so a null-keyed target row survives."""
    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "n")], "id long, name string"
    )
    updates = spark.createDataFrame(
        [(2, "b2"), (2, "b3"), (None, "n2")], "id long, name string"
    )
    out = sorted(
        (r.id if r.id is not None else -1, r.name)
        for r in mt.merge_upsert(target, updates, "id").collect()
    )
    assert out == [(-1, "n"), (-1, "n2"), (1, "a"), (2, "b2"), (2, "b3")]


def test_scd2_history(spark):
    cur = spark.createDataFrame(
        [(1, "gold", "2024-01-01", None), (2, "silver", "2024-01-01", None)],
        "id long, tier string, valid_from string, valid_to string",
    ).select(
        "id", "tier",
        F.to_timestamp("valid_from").alias("valid_from"),
        F.to_timestamp("valid_to").alias("valid_to"),
    )
    upd = spark.createDataFrame(
        [(1, "platinum", "2024-06-01"),   # changed → close + new version
         (2, "silver", "2024-06-01"),     # unchanged → no-op
         (3, "bronze", "2024-06-01")],    # new key → insert
        "id long, tier string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))

    hist = mt.scd2_apply(cur, upd, "id", "ts", ["tier"])
    rows = sorted(
        ((r.id, r.tier, r.valid_to is None) for r in hist.collect())
    )
    assert rows == [
        (1, "gold", False),       # closed out
        (1, "platinum", True),    # new open version
        (2, "silver", True),      # untouched
        (3, "bronze", True),      # inserted
    ]
    latest = {r.id: r.tier for r in mt.latest_version(hist, "id", "valid_from").collect()}
    assert latest == {1: "platinum", 2: "silver", 3: "bronze"}
    # time travel: before the June apply key 1 was gold and 3 absent;
    # boundary semantics are [valid_from, valid_to) — AT the close instant
    # the NEW version is current, not the closed one
    asof_mar = {r.id: r.tier
                for r in mt.history_asof(hist, "2024-03-01").collect()}
    assert asof_mar == {1: "gold", 2: "silver"}
    asof_jun = {r.id: r.tier
                for r in mt.history_asof(hist, "2024-06-01").collect()}
    assert asof_jun == {1: "platinum", 2: "silver", 3: "bronze"}


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    events = io.load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_day")
    mt.write_partitioned_by_day(events, out, "ts")
    scan = spark.read.parquet(out).where(F.col("dt") == "2024-01-05")
    plan = plans.formatted_plan(scan)
    assert "PartitionFilters" in plan and "dt" in plan
    # count matches an unpartitioned filter
    want = events.where(F.to_date("ts") == "2024-01-05").count()
    assert scan.count() == want > 0


def test_compact_restores_file_count(spark, sf_dir, tmp_path):
    out = str(tmp_path / "fragmented")
    io.load_table(spark, sf_dir, "orders").repartition(16).write.parquet(out)
    import glob
    assert len(glob.glob(f"{out}/part-*.parquet")) == 16
    before = spark.read.parquet(out).count()
    mt.compact(spark, out, 2)
    assert len(glob.glob(f"{out}/part-*.parquet")) == 2
    assert spark.read.parquet(out).count() == before


def test_merge_aggregate_state_equals_full_recompute(spark, sf_dir):
    orders = io.load_table(spark, sf_dir, "orders")
    part1 = orders.where("o_orderkey % 2 = 0")
    part2 = orders.where("o_orderkey % 2 = 1")
    agg = lambda df: df.groupBy("o_orderstatus").agg(  # noqa: E731
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).cast("double").alias("total"),
    )
    incremental = mt.merge_aggregate_state(agg(part1), agg(part2), ["o_orderstatus"])
    full = agg(orders)
    assert sorted(map(tuple, incremental.collect())) == sorted(map(tuple, full.collect()))


def test_scd2_null_transitions(spark):
    """NULL→value and value→NULL attribute changes must be detected (the
    null-unsafe `<>` predicate silently misses both)."""
    cur = spark.createDataFrame(
        [(1, None, "2024-01-01", None), (2, "silver", "2024-01-01", None)],
        "id long, tier string, valid_from string, valid_to string",
    ).select(
        "id", "tier",
        F.to_timestamp("valid_from").alias("valid_from"),
        F.to_timestamp("valid_to").alias("valid_to"),
    )
    upd = spark.createDataFrame(
        [(1, "gold", "2024-06-01"),   # NULL → value: must close + insert
         (2, None, "2024-06-01")],    # value → NULL: must close + insert
        "id long, tier string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    hist = mt.scd2_apply(cur, upd, "id", "ts", ["tier"])
    rows = sorted(
        (r.id, r.tier or "", r.valid_to is None) for r in hist.collect()
    )
    assert rows == [
        (1, "", False), (1, "gold", True),
        (2, "", True), (2, "silver", False),
    ], rows


def test_atomic_overwrite_stages_then_swaps(spark, tmp_path):
    path = str(tmp_path / "swap_target")
    spark.range(10).write.parquet(path)
    df = spark.read.parquet(path).withColumn("id", F.col("id") * 2)
    mt.atomic_overwrite(df, path)
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == [i * 2 for i in range(10)]
    # no stage/old leftovers
    import os
    assert not os.path.exists(path + "__stage")
    assert not os.path.exists(path + "__old")


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Files written along the Morton curve of (o_custkey, o_totalprice)
    must let footer-stats pruning skip most files for a selective filter on
    EITHER column — a lexicographic sort only achieves that for its leading
    key."""
    import pyarrow.parquet as pq
    import glob

    orders = io.load_table(spark, sf_dir, "orders")
    zpath = str(tmp_path / "orders_z")
    mt.write_zordered(orders, zpath, ["o_custkey", "o_totalprice"], n_files=16)
    # same data, random layout, same file count
    rpath = str(tmp_path / "orders_r")
    orders.repartition(16).write.parquet(rpath)

    def files_admitting(path, col, val):
        n = 0
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            hit = False
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                for ci in range(rgm.num_columns):
                    c = rgm.column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        if c.statistics.min <= val <= c.statistics.max:
                            hit = True
            n += 1 if hit else 0
        return n

    lo_ck, hi_ck = [
        (r[0], r[1])
        for r in orders.agg(F.min("o_custkey"), F.max("o_custkey")).collect()
    ][0]
    mid_ck = int((lo_ck + hi_ck) // 2)
    z_ck = files_admitting(zpath, "o_custkey", mid_ck)
    r_ck = files_admitting(rpath, "o_custkey", mid_ck)
    z_tp = files_admitting(zpath, "o_totalprice", 200000.0)
    r_tp = files_admitting(rpath, "o_totalprice", 200000.0)
    # random layout: virtually every file admits the value
    assert r_ck >= 15 and r_tp >= 15
    # z-ordered: a selective point lookup touches a fraction of files on
    # BOTH dimensions
    assert z_ck <= r_ck // 2, (z_ck, r_ck)
    assert z_tp <= r_tp // 2, (z_tp, r_tp)
    # and the data survives intact
    assert spark.read.parquet(zpath).count() == orders.count()


def test_atomic_overwrite_recovers_interrupted_swap(spark, tmp_path):
    """Crash window: a previous run died after renaming the live path aside
    (path missing, __old holds the only copy). The next atomic_overwrite
    must restore __old instead of deleting it — and path_exists-based
    callers (upsert_sink first-batch detection) see the recovered data."""
    import os
    import shutil

    path = str(tmp_path / "swap_target")
    spark.range(5).write.parquet(path)
    # simulate dying between rename(path -> __old) and rename(__stage -> path)
    shutil.move(path, path + "__old")
    assert not os.path.exists(path)

    assert mt.recover_interrupted_swap(spark, path) is True
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == list(range(5))
    assert not os.path.exists(path + "__old")

    # same recovery inline in atomic_overwrite: reads-from-self still works
    shutil.move(path, path + "__old")
    df = spark.range(3).selectExpr("id")
    mt.atomic_overwrite(df, path)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [0, 1, 2]
    assert not os.path.exists(path + "__old")
    assert not os.path.exists(path + "__stage")


def test_zorder_value_stays_off_sign_bit(spark):
    """4+ columns at the default 16 bits would reach bit 63 (the long sign
    bit) without the clamp, flipping high-valued rows negative and breaking
    the curve order."""
    df = spark.createDataFrame(
        [(1000.0, 1000.0, 1000.0, 1000.0), (0.0, 0.0, 0.0, 0.0)],
        "a double, b double, c double, d double",
    ).crossJoin(
        spark.createDataFrame(
            [(0.0, 1000.0)], "lo double, hi double"
        )
    )
    z = mt.zorder_value(
        ["a", "b", "c", "d"], ["lo", "lo", "lo", "lo"], ["hi", "hi", "hi", "hi"]
    )
    vals = [r.z for r in df.select(z.alias("z")).collect()]
    assert all(v >= 0 for v in vals), vals
    # max-corner must sort above min-corner
    assert max(vals) == vals[0] or vals[0] > vals[1]


def test_scd2_full_churn_no_mandatory_broadcast(spark):
    """A 100%-churn update batch (every key changes) must both produce the
    right history and carry NO forced broadcast of the changed-key set —
    at scale changed_keys is as large as the dimension on such batches."""
    n = 200
    cur = (
        spark.range(n)
        .selectExpr(
            "id",
            "concat('tier_', id % 3) AS tier",
            "timestamp'2024-01-01' AS valid_from",
            "CAST(NULL AS timestamp) AS valid_to",
        )
    )
    upd = spark.range(n).selectExpr(
        "id",
        "concat('tier_', (id + 1) % 3) AS tier",  # every row changes
        "timestamp'2024-06-01' AS ts",
    )
    hist = mt.scd2_apply(cur, upd, "id", "ts", ["tier"])
    assert plans.num_broadcast_hints(hist) == 0, "churn-sized broadcast forced"
    rows = hist.collect()
    assert len(rows) == 2 * n  # every key: one closed + one open version
    open_rows = [r for r in rows if r.valid_to is None]
    closed_rows = [r for r in rows if r.valid_to is not None]
    assert len(open_rows) == n and len(closed_rows) == n


def test_scd2_multi_update_batch_single_open_version(spark):
    """A batch with several updates for one key must apply only the latest
    (one close, one new open version) — not fan out the close join or
    leave multiple open rows."""
    from big_data_project_spark.operators import maintenance as mt

    cur = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00", None)],
        "k long, attr string, valid_from string, valid_to string",
    ).select(
        "k", "attr",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    upd = spark.createDataFrame(
        [(1, "b", "2024-02-01 00:00:00"), (1, "c", "2024-03-01 00:00:00")],
        "k long, attr string, ts string",
    ).select("k", "attr", F.col("ts").cast("timestamp").alias("ts"))
    out = mt.scd2_apply(cur, upd, "k", "ts", ["attr"]).collect()
    assert len(out) == 2  # one closed original + ONE new open version
    open_rows = [r for r in out if r["valid_to"] is None]
    assert len(open_rows) == 1 and open_rows[0]["attr"] == "c"
    closed_rows = [r for r in out if r["valid_to"] is not None]
    assert len(closed_rows) == 1 and closed_rows[0]["attr"] == "a"
    # the close timestamp is the applied (latest) update's ts
    assert str(closed_rows[0]["valid_to"]).startswith("2024-03-01")


def test_scd2_reopens_fully_closed_key(spark):
    """An update for a key whose versions are ALL closed must append a new
    open version (previously it vanished: not 'changed' — no open row to
    compare — and not 'new' — the key exists in current)."""
    from big_data_project_spark.operators import maintenance as mt

    cur = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00", "2024-02-01 00:00:00")],
        "k long, attr string, valid_from string, valid_to string",
    ).select(
        "k", "attr",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    upd = spark.createDataFrame(
        [(1, "b", "2024-03-01 00:00:00")], "k long, attr string, ts string"
    ).select("k", "attr", F.col("ts").cast("timestamp").alias("ts"))
    out = mt.scd2_apply(cur, upd, "k", "ts", ["attr"]).collect()
    assert len(out) == 2
    open_rows = [r for r in out if r["valid_to"] is None]
    assert len(open_rows) == 1 and open_rows[0]["attr"] == "b"


def test_hll_merge_equals_single_pass(spark, sf_dir):
    """The stored-partials contract: merging daily sketches must give the
    SAME estimate as sketching the whole table in one pass (register-wise
    max is associative/order-free), or persisted partials would not be
    trustworthy."""
    from big_data_project_spark import io
    from big_data_project_spark.operators import maintenance as mt

    ev = io.load_table(spark, sf_dir, "events")
    daily = mt.distinct_sketches(
        ev.withColumn("day", F.to_date("ts")), ["day", "event_type"], "user_id"
    )
    merged = {
        r["event_type"]: r["distinct_est"]
        for r in mt.merge_distinct_sketches(daily, ["event_type"]).collect()
    }
    single = {
        r["event_type"]: r["distinct_est"]
        for r in mt.merge_distinct_sketches(
            mt.distinct_sketches(ev, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }
    assert merged == single and len(merged) > 0


def test_hll_estimate_error_bound(spark, sf_dir):
    """lg_k=12 keeps relative error ~1.6%/sqrt; assert a loose 3% gate
    against exact distinct counts."""
    from big_data_project_spark import io
    from big_data_project_spark.operators import maintenance as mt

    ev = io.load_table(spark, sf_dir, "events")
    est = {
        r["event_type"]: r["distinct_est"]
        for r in mt.merge_distinct_sketches(
            mt.distinct_sketches(ev, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }
    exact = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for k, x in exact.items():
        assert abs(est[k] - x) <= max(1, 0.03 * x)


def test_zone_skipping_reads_fewer_files(spark, sf_dir, tmp_path):
    """The pruning half of the zone-map contract: a narrow range over a
    range-clustered layout must read a strict subset of the files, and the
    result must equal the full filtered scan."""
    import datetime as dt

    from big_data_project_spark import io
    from big_data_project_spark.operators import maintenance as mt

    path = str(tmp_path / "zones")
    li = io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    li.repartitionByRange(8, "l_shipdate").write.mode("overwrite").parquet(path)
    stats = mt.collect_file_stats(spark.read.parquet(path), ["l_shipdate"])
    rows = stats.collect()
    lo, hi = dt.datetime(1996, 1, 1), dt.datetime(1996, 6, 30)
    kept = mt.prune_files(rows, "l_shipdate", lo, hi)
    assert 0 < len(kept) < len(rows)
    got = mt.skipping_scan(spark, path, stats, "l_shipdate", lo, hi)
    want = spark.read.parquet(path).where(
        (F.col("l_shipdate") >= F.lit(lo)) & (F.col("l_shipdate") <= F.lit(hi))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_zone_skipping_all_null_zone_is_pruned(spark):
    """A file whose stats row has NULL min/max (all-null column) can never
    match a range predicate and must be pruned, not crash the comparison."""
    from big_data_project_spark.operators import maintenance as mt

    rows = [
        {"file": "f1", "x_min": None, "x_max": None},
        {"file": "f2", "x_min": 5, "x_max": 10},
    ]
    assert mt.prune_files(rows, "x", 0, 100) == ["f2"]


def test_table_diff_statuses(spark):
    from big_data_project_spark.operators import maintenance as mt

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c"), (4, None), (5, "e")], "k long, v string"
    )
    out = {r["k"]: r["status"] for r in mt.table_diff(old, new, "k", ["v"]).collect()}
    assert out == {
        1: "removed",
        2: "unchanged",
        3: "changed",   # NULL -> value IS a change
        4: "changed",   # value -> NULL IS a change
        5: "added",
    }


def test_check_expectations_counts_violations(spark):
    from big_data_project_spark.operators import maintenance as mt

    child = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (2, None), (9, 3.0)], "k long, v double"
    )
    parent = spark.createDataFrame([(1,), (2,)], "k long")
    out = {
        r["rule"]: r["n_violations"]
        for r in mt.check_expectations(
            child,
            row_rules={"v_positive": F.col("v") > 0},  # NULL counts as violation
            unique={"k_unique": ["k"]},
            fks=[("k_fk_parent", child, "k", parent, "k")],
        ).collect()
    }
    assert out == {"v_positive": 2, "k_unique": 1, "k_fk_parent": 1}


# ---------------------------------------------------------------------------
# versioned snapshots (time travel)
# ---------------------------------------------------------------------------

def test_snapshot_versions_and_time_travel(spark, tmp_path):
    from big_data_project_spark.operators import maintenance as mt

    path = str(tmp_path / "snaps")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df2 = spark.createDataFrame([(1, "a2"), (3, "c")], "k long, v string")
    assert mt.snapshot_versions(spark, path) == []
    assert mt.write_snapshot(df1, path) == 1
    assert mt.write_snapshot(df2, path) == 2
    assert mt.snapshot_versions(spark, path) == [1, 2]
    v1 = {(r.k, r.v) for r in mt.read_snapshot(spark, path, 1).collect()}
    latest = {(r.k, r.v) for r in mt.read_snapshot(spark, path).collect()}
    assert v1 == {(1, "a"), (2, "b")}
    assert latest == {(1, "a2"), (3, "c")}


def test_snapshot_stale_stage_is_invisible_and_cleared(spark, tmp_path):
    """A writer that died after staging but before the commit rename must
    leave no visible version; the next writer commits normally."""
    import os

    from big_data_project_spark.operators import maintenance as mt

    path = str(tmp_path / "snaps")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    mt.write_snapshot(df, path)
    # simulate a died writer: stage dir for the next version, never renamed
    os.makedirs(path + "/__stage_v2")
    with open(path + "/__stage_v2/part-junk", "w") as f:
        f.write("junk")
    assert mt.snapshot_versions(spark, path) == [1]
    assert mt.write_snapshot(df, path) == 2
    assert mt.snapshot_versions(spark, path) == [1, 2]


def test_read_snapshot_missing_version_raises(spark, tmp_path):
    import pytest as _pytest

    from big_data_project_spark.operators import maintenance as mt

    path = str(tmp_path / "snaps")
    with _pytest.raises(FileNotFoundError):
        mt.read_snapshot(spark, path)
    mt.write_snapshot(spark.createDataFrame([(1,)], "k long"), path)
    with _pytest.raises(FileNotFoundError):
        mt.read_snapshot(spark, path, version=9)


def test_write_snapshot_tag_and_commit_if(spark, tmp_path):
    """``tag`` commits a marker with the version (hidden from parquet
    readers), ``commit_if`` False drops the stage without a version, and
    ``read_snapshot(schema=)`` skips the schema inference without
    changing what is read."""
    import os

    from big_data_project_spark.operators import maintenance as mt

    path = str(tmp_path / "snaps")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    assert mt.write_snapshot(df, path, tag="q.0") == 1
    assert mt.snapshot_tag(spark, path, 1) == "q.0"
    assert mt.write_snapshot(df, path, commit_if=lambda: False) is None
    assert mt.snapshot_versions(spark, path) == [1]
    assert not [n for n in os.listdir(path) if n.startswith("__stage_")]
    assert mt.write_snapshot(df, path) == 2
    assert mt.snapshot_tag(spark, path, 2) is None
    got = mt.read_snapshot(spark, path, 2, schema=df.schema)
    assert [(r.k, r.v) for r in got.collect()] == [(1, "a")]
    assert got.columns == ["k", "v"]


# ---------------------------------------------------------------------------
# mergeable quantile partials
# ---------------------------------------------------------------------------

def test_quantile_sketch_merge_equals_single_pass(spark, sf_dir):
    from pyspark.sql import functions as F

    from big_data_project_spark import io
    from big_data_project_spark.operators import maintenance as mt

    o = io.load_table(spark, sf_dir, "orders").withColumn(
        "day", F.to_date("o_orderdate")
    )
    merged = mt.quantile_sketches(
        o, ["o_orderpriority", "day"], "o_totalprice", 0.0, 600000.0, 64
    ).groupBy("o_orderpriority", "bin").agg(F.sum("n").cast("long").alias("n"))
    single = mt.quantile_sketches(
        o, ["o_orderpriority"], "o_totalprice", 0.0, 600000.0, 64
    )
    got = {(r.o_orderpriority, r.bin): r.n for r in merged.collect()}
    want = {(r.o_orderpriority, r.bin): r.n for r in single.collect()}
    assert got == want


def test_quantile_estimate_within_bin_width(spark, sf_dir):
    from pyspark.sql import functions as F

    from big_data_project_spark import io
    from big_data_project_spark.operators import maintenance as mt

    o = io.load_table(spark, sf_dir, "orders")
    n_bins, lo, hi = 128, 0.0, 600000.0
    width = (hi - lo) / n_bins
    sk = mt.quantile_sketches(o, ["o_orderstatus"], "o_totalprice", lo, hi, n_bins)
    est = {
        r.o_orderstatus: (r.p50, r.p90, r.p99)
        for r in mt.merge_quantile_sketches(
            sk, ["o_orderstatus"], lo, hi, n_bins
        ).collect()
    }
    exact = {
        r.o_orderstatus: r.qs
        for r in o.groupBy("o_orderstatus")
        .agg(F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").alias("qs"))
        .collect()
    }
    for k, (p50, p90, p99) in est.items():
        for got, want in zip((p50, p90, p99), exact[k]):
            assert abs(got - want) <= width + 1e-9, (k, got, want, width)


def test_quantile_sketch_clamps_out_of_range(spark):
    from big_data_project_spark.operators import maintenance as mt

    df = spark.createDataFrame(
        [("a", -50.0), ("a", 999999.0), ("a", 50.0), ("a", None)],
        "g string, v double",
    )
    rows = {(r.bin): r.n for r in mt.quantile_sketches(df, ["g"], "v", 0.0, 100.0, 10).collect()}
    # -50 clamps to bin 0 (with 50.0 → bin 5), 999999 clamps to bin 9, null dropped
    assert rows == {0: 1, 5: 1, 9: 1}, rows


# ---------------------------------------------------------------------------
# count-min sketch (frequency partials)
# ---------------------------------------------------------------------------

def test_cms_merge_equals_single_pass(spark, sf_dir):
    """Sharded sketches added cell-wise must equal the whole-corpus sketch —
    the property that makes stored per-partition CMS partials trustworthy."""
    words = (
        io.load_table(spark, sf_dir, "documents")
        .select(
            F.explode(F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != ""))
            .alias("tk"),
        )
    )
    left = words.where(F.crc32("tk") % 2 == 0)
    right = words.where(F.crc32("tk") % 2 == 1)
    merged = mt.merge_cms_sketches(
        mt.cms_sketch(left, "tk", 4, 256).unionByName(
            mt.cms_sketch(right, "tk", 4, 256)
        )
    )
    single = mt.cms_sketch(words, "tk", 4, 256)
    got = {(r.row, r.col): r.n for r in merged.collect()}
    want = {(r.row, r.col): r.n for r in single.collect()}
    assert got == want


def test_cms_estimate_never_undercounts(spark, sf_dir):
    """CMS's one-sided guarantee: the min-over-rows estimate can only
    OVERcount (collisions add), never undercount — for EVERY distinct
    token, even at a deliberately tiny width where collisions are rampant."""
    words = (
        io.load_table(spark, sf_dir, "documents")
        .select(
            F.explode(F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != ""))
            .alias("tk"),
        )
    )
    true_counts = words.groupBy("tk").agg(F.count("*").cast("long").alias("true_n"))
    sk = mt.cms_sketch(words, "tk", 3, 64)
    est = mt.cms_estimate(sk, true_counts.select("tk"), "tk", 3, 64)
    joined = true_counts.join(est, "tk")
    assert joined.where(F.col("est_n") < F.col("true_n")).count() == 0
    # and at an ample width, the top token estimates are exact-ish: the
    # heaviest token's estimate equals min over 3 cells that at least
    # contain it, so est >= true always; sanity that estimates are finite
    assert joined.count() == true_counts.count()


def test_cms_estimate_unseen_token_is_zero(spark):
    """A token that never occurred estimates 0 only if all its cells are
    empty; with a tiny corpus that's guaranteed, and the left-join/coalesce
    path (absent cells -> 0) is what this pins."""
    df = spark.createDataFrame([("alpha",), ("alpha",), ("beta",)], "tk string")
    sk = mt.cms_sketch(df, "tk", 4, 4096)
    probe = spark.createDataFrame([("alpha",), ("never-seen-token",)], "tk string")
    got = {r.tk: r.est_n for r in mt.cms_estimate(sk, probe, "tk", 4, 4096).collect()}
    assert got["alpha"] >= 2
    assert got["never-seen-token"] == 0


def test_write_snapshot_retries_past_version_collision(spark, tmp_path):
    """Optimistic commit: a concurrent writer taking v=2 must push this
    commit to v=3, not fail — the data is staged once, only the checked
    rename re-tries."""
    import os

    from big_data_project_spark.operators import maintenance as mt

    path = str(tmp_path / "snaps")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    mt.write_snapshot(df, path)
    # a concurrent writer commits v=2 between this writer's allocate and
    # rename: pre-create the committed dir it would find
    os.makedirs(path + "/v=2")
    assert mt.write_snapshot(df, path) == 3
    assert mt.snapshot_versions(spark, path) == [1, 2, 3]
    got = {(r.k, r.v) for r in mt.read_snapshot(spark, path, 3).collect()}
    assert got == {(1, "a")}


def test_vacuum_snapshots_retention_and_stage_cleanup(spark, tmp_path):
    import os

    from big_data_project_spark.operators import maintenance as mt

    path = str(tmp_path / "snaps")
    for i in range(4):
        mt.write_snapshot(
            spark.createDataFrame([(i,)], "k long"), path
        )
    os.makedirs(path + "/__stage_deadbeef")  # died writer's litter
    # a YOUNG stage dir may be a concurrent writer mid-commit: the default
    # TTL must leave it alone
    assert mt.vacuum_snapshots(spark, path, keep_last=4) == []
    assert os.path.exists(path + "/__stage_deadbeef")
    # past the TTL it is litter and goes
    dropped = mt.vacuum_snapshots(spark, path, keep_last=2, stage_ttl_seconds=-5)
    assert dropped == [1, 2]
    assert mt.snapshot_versions(spark, path) == [3, 4]
    assert not os.path.exists(path + "/__stage_deadbeef")
    # latest still reads; a vacuumed pin fails FAST with the clear error
    assert mt.read_snapshot(spark, path).collect()[0].k == 3
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        mt.read_snapshot(spark, path, version=1)
    # keep_last=1 keeps only the newest; keep_last=0 is rejected
    assert mt.vacuum_snapshots(spark, path, keep_last=1) == [3]
    with _pytest.raises(ValueError):
        mt.vacuum_snapshots(spark, path, keep_last=0)


# ---------------------------------------------------------------------------
# KMV (theta) sketches — mergeable distinct + set intersection
# ---------------------------------------------------------------------------

def test_kmv_estimate_tracks_exact_distinct(spark, sf_dir):
    """KMV relative error concentrates around 1/sqrt(k); gate a generous
    3/sqrt(k) band against exact COUNT(DISTINCT) per group."""
    from pyspark.sql import functions as F

    from big_data_project_spark import io
    from big_data_project_spark.operators import maintenance as mt

    k = 256
    o = io.load_table(spark, sf_dir, "orders")
    est = {
        r.o_orderpriority: r.est
        for r in mt.kmv_sketch(o, ["o_orderpriority"], "o_custkey", k=k)
        .select("o_orderpriority", mt.kmv_estimate_col(k).alias("est"))
        .collect()
    }
    exact = {
        r.o_orderpriority: r.n
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    band = 3.0 / (k ** 0.5)
    for g, n in exact.items():
        assert abs(est[g] - n) <= band * n, (g, est[g], n)


def test_kmv_exact_below_k(spark):
    from big_data_project_spark.operators import maintenance as mt

    df = spark.createDataFrame(
        [("g", i % 37) for i in range(500)], "g string, v int"
    )
    est = (
        mt.kmv_sketch(df, ["g"], "v", k=64)
        .select(mt.kmv_estimate_col(64).alias("e"))
        .collect()[0]
        .e
    )
    assert est == 37.0  # sketch not full → exact, no estimator noise


def test_kmv_union_equals_sketch_of_union_exactly(spark, sf_dir):
    """The mergeability CONTRACT as array equality, not estimate
    closeness: union of fine-grained sketches == the sketch computed
    directly over the union."""
    from big_data_project_spark import io
    from big_data_project_spark.operators import maintenance as mt

    o = io.load_table(spark, sf_dir, "orders")
    fine = mt.kmv_sketch(
        o, ["o_orderstatus", "o_orderpriority"], "o_custkey", k=64
    )
    merged = {
        r.o_orderstatus: r.kmv
        for r in mt.kmv_union(fine, ["o_orderstatus"], k=64).collect()
    }
    direct = {
        r.o_orderstatus: r.kmv
        for r in mt.kmv_sketch(o, ["o_orderstatus"], "o_custkey", k=64).collect()
    }
    assert merged == direct


def test_kmv_intersection_tracks_true_overlap(spark, sf_dir):
    """Intersection estimates carry compounded error — gate a wide band
    (±40% of |A∪B|-scaled truth at k=256) plus the exact small-set path."""
    from pyspark.sql import functions as F

    from big_data_project_spark import io
    from big_data_project_spark.operators import maintenance as mt

    k = 256
    o = io.load_table(spark, sf_dir, "orders")
    y96 = o.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    y97 = o.where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    a = mt.kmv_sketch(y96, ["o_orderpriority"], "o_custkey", k=k)
    b = mt.kmv_sketch(y97, ["o_orderpriority"], "o_custkey", k=k)
    est = {
        r.o_orderpriority: r.intersect_est
        for r in mt.kmv_intersect_estimate(a, b, ["o_orderpriority"], k=k).collect()
    }
    truth = {
        r.o_orderpriority: r.n
        for r in y96.select("o_orderpriority", "o_custkey")
        .intersect(y97.select("o_orderpriority", "o_custkey"))
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for g, n in truth.items():
        assert abs(est[g] - n) <= max(0.4 * n, 30), (g, est[g], n)

    # exact regime: two tiny overlapping sets → exact |A ∩ B|
    sa = mt.kmv_sketch(
        spark.createDataFrame([("g", v) for v in range(10)], "g string, v int"),
        ["g"], "v", k=64,
    )
    sb = mt.kmv_sketch(
        spark.createDataFrame([("g", v) for v in range(5, 20)], "g string, v int"),
        ["g"], "v", k=64,
    )
    got = mt.kmv_intersect_estimate(sa, sb, ["g"], k=64).collect()[0].intersect_est
    assert got == 5.0


def test_kmv_intersect_reports_zero_for_one_sided_groups(spark):
    """A group present in only one input must surface with
    intersect_est = 0, not vanish (round-4 ADVICE: inner join silently
    dropped it, so 'no data' and 'no overlap' were indistinguishable)."""
    sa = mt.kmv_sketch(
        spark.createDataFrame(
            [("both", v) for v in range(10)] + [("only_a", v) for v in range(7)],
            "g string, v int",
        ),
        ["g"], "v", k=64,
    )
    sb = mt.kmv_sketch(
        spark.createDataFrame(
            [("both", v) for v in range(5, 15)] + [("only_b", v) for v in range(3)],
            "g string, v int",
        ),
        ["g"], "v", k=64,
    )
    got = {
        r.g: r.intersect_est
        for r in mt.kmv_intersect_estimate(sa, sb, ["g"], k=64).collect()
    }
    assert got == {"both": 5.0, "only_a": 0.0, "only_b": 0.0}


def test_kmv_ignores_null_values(spark):
    """Review r4: a NULL value must not enter the sketch (COUNT(DISTINCT)
    semantics) — its NULL hash previously sorted first, evicted the k-th
    real hash, and collapsed the estimate to k−1."""
    rows = [("g", v) for v in range(500)] + [("g", None)]
    df = spark.createDataFrame(rows, "g string, v int")
    sk = mt.kmv_sketch(df, ["g"], "v", k=64)
    arr = sk.collect()[0].kmv
    assert len(arr) == 64 and all(h is not None for h in arr)
    est = sk.select(mt.kmv_estimate_col(64).alias("e")).collect()[0].e
    exact = 500
    assert abs(est - exact) <= 0.5 * exact, est  # estimator, not k−1
