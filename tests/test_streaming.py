"""Streaming equivalence tests (SURVEY §5.2): each streaming operator's
output must equal the batch computation of the same rows — the standard
Structured Streaming test pattern (memory sink + processAllAvailable)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_project_spark import io
from big_data_project_spark import streaming as st


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir):
    """events re-emitted as µs-timestamp parquet files (several chunks, so
    the stream source sees multiple input files)."""
    d = tempfile.mkdtemp(prefix="bdps_events_")
    ev = io.load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, df, name):
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    out = spark.sql(f"SELECT * FROM {name}").collect()
    q.stop()
    return out


def _rows_set(rows):
    return {tuple(r) for r in rows}


def test_tumbling_window_stream_equals_batch(spark, event_dir):
    stream = st.read_event_stream(spark, event_dir)
    got = _run_stream(spark, st.tumbling_window_agg(stream), "t2_out")
    want = st.tumbling_window_agg(spark.read.parquet(event_dir)).collect()
    assert _rows_set(got) == _rows_set(want)
    assert len(want) > 10


def test_sliding_window_stream_equals_batch(spark, event_dir):
    stream = st.read_event_stream(spark, event_dir)
    got = _run_stream(spark, st.sliding_window_agg(stream), "t3_out")
    want = st.sliding_window_agg(spark.read.parquet(event_dir)).collect()
    assert _rows_set(got) == _rows_set(want)
    # sliding: each event in width/slide = 2 windows ⇒ more rows than tumbling
    tumb = st.tumbling_window_agg(spark.read.parquet(event_dir)).collect()
    assert len(want) > len(tumb)


def test_session_window_stream_equals_batch_sessionize(spark, event_dir):
    stream = st.read_event_stream(spark, event_dir)
    got = _run_stream(spark, st.session_window_agg(stream, "5 minutes"), "t4_out")
    # oracle: the lag+cumsum batch sessionizer must produce identical
    # (start, user, count, total) tuples
    want = (
        st.sessionize_batch(spark.read.parquet(event_dir), 5)
        .select("session_start", "user_id", "n_events", "total")
        .collect()
    )
    assert _rows_set(got) == _rows_set(want)
    assert len(want) > 100


def test_watermark_drops_late_rows(spark, tmp_path):
    """T5: a row arriving behind the watermark is dropped from the agg."""
    d = str(tmp_path / "late_src")
    on_time = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
         (2, "2024-01-01 12:00:00", 1, "click", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    late = spark.createDataFrame(
        [(3, "2024-01-01 09:00:00", 1, "click", 1.0, "{}")],  # 3h behind max
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))

    on_time.write.mode("overwrite").parquet(d)
    stream = st.read_event_stream(spark, d)
    agg = st.tumbling_window_agg(stream, "1 hour", watermark="30 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t5_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    late.write.mode("append").parquet(d)  # arrives in a later micro-batch
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM t5_out").collect()
    # append mode emits only finalized windows (watermark passed): the 10:00
    # window finalizes once max ts hits 12:00; the late 09:00 row must NOT
    # create/extend a window behind the watermark.
    starts = {r.window_start.isoformat() for r in rows}
    assert "2024-01-01T09:00:00" not in starts, rows


def test_stream_dedup_counts_replays_once(spark, tmp_path):
    d = str(tmp_path / "dup_src")
    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, "click", 1.0, "{}") for i in range(5)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    # write the same rows twice (replay)
    df.write.mode("overwrite").parquet(d)
    df.write.mode("append").parquet(d)

    stream = st.read_event_stream(spark, d)
    deduped = st.stream_dedup(stream)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t6_out")
        .option("checkpointLocation", str(tmp_path / "ckpt6"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT event_id FROM t6_out").collect()
    assert sorted(r.event_id for r in out) == [0, 1, 2, 3, 4]


def test_parquet_stream_sink_roundtrip(spark, event_dir, tmp_path):
    """T7: end-to-end file sink — stream in, parquet out, counts equal."""
    stream = st.read_event_stream(spark, event_dir)
    q = st.write_stream_parquet(
        stream.where(F.col("event_type") == "purchase"),
        str(tmp_path / "sink"),
        str(tmp_path / "ckpt7"),
    )
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(str(tmp_path / "sink")).count()
    want = (
        spark.read.parquet(event_dir).where(F.col("event_type") == "purchase").count()
    )
    assert got == want > 0


def test_stateful_running_totals_across_microbatches(spark, tmp_path):
    """T-closure: custom applyInPandasWithState operator keeps per-user
    state across micro-batches — totals after batch 2 include batch 1."""
    d = str(tmp_path / "stateful_src")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    b1 = mk([(1, "2024-01-01 10:00:00", 1, "click", 10.0, "{}"),
             (2, "2024-01-01 10:01:00", 2, "click", 5.0, "{}")])
    b2 = mk([(3, "2024-01-01 10:02:00", 1, "click", 7.0, "{}")])

    b1.write.mode("overwrite").parquet(d)
    stream = st.read_event_stream(spark, d)
    q = (
        st.running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .start()
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(d)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT user_id, max(n_events) n, max(total_value) t FROM t_state GROUP BY user_id"
    ).collect()
    got = {r.user_id: (r.n, r.t) for r in rows}
    assert got == {1: (2, 17.0), 2: (1, 5.0)}, got


def test_stream_stream_interval_join_equals_batch(spark, event_dir, tmp_path):
    """Stream-stream join with watermarks == batch interval join."""
    src = st.read_event_stream(spark, event_dir)
    joined = st.purchases_with_recent_clicks(
        src.where(F.col("event_type") == "purchase"),
        src.where(F.col("event_type") == "click"),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssj")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = _rows_set(spark.sql("SELECT * FROM t_ssj").collect())

    batch = spark.read.parquet(event_dir)
    want = _rows_set(
        st.purchases_with_recent_clicks(
            batch.where(F.col("event_type") == "purchase"),
            batch.where(F.col("event_type") == "click"),
        ).collect()
    )
    # the stream may withhold rows still inside the watermark at shutdown;
    # everything it DID emit must be correct, and coverage must be high
    assert got <= want
    assert len(got) >= 0.8 * len(want) > 0, (len(got), len(want))


def test_foreachbatch_upsert_sink(spark, tmp_path):
    src_dir = str(tmp_path / "upsert_src")
    target = str(tmp_path / "upsert_target")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    b1 = mk([(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
             (2, "2024-01-01 10:01:00", 2, "click", 2.0, "{}")])
    b2 = mk([(1, "2024-01-01 10:05:00", 1, "click", 9.0, "{}"),   # update key 1
             (3, "2024-01-01 10:06:00", 3, "click", 3.0, "{}")])  # new key

    b1.write.mode("overwrite").parquet(src_dir)
    q = st.upsert_sink(
        st.read_event_stream(spark, src_dir), target, str(tmp_path / "ckpt_up"), "event_id"
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    q.stop()
    final = {r.event_id: r.value for r in spark.read.parquet(target).collect()}
    assert final == {1: 9.0, 2: 2.0, 3: 3.0}, final


def test_upsert_sink_empty_file_leaves_the_target_alone(spark, tmp_path):
    """A 0-row file is a batch of its own; the sink must not rewrite the
    target for it (the row count rides the stage write, and an empty stage
    is dropped instead of swapped in)."""
    src_dir = str(tmp_path / "empty_src")
    target = tmp_path / "empty_target"

    def files():
        return {
            p.relative_to(target).as_posix(): p.stat().st_mtime_ns
            for p in target.rglob("*")
        }

    b1 = _event_batch(spark, [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}")])
    _drop_file(b1, src_dir, "b1.parquet")
    q = st.upsert_sink(
        st.read_event_stream(spark, src_dir), str(target), str(tmp_path / "ckpt"),
        "event_id",
    )
    try:
        q.processAllAvailable()
        before = files()
        _drop_file(b1.limit(0), src_dir, "empty.parquet")
        q.processAllAvailable()
        assert q.lastProgress["numInputRows"] == 0
        assert files() == before
        b2 = _event_batch(spark, [(2, "2024-01-01 10:01:00", 2, "click", 2.0, "{}")])
        _drop_file(b2, src_dir, "b2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r.event_id for r in spark.read.parquet(str(target)).collect()) == [1, 2]
    assert not os.path.exists(f"{target}__stage")


def _scd2_feed(spark, rows):
    return spark.createDataFrame(
        rows, "cust long, seg string, u_ts string"
    ).withColumn("u_ts", F.to_timestamp("u_ts"))


def _scd2_seed(batch):
    return (
        batch.select("cust", "seg")
        .limit(0)
        .withColumn("valid_from", F.lit(None).cast("timestamp"))
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
    )


def _hist_set(df):
    return {
        (r.cust, r.seg, str(r.valid_from), str(r.valid_to))
        for r in df.collect()
    }


def test_scd2_sink_stream_equals_sequential_fold(spark, tmp_path):
    """Streaming SCD2 ≡ folding scd2_apply over the same batches, across a
    checkpoint restart: b1 seeds, b2 exercises change/new/unchanged keys,
    the stream is STOPPED and a fresh query resumes from the checkpoint
    for b3 (multi-update-per-key collapse)."""
    from big_data_project_spark.operators.maintenance import scd2_apply

    src = str(tmp_path / "scd2_src")
    target = str(tmp_path / "scd2_target")
    ckpt = str(tmp_path / "scd2_ckpt")
    b1 = _scd2_feed(spark, [(1, "A", "2024-01-01 00:00:00"),
                            (2, "B", "2024-01-01 00:00:00")])
    b2 = _scd2_feed(spark, [(1, "A2", "2024-01-02 00:00:00"),   # changed
                            (2, "B", "2024-01-02 00:00:00"),    # unchanged
                            (3, "C", "2024-01-02 00:00:00")])   # brand-new
    b3 = _scd2_feed(spark, [(1, "A3", "2024-01-03 10:00:00"),   # collapsed,
                            (1, "A4", "2024-01-03 11:00:00")])  # latest wins

    b1.write.mode("overwrite").parquet(src)
    reader = spark.readStream.schema(b1.schema).parquet(src)
    q = st.scd2_sink(reader, target, ckpt, "cust", "u_ts", ["seg"])
    q.processAllAvailable()
    b2.write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    # resume from the checkpoint with a brand-new query (crash shape)
    reader2 = spark.readStream.schema(b1.schema).parquet(src)
    q2 = st.scd2_sink(reader2, target, ckpt, "cust", "u_ts", ["seg"])
    b3.write.mode("append").parquet(src)
    q2.processAllAvailable()
    q2.stop()

    from big_data_project_spark.plans.lineage import lineage_cut

    cur = _scd2_seed(b1)
    for b in (b1, b2, b3):
        # materialize between folds (see scd2_apply docstring: lazy
        # chained applies trip an AQE planner fault at depth >= 3)
        cur = lineage_cut(scd2_apply(cur, b, "cust", "u_ts", ["seg"]))
    got = _hist_set(spark.read.parquet(target))
    want = _hist_set(cur)
    assert got == want
    # latest-per-key sanity: key 1 is open at A4, its A/A2 versions closed
    open_rows = {r.cust: r.seg
                 for r in spark.read.parquet(target)
                 .where(F.col("valid_to").isNull()).collect()}
    assert open_rows == {1: "A4", 2: "B", 3: "C"}
    # closed 1:A, 1:A2 + open 1:A4, 2:B, 3:C — b3's A3 collapsed away
    assert len(got) == 5


def test_scd2_sink_incremental_equals_full_rewrite(spark, tmp_path):
    """The O(dimension)-per-batch sink lands on the same history as the
    full-rewrite sink over the same feed (open snapshot + append-only
    closed dirs ≡ one monolithic table), across a checkpoint restart."""
    src = str(tmp_path / "src")
    full_t, full_ck = str(tmp_path / "full"), str(tmp_path / "full_ck")
    inc_t, inc_ck = str(tmp_path / "inc"), str(tmp_path / "inc_ck")
    b1 = _scd2_feed(spark, [(1, "A", "2024-01-01 00:00:00"),
                            (2, "B", "2024-01-01 00:00:00")])
    b2 = _scd2_feed(spark, [(1, "A2", "2024-01-02 00:00:00"),
                            (2, "B", "2024-01-02 00:00:00"),
                            (3, "C", "2024-01-02 00:00:00")])
    b3 = _scd2_feed(spark, [(2, "B2", "2024-01-03 00:00:00"),
                            (3, "C2", "2024-01-03 00:00:00")])

    b1.write.mode("overwrite").parquet(src)
    args = ("cust", "u_ts", ["seg"])
    qf = st.scd2_sink(
        spark.readStream.schema(b1.schema).parquet(src), full_t, full_ck, *args
    )
    qi = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src), inc_t, inc_ck, *args
    )
    for q in (qf, qi):
        q.processAllAvailable()
    b2.write.mode("append").parquet(src)
    for q in (qf, qi):
        q.processAllAvailable()
        q.stop()
    # restart BOTH from their checkpoints for b3 (crash shape)
    qf = st.scd2_sink(
        spark.readStream.schema(b1.schema).parquet(src), full_t, full_ck, *args
    )
    qi = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src), inc_t, inc_ck, *args
    )
    b3.write.mode("append").parquet(src)
    for q in (qf, qi):
        q.processAllAvailable()
        q.stop()

    full = _hist_set(spark.read.parquet(full_t))
    inc = _hist_set(st.scd2_history(spark, inc_t))
    assert inc == full
    assert len(inc) == 6  # per key: one closed + one open version

    # fresh-checkpoint replay of the WHOLE feed against the lived-in
    # target: every apply no-ops (open rows already carry the attrs),
    # closed dirs are not clobbered by empty replay deltas
    q3 = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        inc_t, str(tmp_path / "inc_ck2"), *args
    )
    q3.processAllAvailable()
    q3.stop()
    assert _hist_set(st.scd2_history(spark, inc_t)) == full


def test_scd2_incremental_double_publish_and_mixed_fresh_checkpoint(
    spark, tmp_path
):
    """The two hard crash shapes of the incremental sink: (1) a crashed
    retry publishes the same closed delta to a second dir — scd2_history's
    full-row dedup collapses it; (2) a FRESH checkpoint whose batch 0
    mixes replayed rows with genuinely NEW updates appends only the new
    closures to a new dir — earlier closed dirs are never reused or
    clobbered (the pre-fix code overwrote closed/batch-00000000 and lost
    the first life's closures)."""
    import os
    import shutil

    src = str(tmp_path / "src")
    tgt, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    b1 = _scd2_feed(spark, [(1, "A", "2024-01-01 00:00:00"),
                            (2, "B", "2024-01-01 00:00:00")])
    b2 = _scd2_feed(spark, [(1, "A2", "2024-01-02 00:00:00")])
    b1.write.mode("overwrite").parquet(src)
    q = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        tgt, ck, "cust", "u_ts", ["seg"],
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    want = _hist_set(st.scd2_history(spark, tgt))
    assert len(want) == 3  # 1:A closed, 1:A2 open, 2:B open

    # (1) simulate the crashed-retry double publish: same rows, next dir
    closed = os.path.join(tgt, "closed")
    dirs = sorted(d for d in os.listdir(closed) if d.startswith("batch-"))
    shutil.copytree(
        os.path.join(closed, dirs[-1]),
        os.path.join(closed, f"batch-{len(dirs) + 10:08d}"),
    )
    assert _hist_set(st.scd2_history(spark, tgt)) == want

    # (2) fresh checkpoint, batch 0 = ALL old files + one new update
    b3 = _scd2_feed(spark, [(2, "B2", "2024-01-03 00:00:00")])
    b3.write.mode("append").parquet(src)
    q2 = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        tgt, str(tmp_path / "ck2"), "cust", "u_ts", ["seg"],
    )
    q2.processAllAvailable()
    q2.stop()
    got = _hist_set(st.scd2_history(spark, tgt))
    # 1:A closed (FIRST life's closure — the pre-fix code lost it),
    # 1:A2 open, 2:B now closed at 01-03, 2:B2 open
    assert len(got) == 4
    open_now = {r.cust: r.seg
                for r in st.scd2_history(spark, tgt)
                .where(F.col("valid_to").isNull()).collect()}
    assert open_now == {1: "A2", 2: "B2"}
    closed_first_life = {r for r in want if r[3] != "None"}
    assert closed_first_life <= got  # closed versions are immutable


def test_scd2_incremental_unswapped_publish_then_mixed_fresh_checkpoint(
    spark, tmp_path
):
    """ADVICE r9 (medium): the WORST crash shape — closed delta published
    but the open swap missing, then a CHECKPOINT RESET whose retried
    batch also carries new closures for OTHER keys. The recomputed delta
    is then a strict SUPERSET of the newest batch dir, so the r9
    exact-match replay-skip never fired: the whole delta republished
    under a new epoch and scd2_history's epoch-aware dedup kept BOTH
    copies of the previously-published closures. The subset-aware skip
    publishes only the genuinely new closures and completes the swap —
    history holds each closed version exactly once."""
    import os

    from big_data_project_spark.operators.maintenance import scd2_apply
    from big_data_project_spark.plans.lineage import lineage_cut

    src = str(tmp_path / "src")
    tgt, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    b1 = _scd2_feed(spark, [(1, "A", "2024-01-01 00:00:00"),
                            (2, "B", "2024-01-01 00:00:00")])
    b2 = _scd2_feed(spark, [(1, "A2", "2024-01-02 00:00:00")])
    b1.write.mode("overwrite").parquet(src)
    q = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        tgt, ck, "cust", "u_ts", ["seg"],
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    # closed/batch-00000000 = {1: A t1→t2}; now simulate the crash: the
    # publish survived but the open swap did not — roll the open
    # snapshot back to its post-b1 state (all rows still open)
    post_b1_open = lineage_cut(
        scd2_apply(_scd2_seed(b1), b1, "cust", "u_ts", ["seg"])
    )
    post_b1_open.write.mode("overwrite").parquet(os.path.join(tgt, "open"))

    # checkpoint reset: batch 0 of the new query replays EVERYTHING plus
    # one new update that closes key 2 — the recomputed delta
    # {1:A closed, 2:B closed} strictly contains the published dir
    b3 = _scd2_feed(spark, [(2, "B2", "2024-01-03 00:00:00")])
    b3.write.mode("append").parquet(src)
    q2 = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        tgt, str(tmp_path / "ck2"), "cust", "u_ts", ["seg"],
    )
    q2.processAllAvailable()
    q2.stop()

    hist = st.scd2_history(spark, tgt)
    got = _hist_set(hist)
    assert got == {
        (1, "A", "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
        (1, "A2", "2024-01-02 00:00:00", "None"),
        (2, "B", "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
        (2, "B2", "2024-01-03 00:00:00", "None"),
    }
    # the duplicate the pre-fix code produced survives dropDuplicates
    # (different epochs) — so pin the ROW COUNT, not just the set
    assert hist.count() == 4
    # and the prior attempt's rows were NOT republished: the new dir
    # holds only the genuinely new closure
    closed = os.path.join(tgt, "closed")
    dirs = sorted(d for d in os.listdir(closed) if d.startswith("batch-"))
    assert len(dirs) == 2
    newest = spark.read.parquet(os.path.join(closed, dirs[-1]))
    assert [(r.cust, r.seg) for r in newest.collect()] == [(2, "B")]


def test_publish_parquet_lost_race_sweeps_nested_copy(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9 (low): local RawLocalFileSystem.rename falls back to
    FileUtil.copy(deleteSource=true) when final already exists — the
    loser's temp dir lands INSIDE the published dir as an invisible
    dot-dir and rename returns true (no IOError), so the old
    'loser's rename fails' reasoning never ran. Force that exact
    interleaving through the REAL code path by making the loser's
    existence checks of ``final`` lie (as if final appeared just after
    its last check): _publish_parquet's post-rename sweep must leave the
    published dir byte-clean and the winner's content untouched."""
    import os

    from big_data_project_spark.operators import maintenance as mt
    from big_data_project_spark.streaming.ops import _publish_parquet

    final = str(tmp_path / "batch-00000000")
    df1 = spark.createDataFrame([(1, "x")], "id long, v string")
    df2 = spark.createDataFrame([(2, "y")], "id long, v string")
    _publish_parquet(df1, final)  # winner publishes first

    real = mt.path_exists
    lies = {"n": 0}

    def lying_path_exists(spark_, path):
        # the loser's two pre-rename checks of FINAL race-lose; every
        # other probe (the nested-dir sweep, IOError branch) sees truth
        if path == final and lies["n"] < 2:
            lies["n"] += 1
            return False
        return real(spark_, path)

    monkeypatch.setattr(mt, "path_exists", lying_path_exists)
    _publish_parquet(df2, final)  # loser: rename hits an existing final
    monkeypatch.setattr(mt, "path_exists", real)

    # winner's content intact, no nested dot-dir garbage, no tmp sibling
    got = [(r.id, r.v) for r in spark.read.parquet(final).collect()]
    assert got == [(1, "x")]
    assert not any(
        name.startswith(".") and name.endswith(".tmp")
        for name in os.listdir(final)
    )
    assert not any(
        name.endswith(".tmp") for name in os.listdir(os.path.dirname(final))
    )


def test_scd2_incremental_double_crash_chain_publishes_each_version_once(
    spark, tmp_path
):
    """Code-review r10: the subset replay-skip must hold across a CHAIN
    of crashes, not just one — attempt 1 publishes D (swap lost),
    attempt 2 publishes the remainder E (swap lost AGAIN), attempt 3
    must publish NOTHING (D and E are both durable) and only complete
    the swap. A newest-dir-only check would re-publish D as a third dir
    and epoch-aware dedup would keep the duplicate closed versions."""
    import os

    from big_data_project_spark.operators.maintenance import scd2_apply
    from big_data_project_spark.plans.lineage import lineage_cut

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    b1 = _scd2_feed(spark, [(1, "A", "2024-01-01 00:00:00"),
                            (2, "B", "2024-01-01 00:00:00")])
    b2 = _scd2_feed(spark, [(1, "A2", "2024-01-02 00:00:00")])
    b1.write.mode("overwrite").parquet(src)
    q = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        tgt, str(tmp_path / "ck"), "cust", "u_ts", ["seg"],
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    post_b1_open = lineage_cut(
        scd2_apply(_scd2_seed(b1), b1, "cust", "u_ts", ["seg"])
    )
    # crash 1: batch dir {1:A closed} durable, swap lost
    post_b1_open.write.mode("overwrite").parquet(os.path.join(tgt, "open"))
    # retry 1 (checkpoint reset, mixed batch: replays + closes key 2)
    b3 = _scd2_feed(spark, [(2, "B2", "2024-01-03 00:00:00")])
    b3.write.mode("append").parquet(src)
    q2 = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        tgt, str(tmp_path / "ck2"), "cust", "u_ts", ["seg"],
    )
    q2.processAllAvailable()
    q2.stop()
    # crash 2: the remainder dir {2:B closed} is durable too, but the
    # swap is AGAIN lost
    post_b1_open.write.mode("overwrite").parquet(os.path.join(tgt, "open"))
    # retry 2 (another checkpoint reset): delta is still {1:A, 2:B} —
    # BOTH fragments are durable, so nothing may publish
    q3 = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        tgt, str(tmp_path / "ck3"), "cust", "u_ts", ["seg"],
    )
    q3.processAllAvailable()
    q3.stop()

    hist = st.scd2_history(spark, tgt)
    assert hist.count() == 4  # each version exactly once, no epoch dups
    assert _hist_set(hist) == {
        (1, "A", "2024-01-01 00:00:00", "2024-01-02 00:00:00"),
        (1, "A2", "2024-01-02 00:00:00", "None"),
        (2, "B", "2024-01-01 00:00:00", "2024-01-03 00:00:00"),
        (2, "B2", "2024-01-03 00:00:00", "None"),
    }
    closed = os.path.join(tgt, "closed")
    dirs = sorted(d for d in os.listdir(closed) if d.startswith("batch-"))
    assert len(dirs) == 2  # D and E only — retry 2 published nothing


def test_scd2_check_feed_warns_on_same_batch_equal_ts_flipflop(
    spark, tmp_path
):
    """VERDICT r9 #6 / r10 #5: the strict-increasing-ts-per-key feed
    contract was prose only — an equal-ts same-key conflict inside ONE
    batch still collapses to an arbitrary winner silently (epoch tags
    only protect across batches). The per-batch probe runs on every
    trigger (no flag — a deployer who reads nothing still gets the
    warning): a batch holding (1, A, t) AND (1, B, t) must WARN,
    naming the conflicting-group count AND the excess-version count
    (ADVICE r10: the old kta−kt figure conflated them); exact duplicate
    rows (the replay shape) must NOT warn. The output under the
    warning: exactly one of the conflicting versions survives as the
    open row."""
    import warnings

    t1 = "2024-01-01 00:00:00"
    src = str(tmp_path / "src")
    # batch 1: one conflicting group with THREE variants (same key, same
    # ts, different attrs — one NULL, the shape a bare multi-column
    # countDistinct drops) plus an exact duplicate of another key (must
    # not add to either count). ADVICE r10's exact example: 3 variants
    # = ONE conflicting group, TWO excess versions — not "2 update(s)"
    b1 = _scd2_feed(spark, [(1, None, t1), (1, "B", t1), (1, "E", t1),
                            (2, "C", t1), (2, "C", t1)])
    b1.write.mode("overwrite").parquet(src)
    q = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        str(tmp_path / "t"), str(tmp_path / "ck"),
        "cust", "u_ts", ["seg"],
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        q.processAllAvailable()
    q.stop()
    hits = [w for w in rec if "CONFLICTING same-ts" in str(w.message)]
    assert len(hits) == 1
    msg = str(hits[0].message)
    assert "1 (key, timestamp) group(s)" in msg
    assert "2 excess conflicting version(s)" in msg
    assert "arbitrary winner" in msg
    # one arbitrary winner per (key, ts): key 1 is one of its three
    # variants, key 2 is C
    hist = st.scd2_history(spark, str(tmp_path / "t"))
    open_rows = {r.cust: r.seg for r in hist.collect()}
    assert hist.count() == 2
    assert open_rows[1] in {None, "B", "E"} and open_rows[2] == "C"

    # clean-feed leg: the full-rewrite sink at its default must stay
    # silent on a contract-honoring batch
    b2 = _scd2_feed(spark, [(1, "D", "2024-01-02 00:00:00")])
    b2.write.mode("overwrite").parquet(str(tmp_path / "src2"))
    q2 = st.scd2_sink(
        spark.readStream.schema(b2.schema).parquet(str(tmp_path / "src2")),
        str(tmp_path / "t2"), str(tmp_path / "ck2"),
        "cust", "u_ts", ["seg"],
    )
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        q2.processAllAvailable()
    q2.stop()
    assert [w for w in rec2 if "CONFLICTING same-ts" in str(w.message)] == []


def test_scd2_incremental_compaction_preserves_history(spark, tmp_path):
    """compact_scd2_closed folds closed/batch-* into a base snapshot:
    history identical before/after, and dir count stays O(1) under
    repeated compaction (generation-deferred cleanup retires a
    generation per two calls)."""
    import os

    src = str(tmp_path / "src")
    tgt, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    feed = [
        _scd2_feed(spark, [(k, f"S{i}", f"2024-01-{i + 1:02d} 00:00:00")
                           for k in range(4)])
        for i in range(4)
    ]
    feed[0].write.mode("overwrite").parquet(src)
    q = st.scd2_sink_incremental(
        spark.readStream.schema(feed[0].schema).parquet(src),
        tgt, ck, "cust", "u_ts", ["seg"],
    )
    q.processAllAvailable()
    for b in feed[1:]:
        b.write.mode("append").parquet(src)
        q.processAllAvailable()
    q.stop()

    before = _hist_set(st.scd2_history(spark, tgt))
    assert len(before) == 16  # 4 keys x 4 versions (3 closed + 1 open)
    k1 = st.compact_scd2_closed(spark, tgt)
    assert k1 > 0
    assert _hist_set(st.scd2_history(spark, tgt)) == before
    k2 = st.compact_scd2_closed(spark, tgt)  # retires the generation
    assert _hist_set(st.scd2_history(spark, tgt)) == before
    closed_dirs = os.listdir(os.path.join(tgt, "closed"))
    assert len([d for d in closed_dirs if d.startswith("batch-")]) == 0
    assert len([d for d in closed_dirs if d.startswith("base-")]) <= 2


def test_scd2_equal_ts_flipflop_across_batches_not_merged(spark, tmp_path):
    """ADVICE r8: an attr flip-flop A→B→A at the SAME timestamp across
    batches produces two byte-identical closed versions — a bare
    full-row dedup would silently drop one real version. The closed
    deltas are epoch-tagged, so scd2_history keeps both while still
    collapsing genuine crash double-publishes (which share an epoch)."""
    src = str(tmp_path / "src")
    tgt, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    t1, t2 = "2024-01-01 00:00:00", "2024-01-02 00:00:00"
    batches = [
        _scd2_feed(spark, [(1, "A", t1)]),
        _scd2_feed(spark, [(1, "B", t2)]),
        _scd2_feed(spark, [(1, "A", t2)]),  # equal-ts flip
        _scd2_feed(spark, [(1, "B", t2)]),  # ...and flop
        _scd2_feed(spark, [(1, "A", t2)]),  # closes (1,B,t2,t2) AGAIN
    ]
    batches[0].write.mode("overwrite").parquet(src)
    q = st.scd2_sink_incremental(
        spark.readStream.schema(batches[0].schema).parquet(src),
        tgt, ck, "cust", "u_ts", ["seg"],
    )
    q.processAllAvailable()
    for b in batches[1:]:
        b.write.mode("append").parquet(src)
        q.processAllAvailable()
    q.stop()

    hist = st.scd2_history(spark, tgt)
    # closed: (A,t1,t2), (B,t2,t2) x2 — TWO identical real versions —
    # plus (A,t2,t2); open: (A,t2,null) => 5 rows total
    assert hist.count() == 5
    b_closed = hist.where(
        (F.col("seg") == "B") & F.col("valid_to").isNotNull()
    )
    assert b_closed.count() == 2
    # and the epoch tag never leaks into the read-back schema
    assert "_scd2_epoch" not in hist.columns


def test_scd2_closed_publish_atomic_crash_leftovers_invisible(
    spark, tmp_path
):
    """ADVICE r8 (medium): a crash mid-publish of a closed delta must not
    leave a committed-looking poison dir. The sink writes to a
    dot-prefixed temp and renames — so the only crash artifact is an
    invisible ``.batch-*.tmp`` dir that (a) scd2_history never reads,
    (b) the next-free-index scan never counts, and (c) compaction
    ignores."""
    import os

    src = str(tmp_path / "src")
    tgt, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    b1 = _scd2_feed(spark, [(1, "A", "2024-01-01 00:00:00")])
    b2 = _scd2_feed(spark, [(1, "A2", "2024-01-02 00:00:00")])
    b1.write.mode("overwrite").parquet(src)
    q = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        tgt, ck, "cust", "u_ts", ["seg"],
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(src)
    q.processAllAvailable()

    # simulate the crash artifact: a half-written temp with only the
    # committer's _temporary marker inside (what a bare write.parquet
    # would have left at batch-<n> — the old poison shape)
    closed = os.path.join(tgt, "closed")
    poison = os.path.join(closed, ".batch-00000042.deadbeef.tmp")
    os.makedirs(os.path.join(poison, "_temporary"))
    want = _hist_set(st.scd2_history(spark, tgt))
    assert len(want) == 2  # 1:A closed, 1:A2 open — poison invisible

    # next publish skips the temp when scanning for the free index
    b3 = _scd2_feed(spark, [(1, "A3", "2024-01-03 00:00:00")])
    b3.write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    names = sorted(
        d for d in os.listdir(closed) if d.startswith("batch-")
    )
    assert names == ["batch-00000000", "batch-00000001"]

    # compaction folds the committed dirs and is not tripped by the temp
    assert st.compact_scd2_closed(spark, tgt) > 0
    assert len(_hist_set(st.scd2_history(spark, tgt))) == 3


def test_scd2_closed_publish_replay_skip_across_checkpoint_reset(
    spark, tmp_path
):
    """r9 replay-skip: crash between the closed-delta publish and the
    open swap, then a CHECKPOINT RESET (fresh epochs — the shape the
    epoch-tagged dedup alone cannot collapse). The retry recomputes the
    same delta; the sink must recognize the newest batch dir as its own
    unswapped attempt by CONTENT and only redo the swap — one closed
    dir, no duplicate version in history."""
    import os
    import shutil

    src = str(tmp_path / "src")
    tgt, ck = str(tmp_path / "t"), str(tmp_path / "ck")
    b1 = _scd2_feed(spark, [(1, "A", "2024-01-01 00:00:00"),
                            (2, "B", "2024-01-01 00:00:00")])
    b2 = _scd2_feed(spark, [(1, "A2", "2024-01-02 00:00:00")])
    b1.write.mode("overwrite").parquet(src)
    q = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        tgt, ck, "cust", "u_ts", ["seg"],
    )
    q.processAllAvailable()
    open_dir = os.path.join(tgt, "open")
    saved_open = str(tmp_path / "open_v1")
    shutil.copytree(open_dir, saved_open)  # pre-b2 open snapshot
    b2.write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    # simulate the crash: closed dir exists (published) but the open
    # swap "never happened" — restore the stale snapshot; and the
    # operator resets the checkpoint (fresh epochs)
    shutil.rmtree(open_dir)
    shutil.copytree(saved_open, open_dir)
    shutil.rmtree(ck)
    q2 = st.scd2_sink_incremental(
        spark.readStream.schema(b1.schema).parquet(src),
        tgt, str(tmp_path / "ck2"), "cust", "u_ts", ["seg"],
    )
    q2.processAllAvailable()
    q2.stop()

    closed = os.path.join(tgt, "closed")
    dirs = [d for d in os.listdir(closed) if d.startswith("batch-")]
    assert dirs == ["batch-00000000"]  # skipped, not republished
    hist = st.scd2_history(spark, tgt)
    assert hist.count() == 3  # 1:A closed, 1:A2 open, 2:B open — no dup
    assert hist.where(F.col("valid_to").isNotNull()).count() == 1
    open_now = {r.cust: r.seg
                for r in hist.where(F.col("valid_to").isNull()).collect()}
    assert open_now == {1: "A2", 2: "B"}


def test_scd2_apply_is_idempotent_on_replay(spark):
    """The scd2_sink replay-safety claim, pinned: re-applying an
    already-applied batch to the post-apply history is a no-op (open rows
    carry the update's attrs → change detection finds nothing; new-key
    path can't fire)."""
    from big_data_project_spark.operators.maintenance import scd2_apply

    b1 = _scd2_feed(spark, [(1, "A", "2024-01-01 00:00:00"),
                            (2, "B", "2024-01-01 00:00:00")])
    b2 = _scd2_feed(spark, [(1, "A2", "2024-01-02 00:00:00"),
                            (3, "C", "2024-01-02 00:00:00")])
    cur = scd2_apply(_scd2_seed(b1), b1, "cust", "u_ts", ["seg"])
    once = scd2_apply(cur, b2, "cust", "u_ts", ["seg"])
    twice = scd2_apply(once, b2, "cust", "u_ts", ["seg"])
    assert _hist_set(once) == _hist_set(twice)


def test_session_native_equals_batch_at_sf001(spark):
    """Guard the T4 pair against drift at a 10× larger corpus than the
    stream≡batch fixture: the native session_window aggregation and the
    lag+cumsum batch sessionizer must agree exactly at sf0.01 (9,9xx
    sessions, real gap-boundary collisions)."""
    from big_data_project_spark import io as eio

    ev = eio.load_table(spark, "/root/testdata/sf0.01", "events")
    cols = ["user_id", "session_start", "n_events", "total"]
    native = st.session_window_agg(ev, "5 minutes").select(*cols)
    batch = st.sessionize_batch(ev, 5).select(*cols)
    ns, bs = _rows_set(native.collect()), _rows_set(batch.collect())
    assert len(ns) > 5000
    assert ns == bs


def test_streaming_document_curation_equals_batch(spark, sf_dir):
    """The curation surface is streaming-safe: quality filtering is a
    stateless narrow filter and exact dedup maps to
    dropDuplicatesWithinWatermark, so a document FEED (crawl output
    arriving as files) curates to exactly the batch result. Append mode —
    no aggregation state involved."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from big_data_project_spark.operators import text as tx

    d = tempfile.mkdtemp(prefix="bdps_docs_")
    try:
        docs = io.load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        docs.repartition(4).write.mode("overwrite").parquet(d)
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("source", T.StringType()),
                T.StructField("text", T.StringType()),
            ]
        )
        stream = spark.readStream.schema(schema).parquet(d)
        curated = tx.filter_quality(stream).dropDuplicates(["doc_id"])
        q = (
            curated.writeStream.outputMode("append")
            .format("memory")
            .queryName("cur_out")
            .start()
        )
        q.processAllAvailable()
        got = {r.doc_id for r in spark.sql("SELECT doc_id FROM cur_out").collect()}
        q.stop()
        want = {r.doc_id for r in tx.filter_quality(docs).select("doc_id").collect()}
        assert got == want
        assert got  # non-trivial
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_strict_decode_equals_batch(spark):
    """The multimodal decode stage is streaming-safe: mapInPandas is a
    stateless narrow map, so a blob FEED (payload files arriving) strict-
    decodes to exactly the batch result — real codec bytes (BMP, PNG,
    JPEG, GIF, FLAC, and WAV in both PCM and compressed IMA-ADPCM form)
    through decode_features on a readStream."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from big_data_project_spark.operators import multimodal as mm

    payloads = []
    for i in range(24):
        b = bytes((i * 7 + j) % 95 + 32 for j in range(18))
        if i % 6 == 0:
            blob = mm.make_bmp_24(
                [tuple(b[3 * k : 3 * k + 3]) for k in range(6)], 3, 2
            )
        elif i % 6 == 1:
            blob = mm.make_png_rgb8(
                [tuple(b[3 * k : 3 * k + 3]) for k in range(6)], 3, 2
            )
        elif i % 6 == 2:
            px = [b[(y // 8) * 2 + (x // 8)] for y in range(16) for x in range(16)]
            blob = mm.make_jpeg_baseline(px, 16, 16, quant=[8] + [16] * 63)
        elif i % 6 == 3:
            blob = mm.make_gif([(v, v, v) for v in b[:12]], 3, 4)
        elif i % 6 == 4:
            blob = mm.make_flac([(c - 128) * 256 for c in b[:8]], 8000, 2,
                                subframe="fixed:2")
        elif i % 12 == 5:
            blob = mm.make_wav_adpcm(
                [v for c in b[:4] for v in [(c - 128) * 256] * 9],
                8000,
                block_align=8,
            )
        else:
            blob = mm.make_wav_pcm16([(c - 128) * 256 for c in b[:6]])
        payloads.append((i, bytearray(blob)))

    d = tempfile.mkdtemp(prefix="bdps_blobs_")
    try:
        df = spark.createDataFrame(payloads, "doc_id long, payload binary")
        df.repartition(3).write.mode("overwrite").parquet(d)
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        )
        stream = spark.readStream.schema(schema).parquet(d)
        feats = mm.decode_features(stream, dim=4, decode="strict")
        q = (
            feats.writeStream.outputMode("append")
            .format("memory")
            .queryName("mm_stream_out")
            .start()
        )
        q.processAllAvailable()
        got = {
            (r.doc_id, r.media_type, r.height, r.width, tuple(r.features))
            for r in spark.sql("SELECT * FROM mm_stream_out").collect()
        }
        q.stop()
        want = {
            (r.doc_id, r.media_type, r.height, r.width, tuple(r.features))
            for r in mm.decode_features(df, dim=4, decode="strict").collect()
        }
        assert got == want
        assert len(got) == 24
        assert {t[1] for t in got} == {
            "image/bmp", "image/png", "image/jpeg", "image/gif",
            "audio/flac", "audio/wav",
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_video_frame_sampling_equals_batch(spark):
    """The video frame-sampling stage (animated-GIF decode + compositing +
    every-Nth selection) is a stateless narrow map too: a stream of video
    payloads yields exactly the batch frame rows."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from big_data_project_spark.operators import multimodal as mm

    payloads = []
    for i in range(8):
        frames = [
            [((i * 11 + f * 3 + p) % 256,) * 3 for p in range(6)]
            for f in range(4)
        ]
        blob = mm.make_gif_animated(3, 2, frames, delays_cs=[2, 3, 5, 7])
        payloads.append((i, bytearray(blob)))

    d = tempfile.mkdtemp(prefix="bdps_vids_")
    try:
        df = spark.createDataFrame(payloads, "doc_id long, payload binary")
        df.repartition(2).write.mode("overwrite").parquet(d)
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        )
        stream = spark.readStream.schema(schema).parquet(d)
        q = (
            mm.sample_video_frames(stream, every=2, dim=6)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("mm_vid_stream_out")
            .start()
        )
        q.processAllAvailable()
        got = {
            (r.doc_id, r.frame_index, r.t_cs, r.n_frames, tuple(r.features))
            for r in spark.sql("SELECT * FROM mm_vid_stream_out").collect()
        }
        q.stop()
        want = {
            (r.doc_id, r.frame_index, r.t_cs, r.n_frames, tuple(r.features))
            for r in mm.sample_video_frames(df, every=2, dim=6).collect()
        }
        assert got == want
        assert len(got) == 16  # frames 0 and 2 per video
        assert {t[2] for t in got} == {0, 5}  # cumulative delays 0 and 2+3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_tar_shard_ingest_equals_batch(spark, tmp_path):
    """WebDataset shards arriving in a directory stream member-for-member
    identically to the batch walk (the walk is a stateless narrow map)."""
    from big_data_project_spark.operators import multimodal as mm

    rows = [(i, bytearray(bytes([65 + i]) * (i + 2))) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    d = str(tmp_path / "shards")
    mm.write_tar_shards(df, d, n_shards=3).collect()

    q = (
        mm.read_tar_shards_stream(spark, d)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("tar_stream_out")
        .start()
    )
    q.processAllAvailable()
    got = {
        (r.shard, r.member, bytes(r.payload))
        for r in spark.sql("SELECT * FROM tar_stream_out").collect()
    }
    q.stop()
    want = {
        (r.shard, r.member, bytes(r.payload))
        for r in mm.read_tar_shards(spark, d).collect()
    }
    assert got == want and len(got) == 12


def test_streaming_zip_ingest_equals_batch(spark, tmp_path):
    """ZIP archives arriving in a directory stream member-for-member
    identically to the batch walk — the zip twin of the tar discipline
    (VERDICT r5 next-round #6)."""
    from big_data_project_spark.operators import multimodal as mm

    rows = [(i, bytearray(bytes([70 + i]) * (i + 2))) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    d = str(tmp_path / "zips")
    mm.write_zip_shards(df, d, n_shards=3).collect()

    q = (
        mm.read_zip_members_stream(spark, d)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("zip_stream_out")
        .start()
    )
    q.processAllAvailable()
    got = {
        (r.shard, r.member, bytes(r.payload))
        for r in spark.sql("SELECT * FROM zip_stream_out").collect()
    }
    q.stop()
    want = {
        (r.shard, r.member, bytes(r.payload))
        for r in mm.read_zip_members(spark, d).collect()
    }
    assert got == want and len(got) == 12


def test_streaming_tar_shard_export_equals_batch(spark, tmp_path):
    """The streaming WebDataset EXPORT: rows arriving as a stream land in
    batch-scoped shard directories whose members equal the batch sink's
    output for the same rows, and a re-run of the same batch produces
    byte-identical shards (the replay-safety contract: deterministic
    bytes + atomic publish onto the same batch-scoped paths)."""
    import json
    import os

    from big_data_project_spark.operators import multimodal as mm

    src = tmp_path / "src"
    src.mkdir()
    rows = [(i, bytes([65 + i % 26]) * (i + 1)) for i in range(15)]
    with open(src / "in.json", "w") as fh:
        for i, b in rows:
            fh.write(json.dumps({"doc_id": i, "hexpayload": b.hex()}) + "\n")
    out = str(tmp_path / "export")
    stream = (
        spark.readStream.schema("doc_id long, hexpayload string")
        .json(str(src))
        .select("doc_id", F.unhex("hexpayload").alias("payload"))
    )
    q = mm.write_tar_shards_stream(
        stream, out, str(tmp_path / "ck"), n_shards=3
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    dirs = sorted(os.listdir(out))
    assert dirs and all(d.startswith("batch-") for d in dirs)
    got = {
        int(r.member.split(".")[0]): bytes(r.payload)
        for r in mm.read_tar_shards(spark, f"{out}/batch-*").collect()
    }
    assert got == dict(rows)
    # replay-safety: re-packing the same rows into the same batch dir is
    # byte-identical (so a replayed micro-batch overwrites, not duplicates)
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in rows], "doc_id long, payload binary"
    )
    before = {
        f: open(os.path.join(out, dirs[0], f), "rb").read()
        for f in os.listdir(os.path.join(out, dirs[0]))
    }
    mm.write_tar_shards(df, os.path.join(out, dirs[0]), n_shards=3).collect()
    after = {
        f: open(os.path.join(out, dirs[0], f), "rb").read()
        for f in os.listdir(os.path.join(out, dirs[0]))
    }
    assert before == after


def test_anomaly_stream_equals_batch_minus_open_buckets(spark, event_dir):
    """Streaming rolling z-score == the batch operator restricted to CLOSED
    buckets (everything except each key's final bucket, which the stream
    still holds open). Scores must be bit-identical — both sides run the
    same IEEE double chain on exact integer window sums."""
    from big_data_project_spark.operators import relational as rel

    stream = st.read_event_stream(spark, event_dir)
    q = (
        st.anomaly_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("anom_out")
        .start()
    )
    q.processAllAvailable()
    got = spark.sql("SELECT * FROM anom_out").collect()
    q.stop()
    batch = rel.rolling_zscore(spark.read.parquet(event_dir))
    last_per_key = (
        batch.groupBy("key").agg(F.max("bucket_start").alias("_last"))
    )
    want = (
        batch.join(last_per_key, "key")
        .where(F.col("bucket_start") < F.col("_last"))
        .drop("_last")
        .collect()
    )
    assert _rows_set(got) == _rows_set(want)
    assert len(want) > 100


def test_anomaly_stream_across_microbatches(spark, tmp_path):
    """Bucket counts accumulate across micro-batches: a bucket split over
    two batches merges before closing; state carries the trailing window."""
    d = str(tmp_path / "anom_src")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    # hour buckets for key 'click': h0=2, h1=4(split 3+1), h2=2, h3=1(open)
    b1 = mk(
        [(1, "2024-01-01 00:10:00", 1, "click", 0.0, "{}"),
         (2, "2024-01-01 00:20:00", 1, "click", 0.0, "{}"),
         (3, "2024-01-01 01:05:00", 1, "click", 0.0, "{}"),
         (4, "2024-01-01 01:15:00", 1, "click", 0.0, "{}"),
         (5, "2024-01-01 01:25:00", 1, "click", 0.0, "{}")]
    )
    b2 = mk(
        [(6, "2024-01-01 01:55:00", 1, "click", 0.0, "{}"),   # merges into h1
         (7, "2024-01-01 02:30:00", 1, "click", 0.0, "{}"),   # closes h1
         (8, "2024-01-01 02:40:00", 1, "click", 0.0, "{}"),
         (9, "2024-01-01 03:10:00", 1, "click", 0.0, "{}")]   # closes h2
    )
    b1.write.mode("overwrite").parquet(d)
    stream = st.read_event_stream(spark, d)
    q = (
        st.anomaly_stream(stream, trailing=3, min_periods=2, threshold=3.0)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("anom_state")
        .option("checkpointLocation", str(tmp_path / "ckpt_anom"))
        .start()
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(d)
    q.processAllAvailable()
    q.stop()
    rows = {
        (str(r.bucket_start), r.n): r.zscore
        for r in spark.sql("SELECT * FROM anom_state").collect()
    }
    # h1 closes with n=4 (3 from b1 + 1 from b2) but history has only 1
    # bucket (< min_periods) -> not emitted; h2 closes with n=2, history
    # [2, 4] -> mean 3, var 2, z = (2-3)/sqrt(2)
    assert ("2024-01-01 02:00:00", 2) in rows
    import math

    assert abs(rows[("2024-01-01 02:00:00", 2)] - (2 - 3) / math.sqrt(2)) < 1e-12
    assert len(rows) == 1


def test_enrich_stream_equals_batch(spark, sf_dir, event_dir):
    """Stream-static dim join: streaming the events through enrich_stream +
    segment aggregate must equal the batch run of the same function."""
    cust = io.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def pipeline(ev):
        return (
            st.enrich_stream(
                ev.select("user_id", "value"), cust, "user_id", "c_custkey",
                "inner",
            )
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"))
        )

    got = _run_stream(spark, pipeline(st.read_event_stream(spark, event_dir)),
                      "enrich_out")
    want = pipeline(spark.read.parquet(event_dir)).collect()
    assert _rows_set(got) == _rows_set(want)
    assert len(want) > 1


def test_ohlc_stream_equals_batch_minus_open_bars(spark, sf_dir, event_dir):
    """Streaming OHLC bars must be BIT-identical to the batch operator on
    every closed bucket; each key's final (still-open) bucket is the only
    difference, exactly like anomaly_stream's contract."""
    from big_data_project_spark.operators import events as ev_ops

    q = (
        st.ohlc_stream(st.read_event_stream(spark, event_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ohlc_out")
        .start()
    )
    q.processAllAvailable()
    got = spark.sql("SELECT * FROM ohlc_out").collect()
    q.stop()
    batch = ev_ops.ohlc_bars(io.load_table(spark, sf_dir, "events")).collect()
    last_bucket = {}
    for r in batch:
        b = last_bucket.get(r["event_type"])
        if b is None or r["bucket"] > b:
            last_bucket[r["event_type"]] = r["bucket"]
    want = {
        tuple(r)
        for r in batch
        if r["bucket"] != last_bucket[r["event_type"]]
    }
    assert {tuple(r) for r in got} == want
    assert len(want) > 100


def test_ohlc_stream_across_microbatches(spark, tmp_path):
    """A bar split over two micro-batches merges into ONE bar before
    closing: open keeps batch-1's earliest row, close takes batch-2's
    latest, volume/turnover accumulate; a late row for a closed bar is
    dropped."""
    d = str(tmp_path / "ohlc_src")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    b1 = mk(
        [(1, "2024-01-01 00:05:00", 1, "click", 10.0, "{}"),
         (2, "2024-01-01 00:40:00", 1, "click", 30.0, "{}")]
    )
    b2 = mk(
        [(3, "2024-01-01 00:50:00", 1, "click", 5.0, "{}"),    # merges h0
         (4, "2024-01-01 01:10:00", 1, "click", 99.0, "{}"),   # closes h0
         (5, "2024-01-01 00:30:00", 1, "click", 777.0, "{}")]  # late: dropped
    )
    b1.write.mode("overwrite").parquet(d)
    q = (
        st.ohlc_stream(st.read_event_stream(spark, d))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ohlc_state")
        .option("checkpointLocation", str(tmp_path / "ckpt_ohlc"))
        .start()
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(d)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM ohlc_state").collect()
    # late row 5 arrives in the same micro-batch as the close (row 4) but
    # is folded in (ts, event_id) order, so it lands BEFORE h0 closes and
    # legitimately joins the bar. The cross-batch merge is the contract:
    bars = {str(r.bucket): r for r in rows}
    h0 = bars["2024-01-01 00:00:00"]
    assert h0.open == 10.0 and h0.close == 5.0
    assert h0.volume == 4 and h0.high == 777.0
    assert abs(h0.turnover - 822.0) < 1e-9


def test_enrich_stream_fresh_picks_up_dim_updates(spark, tmp_path):
    """The foreachBatch variant must reflect a dim REWRITTEN between
    triggers in the next batch — the exact scenario where the plan-pinned
    static join raises FILE_NOT_EXIST (see enrich_stream docstring)."""
    d = str(tmp_path / "src")
    dimd = str(tmp_path / "dim")
    sink = str(tmp_path / "sink")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    spark.createDataFrame([(1, "segA"), (2, "segA")], "k long, seg string") \
        .write.mode("overwrite").parquet(dimd)
    mk([(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}")]) \
        .write.mode("overwrite").parquet(d)
    q = st.enrich_stream_fresh(
        st.read_event_stream(spark, d), dimd, sink,
        str(tmp_path / "ckpt"), "user_id", "k", "inner",
    )
    q.processAllAvailable()
    spark.createDataFrame([(1, "segA"), (2, "segB")], "k long, seg string") \
        .write.mode("overwrite").parquet(dimd)
    mk([(2, "2024-01-01 11:00:00", 2, "click", 1.0, "{}")]) \
        .write.mode("append").parquet(d)
    q.processAllAvailable()
    q.stop()
    got = {(r.event_id, r.seg) for r in spark.read.parquet(sink).collect()}
    assert got == {(1, "segA"), (2, "segB")}


def test_versioned_upsert_sink_time_travel(spark, tmp_path):
    """Each micro-batch commits an immutable snapshot version; pinning v1
    still returns the pre-update table after batch 2 lands."""
    from big_data_project_spark.operators import maintenance as mt

    src_dir = str(tmp_path / "vsink_src")
    target = str(tmp_path / "vsink_target")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    b1 = mk([(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
             (2, "2024-01-01 10:01:00", 2, "click", 2.0, "{}")])
    b2 = mk([(1, "2024-01-01 10:05:00", 1, "click", 9.0, "{}"),
             (3, "2024-01-01 10:06:00", 3, "click", 3.0, "{}")])

    b1.write.mode("overwrite").parquet(src_dir)
    q = st.versioned_upsert_sink(
        st.read_event_stream(spark, src_dir), target, str(tmp_path / "ckpt_v"),
        "event_id",
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(src_dir)
    q.processAllAvailable()
    q.stop()

    assert mt.snapshot_versions(spark, target) == [1, 2]
    v1 = {r.event_id: r.value
          for r in mt.read_snapshot(spark, target, 1).collect()}
    latest = {r.event_id: r.value
              for r in mt.read_snapshot(spark, target).collect()}
    assert v1 == {1: 1.0, 2: 2.0}, v1
    assert latest == {1: 9.0, 2: 2.0, 3: 3.0}, latest


def _event_batch(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))


def _drop_file(df, src_dir, name):
    """Land ``df`` in a watched directory as ONE file that appears
    atomically, so a trigger can never list the drop half-way through
    (a multi-partition ``write.parquet`` renames its part files one at a
    time) and the tests below do not depend on trigger timing."""
    stage = f"{src_dir}.stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.makedirs(src_dir, exist_ok=True)
    os.rename(os.path.join(stage, part), os.path.join(src_dir, name))


def test_versioned_upsert_commit_skips_replayed_epoch(spark, tmp_path):
    """Exactly one version per epoch: committing the same (query id, epoch)
    twice — in the same sink or in a new one, as after a restart from the
    same checkpoint — leaves history [1]. A fresh checkpoint renumbers
    epochs from 0 under a new query id, so its epoch 0 commits v=2."""
    from big_data_project_spark.operators import maintenance as mt

    target = str(tmp_path / "replay_target")
    b = _event_batch(spark, [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}")])
    sink = st.VersionedUpsertCommit(target, "event_id")
    assert sink.commit(b, 0, "q-a") == 1
    assert sink.commit(b, 0, "q-a") is None
    assert mt.snapshot_versions(spark, target) == [1]
    restarted = st.VersionedUpsertCommit(target, "event_id")
    assert restarted.commit(b, 0, "q-a") is None
    assert mt.snapshot_versions(spark, target) == [1]
    assert mt.snapshot_tag(spark, target, 1) == "q-a.0"

    b2 = _event_batch(spark, [(1, "2024-01-01 10:05:00", 1, "click", 9.0, "{}")])
    assert st.VersionedUpsertCommit(target, "event_id").commit(b2, 0, "q-b") == 2
    assert mt.snapshot_versions(spark, target) == [1, 2]
    assert [r.value for r in mt.read_snapshot(spark, target).collect()] == [9.0]


def test_versioned_upsert_sink_empty_file_commits_no_version(spark, tmp_path):
    """A 0-row parquet file dropped into the watched directory is a batch
    of its own; it must not add a version (the empty check rides the
    merge's write job, whose staged output is then dropped)."""
    from big_data_project_spark.operators import maintenance as mt

    src_dir = str(tmp_path / "empty_src")
    target = str(tmp_path / "empty_target")
    b1 = _event_batch(spark, [(1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}")])
    _drop_file(b1, src_dir, "b1.parquet")
    q = st.versioned_upsert_sink(
        st.read_event_stream(spark, src_dir), target, str(tmp_path / "ckpt"),
        "event_id",
    )
    try:
        q.processAllAvailable()
        assert mt.snapshot_versions(spark, target) == [1]
        _drop_file(b1.limit(0), src_dir, "empty.parquet")
        q.processAllAvailable()
        assert q.lastProgress["numInputRows"] == 0
        assert mt.snapshot_versions(spark, target) == [1]
        b2 = _event_batch(spark, [(2, "2024-01-01 10:01:00", 2, "click", 2.0, "{}")])
        _drop_file(b2, src_dir, "b2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    assert mt.snapshot_versions(spark, target) == [1, 2]
    # the tag comes from the stream's own query id; epoch 1 was the empty one
    assert mt.snapshot_tag(spark, target, 1) == f"{q.id}.0"
    assert mt.snapshot_tag(spark, target, 2) == f"{q.id}.2"
    assert sorted(r.event_id for r in mt.read_snapshot(spark, target).collect()) == [1, 2]


def test_versioned_upsert_sink_two_jobs_per_trigger(spark, tmp_path):
    """With the target present, one trigger runs exactly two Spark jobs:
    the broadcast of the batch keys for the merge's anti-join and the
    write of the merged table. A new per-trigger job (an empty check, a
    schema inference, an aggregate) fails here instead of hiding in
    benchmark noise."""
    src_dir = str(tmp_path / "jobs_src")
    rows = lambda i: [  # noqa: E731
        (10 * i + j, "2024-01-01 10:00:00", j, "click", float(i), "{}")
        for j in range(5)
    ]
    _drop_file(_event_batch(spark, rows(0)), src_dir, "b0.parquet")
    q = st.versioned_upsert_sink(
        st.read_event_stream(spark, src_dir), str(tmp_path / "jobs_target"),
        str(tmp_path / "ckpt"), "user_id",
    )
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def query_jobs():
        bus.waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))

    try:
        q.processAllAvailable()  # first trigger: no target yet
        before = query_jobs()
        _drop_file(_event_batch(spark, rows(1)), src_dir, "b1.parquet")
        q.processAllAvailable()
        after = query_jobs()
    finally:
        q.stop()
    assert after - before == 2, f"{after - before} jobs in one trigger"


def test_transform_with_state_equals_applyinpandaswithstate(spark, tmp_path):
    """The modern StatefulProcessor operator must carry per-user state
    across micro-batches exactly like its applyInPandasWithState twin.

    Environment gate: transformWithState's Python⇄JVM state protocol is
    protobuf-serialized and this container has no google.protobuf (and no
    package installation) — same class of permanent skip as the
    sentence-transformers / flan-t5 model branches."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState needs protobuf for its state protocol",
    )
    d = str(tmp_path / "tws_src")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    b1 = mk([(1, "2024-01-01 10:00:00", 1, "click", 10.0, "{}"),
             (2, "2024-01-01 10:01:00", 2, "click", 5.0, "{}")])
    b2 = mk([(3, "2024-01-01 10:02:00", 1, "click", 7.0, "{}")])

    b1.write.mode("overwrite").parquet(d)
    stream = st.read_event_stream(spark, d)
    q = (
        st.running_user_totals_tws(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_tws")
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .start()
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(d)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT user_id, max(n_events) n, max(total_value) t FROM t_tws GROUP BY user_id"
    ).collect()
    got = {r.user_id: (r.n, r.t) for r in rows}
    assert got == {1: (2, 17.0), 2: (1, 5.0)}, got


def test_stream_stream_outer_interval_join_emits_null_matches(
    spark, event_dir, tmp_path
):
    """leftOuter stream-stream join: clickless purchases surface with NULL
    click_id once the watermark passes their interval; everything emitted
    must agree with the batch outer join, and the null-match rows (the
    whole point of the outer form) must actually appear."""
    src = st.read_event_stream(spark, event_dir)
    joined = st.purchases_with_recent_clicks(
        src.where(F.col("event_type") == "purchase"),
        src.where(F.col("event_type") == "click"),
        how="leftOuter",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ssj_outer")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj_outer"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = _rows_set(spark.sql("SELECT * FROM t_ssj_outer").collect())

    batch = spark.read.parquet(event_dir)
    want = _rows_set(
        st.purchases_with_recent_clicks(
            batch.where(F.col("event_type") == "purchase"),
            batch.where(F.col("event_type") == "click"),
            how="leftOuter",
        ).collect()
    )
    assert got <= want
    assert len(got) >= 0.8 * len(want) > 0, (len(got), len(want))
    # the outer-only rows: emitted null matches must be a subset of the
    # batch null matches, and some must have been emitted
    got_null = {r for r in got if r[2] is None}
    want_null = {r for r in want if r[2] is None}
    assert got_null <= want_null
    assert len(got_null) > 0


# ---------------------------------------------------------------------------
# CHECKPOINT RESTART (round 4): the tests above run each query once; these
# stop a query, start a NEW one on the same checkpoint, and prove the
# recovered state behaves — dedup state survives, watermarks advance
# monotonically, and nothing double-emits across the restart boundary.
# ---------------------------------------------------------------------------

def _write_events(spark, path, rows):
    spark.createDataFrame(rows, st.EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _ev(event_id, minute, etype="click", value=1.0):
    from datetime import datetime, timezone

    return (
        event_id,
        datetime(2024, 1, 1, 10, minute, tzinfo=timezone.utc),
        7,
        etype,
        value,
        "{}",
    )


def test_stream_dedup_state_survives_checkpoint_restart(spark, tmp_path):
    """An event id seen BEFORE the restart must still be dropped AFTER it:
    the dedup state lives in the checkpoint, not the query object."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def run_once():
        q = (
            st.stream_dedup(st.read_event_stream(spark, src), watermark="1 hour")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    _write_events(spark, src, [_ev(1, 0), _ev(2, 1), _ev(1, 2)])
    run_once()
    # RESTART: ids 1 and 2 are replays from before the restart; 3 is new
    _write_events(spark, src, [_ev(2, 3), _ev(3, 4), _ev(1, 5)])
    run_once()
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3], got


def test_windowed_agg_exactly_once_across_restart(spark, tmp_path):
    """Append-mode windowed aggregation across a stop/start: the watermark
    recovered from the checkpoint finalizes each window EXACTLY once, and
    emitted values equal the batch aggregate over all chunks."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src2", "out2", "ckpt2"))

    def run_once():
        q = (
            st.tumbling_window_agg(
                st.read_event_stream(spark, src),
                width="10 minutes",
                watermark="0 seconds",
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    _write_events(spark, src, [_ev(1, 0), _ev(2, 5), _ev(3, 12)])
    run_once()  # watermark reaches 10:12 → the 10:00 window finalizes
    _write_events(spark, src, [_ev(4, 14), _ev(5, 23)])
    run_once()  # restart: 10:10 window finalizes; 10:00 must NOT re-emit
    rows = spark.read.parquet(out).collect()
    keys = [(r.window_start, r.event_type) for r in rows]
    assert len(keys) == len(set(keys)), f"window double-emitted: {keys}"
    batch = {
        (r.window_start, r.event_type): (r.n, r.total)
        for r in st.tumbling_window_agg(
            spark.read.parquet(src), width="10 minutes"
        ).collect()
    }
    for r in rows:
        assert batch[(r.window_start, r.event_type)] == (r.n, r.total)
    # both finalized windows are present after the second run
    assert len(rows) >= 2


def test_kmv_running_sketch_stream_equals_batch(spark, event_dir, tmp_path):
    """The streaming KMV sketch after the stream drains must equal the
    batch maintenance.kmv_sketch over the same rows — EXACT array
    equality, the strongest stream/batch-twin contract (not estimate
    closeness). State is k longs per group while exact streaming
    COUNT(DISTINCT) state would be unbounded."""
    from big_data_project_spark.operators import maintenance as mt

    stream = st.read_event_stream(spark, event_dir)
    q = (
        st.kmv_running_sketch(stream, "event_type", "user_id", k=64)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("kmv_state")
        .option("checkpointLocation", str(tmp_path / "ckpt_kmv"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # memory sink in update mode appends per-batch rows; last row per key
    # is the final sketch (single batch here, but keep it order-robust)
    import pandas as pd

    hist = spark.sql("SELECT * FROM kmv_state").toPandas()
    got = {
        g: list(grp.iloc[-1]["kmv"]) for g, grp in hist.groupby("event_type")
    }
    want = {
        r.event_type: list(r.kmv)
        for r in mt.kmv_sketch(
            spark.read.parquet(event_dir), ["event_type"], "user_id", k=64
        ).collect()
    }
    assert got == want
    del pd


def test_kmv_running_sketch_accumulates_across_microbatches(spark, tmp_path):
    """Values from batch 1 must still shape the sketch after batch 2, and
    the estimate below k is exact."""
    from big_data_project_spark.operators import maintenance as mt

    d = str(tmp_path / "kmv_src")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    b1 = mk([(i, "2024-01-01 10:00:00", 100 + i, "click", 1.0, "{}")
             for i in range(10)])
    b2 = mk([(20 + i, "2024-01-01 10:01:00", 100 + i, "click", 1.0, "{}")
             for i in range(5)])  # all user_ids already seen
    b1.write.mode("overwrite").parquet(d)
    q = (
        st.kmv_running_sketch(st.read_event_stream(spark, d), k=64)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("kmv_acc")
        .option("checkpointLocation", str(tmp_path / "ckpt_kmv2"))
        .start()
    )
    q.processAllAvailable()
    b2.write.mode("append").parquet(d)
    q.processAllAvailable()
    q.stop()
    hist = spark.sql("SELECT * FROM kmv_acc").toPandas()
    final = [int(x) for x in hist.iloc[-1]["kmv"]]  # numpy → plain ints
    assert len(final) == 10  # replayed values added no new hashes
    est = (
        spark.createDataFrame([(final,)], "kmv array<long>")
        .select(mt.kmv_estimate_col(64).alias("e"))
        .collect()[0]
        .e
    )
    assert est == 10.0


def test_kmv_running_sketch_tolerates_null_values(spark, tmp_path):
    """Review r4: a NULL value_col row must be ignored (batch-twin
    semantics), not crash the query with int(NaN)."""
    from big_data_project_spark.operators import maintenance as mt

    d = str(tmp_path / "kmv_null_src")
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7, "click", 1.0, "{}"),
         (2, "2024-01-01 10:00:01", None, "click", 1.0, "{}"),
         (3, "2024-01-01 10:00:02", 9, "click", 1.0, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(d)
    q = (
        st.kmv_running_sketch(st.read_event_stream(spark, d), k=64)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("kmv_null")
        .option("checkpointLocation", str(tmp_path / "ckpt_kmv_null"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = [int(x) for x in spark.sql("SELECT * FROM kmv_null").toPandas().iloc[-1]["kmv"]]
    want = [
        int(x)
        for x in mt.kmv_sketch(
            spark.read.parquet(d), ["event_type"], "user_id", k=64
        ).collect()[0].kmv
    ]
    assert got == want and len(got) == 2


def test_near_dedup_stream_equals_sequential_batch_fold(spark, tmp_path):
    """VERDICT r6 #7: the streaming near-dedup twin. Documents arriving in
    three micro-batches (maxFilesPerTrigger=1) are MinHash-deduped against
    everything admitted so far; the admitted set must equal folding
    dedup_delta_near sequentially over the same three batches, and a
    second run over the same out_dir (fresh checkpoint — every batch
    replays) must SKIP the published dirs and leave the result unchanged."""
    from big_data_project_spark.operators import dedup
    from big_data_project_spark.streaming import ops as st

    w = [f"tok{i}x" for i in range(40)]
    t_a = " ".join(w[:20])                      # d0
    t_b = " ".join(w[20:40])                    # d1
    batches = [
        [(0, t_a), (1, t_b)],
        [
            (2, t_a + " extraword"),            # near-dup of admitted d0
            (3, t_b),                           # exact dup of admitted d1
            (4, " ".join(reversed(w[:20])) + " " + " ".join(w[30:35])),
            (5, " ".join(reversed(w[:20])) + " " + " ".join(w[30:35])
             + " tail9"),                       # within-batch near-dup of d4
        ],
        [
            (6, " ".join(reversed(w[:20])) + " " + " ".join(w[30:36])),
            # ^ near-dup of ADMITTED d4 (index hit across batches)
            (7, " ".join(f"fresh{i}q" for i in range(25))),
        ],
    ]

    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    import shutil as _sh
    import time as _time

    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        staged = str(tmp_path / f"stage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(
            p for p in __import__("os").listdir(staged)
            if p.endswith(".parquet")
        )
        _sh.move(f"{staged}/{part}", str(stream_dir / f"b{i}.parquet"))
        _time.sleep(1.1)  # distinct mtimes => deterministic batch order

    schema = "doc_id long, text string"
    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.5)

    def run(out, ckpt):
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir))
        )
        q = st.near_dedup_stream(
            src, str(out), str(ckpt), **kw
        )
        q.processAllAvailable()
        q.stop()
        return {
            (r.doc_id, r.text)
            for r in spark.read.parquet(f"{out}/data/batch-*").collect()
        }

    got = run(tmp_path / "out", tmp_path / "ck1")

    # sequential batch fold with the SAME operator chain
    idx = dedup.minhash_index(
        spark.createDataFrame([], schema), n=3, num_hashes=64, bands=16
    )
    want = set()
    for rows in batches:
        bdf = spark.createDataFrame(rows, schema)
        surv = dedup.dedup_delta_near(bdf, idx, **kw)
        want |= {(r.doc_id, r.text) for r in surv.collect()}
        idx = idx.unionByName(
            dedup.minhash_index(surv, n=3, num_hashes=64, bands=16)
        )

    assert got == want
    assert {d for d, _ in got} == {0, 1, 4, 7}

    # full replay (fresh checkpoint, same out_dir): every batch re-fires,
    # the skip-if-published guard holds, result unchanged
    again = run(tmp_path / "out", tmp_path / "ck2")
    assert again == got

    # partial-publish crash simulation: data dir present, index dir gone —
    # the replay republishes the missing dir with identical content
    import os

    idx_dirs = sorted(os.listdir(tmp_path / "out" / "index"))
    _sh.rmtree(tmp_path / "out" / "index" / idx_dirs[-1])
    third = run(tmp_path / "out", tmp_path / "ck3")
    assert third == got
    assert sorted(os.listdir(tmp_path / "out" / "index")) == idx_dirs


def test_curate_stream_equals_sequential_batch_fold(spark, tmp_path):
    """The CONTINUOUS curation line (near-dedup vs admitted index →
    decontaminate vs static eval set → quality gate → admit+index): the
    streamed result must equal folding the same stages per batch, only
    ADMITTED rows may enter the published corpus or the index, and a
    quality-rejected doc re-arriving later is re-judged, never admitted
    because its twin was 'seen'."""
    from big_data_project_spark.operators import dedup
    from big_data_project_spark.operators.text import filter_quality
    from big_data_project_spark.streaming import ops as st

    clean0 = ("the quick brown fox jumps over the lazy dog and then "
              "runs away home today with friends")
    evalg = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu")  # a 13-gram
    contaminated = "we start here and " + evalg + " ends the story now"
    clean4 = ("many people walk along the river bank every morning and "
              "watch the quiet water flow past")
    short = "too short for quality"
    batches = [
        [(0, clean0), (1, short)],
        [
            (2, clean0 + " extra"),   # near-dup of ADMITTED d0 -> dropped
            (3, contaminated),        # shares the eval 13-gram -> dropped
            (4, clean4),              # admitted
            (5, short),               # twin of REJECTED d1: re-judged, rejected
        ],
    ]
    eval_df = spark.createDataFrame([(900, evalg)], "doc_id long, text string")

    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    import os as _os
    import shutil as _sh
    import time as _time

    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        staged = str(tmp_path / f"cstage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(p for p in _os.listdir(staged) if p.endswith(".parquet"))
        _sh.move(f"{staged}/{part}", str(stream_dir / f"b{i}.parquet"))
        _time.sleep(1.1)

    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.5)
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = st.curate_stream(
        src, str(tmp_path / "out"), str(tmp_path / "ck"),
        eval_df=eval_df, min_words=10, **kw,
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{tmp_path}/out/data/batch-*").collect()
    }

    idx = dedup.minhash_index(
        spark.createDataFrame([], "doc_id long, text string"),
        n=3, num_hashes=64, bands=16,
    )
    want = set()
    for rows in batches:
        bdf = spark.createDataFrame(rows, "doc_id long, text string")
        surv = dedup.dedup_delta_near(bdf, idx, **kw)
        surv = dedup.decontaminate(surv, eval_df, n=13)
        surv = filter_quality(surv, min_words=10)
        want |= {(r.doc_id, r.text) for r in surv.collect()}
        idx = idx.unionByName(
            dedup.minhash_index(surv, n=3, num_hashes=64, bands=16)
        )

    assert got == want
    assert {d for d, _ in got} == {0, 4}
    # the index carries ONLY admitted docs
    indexed = {
        r.doc_id
        for r in spark.read.parquet(f"{tmp_path}/out/index/batch-*").collect()
    }
    assert indexed == {0, 4}


def test_compact_near_dedup_index_preserves_results(spark, tmp_path):
    """Index compaction: after folding batch index dirs into a base
    snapshot (and even with a leftover covered batch dir simulating a
    crash between base publish and cleanup), a resumed stream dedups
    later batches IDENTICALLY to the uncompacted fold, and the index
    directory count stays O(1)."""
    import os as _os
    import shutil as _sh
    import time as _time

    from big_data_project_spark.operators import dedup
    from big_data_project_spark.streaming import ops as st

    w = [f"ctok{i}z" for i in range(40)]
    batches = [
        [(0, " ".join(w[:20])), (1, " ".join(w[20:40]))],
        [(2, " ".join(w[:20]) + " tailA"), (3, " ".join(f"n{i}w" for i in range(22)))],
        [(4, " ".join(w[20:40]) + " tailB"),     # near-dup of admitted d1
         (5, " ".join(f"m{i}v" for i in range(24)))],
    ]
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.5)

    def feed(i):
        df = spark.createDataFrame(batches[i], "doc_id long, text string")
        staged = str(tmp_path / f"kstage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(p for p in _os.listdir(staged) if p.endswith(".parquet"))
        _sh.move(f"{staged}/{part}", str(stream_dir / f"b{i}.parquet"))
        _time.sleep(1.1)

    def run_stream():
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir))
        )
        q = st.near_dedup_stream(src, str(tmp_path / "out"), str(tmp_path / "ck"), **kw)
        q.processAllAvailable()
        q.stop()

    feed(0); feed(1)
    run_stream()
    index_root = tmp_path / "out" / "index"
    assert sorted(_os.listdir(index_root)) == ["batch-00000000", "batch-00000001"]

    # a concurrent micro-batch may already have listed the batch dirs —
    # capture what such a reader would reference before compacting
    pre_listed = [str(index_root / d) for d in sorted(_os.listdir(index_root))]
    k = st.compact_near_dedup_index(spark, str(tmp_path / "out"))
    assert k == 2
    # deferred cleanup (ADVICE r7): the run that publishes base-K retires
    # NOTHING base-K covers — every path a pre-compaction lister captured
    # is still on disk and still readable
    assert sorted(_os.listdir(index_root)) == [
        "base-00000002", "batch-00000000", "batch-00000001"
    ]
    assert spark.read.parquet(*pre_listed).count() > 0
    # the NEXT run retires the previous generation (and has nothing new
    # to fold, so K stays 0)
    assert st.compact_near_dedup_index(spark, str(tmp_path / "out")) == 0
    assert sorted(_os.listdir(index_root)) == ["base-00000002"]
    # idempotent from here
    assert st.compact_near_dedup_index(spark, str(tmp_path / "out")) == 0

    # crash simulation: a covered batch dir the cleanup never removed —
    # readers must tolerate the overlap
    _sh.copytree(
        index_root / "base-00000002", index_root / "batch-00000001"
    )

    feed(2)
    run_stream()  # same checkpoint: only batch 2 is new
    got = {
        r.doc_id
        for r in spark.read.parquet(f"{tmp_path}/out/data/batch-*").collect()
    }

    # uncompacted fold over the same three batches
    idx = dedup.minhash_index(
        spark.createDataFrame([], "doc_id long, text string"),
        n=3, num_hashes=64, bands=16,
    )
    want = set()
    for rows in batches:
        bdf = spark.createDataFrame(rows, "doc_id long, text string")
        surv = dedup.dedup_delta_near(bdf, idx, **kw)
        want |= {r.doc_id for r in surv.collect()}
        idx = idx.unionByName(
            dedup.minhash_index(surv, n=3, num_hashes=64, bands=16)
        )
    assert got == want
    assert got == {0, 1, 3, 5}  # 2 and 4 are near-dups of admitted docs


def test_semantic_dedup_stream_equals_sequential_batch_fold(spark, tmp_path):
    """VERDICT r7 #8: the streaming SEMANTIC dedup twin. Embeddings
    arriving in three micro-batches are cosine-deduped against everything
    admitted so far (persisted semantic_index probed through a FIXED
    centroid table seeded once from batch 0); the admitted set must equal
    folding dedup_delta_semantic sequentially over the same batches, and
    a fresh-checkpoint replay over the same out_dir must skip the
    published dirs and leave the result unchanged."""
    import os as _os
    import shutil as _sh
    import time as _time

    from big_data_project_spark.operators import vector
    from big_data_project_spark.streaming import ops as st

    u = [1.0, 0.0, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    near_u = [0.995, 0.0999, 0.0, 0.0]
    x = [0.0, 0.05, 0.9987, 0.0]
    near_x = [0.0, 0.1, 0.995, 0.0]
    y = [0.0, 0.03, 0.0, 0.9995]
    batches = [
        [(0, u), (1, far)],
        [
            (2, near_u),   # near-dup of ADMITTED 0 -> index probe drops
            (3, x),        # fresh
            (4, near_x),   # within-batch near-dup of 3 -> self-dedup drops
            (5, far),      # exact dup of ADMITTED 1 -> index probe drops
        ],
        [
            (6, near_x),   # near-dup of ADMITTED 3 (cross-batch index hit)
            (7, y),        # fresh
        ],
    ]
    schema = "vec_id long, embedding array<float>"
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        staged = str(tmp_path / f"estage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(p for p in _os.listdir(staged) if p.endswith(".parquet"))
        _sh.move(f"{staged}/{part}", str(stream_dir / f"b{i}.parquet"))
        _time.sleep(1.1)

    kw = dict(n_clusters=2, threshold=0.8)

    def run(out, ckpt):
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir))
        )
        q = st.semantic_dedup_stream(src, str(out), str(ckpt), **kw)
        q.processAllAvailable()
        q.stop()
        return {
            r.vec_id
            for r in st.admitted_corpus(spark, str(out)).collect()
        }

    got = run(tmp_path / "out", tmp_path / "ck1")

    # sequential batch fold with the SAME operator chain, centroids
    # seeded once from batch 0 (the stream's rule)
    cents = vector.semantic_centroids(
        spark.createDataFrame(batches[0], schema), n_clusters=2
    ).collect()
    cents_df = spark.createDataFrame(cents)
    idx = vector.semantic_index(
        spark.createDataFrame([], schema), cents_df
    )
    want = set()
    for rows in batches:
        bdf = spark.createDataFrame(rows, schema)
        surv = vector.dedup_delta_semantic(
            bdf, idx, cents_df, threshold=0.8
        )
        want |= {r.vec_id for r in surv.collect()}
        idx = idx.unionByName(vector.semantic_index(surv, cents_df))

    assert got == want
    assert got == {0, 1, 3, 7}
    # the index carries ONLY admitted vectors, assigned against the
    # persisted centroids
    indexed = {
        r.vec_id
        for r in spark.read.parquet(f"{tmp_path}/out/index/batch-*").collect()
    }
    assert indexed == {0, 1, 3, 7}
    assert _os.path.exists(tmp_path / "out" / "centroids")

    # full replay (fresh checkpoint, same out_dir): centroids are not
    # reseeded, published dirs skip, result unchanged
    again = run(tmp_path / "out", tmp_path / "ck2")
    assert again == got


def test_semantic_stream_compaction_and_zero_norm(spark, tmp_path):
    """semantic_dedup_stream's docstring claims: (a) compact_near_dedup
    works on its out_dir unchanged, (b) zero-norm vectors survive both
    dedup stages (cosine NULL can never reach the threshold). Fold a
    two-batch stream with a zero vector and an exact dup, compact twice,
    and verify admitted_corpus is unchanged and O(1)-dir."""
    import os as _os
    import shutil as _sh
    import time as _time

    from big_data_project_spark.operators import vector
    from big_data_project_spark.streaming import ops as st

    u = [1.0, 0.0, 0.0, 0.0]
    z = [0.0, 0.0, 0.0, 0.0]
    batches = [
        [(0, u), (1, z)],
        [(2, u), (3, z), (4, [0.0, 1.0, 0.0, 0.0])],
        # 2 = exact dup of admitted 0 -> dropped; 3 = zero-norm: SURVIVES
        # even though 1 (identical zero vector) is already admitted
    ]
    schema = "vec_id long, embedding array<float>"
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        staged = str(tmp_path / f"zstage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(p for p in _os.listdir(staged) if p.endswith(".parquet"))
        _sh.move(f"{staged}/{part}", str(stream_dir / f"b{i}.parquet"))
        _time.sleep(1.1)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    q = st.semantic_dedup_stream(
        src, str(tmp_path / "out"), str(tmp_path / "ck"),
        n_clusters=2, threshold=0.8,
    )
    q.processAllAvailable()
    q.stop()
    want = {0, 1, 3, 4}
    got = {
        r.vec_id for r in st.admitted_corpus(spark, str(tmp_path / "out")).collect()
    }
    assert got == want
    # batch twin agrees on the zero-norm rule
    cents = spark.createDataFrame(
        vector.semantic_centroids(
            spark.createDataFrame(batches[0], schema), n_clusters=2
        ).collect()
    )
    idx = vector.semantic_index(
        spark.createDataFrame(batches[0], schema), cents
    )
    surv = vector.dedup_delta_semantic(
        spark.createDataFrame(batches[1], schema), idx, cents, threshold=0.8
    )
    assert {r.vec_id for r in surv.collect()} == {3, 4}
    # compaction on the semantic out_dir: same machinery, same guarantees
    st.compact_near_dedup(spark, str(tmp_path / "out"))
    st.compact_near_dedup(spark, str(tmp_path / "out"))
    assert sorted(_os.listdir(tmp_path / "out" / "data")) == ["base-00000002"]
    assert {
        r.vec_id for r in st.admitted_corpus(spark, str(tmp_path / "out")).collect()
    } == want


def test_compact_near_dedup_data_preserves_corpus(spark, tmp_path):
    """VERDICT r7 #4 (data-side compaction twin): folding the admitted
    data/batch-* dirs into a base snapshot mid-stream — including a
    crash-leftover covered batch dir — never changes what
    admitted_corpus() reads, a resumed stream keeps publishing alongside
    the base, and repeated compaction holds the dir count at O(1)."""
    import os as _os
    import shutil as _sh
    import time as _time

    from big_data_project_spark.streaming import ops as st

    w = [f"dtok{i}z" for i in range(40)]
    batches = [
        [(0, " ".join(w[:20])), (1, " ".join(w[20:40]))],
        [(2, " ".join(w[:20]) + " tailA"),
         (3, " ".join(f"dn{i}w" for i in range(22)))],
        [(4, " ".join(w[20:40]) + " tailB"),
         (5, " ".join(f"dm{i}v" for i in range(24)))],
    ]
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    kw = dict(n=3, num_hashes=64, bands=16, threshold=0.5)

    def feed(i):
        df = spark.createDataFrame(batches[i], "doc_id long, text string")
        staged = str(tmp_path / f"dstage{i}")
        df.coalesce(1).write.mode("overwrite").parquet(staged)
        part = next(p for p in _os.listdir(staged) if p.endswith(".parquet"))
        _sh.move(f"{staged}/{part}", str(stream_dir / f"b{i}.parquet"))
        _time.sleep(1.1)

    def run_stream():
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stream_dir))
        )
        q = st.near_dedup_stream(
            src, str(tmp_path / "out"), str(tmp_path / "ck"), **kw
        )
        q.processAllAvailable()
        q.stop()

    feed(0); feed(1)
    run_stream()
    before = {
        (r.doc_id, r.text)
        for r in st.admitted_corpus(spark, str(tmp_path / "out")).collect()
    }
    assert {d for d, _ in before} == {0, 1, 3}  # 2 near-dups admitted 0

    ik, dk = st.compact_near_dedup(spark, str(tmp_path / "out"))
    assert (ik, dk) == (2, 2)
    data_root = tmp_path / "out" / "data"
    # grace generation: base + still-present covered batch dirs overlap —
    # the reader must not double-count
    assert "base-00000002" in _os.listdir(data_root)
    mid = {
        (r.doc_id, r.text)
        for r in st.admitted_corpus(spark, str(tmp_path / "out")).collect()
    }
    assert mid == before
    # crash-leftover simulation: a covered batch dir that cleanup never
    # removed (duplicate content vs the base) is skipped by the reader
    if not (data_root / "batch-00000001").exists():
        _sh.copytree(data_root / "base-00000002", data_root / "batch-00000001")
    assert {
        (r.doc_id, r.text)
        for r in st.admitted_corpus(spark, str(tmp_path / "out")).collect()
    } == before

    feed(2)
    run_stream()  # same checkpoint: only batch 2 is new
    after = {
        (r.doc_id, r.text)
        for r in st.admitted_corpus(spark, str(tmp_path / "out")).collect()
    }
    assert {d for d, _ in after} == {0, 1, 3, 5}
    assert before <= after

    # second compaction folds the new batch and retires the previous
    # generation; dir count stays O(1) and the corpus is unchanged
    st.compact_near_dedup(spark, str(tmp_path / "out"))
    st.compact_near_dedup(spark, str(tmp_path / "out"))
    dirs = sorted(_os.listdir(data_root))
    assert dirs == ["base-00000003"]
    assert {
        (r.doc_id, r.text)
        for r in st.admitted_corpus(spark, str(tmp_path / "out")).collect()
    } == after
