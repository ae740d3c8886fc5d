"""Structured Streaming closure (SURVEY §2.8).

The reference *claims* real-time analysis (README.md:15,31; sink dir named
``realtime_financial_data`` at py:87) but ships only batch. This package
closes the claim with Structured Streaming over the ``events`` schema:
sources (T1), tumbling/sliding/session windows (T2–T4), watermarked late-data
handling (T5), stateful dedup (T6), and sinks (T7).

Every transformation is written against a plain DataFrame so the SAME
function serves ``spark.read`` (batch) and ``spark.readStream`` — that is
both the Spark-idiomatic structure and what makes the batch-equivalence
tests meaningful (stream output ≡ batch output on the same rows).
"""

from big_data_project_spark.streaming.ops import (
    EVENTS_SCHEMA,
    admitted_corpus,
    compact_near_dedup,
    compact_near_dedup_data,
    compact_near_dedup_index,
    curate_stream,
    near_dedup_stream,
    semantic_dedup_stream,
    enrich_stream,
    enrich_stream_fresh,
    ohlc_stream,
    purchases_with_recent_clicks,
    read_event_stream,
    anomaly_stream,
    kmv_running_sketch,
    running_user_totals,
    session_window_agg,
    sessionize_batch,
    sliding_window_agg,
    stream_dedup,
    tumbling_window_agg,
    compact_scd2_closed,
    scd2_history,
    scd2_sink,
    scd2_sink_incremental,
    upsert_sink,
    VersionedUpsertCommit,
    versioned_upsert_sink,
    user_totals_batch,
    write_stream_parquet,
)

__all__ = [
    "EVENTS_SCHEMA",
    "read_event_stream",
    "anomaly_stream",
    "kmv_running_sketch",
    "running_user_totals",
    "tumbling_window_agg",
    "sliding_window_agg",
    "session_window_agg",
    "sessionize_batch",
    "stream_dedup",
    "write_stream_parquet",
    "enrich_stream",
    "enrich_stream_fresh",
    "ohlc_stream",
    "purchases_with_recent_clicks",
    "scd2_sink",
    "scd2_sink_incremental",
    "scd2_history",
    "compact_scd2_closed",
    "upsert_sink",
    "versioned_upsert_sink",
    "VersionedUpsertCommit",
    "user_totals_batch",
    "near_dedup_stream",
    "semantic_dedup_stream",
    "curate_stream",
    "compact_near_dedup_index",
    "compact_near_dedup_data",
    "compact_near_dedup",
    "admitted_corpus",
]
