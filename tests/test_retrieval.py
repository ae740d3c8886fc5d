"""Hybrid-retrieval semantics: BM25 ranking behavior and integer RRF laws."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_project_spark.operators import text, vector


def test_bm25_ranks_matching_docs_first(spark):
    rows = [
        (1, "join aaa bbb"),
        (2, "join join join"),
        (3, "completely unrelated words here"),
        (4, "join aaa bbb ccc ddd eee fff ggg"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.bm25_topk(docs, ["join"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids  # no query term -> no row
    assert set(ids) == {1, 2, 4}
    # same length, higher tf wins; same tf, shorter doc wins
    assert ids[0] == 2 and ids.index(1) < ids.index(4)


def test_sql_str_round_trips_quotes_and_backslashes(spark):
    values = ["Amazon's", "it''s", "a\\b", "\\'", "100\\%", "\\u0041", "\\n", "l1\nl2\tx", "€ ü"]
    row = spark.sql(
        "SELECT " + ", ".join(f"{text.sql_str(v)} AS c{i}" for i, v in enumerate(values))
    ).collect()[0]
    assert list(row) == values


def test_bm25_term_with_apostrophe(spark):
    docs = spark.createDataFrame(
        [(1, "amazon's bet"), (2, "amazons bet")], ["doc_id", "text"]
    )
    out = text.bm25_topk(docs, ["amazon's"], k=10).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_rrf_fusion_rewards_presence_in_both_lists(spark):
    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(12, 1), (13, 2)], ["doc_id", "rank"])
    out = {
        r["doc_id"]: (r["rrf_score"], r["n_lists"])
        for r in vector.rrf_fuse([a, b]).collect()
    }
    # doc 12 appears in both lists (ranks 3 and 1) and must beat doc 10
    # (single list, rank 1)
    assert out[12][1] == 2 and out[10][1] == 1
    assert out[12][0] == 10**9 // 63 + 10**9 // 61
    assert out[10][0] == 10**9 // 61
    assert out[12][0] > out[10][0]


# ---------------------------------------------------------------------------
# MMR diversity rerank
# ---------------------------------------------------------------------------

def test_mmr_lambda_one_reduces_to_topk(spark):
    import math

    from big_data_project_spark.operators import vector

    rows = [
        (i, [math.sin(i * 0.31 + j * 0.7) for j in range(8)], 10.0 - i)
        for i in range(8)
    ]
    cand = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, score double"
    )
    out = vector.mmr_rerank(cand, k=4, lam=1.0).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [0, 1, 2, 3]  # pure relevance order


def test_mmr_spreads_across_clusters(spark):
    """Candidates: 3 near-identical copies of the top hit + one distinct
    direction. Plain top-3 takes the three copies; MMR must include the
    distinct one."""
    from big_data_project_spark.operators import vector

    e1 = [1.0, 0.0, 0.0, 0.0]
    e1b = [0.999, 0.001, 0.0, 0.0]
    e1c = [0.998, 0.002, 0.0, 0.0]
    e2 = [0.0, 1.0, 0.0, 0.0]
    cand = spark.createDataFrame(
        [(1, e1, 1.00), (2, e1b, 0.99), (3, e1c, 0.98), (4, e2, 0.50)],
        "vec_id long, embedding array<float>, score double",
    )
    picked = {r.vec_id for r in vector.mmr_rerank(cand, k=3, lam=0.5).collect()}
    assert 4 in picked, picked
    assert 1 in picked  # first pick is still the top-relevance hit


def test_mmr_ranks_zero_norm_embedding_last(spark):
    """A zero vector in the head (e.g. the hash embedding of empty text)
    has a NULL cosine to everything (the guard makes it NULL under ANSI
    too, where a bare division would throw): its mmr_score is NULL and it
    is ranked last (round-5 review finding)."""
    from big_data_project_spark.operators import vector

    cand = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0.9),
            (2, [0.0, 0.0], 0.8),  # zero norm
            (3, [0.5, 0.5], 0.7),
        ],
        "vec_id long, embedding array<float>, score double",
    )
    eng = vector.mmr_rerank(cand, k=3, lam=0.6).orderBy("rank").collect()
    assert [(r.vec_id, r.rank) for r in eng] == [(1, 1), (3, 2), (2, 3)]
    assert eng[-1].mmr_score is None


def test_mmr_rejects_nonpositive_k(spark):
    """k<1 used to silently return 1 row — it must refuse instead."""
    from big_data_project_spark.operators import vector

    cand = spark.createDataFrame(
        [(1, [1.0, 0.0], 0.9)], "vec_id long, embedding array<float>, score double"
    )
    with pytest.raises(ValueError, match="k must be"):
        vector.mmr_rerank(cand, k=0)


def test_unknown_metric_is_rejected_by_batch_knn(spark):
    """knn_topk_batch used to score any unknown metric as l2."""
    from big_data_project_spark.operators import vector

    emb = spark.createDataFrame(
        [(1, "a", [1.0, 0.0])], "vec_id long, label string, embedding array<double>"
    )
    queries = spark.createDataFrame([(0, [1.0, 0.0])], "qid int, q array<double>")
    for metric in ("l1", "IP", "dot"):
        with pytest.raises(ValueError, match="unknown metric"):
            vector.knn_topk_batch(emb, queries, metric=metric)
    assert vector.knn_topk_batch(emb, queries, metric="l2").count() == 1


# ---------------------------------------------------------------------------
# SRT caption parsing + video/caption alignment
# ---------------------------------------------------------------------------

def test_parse_srt_real_world_shapes(spark):
    """Multi-line cue text, dot millisecond separators, CRLF line endings,
    and malformed blocks (BOM junk, missing arrow) — parsed or dropped
    exactly as a real .srt reader must."""
    srt = (
        "﻿junk header without arrow\n\n"
        "1\n00:00:01,000 --> 00:00:04,250\nHello world\n\n"
        "2\r\n00:01:02.500 --> 01:00:00.000\r\nline one\r\nline two\r\n\r\n"
        "not-a-number\n00:00:05,000 --> 00:00:06,000\ndropped\n\n"
    )
    df = spark.createDataFrame([(1, srt)], "doc_id long, srt string")
    rows = {r.cue_index: r for r in text.parse_srt(df).collect()}
    assert set(rows) == {1, 2}
    assert (rows[1].start_ms, rows[1].end_ms, rows[1].text) == (
        1000, 4250, "Hello world"
    )
    assert rows[2].start_ms == 62500
    assert rows[2].end_ms == 3600000
    assert rows[2].text == "line one\r\nline two"  # trailing \r goes with the separator
    # empty / arrowless documents parse to zero cues, not errors
    empty = spark.createDataFrame([(2, "no cues here")], "doc_id long, srt string")
    assert text.parse_srt(empty).count() == 0


def test_parse_vtt_real_world_shapes(spark):
    """WEBVTT header + NOTE blocks walked over; optional cue id and
    optional hours; settings tail ignored; multi-line text; file-final
    newline trimmed from the last cue."""
    vtt = (
        "WEBVTT\n\n"
        "NOTE a comment block\n\n"
        "c-one\n00:05.000 --> 00:07.500 align:start\nHello\nworld\n\n"
        "01:02:03.250 --> 01:02:04.000\nno id here\n"
    )
    df = spark.createDataFrame([(1, vtt)], "doc_id long, vtt string")
    rows = {r.cue_ord: r for r in text.parse_vtt(df).collect()}
    assert set(rows) == {1, 2}
    assert (rows[1].cue_id, rows[1].start_ms, rows[1].end_ms, rows[1].text) == (
        "c-one", 5000, 7500, "Hello\nworld"
    )
    assert rows[2].cue_id is None
    assert (rows[2].start_ms, rows[2].end_ms) == (3723250, 3724000)
    assert rows[2].text == "no id here"


def test_align_captions_to_frames_left_semantics(spark):
    """Frames outside every cue survive with NULL cue columns; in-range
    frames pair with their own video's cue only."""
    from big_data_project_spark.operators import multimodal as mm

    frames = spark.createDataFrame(
        [(1, 0, 0), (1, 1, 30), (2, 0, 0)],
        "doc_id long, frame_index int, t_cs long",
    )
    captions = spark.createDataFrame(
        [(1, 1, 250, 400, "one"), (2, 1, 0, 100, "two")],
        "doc_id long, cue_index int, start_ms long, end_ms long, text string",
    )
    got = {
        (r.doc_id, r.frame_index): (r.cue_index, r.caption)
        for r in mm.align_captions_to_frames(frames, captions).collect()
    }
    assert got[(1, 0)] == (None, None)      # 0 ms before cue [250, 400]
    assert got[(1, 1)] == (1, "one")        # 300 ms inside it
    assert got[(2, 0)] == (1, "two")        # other video's own cue
    # the range is a residual on an equi-join, never a cartesian product
    plan = (
        mm.align_captions_to_frames(frames, captions)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
