"""Plan-shape regression tests: the scale guarantees (pushdown, pruning,
broadcast, top-k heap, bounded shuffle counts) asserted via
big_data_project_spark.plans, so a refactor that silently degrades the
physical plan fails CI — not the 100 TB run."""

from __future__ import annotations

from big_data_project_spark import plans
from big_data_project_spark.registry import REGISTRY


def _df(name, spark, sf_dir):
    return REGISTRY[name].build(spark, sf_dir)


def test_q1_pushdown_and_pruning(spark, sf_dir):
    df = _df("q1_pricing_summary", spark, sf_dir)
    pushed = " ".join(plans.pushed_filters(df))
    assert "LessThanOrEqual(l_shipdate" in pushed, pushed
    cols = plans.read_schema_columns(df)
    assert "l_orderkey" not in cols and "l_partkey" not in cols, (
        f"column pruning lost: {cols}"
    )
    # partial+final agg over one shuffle (plus AQE read)
    assert plans.num_shuffles(df) <= 2


def test_p5_all_predicates_pushed(spark, sf_dir):
    df = _df("p5_filter_project", spark, sf_dir)
    pushed = " ".join(plans.pushed_filters(df))
    for frag in ("l_shipdate", "l_quantity", "l_returnflag"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_dim_joins_broadcast(spark, sf_dir):
    for name in ("j1_revenue_by_segment", "j2_part_revenue_by_brand",
                 "q3_shipping_priority", "q5_local_supplier"):
        df = _df(name, spark, sf_dir)
        assert plans.has_broadcast_join(df), f"{name} lost its broadcast join"


def test_topk_compiles_to_take_ordered(spark, sf_dir):
    for name in ("o2_top_parts", "e3_knn_l2", "q3_shipping_priority"):
        assert plans.is_take_ordered(_df(name, spark, sf_dir)), (
            f"{name} does a full sort instead of TakeOrderedAndProject"
        )


def test_single_shuffle_operators(spark, sf_dir):
    # window/as-of/sessionize/tumbling must stay one-shuffle shapes
    for name, budget in (
        ("w1_top_orders_per_customer", 1),
        ("j5_asof_join", 1),
        ("st_tumbling_hourly", 1),
        ("w3_frames", 1),
        ("w2_offsets", 1),
    ):
        got = plans.num_shuffles(_df(name, spark, sf_dir))
        assert got <= budget, f"{name}: {got} shuffles (budget {budget})"


def test_exact_knn_never_shuffles_the_table(spark, sf_dir):
    # broadcast query + TakeOrdered: zero Exchange on the embeddings side
    df = _df("e3_knn_l2", spark, sf_dir)
    assert plans.num_shuffles(df) == 0, plans.physical_plan(df)


def test_q17_decorrelates_to_join(spark, sf_dir):
    """The correlated scalar subquery must compile to an aggregate+join,
    not a per-row subquery execution."""
    df = _df("q17_correlated_subquery", spark, sf_dir)
    plan = plans.physical_plan(df)
    assert "Join" in plan
    # no leftover uncorrelated-scalar-subquery nodes executing per row
    assert "InSubqueryExec" not in plan


def test_profile_single_scan(spark, sf_dir):
    """profile_columns must compute all per-column stats in ONE scan
    (the round-1 implementation unioned one agg per column)."""
    from big_data_project_spark import io
    from big_data_project_spark.operators import relational

    df = relational.profile_columns(
        io.load_table(spark, sf_dir, "customer"),
        ["c_custkey", "c_mktsegment", "c_acctbal"],
    )
    plan = plans.physical_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    # approx mode: straight partial+final agg, no Expand
    assert "Expand" not in plan, plan
    rows = {r.column_name: r for r in df.collect()}
    assert rows["c_custkey"].n_null == 0
    assert rows["c_custkey"].n_rows == rows["c_mktsegment"].n_rows


def test_tf_idf_term_join_not_broadcast_hinted(spark, sf_dir):
    """The per-term document-frequency join must not force a broadcast —
    dfreq's cardinality is the corpus vocabulary (billions of terms at
    100 TB). Exactly one hint remains: the single-row corpus-size aggregate.
    AQE stays free to broadcast dfreq when it actually measures small."""
    from big_data_project_spark import io
    from big_data_project_spark.operators import text as tx

    docs = io.load_table(spark, sf_dir, "documents")
    out = tx.tf_idf(docs)
    assert plans.num_broadcast_hints(out) == 1, (
        "expected only the single-row N broadcast"
    )


def test_curation_ops_are_map_side_only(spark, sf_dir):
    """Deterministic sampling and splitting must stay pure narrow filters/
    projections — zero Exchange — or sampling 1% of 100 TB would pay a
    shuffle it doesn't need."""
    for name in ("cu_deterministic_sample", "cu_train_val_test"):
        df = _df(name, spark, sf_dir)
        assert plans.num_shuffles(df) == 0, (name, plans.physical_plan(df))


def test_stateful_batch_twins_shuffle_once(spark, sf_dir):
    """The per-user fold is one hash shuffle on user_id; the interval join
    must be an equi-join on user_id (range as post-condition), never a
    cartesian/nested-loop over unbounded sides."""
    totals = _df("st_running_totals_batch", spark, sf_dir)
    assert plans.num_shuffles(totals) <= 1, plans.physical_plan(totals)
    ij = _df("st_interval_join", spark, sf_dir)
    p = plans.physical_plan(ij)
    assert "CartesianProduct" not in p, p
    # equi-key present: either SMJ/SHJ on user_id or a size-based broadcast
    # hash join — both keyed; BroadcastNestedLoop would mean the equi-key
    # was lost and state is unbounded at scale
    assert "BroadcastNestedLoopJoin" not in p, p


def test_mixture_ops_are_map_side_only(spark, sf_dir):
    """Mixture sampling and epoch-repeat upsampling are literal-map lookups
    plus a narrow filter/explode — zero Exchange; a rates-table join here
    would tax every corpus pass at 100 TB."""
    for name in ("cu_mixture_weights", "cu_upsample"):
        df = _df(name, spark, sf_dir)
        assert plans.num_shuffles(df) == 0, (name, plans.physical_plan(df))


def test_pack_by_token_budget_shuffles_once(spark, sf_dir):
    """Sequence packing is n_shards parallel running-sum windows — exactly
    one hash shuffle on shard, never a global single-partition sort."""
    df = _df("cu_pack_token_budget", spark, sf_dir)
    assert plans.num_shuffles(df) <= 1, plans.physical_plan(df)
    assert "SinglePartition" not in plans.physical_plan(df)


def test_decontaminate_no_forced_broadcast(spark, sf_dir):
    """Decontamination must not HINT a broadcast of the eval shingle set —
    an eval suite can be arbitrarily large; AQE may still choose one at
    runtime when the measured size is small."""
    from big_data_project_spark import io
    from big_data_project_spark.operators import dedup as dd

    docs = io.load_table(spark, sf_dir, "documents")
    ev = docs.limit(20)
    df = dd.decontaminate(docs, ev, n=8)
    assert plans.num_broadcast_hints(df) == 0, plans.physical_plan(df)


def test_remove_hot_lines_no_forced_broadcast(spark, sf_dir):
    """Line-level dedup must not HINT a broadcast of the hot-line set (its
    size is corpus-dependent); the doc-rebuild stays linear — no
    SinglePartition stage anywhere."""
    df = _df("dd_line_dedup", spark, sf_dir)
    assert plans.num_broadcast_hints(df) == 0, plans.physical_plan(df)
    assert "SinglePartition" not in plans.physical_plan(df)


def test_dedup_against_snapshot_no_forced_broadcast(spark, sf_dir):
    """The snapshot fingerprint side is the BIG side at 100 TB — a forced
    broadcast would OOM; the anti-join must stay a plain equi-join."""
    from pyspark.sql import functions as F

    from big_data_project_spark import io
    from big_data_project_spark.operators import dedup as dd

    docs = io.load_table(spark, sf_dir, "documents")
    new = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    df = dd.dedup_against_snapshot(new, docs)
    assert plans.num_broadcast_hints(df) == 0, plans.physical_plan(df)


def test_filter_quality_is_narrow(spark, sf_dir):
    """The quality filter is a pure map-side filter: zero shuffles, so it
    composes under any downstream join without its own stage."""
    from big_data_project_spark import io
    from big_data_project_spark.operators import text as tx

    docs = io.load_table(spark, sf_dir, "documents")
    df = tx.filter_quality(docs)
    assert plans.num_shuffles(df) == 0, plans.physical_plan(df)


def test_round3_entries_shuffle_budgets(spark, sf_dir):
    """Pin the new entries' plan shapes: distribution windows are one hash
    shuffle; simhash is explode + one partial+final aggregate; the
    embedding oracle stage is a narrow Catalyst hash-embed chain +
    explode. Since r11 the embed stage may carry ONE conditional
    repartition — spread_input's input-parallelism floor, which fires
    only when the planned scan parallelism is below the session floor
    (the sandbox's single-row-group files); an at-scale scan that
    already splits keeps the zero-exchange shape."""
    for name, budget in (
        ("w4_distribution", 1),
        ("dd_simhash", 1),
        ("e1_hash_embed", 1),
    ):
        got = plans.num_shuffles(_df(name, spark, sf_dir))
        assert got <= budget, (name, got, plans.physical_plan(_df(name, spark, sf_dir)))


def test_q6_is_pure_scan_aggregate(spark, sf_dir):
    """Q6 is the I/O floor: every predicate pushed to the parquet scan, read
    schema pruned to exactly the 4 referenced columns, and one partial+final
    aggregate (a single SinglePartition exchange carrying one row/task)."""
    df = _df("q6_forecast_revenue", spark, sf_dir)
    pushed = " ".join(plans.pushed_filters(df))
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    cols = plans.read_schema_columns(df)
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols
    assert plans.num_shuffles(df) <= 1, plans.physical_plan(df)


def test_exists_shapes_decorrelate_to_hash_joins(spark, sf_dir):
    """Q4's EXISTS and Q21's EXISTS+NOT EXISTS must compile to semi/anti
    hash joins — a nested-loop fallback would be quadratic in lineitem."""
    q4 = plans.physical_plan(_df("q4_priority_late", spark, sf_dir))
    assert "LeftSemi" in q4, q4
    q21 = plans.physical_plan(_df("q21_sole_blame", spark, sf_dir))
    assert "LeftSemi" in q21 and "LeftAnti" in q21, q21
    for p in (q4, q21):
        assert "CartesianProduct" not in p


def test_tpch_dim_joins_broadcast(spark, sf_dir):
    """The new multi-join shapes end up with broadcast joins at test scale
    (hinted for fixed-size nation/region, AQE-chosen for everything else);
    the only hash shuffles are fact⋈fact."""
    for name in (
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q14_promo_effect",
        "q19_disjunctive_join",
    ):
        df = _df(name, spark, sf_dir)
        assert plans.has_broadcast_join(df), f"{name} lost its broadcast join"


def test_tpch_hints_only_on_fixed_size_dims(spark, sf_dir):
    """Mandatory broadcast hints are allowed ONLY for nation/region (25/5
    rows at every SF). part/supplier/customer scale with the data — a hint
    there OOMs a 100 TB run, so those joins must stay AQE-decided."""
    for name, max_hints in (
        ("q7_volume_shipping", 2),   # two nation roles
        ("q8_market_share", 3),      # nation ×2 + region
        ("q9_product_profit", 1),    # nation
        ("q14_promo_effect", 0),
        ("q16_supplier_part_count", 0),
        ("q19_disjunctive_join", 0),
        ("q13_customer_distribution", 0),
        ("q12_late_priority", 0),
        ("q6_forecast_revenue", 0),
    ):
        got = plans.num_broadcast_hints(_df(name, spark, sf_dir))
        assert got <= max_hints, (name, got, max_hints)


def test_q16_not_in_is_anti_join(spark, sf_dir):
    """NOT IN over the non-nullable supplier key must be a left-anti hash
    join, not a filter over a collected subquery."""
    p = plans.physical_plan(_df("q16_supplier_part_count", spark, sf_dir))
    assert "LeftAnti" in p, p


def test_q13_histogram_shuffle_budget(spark, sf_dir):
    """Q13 needs the custkey shuffle and the tiny histogram shuffle; the
    per-customer aggregate must reuse the join's partitioning rather than
    re-exchange."""
    df = _df("q13_customer_distribution", spark, sf_dir)
    assert plans.num_shuffles(df) <= 4, plans.physical_plan(df)


def test_span_dedup_and_event_ops_shuffle_budgets(spark, sf_dir):
    """Span dedup (skew-safe default): gram-hash partial+final aggregate,
    AQE-skew-splittable join-back, one doc_id window whose partitioning
    the island/doc rollups reuse — bounded, not per-stage re-exchanged.
    Transitions: the user_id window shuffle plus the tiny type-pair
    aggregate."""
    for name, budget in (
        ("dd_span_dedup", 5),
        ("ev_transitions", 2),
        ("ev_retention_cohorts", 5),
    ):
        got = plans.num_shuffles(_df(name, spark, sf_dir))
        assert got <= budget, (name, got, plans.physical_plan(_df(name, spark, sf_dir)))


def test_ts_anomaly_shuffle_budget(spark, sf_dir):
    """One (key,bucket) hash aggregate + one per-key window; the window must
    reuse the aggregate's partitioning where possible — never more than the
    two keyed exchanges."""
    got = plans.num_shuffles(_df("ts_anomaly", spark, sf_dir))
    assert got <= 2, (got, plans.physical_plan(_df("ts_anomaly", spark, sf_dir)))


def test_bm25_topk_compiles_to_take_ordered(spark, sf_dir):
    df = _df("tx_bm25", spark, sf_dir)
    assert plans.is_take_ordered(df)


def test_winsorize_has_no_forced_broadcast(spark, sf_dir):
    """The per-group threshold table scales with key cardinality — AQE may
    broadcast it when small, but a mandatory hint would OOM at high-card
    keys."""
    assert plans.num_broadcast_hints(_df("a14_winsorize", spark, sf_dir)) == 0


def test_inverted_index_broadcasts_only_corpus_count(spark, sf_dir):
    """The single-row corpus count is the only legal hint; the df table
    scales with vocabulary and must stay AQE-decided."""
    assert plans.num_broadcast_hints(_df("tx_inverted_index", spark, sf_dir)) == 1


def test_pagerank_has_no_cartesian_and_bounded_hints(spark, sf_dir):
    """Per sweep the only broadcast is the single-row node count (the
    BroadcastNestedLoopJoin it feeds is a 1-row cross, not a cartesian
    blowup); degree/rank joins must stay plain hash joins."""
    df = _df("gr_pagerank", spark, sf_dir)
    assert "CartesianProduct" not in plans.physical_plan(df)


def test_ohlc_and_ewma_shuffle_budgets(spark, sf_dir):
    """OHLC: the window and the rollup share (event_type, bucket)
    partitioning — one data shuffle (+ possible AQE read). EWMA: one count
    aggregate + one per-key fold."""
    assert plans.num_shuffles(_df("ts_ohlc", spark, sf_dir)) <= 2
    assert plans.num_shuffles(_df("ts_ewma", spark, sf_dir)) <= 2


def test_table_diff_and_expectations_shuffle_budgets(spark, sf_dir):
    """Diff: one full-outer hash join. Expectations: each rule family is a
    scan + bounded aggregate; nothing multiplies the fact table."""
    assert plans.num_shuffles(_df("mt_table_diff", spark, sf_dir)) <= 3
    assert "CartesianProduct" not in plans.physical_plan(
        _df("mt_expectations", spark, sf_dir)
    )


def test_pq_and_classifier_broadcast_models(spark, sf_dir):
    """PQ's codebook and the hashed classifier's weight table are
    fixed-width models — their joins must stay broadcast, never shuffle
    the scored stream."""
    for name in ("e9_pq_encode", "e9_pq_adc_topk", "tx_classifier"):
        df = _df(name, spark, sf_dir)
        assert plans.has_broadcast_join(df), f"{name} lost its broadcast model join"


def test_lm_fluency_no_forced_vocab_broadcast(spark, sf_dir):
    """The bigram LM table is vocabulary-sized — a mandatory broadcast
    would OOM at 100 TB (the TF-IDF lesson). AQE may still choose one at
    runtime; the PLAN must not force it."""
    df = _df("tx_lm_fluency", spark, sf_dir)
    assert plans.num_broadcast_hints(df) == 0, plans.physical_plan(df)


def test_mean_pool_single_shuffle(spark, sf_dir):
    df = _df("e8_mean_pool", spark, sf_dir)
    assert plans.num_shuffles(df) <= 1, plans.physical_plan(df)


def test_bpe_vocab_single_shuffle(spark, sf_dir):
    """Encode is narrow (explode + string replaces); only the histogram
    groupBy may shuffle."""
    df = _df("tx_bpe_vocab", spark, sf_dir)
    assert plans.num_shuffles(df) <= 1, plans.physical_plan(df)


def test_interval_overlap_join_is_nested_loop_free(spark, sf_dir):
    """The binned interval join's whole point: an interval-vs-interval
    theta join that compiles to a hash EQUI-join on the time bin, never
    CartesianProduct / BroadcastNestedLoopJoin."""
    df = _df("j10_interval_overlap", spark, sf_dir)
    p = plans.physical_plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Join" in p  # and it's still an actual join


def test_shuffle_shards_single_shuffle(spark, sf_dir):
    """Shard assignment is map-side; only the per-shard position window
    shuffles."""
    df = _df("cu_shuffle_shards", spark, sf_dir)
    assert plans.num_shuffles(df) <= 1, plans.physical_plan(df)


def test_skew_report_is_takeordered_aggregate(spark, sf_dir):
    """Top-k over the key counts must be a heap (TakeOrderedAndProject),
    not a full sort of the distinct-key set."""
    df = _df("mt_skew_report", spark, sf_dir)
    assert plans.is_take_ordered(df), plans.physical_plan(df)


def test_null_safe_join_is_hash_not_nested_loop(spark, sf_dir):
    """EqualNullSafe is a proper equi-join predicate: the plan must be a
    hash/SMJ join, never CartesianProduct / BroadcastNestedLoopJoin."""
    df = _df("j11_null_safe_join", spark, sf_dir)
    p = plans.physical_plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Join" in p


def test_cms_sketch_and_estimate_shuffle_budget(spark, sf_dir):
    """CMS build = one partial+final count agg onto <= depth*width cells;
    the heavy-hitter entry adds the token-count agg and the top-20 probe
    joins (AQE-broadcast) — the fact table is never shuffled twice for
    one purpose."""
    df = _df("mt_cms_heavy_hitters", spark, sf_dir)
    assert plans.num_shuffles(df) <= 5, plans.physical_plan(df)


def test_conditional_aggs_single_shuffle(spark, sf_dir):
    df = _df("a17_conditional_aggs", spark, sf_dir)
    assert plans.num_shuffles(df) <= 1, plans.physical_plan(df)


def test_recursive_spine_uses_union_loop(spark, sf_dir):
    """WITH RECURSIVE must plan as Spark's iterative UnionLoop over the
    one-row-per-month frame — while the revenue side stays a distributed
    aggregate (a shuffle is present, the recursion is not the fact scan)."""
    df = _df("q_recursive_spine", spark, sf_dir)
    p = plans.physical_plan(df)
    assert "UnionLoop" in p, p


def test_map_in_arrow_plans_as_arrow_eval(spark, sf_dir):
    """u7 must go through the Arrow map operator (and prune its input to
    the two selected columns), not a pandas or row-python boundary."""
    df = _df("u7_map_in_arrow", spark, sf_dir)
    p = plans.physical_plan(df)
    assert "MapInArrow" in p, p
    cols = plans.read_schema_columns(df)
    assert "lang" not in cols and "source" not in cols, cols


def test_explode_outer_is_generate_outer(spark, sf_dir):
    """Generate's third argument is the outer flag — rendered as a bare
    `true` in the plan string (`Generate explode(w), [doc_id], true, ...`),
    not the word 'outer'."""
    df = _df("p16_explode_outer", spark, sf_dir)
    p = plans.physical_plan(df)
    assert "Generate explode" in p, p
    import re

    assert re.search(r"Generate explode\([^)]*\), \[[^\]]*\], true, ", p), p


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, sf_dir, tmp_path):
    """DPP: joining a month-partitioned fact to a selectively-filtered dim
    must inject a dynamicpruning subquery into the fact scan — at 100 TB
    this is the difference between scanning 2 partitions and scanning all
    of them. The engine's date-partitioned layouts
    (maintenance.write_partitioned_by_day) rely on exactly this."""
    from pyspark.sql import functions as F

    from big_data_project_spark import io, plans

    orders = io.load_table(spark, sf_dir, "orders").withColumn(
        "month", F.month("o_orderdate")
    )
    path = str(tmp_path / "orders_by_month")
    orders.write.partitionBy("month").mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.range(1, 13).select(
        F.col("id").cast("int").alias("month"),
        F.lit("q").alias("quarter"),
    ).where(F.col("month").isin(3, 7))
    j = fact.join(dim, "month").groupBy("quarter").count()
    assert "dynamicpruning" in plans.physical_plan(j).lower(), (
        plans.physical_plan(j)
    )


def test_runtime_bloom_filter_injects_on_selective_fact_fact_join(
    spark, sf_dir, tmp_path
):
    """Spark's OWN runtime Bloom filter (the built-in cousin of
    relational.bloom_prune_join): a selective fact-fact join gets a
    bloom_filter_agg/might_contain prefilter pushed onto the probe side.
    Thresholds are tuned for 100 TB defaults (creation side ≤ 10 MB,
    application side ≥ 10 GB scan), so the test lowers the application
    floor to make the small fixture eligible — the plan shape is what is
    pinned."""
    from pyspark.sql import functions as F

    from big_data_project_spark import io, plans

    path = str(tmp_path / "lineitem_rt")
    io.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    ).write.mode("overwrite").parquet(path)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(path)
        selective = (
            spark.read.parquet(path)
            .where(F.col("l_quantity") >= 49)
            .select("l_orderkey")
        )
        j = fact.join(selective, "l_orderkey")
        assert "might_contain" in plans.physical_plan(j).lower(), (
            plans.physical_plan(j)
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rag_batch_broadcasts_queries_single_table_pass(spark, sf_dir):
    """Serving-shape pin: the batched RAG plan broadcasts the query set
    (knn_topk_batch) so N questions ride one embeddings scan; per-question
    top-k + prompt assembly are keyed shuffles on qid, never a global
    sort or a per-question loop."""
    df = _df("r6_rag_batch", spark, sf_dir)
    p = plans.physical_plan(df)
    assert plans.num_broadcast_hints(df) >= 1, p  # the query-set broadcast
    assert "CartesianProduct" not in p, p
    assert plans.num_shuffles(df) <= 4, p


def _query_vector(spark, sf_dir):
    from big_data_project_spark import io

    emb = io.load_table(spark, sf_dir, "embeddings")
    q = emb.select("embedding").limit(1).collect()[0].embedding
    return emb, spark.createDataFrame([(q,)], "q array<float>")


def test_knn_topk_broadcasts_the_query_not_the_table(spark, sf_dir):
    """A createDataFrame query has no size statistics: knn_topk must still
    broadcast it (BuildRight) and never put the embeddings scan under a
    BroadcastExchange."""
    from big_data_project_spark.operators import vector

    emb, query = _query_vector(spark, sf_dir)
    lines = plans.physical_plan(vector.knn_topk(emb, query, k=7)).splitlines()
    assert any(
        "BroadcastNestedLoopJoin BuildRight" in ln for ln in lines
    ), "\n".join(lines)
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        depth = ln.index("BroadcastExchange")
        for below in lines[i + 1:]:
            if len(below) - len(below.lstrip(" :+-")) <= depth:
                break
            assert "embeddings" not in below, "\n".join(lines)


def test_run_rag_without_model_runs_no_python(spark, sf_dir):
    """With no pipeline loader (and no transformers on the driver), the
    single-question RAG plan is JVM-only: the executed plan has no Python
    node, so a question launches no Python-worker task of its own."""
    import importlib.util

    import pytest

    from big_data_project_spark import io
    from big_data_project_spark.operators import rag

    if importlib.util.find_spec("transformers") is not None:
        pytest.skip("transformers importable: generate_answers takes the model path")
    emb, query = _query_vector(spark, sf_dir)
    df = rag.run_rag(emb, io.load_table(spark, sf_dir, "documents"), query, "q", k=7)
    assert len(df.collect()) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInArrow"):
        assert node not in plan, plan


def test_sq8_topk_never_shuffles_the_codes(spark, sf_dir):
    """SQ8 serving must keep exact-knn's shape: broadcast single-row query
    + in-fold reconstruction + TakeOrdered — zero Exchange on the encoded
    side (the whole point of scanning ints instead of floats would die in
    a shuffle of reconstructed vectors)."""
    df = _df("e11_sq8_topk", spark, sf_dir)
    assert plans.num_shuffles(df) == 0, plans.physical_plan(df)
    assert "TakeOrderedAndProject" in plans.physical_plan(df)


def test_lsh_guard_clean_plan_identical_to_unguarded(spark, sf_dir):
    """VERDICT r6 #1: the two-phase hot-bucket guard must be pay-only-when-
    firing — on a corpus with NO hot bucket, the candidate plan with the
    default cap is BYTE-IDENTICAL (modulo expr ids) to bucket_cap=None.
    The probe job runs before plan construction returns; it must leave no
    trace (no join-back, no filter, no broadcast) in the main plan."""
    import re

    from big_data_project_spark import io
    from big_data_project_spark.operators import dedup

    d = io.load_table(spark, sf_dir, "documents")

    def norm(plan: str) -> str:
        p = re.sub(r"#\d+", "#x", plan)
        p = re.sub(r"plan_id=\d+", "plan_id=n", p)
        p = re.sub(r"\b([xy])_\d+", r"\1_n", p)  # lambda var numbering
        return re.sub(r"ExistingRDD\[\d+\]", "ExistingRDD[n]", p)

    guarded = dedup.minhash_lsh_candidates(d, bucket_cap=1024)
    unguarded = dedup.minhash_lsh_candidates(d, bucket_cap=None)
    assert norm(plans.physical_plan(guarded)) == norm(
        plans.physical_plan(unguarded)
    )


def test_semantic_guard_clean_plan_identical_to_uncapped(spark, sf_dir):
    """Same contract for semantic_dedup's cluster guard: default cap on a
    corpus whose clusters stay under it leaves the pairing plan identical
    to cluster_cap=None."""
    import re

    from big_data_project_spark import io
    from big_data_project_spark.operators import vector

    emb = io.load_table(spark, sf_dir, "embeddings")

    def norm(plan: str) -> str:
        p = re.sub(r"#\d+", "#x", plan)
        p = re.sub(r"plan_id=\d+", "plan_id=n", p)
        p = re.sub(r"\b([xy])_\d+", r"\1_n", p)  # lambda var numbering
        return re.sub(r"ExistingRDD\[\d+\]", "ExistingRDD[n]", p)

    capped = vector.semantic_dedup(emb, n_clusters=8, threshold=0.4)
    uncapped = vector.semantic_dedup(
        emb, n_clusters=8, threshold=0.4, cluster_cap=None
    )
    assert norm(plans.physical_plan(capped)) == norm(
        plans.physical_plan(uncapped)
    )


def test_lineage_cut_reliable_and_persist_modes_match_oracle(
    spark, duck, sf_dir, tmp_path
):
    """VERDICT r7 #5: every lineage-cut site honors spark.bdps.lineageCut.
    Run the flagship dedup entry end-to-end under 'reliable'
    (checkpoint() to a tmp dir — the real-cluster mode where executor
    loss must not kill the job), value-matching the DuckDB oracle;
    'local' is what every other test runs. 'persist' is not a mode: it
    and any other unknown value must fail the conf validation."""
    from big_data_project_spark.plans.lineage import (
        CHECKPOINT_DIR_KEY,
        CONF_KEY,
        lineage_cut,
    )
    from big_data_project_spark.registry import REGISTRY
    from tests.conftest import assert_matches_oracle

    q = REGISTRY["dd_near_dedup_lsh"]
    try:
        spark.conf.set(CONF_KEY, "reliable")
        spark.conf.set(CHECKPOINT_DIR_KEY, str(tmp_path / "ck"))
        assert_matches_oracle(q.build(spark, sf_dir), duck, q.oracle)
        import os

        assert os.listdir(tmp_path / "ck")  # checkpoint blocks really wrote
        import pytest as _pt

        for bad in ("persist", "bogus"):
            spark.conf.set(CONF_KEY, bad)
            with _pt.raises(ValueError, match="lineageCut"):
                lineage_cut(spark.range(3))
    finally:
        spark.conf.set(CONF_KEY, "local")
