"""À-la-carte operator API: the registry proves families via op-tagged
composites, but the individual functions are the user-facing API — each
needs at least one direct behavioral test so none of them rots as dead
code behind its composite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_project_spark import io


def test_filter_rows_and_dedup_exact(spark, sf_dir):
    from big_data_project_spark.operators import cleaning, relational

    cust = io.load_table(spark, sf_dir, "customer")
    f = relational.filter_rows(cust, F.col("c_acctbal") > 0)
    assert f.count() == cust.where("c_acctbal > 0").count()

    dup = cust.limit(5).unionByName(cust.limit(5))
    assert cleaning.dedup_exact(dup, ["c_custkey"]).count() == 5


def test_except_all_multiset_semantics(spark):
    from big_data_project_spark.operators import cleaning

    a = spark.createDataFrame([(1,), (1,), (2,)], ["x"])
    b = spark.createDataFrame([(1,)], ["x"])
    got = sorted(r.x for r in cleaning.except_all_rows(a, b).collect())
    assert got == [1, 2]  # one copy of 1 survives (EXCEPT ALL, not EXCEPT)


def test_event_value_delta_and_rolling_spend(spark, sf_dir):
    from big_data_project_spark.operators import relational

    ev = io.load_table(spark, sf_dir, "events").limit(500)
    d = relational.event_value_delta(ev)
    # first event per user has NULL delta; all others are value - lag
    per_user = d.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum(F.col("delta").isNull().cast("int")).alias("n_null"),
    )
    assert per_user.where("n_null != 1").count() == 0

    orders = io.load_table(spark, sf_dir, "orders")
    r = relational.rolling_order_spend(orders, frame=1000000)
    # with an effectively-unbounded frame the last row per customer equals
    # the customer's total spend
    w_tot = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("tot")
    )
    last = r.groupBy("o_custkey").agg(F.max("rolling_spend").alias("mx"))
    joined = w_tot.join(last, "o_custkey")
    assert joined.where(F.abs(F.col("tot") - F.col("mx")) > 0.02).count() == 0


def test_hamming_distance_column(spark):
    from big_data_project_spark.operators import dedup as dd

    df = spark.createDataFrame([(0b1011, 0b0011), (7, 7)], ["a", "b"])
    got = [r.d for r in df.select(dd.hamming_distance(F.col("a"), F.col("b")).alias("d")).collect()]
    assert got == [1, 0]


def test_bpe_ish_token_count(spark):
    from big_data_project_spark.operators import text as tx

    df = spark.createDataFrame(
        [("ab cd",), ("internationalization",)], ["text"]
    )
    got = [r.n for r in df.select(tx.bpe_ish_token_count("text").alias("n")).collect()]
    assert got[0] == 2          # two short words -> one token each
    assert got[1] == 5          # 20 chars -> ceil(20/4)


def test_sniff_media_type_magic(spark):
    from big_data_project_spark.operators import multimodal as mm

    rows = [
        (bytearray(b"\x89PNG\r\n\x1a\n...."),),
        (bytearray(b"plain text bytes"),),
    ]
    df = spark.createDataFrame(rows, "payload: binary")
    got = [r.t for r in df.select(mm.sniff_media_type("payload").alias("t")).collect()]
    assert got == ["image/png", "application/octet-stream"]


def test_sql_sniff_mirrors_enumerate_every_magic():
    """Every oracle CASE that mirrors sniff_media_type must list EVERY key
    of multimodal.MAGIC — a magic added engine-side but not mirrored is a
    latent corpus-dependent hash mismatch (a text payload can legitimately
    start with any pure-ASCII magic like 'YUV4', 'BM', 'GIF8', 'RIFF')."""
    import re
    import inspect

    from big_data_project_spark import registry
    from big_data_project_spark.operators import multimodal as mm

    src = inspect.getsource(registry)
    # a mirror block = contiguous CASE ... 'application/octet-stream' END
    blocks = re.findall(
        r"CASE\s+WHEN.*?'application/octet-stream'\s+END", src, re.S
    )
    mirrors = [b for b in blocks if "substr(hex(" in b]
    assert len(mirrors) >= 3, "expected the three sniff mirrors"
    for block in mirrors:
        for magic, mtype in mm.MAGIC.items():
            assert magic in block, (
                f"sniff mirror missing MAGIC {magic!r} ({mtype}): add "
                f"\"WHEN substr(hex(...), 1, {len(magic)}) = '{magic}' "
                f"THEN '{mtype}'\" to keep the SQL oracle in lockstep"
            )
            assert mtype in block


def test_hash_embed_unit_norm_and_determinism():
    from big_data_project_spark.plugins import hash_embed

    a = hash_embed("some text", dim=16)
    b = hash_embed("some text", dim=16)
    assert a == b and len(a) == 16
    assert abs(sum(x * x for x in a) - 1.0) < 1e-9


def test_davg_is_decimal_exact(spark):
    from big_data_project_spark.operators import relational

    df = spark.createDataFrame([(0.1,), (0.2,), (0.3,)], ["v"])
    got = df.agg(relational.davg("v", 1).alias("m")).collect()[0].m
    # each value rounds to exact decimal 0.1/0.2/0.3, the sum is exactly
    # decimal 0.6 regardless of order, and the final /3 happens once in
    # double — bit-identical to python 0.6/3
    assert got == 0.6 / 3


def test_connector_helpers_fail_loudly_offline():
    """The live-fetch helpers are real stdlib-urllib code now (not raising
    seams); in this offline container they must surface the network error
    untouched — never fabricate rows."""
    from urllib.error import URLError

    from big_data_project_spark import sources

    with pytest.raises((URLError, OSError, ValueError)):
        sources.fetch_cnbc_articles("https://localhost:1/index", "prefix")
    # base_url injected as unroutable so the test is environment-independent
    # (a networked host must not silently reach the real feed here)
    with pytest.raises((URLError, OSError, ValueError)):
        sources.fetch_reddit_posts("stocks", limit=5, base_url="https://localhost:1")


def test_driver_window_contract():
    """The driver records exactly the FIRST 50 registry entries: the
    curated _PRIORITY list must be exactly 50 names, be exactly the
    registry's head, and every window entry must carry a full value-hash
    oracle (a rows-only row in the window wastes a slot)."""
    import re

    from big_data_project_spark import registry as reg

    src = open(reg.__file__).read()
    names = re.findall(r'"([a-z0-9_]+)"', re.search(
        r"_PRIORITY = \[(.*?)\n\]", src, re.S).group(1))
    assert len(names) == 50
    assert list(reg.REGISTRY)[:50] == names
    rows_only = [n for n in names if reg.REGISTRY[n].oracle is None]
    assert rows_only == [], f"window slots without oracles: {rows_only}"


# ---------------------------------------------------------------------------
# Registry health guards (VERDICT r3 item 8): at 200+ entries a duplicated
# or dangling entry can slip in unnoticed — these meta-tests catch both.
# ---------------------------------------------------------------------------

# Pairs that legitimately share one oracle: the SPARK side differs (the
# machinery under test), the expected RESULT is identical by design.
_SHARED_ORACLE_TWINS = {
    # connector ingestion must hash-equal the file pipeline (S5/S6 contract)
    frozenset({"pl_social_real_data", "s5_s6_connector_feeds"}),
    # IVF append-then-probe-all must equal probe-all over the full corpus
    frozenset({"e5_ivf_probe_all", "e5_ivf_append_probe"}),
    # both pin "the original table's expression": ORC write+read-back and
    # the v1-pinned time-travel read each must reproduce it bit-for-bit
    frozenset({"s_roundtrip_orc", "mt_time_travel"}),
    # the native F.session_window twin shares the gap-islands SQL with the
    # portable sessionizer ON PURPOSE so the two paths cannot drift
    frozenset({"st_sessionize", "st_session_native"}),
}


def test_no_undeclared_duplicate_oracle_sql():
    """Two entries whose oracle SQL normalizes to the same string are the
    same check run twice — dead weight unless their SPARK sides diverge by
    design and the twin-ship is declared above (w6_rank_variants was such
    a duplicate, caught manually in round 3; this automates the review)."""
    import re
    from collections import defaultdict

    from big_data_project_spark import registry as reg

    groups = defaultdict(list)
    for name, q in reg.REGISTRY.items():
        if q.oracle:
            groups[re.sub(r"\s+", " ", q.oracle.strip().lower())].append(name)
    undeclared = [
        sorted(names)
        for names in groups.values()
        if len(names) > 1 and frozenset(names) not in _SHARED_ORACLE_TWINS
    ]
    assert undeclared == [], f"undeclared shared-oracle groups: {undeclared}"


def test_coverage_md_names_resolve_to_registry_entries():
    """Every registry-shaped name COVERAGE.md cites must still exist —
    protects the §2 evidence map across refactors (a renamed or dropped
    entry must update the doc, not silently dangle)."""
    import os
    import re

    from big_data_project_spark import registry as reg

    path = os.path.join(os.path.dirname(reg.__file__), "..", "COVERAGE.md")
    txt = open(path, encoding="utf-8").read()
    toks = set(re.findall(r"`([a-z0-9_]+)`", txt))
    shaped = re.compile(r"^(?:[qpcnerajwous]\d{1,2}_|(?:st|dd|tx|cu|mm|ev|gr|mt|pl|s)_)")
    cited = {t for t in toks if shaped.match(t)}
    # w6_rank_variants is cited as HISTORY (its removal is the documented
    # lesson) — the one name allowed to dangle
    dangling = sorted(cited - set(reg.REGISTRY) - {"w6_rank_variants"})
    assert dangling == [], f"COVERAGE.md cites unknown entries: {dangling}"
    # and the map must stay substantial: the §2 tables cite most of the
    # registry — a refactor that guts the doc should fail loudly too
    assert len(cited & set(reg.REGISTRY)) >= 180


def test_every_survey_family_has_a_window_entry():
    """The 50-slot driver window must keep covering every §2 operator
    family (the round-3/4 slot swaps traded entries WITHIN families; this
    pins that no family ever falls out entirely)."""
    from big_data_project_spark import registry as reg

    window = list(reg.queries())[:50]
    families = {
        # round-7 swap: s_roundtrip_parquet rotated past-window (every
        # window row already scans parquet); the family's in-window proof
        # is the WebDataset tar roundtrip, a real sink→source loop.
        "scan/sink": {"s_roundtrip_parquet", "s_roundtrip_text",
                      "s13_webdataset_samples"},
        "connectors": {"s5_s6_connector_feeds"},
        "projection": {"p1_project_rename", "p2_record_id"},
        "cast/null": {"p3_p4_cast_null_default"},
        "filter": {"p5_filter_project"},
        # r10: c3_dedup_deterministic rotated out for
        # dd_semantic_recovered — keyed dedup stays in-window via
        # c1c2's family sibling plus pl_sec_real_data's dedup stage
        # and dd_exact_groups (see "llm-dedup")
        "cleaning": {"c1c2_clean_text", "c3_dedup_deterministic"},
        # r9 stretch: c4_union_all rotated out (set-ops stay via c5;
        # union-by-name also runs inside in-window pl_social_real_data)
        # for mt_scd2_orders — the CDC lane's first driver-window row
        "set-ops": {"c4_union_all", "c5_setops"},
        "cdc": {"mt_merge_upsert", "mt_scd2_orders"},
        "nlp": {"n1_ner_gazetteer", "n2_sentiment_lexicon",
                "n34_coalesce_assemble", "n5_token_stats"},
        "utf8/multilingual": {"utf8_script_lang_id", "utf8_nfc_dedup",
                              "utf8_text_profile"},
        # r10 stretch: e1_hash_embed rotated out for dd_lsh_autotune —
        # its hash-embed branch keeps a standalone value-hash oracle
        # past-window, and the embedding-column machinery stays
        # driver-green via the knn/ann chain (array<float> plumbing,
        # broadcast query row, bit-identical folds)
        "embedding": {"e1_hash_embed", "e3_knn_l2", "e4_knn_ip_cosine"},
        "knn/ann": {"e3_knn_l2", "e4_knn_ip_cosine", "e5_ivf_probe_all",
                    "e6_knn_documents"},
        "rag": {"r1_prompt_assembly", "r3_run_rag"},
        "aggregate": {"q1_pricing_summary", "a1_counts", "a4_grouping"},
        "joins": {"j1_revenue_by_segment", "j2_part_revenue_by_brand",
                  "j3_customer_order_stats", "j4_semi_anti", "j5_asof_join",
                  "j6_cross_join"},
        "windows": {"w1_top_orders_per_customer", "w2_offsets", "w3_frames"},
        # r8: o2_top_parts rotated past-window; q3's ORDER BY revenue
        # DESC, o_orderdate LIMIT 10 carries multi-key sort + top-k
        # in-window (TakeOrdered also plan-pinned via e3_knn_l2)
        "ordering/top-k": {"o1_ordered_scan", "o2_top_parts",
                           "q3_shipping_priority"},
        "streaming-batch-twins": {"st_tumbling_hourly", "st_sliding_halfhour",
                                  "st_sessionize", "st_dedup_events"},
        "udf-ladder": {"p6_row_udf", "u2_pandas_udf", "u3_weighted_avg_udaf"},
        # r9: dd_near_dedup_lsh_prefilter rotated IN (the sf25 ceiling
        # closer, VERDICT r8 #2); r11: rotated back OUT for
        # pl_curation_e2e (VERDICT r10 #3) — carried in-window by
        # dd_near_dedup_lsh + the exact-survivor containment pytest
        "llm-dedup": {"dd_exact_groups", "dd_near_dedup_lsh",
                      "dd_near_dedup_lsh_prefilter"},
        # r10 (VERDICT r9 #2): the production-DEFAULT semantic path
        # (recover_bands="auto") gets driver-grade rows — the recovered
        # chain AND its streaming twin, alongside the pure-star pin
        "semantic-dedup": {"dd_semantic_capped", "dd_semantic_recovered",
                           "dd_incremental_semantic"},
        # r10 stretch (VERDICT r9 #8): the 100 TB deployer's first call
        "lsh-autotune": {"dd_lsh_autotune"},
        "text-analysis": {"tx_text_analysis"},
        "curation": {"pl_ccnet_e2e"},
        "real-data parity": {"pl_sec_real_data", "pl_social_real_data"},
        # r10: e9_pq_encode rotated out for dd_incremental_semantic —
        # e11's SQ8 row stays in-window; PQ stays gate-pinned
        # (e9_pq_adc_topk) and value-hashed past-window
        "vector-compression": {"e9_pq_encode", "e11_sq8_topk"},
        "sketches": {"mt_kmv_union", "mt_kmv_intersect"},
        "multimodal": {"mm_jpeg_decode", "mm_strict_decode"},
        # r9: mm_audio_dedup rotated IN (the cross-modal perceptual-dedup
        # triangle's audio member gets driver-grade green, VERDICT r8 #2)
        "audio-codec": {"mm_mp3_frame_index", "mm_video_frames",
                        "mm_audio_dedup"},
        # r9: p2_record_id / r1_prompt_assembly rotated OUT — their
        # semantics stay value-hashed in-window INSIDE composites
        # (pl_sec_real_data's record-id column, r3_run_rag's prompt leg),
        # and both keep their standalone oracles past-window. Pin that
        # the carriers stay in-window so the coverage argument holds.
        "record-id-carrier": {"pl_sec_real_data"},
        "prompt-assembly-carrier": {"r3_run_rag"},
        # r11 (VERDICT r10 #3 + stretch #8): the four lanes that had
        # never held a driver-window slot each get one — and this test
        # pins that they KEEP one. pl_curation_e2e = mixture/budget/
        # dedup end-to-end; gr_pagerank_weighted = graph flagship;
        # ts_ohlc = time-series candle rollup; ev_funnel = ordered-step
        # event funnel.
        "curation-e2e": {"pl_curation_e2e"},
        "graph": {"gr_pagerank_weighted"},
        "time-series": {"ts_ohlc"},
        "events": {"ev_funnel"},
    }
    out = {fam for fam, names in families.items() if not names & set(window)}
    assert out == set(), f"families with no driver-window entry: {out}"


def test_dsum_varchar_rule_applied_to_every_oracle():
    """VERDICT r10 #4: DuckDB's direct CAST(DECIMAL AS DOUBLE) drifts
    1 ulp from Spark once the scaled sum exceeds 2^53 (q1 crossed it at
    sf1; the scale-4 oracles would cross past ~sf10). The VARCHAR route
    is safe at any magnitude and is applied MECHANICALLY at
    registration — so re-applying the rule to every registered oracle
    must be a FIXPOINT (nothing left to wrap), Spark-side shared SQL
    templates must keep the direct form (their pinned plans prove it),
    and the transformer must handle the real shapes."""
    from big_data_project_spark import registry as reg

    wrapped = 0
    for name, q in reg.REGISTRY.items():
        if q.oracle is None:
            continue
        assert reg._apply_dsum_varchar_rule(q.oracle) == q.oracle, (
            f"{name}: oracle still contains an unwrapped decimal-sum "
            "DOUBLE conversion"
        )
        wrapped += q.oracle.count("AS VARCHAR) AS DOUBLE")
    assert wrapped >= 50  # the rule genuinely fires across the registry
    # Spark-side shared templates stay direct (wrapping them would
    # change the pinned q3/q5/q10/q17/q18 physical plans for nothing)
    for tmpl in (reg._Q3_SQL, reg._Q5_SQL, reg._Q10_SQL, reg._Q17_SQL,
                 reg._Q18_SQL):
        assert "AS VARCHAR) AS DOUBLE" not in tmpl

    f = reg._apply_dsum_varchar_rule
    # plain dsum mirror
    assert f("CAST(sum(CAST(x AS DECIMAL(30,2))) AS DOUBLE) AS a") == (
        "CAST(CAST(sum(CAST(x AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE)"
        " AS a"
    )
    # nested parens + CASE WHEN + windowed OVER
    assert f(
        "CAST(sum(CAST(CASE WHEN t = 'O' THEN q END AS DECIMAL(30,4)))"
        " OVER (PARTITION BY k) AS DOUBLE)"
    ) == (
        "CAST(CAST(sum(CAST(CASE WHEN t = 'O' THEN q END AS "
        "DECIMAL(30,4))) OVER (PARTITION BY k) AS VARCHAR) AS DOUBLE)"
    )
    # idempotent; leaves non-decimal sums, HAVING decimal compares and
    # integer sums alone
    for s in (
        "CAST(CAST(sum(CAST(x AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE)",
        "CAST(sum(x) AS DOUBLE)",
        "HAVING sum(CAST(q AS DECIMAL(30,2))) > 300",
        "CAST(sum(CAST(v AS BIGINT)) AS BIGINT)",
        None,
    ):
        assert f(s) == s


def test_row_udf_proof_stays_registered_with_oracle():
    """VERDICT r6 #8: p6_row_udf is the registry's only row-Python-UDF
    (U1) proof and lives PAST the driver window since the round-6 swap.
    Pin that it stays registered with a full value-hash oracle so a future
    rotation cannot silently drop U1's sweep coverage."""
    from big_data_project_spark import registry as reg

    assert "p6_row_udf" in reg.REGISTRY
    assert reg.REGISTRY["p6_row_udf"].oracle is not None


def test_window_swaps_actually_straddle_the_boundary():
    """Each _WINDOW_SWAPS pair must trade an in-window row for a
    past-window row — otherwise registration drift (new entries inserted
    mid-file) silently no-ops the swap, which is exactly what happened to
    the original s_roundtrip_text/e11 pair in round 5.

    Round 11 is the first time a previously rotated-IN row rotates back
    OUT (dd_near_dedup_lsh_prefilter etc.), so the check mirrors
    ordered_names()'s SEQUENTIAL application: each swap must straddle the
    boundary at the moment it is applied, and its in_name must be inside
    the window immediately after — not necessarily in the FINAL window,
    which later swaps may legitimately rotate it back out of."""
    from big_data_project_spark import registry as reg

    names = list(reg.REGISTRY)
    for out_name, in_name in reg._WINDOW_SWAPS:
        i, j = names.index(out_name), names.index(in_name)
        assert (i < 50) != (j < 50), (
            f"window swap ({out_name}, {in_name}) does not straddle the "
            f"50-slot boundary (positions {i}, {j}) at the point it is "
            f"applied — it is a no-op"
        )
        names[i], names[j] = names[j], names[i]
        assert in_name in names[:50]
    assert names[:50] == list(reg.queries())[:50]


def test_rank_bounded_matches_window_rank(spark):
    """rank_bounded (packed-array sort: collect_list → array_sort
    comparator → posexplode, the no-global-window shape for post-limit
    results) must agree with row_number() OVER the same total order,
    including desc/asc mixes and a null in a non-leading key."""
    from pyspark.sql.window import Window

    from big_data_project_spark.operators.relational import rank_bounded

    df = spark.createDataFrame(
        [(3.0, "b"), (1.0, "a"), (3.0, "a"), (2.0, "z"), (2.0, "m"),
         (None, "q"), (2.0, None), (None, None)],  # nulls in BOTH keys
        "score double, id string",
    )
    got = {
        (r.score, r.id): r.rank
        for r in rank_bounded(df, [("score", "desc"), ("id", "asc")]).collect()
    }
    # Spark defaults: desc = nulls last, asc = nulls first — rank_bounded
    # must agree without the caller spelling that out
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("score").desc_nulls_last(), F.col("id").asc_nulls_first()
    )
    import pyspark.sql.functions as SF

    want = {
        (r.score, r.id): r.rank
        for r in df.withColumn(
            "rank", SF.row_number().over(w).cast("long")
        ).collect()
    }
    assert got == want
    # no empty-partition window anywhere: the ranked result is a bounded
    # re-parallelized local relation, never a Window node
    plan = rank_bounded(df, [("score", "desc"), ("id", "asc")])._jdf \
        .queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_removed_knobs_stay_removed(spark):
    """One value per policy: the only session confs the package reads are
    the lineage-cut deployment pair, ``lineage_cut`` knows exactly two
    modes, driver-held rows become a frame only through ``io.from_rows``,
    and the deleted keyword switches are rejected at the call instead of
    silently accepted; the deleted second implementations are gone."""
    import pathlib
    import re

    from big_data_project_spark import streaming
    from big_data_project_spark.operators import dedup, maintenance, vector
    from big_data_project_spark.plans import lineage
    from big_data_project_spark.streaming import ops

    pkg = pathlib.Path(__file__).resolve().parents[1] / "big_data_project_spark"
    keys = {
        m
        for p in pkg.rglob("*.py")
        for m in re.findall(r"spark\.bdps\.([A-Za-z]+)", p.read_text())
    }
    assert keys == {"lineageCut", "checkpointDir"}
    assert {
        p.relative_to(pkg).as_posix()
        for p in pkg.rglob("*.py")
        if "createDataFrame(" in p.read_text()
    } == {"io.py"}

    # the worker interpreter, the worker daemon and the fork-free local
    # filesystem have no switch: session.py alone sets their confs, and
    # the package reads no environment variable beyond the session
    # factory's
    repo = pkg.parent
    sources = [
        p for d in ("big_data_project_spark", "tools", "examples")
        for p in (repo / d).rglob("*.py")
    ] + list(repo.glob("*.py"))
    for literal in (
        r"spark\.pyspark\.python",
        r"spark\.python\.daemon\.module",
        r"spark\.hadoop\.fs\.file\.impl",
        r"spark\.hadoop\.fs\.AbstractFileSystem\.file\.impl",
    ):
        conf = re.compile(rf"""["']{literal}["']""")
        assert {
            p.relative_to(repo).as_posix()
            for p in sources
            if conf.search(p.read_text())
        } == {"big_data_project_spark/session.py"}, literal
    env_keys = {
        m
        for p in pkg.rglob("*.py")
        for m in re.findall(
            r"""os\.(?:environ(?:\.get)?|getenv)\s*[\[(]\s*["'](\w+)["']""",
            p.read_text(),
        )
    }
    assert env_keys == {
        "MASTER", "SPARK_MASTER", "PYSPARK_SUBMIT_ARGS", "SPARK_SUBMIT_OPTS",
        "PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        "SPARK_GRAFT_DRIVER_MEM",
    }
    assert "environ" not in (pkg / "worker_daemon.py").read_text()

    assert lineage._MODES == ("local", "reliable")
    try:
        spark.conf.set(lineage.CONF_KEY, "persist")
        with pytest.raises(ValueError, match="lineageCut"):
            lineage.lineage_cut(spark.range(3))
    finally:
        spark.conf.unset(lineage.CONF_KEY)

    # the keyword is rejected before the body touches its (dummy) inputs
    for sink in (ops.scd2_sink, ops.scd2_sink_incremental):
        with pytest.raises(TypeError, match="check_feed"):
            sink(None, "t", "ck", "k", "ts", ["a"], check_feed=False)
    with pytest.raises(TypeError, match="skew_safe"):
        dedup.duplicate_spans(None, skew_safe=False)
    with pytest.raises(TypeError, match="broadcast_changed_keys"):
        maintenance.scd2_apply(
            None, None, "k", "ts", ["a"], broadcast_changed_keys=True
        )
    with pytest.raises(TypeError, match="mode"):
        vector.mmr_rerank(None, k=3, mode="serving")
    # one stateful running-totals operator: the transformWithState twin
    # (which needs google.protobuf) is gone from the package surface
    assert not hasattr(streaming, "running_user_totals_tws")
    assert not hasattr(ops, "running_user_totals_tws")
