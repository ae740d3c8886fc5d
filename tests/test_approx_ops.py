"""Semantic gates for the non-hash-matchable operators: HLL bounds, ANN
recall, MinHash-LSH recall, SimHash properties. These are the checks the
driver's rows-only pass cannot see — they pin the *quality* contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_project_spark import io
from big_data_project_spark.operators import dedup, vector
from tests.conftest import assert_matches_oracle


def test_approx_count_distinct_bound(spark, sf_dir):
    from big_data_project_spark.operators.relational import approx_distinct

    rows = approx_distinct(io.load_table(spark, sf_dir, "lineitem")).collect()
    assert rows
    for r in rows:
        # rsd=0.02 → generous 10% acceptance band
        assert abs(r.approx_parts - r.exact_parts) <= max(5, 0.10 * r.exact_parts), r


def test_ann_recall_vs_exact(spark, sf_dir):
    emb = io.load_table(spark, sf_dir, "embeddings")
    hits = exact = None
    recalls = []
    for qid in (0, 7, 42):
        q = vector.query_vector_of(emb, qid)
        exact = {r.vec_id for r in vector.knn_topk(emb, q, k=10, metric="cosine").collect()}
        approx = {r.vec_id for r in vector.ann_topk(emb, q, k=10, metric="cosine").collect()}
        recalls.append(len(exact & approx) / 10)
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def test_minhash_lsh_finds_near_duplicates(spark):
    # Crafted corpus: 0/1 near-dups (one word changed), 2/3 identical,
    # 4..9 unrelated random-ish docs.
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    variant = base.replace("lazy", "sleepy")
    docs = [(0, base), (1, variant), (2, "alpha beta gamma delta " * 5),
            (3, "alpha beta gamma delta " * 5)]
    docs += [(i, f"unrelated document number {i} with words w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g") for i in range(4, 10)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    cand = dedup.minhash_lsh_candidates(df, num_hashes=64, bands=16)
    pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (0, 1) in pairs, pairs
    assert (2, 3) in pairs, pairs
    # estimated jaccard for identical docs must be 1.0
    est = {(r.id_a, r.id_b): r.est_jaccard for r in cand.collect()}
    assert est[(2, 3)] == 1.0

    # precision sanity: unrelated docs share no 3-gram shingles; any
    # candidate pair among them would be an LSH false positive — allow a few
    unrelated_pairs = [p for p in pairs if p[0] >= 4 and p[1] >= 4]
    assert len(unrelated_pairs) <= 2, unrelated_pairs


def test_lsh_hot_bucket_guard_bounds_candidate_pairs(spark):
    """VERDICT r5 #2: an identical-template flood (m docs, one band
    bucket) must NOT emit O(m²) candidate pairs. Oversized buckets
    switch to the star-to-minimum topology, so distinct candidates stay
    ≤ bands·m (the flood's stars collapse to ONE distinct star since
    every band has the same min), and the star keeps the duplicate
    cluster connected so the verified dedup output is unchanged (one
    survivor)."""
    m, cap, bands, k = 1200, 64, 4, 16
    template = "breaking news template page with identical boilerplate body"
    docs = [(i, template) for i in range(m)]
    docs += [(m + i, f"organic document {i} words q{i}x q{i}y q{i}z") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    cand = dedup.minhash_lsh_candidates(
        df, num_hashes=k, bands=bands, bucket_cap=cap
    )
    n_pairs = cand.count()
    assert n_pairs <= bands * (m + 5), n_pairs  # linear-in-m bound
    assert n_pairs < m * (m - 1) // 2, n_pairs  # strictly below all-pairs
    # the flood still collapses to ONE survivor end to end: every member
    # pairs with the bucket minimum, so connected components recover the
    # whole cluster through the star center
    pairs = dedup.jaccard_verify(df, cand.select("id_a", "id_b"), n=3, min_jaccard=0.5)
    kept = sorted(
        r.doc_id for r in dedup.drop_near_dups(df, pairs).collect()
    )
    assert kept == [0] + [m + i for i in range(5)], kept[:10]


def test_lsh_bucket_cap_is_behavior_identical_when_not_fired(spark):
    """When no bucket exceeds the cap the guarded plan must emit
    BIT-identical candidates to the unguarded one (the salt is a constant
    0) — this is what keeps the raw-banding SQL oracles green."""
    base = "the quick brown fox jumps over the lazy dog near the old river"
    docs = [(0, base), (1, base.replace("lazy", "sleepy"))]
    docs += [(i, f"unrelated doc {i} tokens a{i} b{i} c{i} d{i} e{i}") for i in range(2, 12)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(num_hashes=64, bands=16, hash_fn="md5_affine")
    guarded = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in dedup.minhash_lsh_candidates(df, bucket_cap=8, **kw).collect()
    }
    raw = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in dedup.minhash_lsh_candidates(df, bucket_cap=None, **kw).collect()
    }
    assert guarded == raw and raw
    with pytest.raises(ValueError, match="bucket_cap"):
        dedup.minhash_lsh_candidates(df, bucket_cap=1)


def test_minhash_estimate_tracks_exact_jaccard(spark):
    a = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19"
    b = a.replace("w10", "x10")  # small perturbation
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    exact = dedup.jaccard_pairs(df).collect()[0].jaccard
    est_rows = dedup.minhash_lsh_candidates(df, num_hashes=128, bands=32).collect()
    assert est_rows, "near-dup pair not surfaced by LSH"
    assert abs(est_rows[0].est_jaccard - exact) < 0.2, (est_rows[0].est_jaccard, exact)


def test_simhash_properties(spark):
    a = "spark runs fast on big data clusters every single day"
    b = a.replace("fast", "slow")  # one-token change
    c = "completely different words about gardening tulips and watering cans"
    df = spark.createDataFrame(
        [(0, a), (1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    fp = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert fp[0] == fp[1], "identical docs must get identical simhash"

    def ham(x, y):
        return bin(x ^ y).count("1")

    assert ham(fp[0], fp[2]) < ham(fp[0], fp[3]), (
        f"near-dup hamming {ham(fp[0], fp[2])} should beat unrelated {ham(fp[0], fp[3])}"
    )


def test_exact_dedup_drops_copies(spark):
    df = spark.createDataFrame(
        [(1, "Same <b>Text</b>!"), (2, "same text"), (3, "other text")],
        "doc_id long, text string",
    )
    kept = dedup.drop_exact_dups(df).collect()
    ids = sorted(r.doc_id for r in kept)
    # normalization makes 1 and 2 identical; lowest id wins
    assert ids == [1, 3], ids


def test_ivf_recall_vs_exact(spark, sf_dir):
    emb = io.load_table(spark, sf_dir, "embeddings")
    recalls = []
    for qid in (0, 7, 42):
        q = vector.query_vector_of(emb, qid)
        exact = {r.vec_id for r in vector.knn_topk(emb, q, k=10, metric="ip").collect()}
        approx = {r.vec_id for r in vector.ivf_topk(emb, q, k=10, n_probe=6).collect()}
        recalls.append(len(exact & approx) / 10)
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_cosine_neardup_matches_bruteforce(spark, sf_dir):
    emb = io.load_table(spark, sf_dir, "embeddings").limit(200)
    # brute force ground truth at a low threshold (uniform data has no
    # high-cosine pairs)
    a, b = emb.alias("a"), emb.alias("b")
    brute = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            vector.cosine("a.embedding", "b.embedding").alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.4)
    )
    truth = {(r.id_a, r.id_b) for r in brute.collect()}
    got = {
        (r.id_a, r.id_b)
        for r in vector.cosine_neardup_pairs(emb, threshold=0.4).collect()
    }
    assert got <= truth, "LSH blocking must never invent pairs"
    if truth:
        assert len(got & truth) / len(truth) >= 0.5, (len(got & truth), len(truth))


def test_cosine_neardup_finds_planted_duplicates(spark):
    import math
    base = [math.sin(i * 0.7) for i in range(64)]
    near = [v + (0.001 if i % 2 else -0.001) for i, v in enumerate(base)]
    far = [math.cos(i * 1.3) for i in range(64)]
    rows = [(0, base, 0), (1, near, 0), (2, far, 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {(r.id_a, r.id_b): r.cos_sim for r in
             vector.cosine_neardup_pairs(df, threshold=0.99).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.999


def test_ivf_build_is_lazy(spark, sf_dir):
    """build_ivf must not run ANY Spark job — centroid seeding and list
    assignment are lazy plans (the round-1 implementation ran a count())."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    sc = spark.sparkContext
    sc.setJobGroup("ivf-build-probe", "laziness probe")
    try:
        centroids, assigned = vector.build_ivf(emb, n_lists=8)
        jobs = sc.statusTracker().getJobIdsForGroup("ivf-build-probe")
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == [], f"build_ivf ran jobs: {jobs}"
    # the plans are sound once executed
    assert centroids.count() <= 8
    assert assigned.count() == emb.count()


def test_kmeans_refine_shapes_and_recall(spark, sf_dir):
    emb = io.load_table(spark, sf_dir, "embeddings")
    centroids, assigned = vector.build_ivf(emb, n_lists=8)
    refined = vector.kmeans_refine(assigned)
    rows = refined.collect()
    assert 0 < len(rows) <= 8
    assert all(len(r.centroid) == 64 for r in rows)
    # probing refined centroids still finds neighbors
    q = vector.query_vector_of(emb, 0)
    c2, a2 = vector.build_ivf(emb, n_lists=8)
    exact = {r.vec_id for r in vector.knn_topk(emb, q, k=10, metric="ip").collect()}
    got = {
        r.vec_id
        for r in vector.ivf_probe(refined, a2, q, k=10, n_probe=4, metric="ip").collect()
    }
    assert len(exact & got) / 10 >= 0.3, (exact, got)


def test_semantic_dedup_invariants(spark, sf_dir):
    emb = io.load_table(spark, sf_dir, "embeddings")
    kept = vector.semantic_dedup(emb, n_clusters=8, threshold=0.4)
    kp = kept.toPandas()
    n_total = emb.count()
    # discriminating at this corpus: some drops, most survive
    assert 0 < len(kp) < n_total
    # every kept id is a real id, each appears once, cluster ids in range
    assert kp.vec_id.is_unique
    assert kp.cluster_id.between(0, 7).all()
    # defining invariant of greedy keep-first: among kept rows, no
    # same-cluster pair reaches the threshold
    k = kept.join(emb.select("vec_id", "embedding"), "vec_id")
    a = k.select(
        "cluster_id", F.col("vec_id").alias("ida"), F.col("embedding").alias("ea")
    )
    b = k.select(
        "cluster_id", F.col("vec_id").alias("idb"), F.col("embedding").alias("eb")
    )
    offenders = (
        a.join(b, "cluster_id")
        .where(F.col("ida") < F.col("idb"))
        .where(vector.cosine("ea", "eb") >= 0.4)
    )
    assert offenders.count() == 0


def test_semantic_dedup_drops_planted_duplicate(spark):
    import math

    base = [float(math.sin(i * 0.7)) for i in range(16)]
    near = [v + (0.001 if i % 2 else -0.001) for i, v in enumerate(base)]
    far = [float(math.cos(i * 1.3)) for i in range(16)]
    rows = [(0, base), (1, near), (2, far)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # one cluster => the planted near-dup pair lands together; greedy
    # keep-first must keep 0 and drop 1, and keep the unrelated 2
    kept = {r.vec_id for r in vector.semantic_dedup(df, n_clusters=1, threshold=0.95).collect()}
    assert kept == {0, 2}


def test_semantic_dedup_exact_collapse_and_cluster_cap(spark):
    """VERDICT r5 #2 (semantic leg): an identical-embedding flood enters
    the within-cluster join as ONE min-id representative (collapse is
    exactly semantics-preserving for greedy keep-first), and the opt-in
    cluster_cap bounds near-identical floods with drops-only-shrink
    semantics (survivors with cap ⊇ survivors without)."""
    import math

    base = [float(math.sin(i * 0.7)) for i in range(16)]
    far = [float(math.cos(i * 1.3)) for i in range(16)]
    m = 5000
    rows = [(i, base) for i in range(m)] + [(m, far)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {
        r.vec_id
        for r in vector.semantic_dedup(df, n_clusters=2, threshold=0.95).collect()
    }
    assert kept == {0, m}  # min-id rep survives; flood gone; unrelated kept

    # collapse off == collapse on for a corpus small enough to brute it
    small = spark.createDataFrame(rows[:4] + [(m, far)], "vec_id long, embedding array<float>")
    on = {r.vec_id for r in vector.semantic_dedup(small, n_clusters=2, threshold=0.95).collect()}
    off = {
        r.vec_id
        for r in vector.semantic_dedup(
            small, n_clusters=2, threshold=0.95, collapse_exact=False
        ).collect()
    }
    assert on == off == {0, m}

    # cluster_cap: near-identical (NOT byte-identical) vectors — capped
    # run may only ADD survivors (pairs are a subset), never lose the
    # min id, and the guard rejects a degenerate cap
    near_rows = [
        (i, [v + 0.0001 * i for v in base]) for i in range(40)
    ] + [(99, far)]
    ndf = spark.createDataFrame(near_rows, "vec_id long, embedding array<float>")
    uncapped = {
        r.vec_id
        for r in vector.semantic_dedup(ndf, n_clusters=2, threshold=0.9).collect()
    }
    capped = {
        r.vec_id
        for r in vector.semantic_dedup(
            ndf, n_clusters=2, threshold=0.9, cluster_cap=8
        ).collect()
    }
    assert uncapped <= capped
    assert 0 in capped and 99 in capped
    with pytest.raises(ValueError, match="cluster_cap"):
        vector.semantic_dedup(ndf, cluster_cap=1)


def test_semantic_dedup_collapse_is_seed_invariant(spark):
    """ADVICE r6 (medium): collapse_exact must not change the output when
    exact duplicates coexist with near (non-identical) duplicates —
    centroid seeding now draws from the FULL id pool, so cluster
    assignments (and therefore which near-dups share a cluster) are
    identical with the flag on or off. Zero-norm vectors (cosine NULL
    against everything) survive under BOTH modes instead of crashing the
    ANSI session or being silently collapsed away."""
    import math

    base = [float(math.sin(i * 0.7)) for i in range(16)]
    near = [v + (0.001 if i % 2 else -0.001) for i, v in enumerate(base)]
    far = [float(math.cos(i * 1.3)) for i in range(16)]
    zero = [0.0] * 16
    rows = (
        [(0, base), (1, base), (2, base)]      # exact-dup group
        + [(3, near)]                           # near-dup of the group
        + [(4, far), (5, far)]                  # second exact-dup group
        + [(6, zero), (7, zero)]                # identical zero vectors
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for k in (1, 2, 4):
        on = {
            (r.vec_id, r.cluster_id)
            for r in vector.semantic_dedup(
                df, n_clusters=k, threshold=0.9, cluster_cap=None
            ).collect()
        }
        off = {
            (r.vec_id, r.cluster_id)
            for r in vector.semantic_dedup(
                df,
                n_clusters=k,
                threshold=0.9,
                collapse_exact=False,
                cluster_cap=None,
            ).collect()
        }
        assert on == off, (k, on, off)
        kept_ids = {i for i, _ in on}
        # greedy keep-first: group minima survive, non-min twins drop,
        # the near-dup 3 drops whenever it shares a cluster with 0
        assert 0 in kept_ids and 4 in kept_ids
        assert 1 not in kept_ids and 2 not in kept_ids and 5 not in kept_ids
        # zero vectors can neither drop nor be dropped
        assert {6, 7} <= kept_ids


def test_minhash_index_and_delta_near_custom_id_col(spark):
    """ADVICE r7 (low): minhash_index and dedup_delta_near must round-trip
    a non-default id column (the shingle/signature stages carry it as
    'doc_id' internally and alias it back on the way out) — both the
    shared-shingles path and the self-tokenizing path."""
    w = [f"tok{i}x" for i in range(40)]
    rows = [(0, " ".join(w[:20])), (1, " ".join(w[20:40]))]
    df = spark.createDataFrame(rows, "rid long, body string")
    idx = dedup.minhash_index(df, text="body", id_col="rid")
    assert idx.columns == ["rid", "signature", "band_hashes"]
    assert idx.count() == 2
    # shared-shingles path: precomputed stream covers a superset
    sh = dedup.doc_shingles(df, text="body", id_col="rid")
    idx_shared = dedup.minhash_index(
        df.where(F.col("rid") == 0), text="body", id_col="rid", shingles=sh
    )
    assert {r.rid for r in idx_shared.collect()} == {0}
    assert (
        idx_shared.collect()[0].signature
        == idx.where(F.col("rid") == 0).collect()[0].signature
    )
    # delta: batch with a near-dup of an indexed doc and one fresh doc
    batch = spark.createDataFrame(
        [(2, " ".join(w[:20]) + " extraword"),
         (3, " ".join(f"fresh{i}q" for i in range(25)))],
        "rid long, body string",
    )
    surv = dedup.dedup_delta_near(batch, idx, text="body", id_col="rid")
    assert {r.rid for r in surv.collect()} == {3}


def test_semantic_dedup_cap_counts_collapsed_reps(spark):
    """ADVICE r7 (medium), engine half: with collapse_exact on, the
    hot-cluster probe counts collapsed REPRESENTATIVES — raw rows past the
    cap but reps under it must NOT fire the guard (output == exact greedy),
    and a fired star never resurrects non-min exact twins (they are dropped
    by the collapse before the star exists)."""
    import warnings as w

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        # exact-dup group: rep 10 + twins 11/12; cos(vec0, v) = 0.1 < 0.4
        (10, [0.1, 0.99499, 0.0, 0.0]),
        (11, [0.1, 0.99499, 0.0, 0.0]),
        (12, [0.1, 0.99499, 0.0, 0.0]),
        (20, [0.6, 0.0, 0.8, 0.0]),        # cos(vec0, ·) = 0.6 → star-drops
        (21, [0.5, 0.0, 0.866, 0.0]),      # 0.5 → star-drops
        (22, [0.2, 0.0, 0.9798, 0.0]),     # 0.2 → star-keeps
        (23, [0.15, 0.0, 0.98869, 0.0]),   # keeps
        (24, [0.05, 0.0, 0.99875, 0.0]),   # keeps
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # 9 raw rows, 7 reps. cap=8: raw > cap but reps <= cap → NO fire, and
    # the output is the exact greedy one (compare against uncapped).
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        capped8 = {
            r.vec_id
            for r in vector.semantic_dedup(
                df, n_clusters=1, threshold=0.4, cluster_cap=8
            ).collect()
        }
    assert not [x for x in rec if "hot-cluster" in str(x.message)]
    uncapped = {
        r.vec_id
        for r in vector.semantic_dedup(
            df, n_clusters=1, threshold=0.4, cluster_cap=None
        ).collect()
    }
    assert capped8 == uncapped
    # cap=6: 7 reps > cap → FIRES; star spans reps around min id 0.
    # Twins 11/12 stay dropped (collapse), rep 10 survives (cos 0.1 < 0.4
    # against the cluster min) — the case a raw-row-counting mirror gets
    # wrong by keeping the twins.
    with pytest.warns(UserWarning, match="hot-cluster"):
        capped6 = {
            r.vec_id
            for r in vector.semantic_dedup(
                df,
                n_clusters=1,
                threshold=0.4,
                cluster_cap=6,
                # pin the PURE star topology this test is about; the
                # r9 production default is recover_bands="auto"
                recover_bands=0,
            ).collect()
        }
    assert capped6 == {0, 10, 22, 23, 24}
    # ...and the r9 default (auto recovery) pulls the fired output back
    # to the exact greedy one on this mixed cluster
    with w.catch_warnings():
        w.simplefilter("ignore", UserWarning)
        capped6_auto = {
            r.vec_id
            for r in vector.semantic_dedup(
                df, n_clusters=1, threshold=0.4, cluster_cap=6
            ).collect()
        }
    assert capped6_auto == uncapped


def test_dd_semantic_capped_oracle_models_collapse(spark, tmp_path):
    """ADVICE r7 (medium), oracle half: the dd_semantic_capped registry
    oracle must value-match the engine on a corpus WITH exact-duplicate
    embeddings inside a hot cluster (the sf generator never produces one,
    which is why r7's green was latent). 70 distinct near-identical reps
    ×2 exact twins flood one cluster past cap=60; a dissimilar exact pair
    (cos≈0.2 to the flood) rides along."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_project_spark.registry import REGISTRY

    ids, vecs = [], []
    for r in range(70):
        v = [1.0, 0.001 * r, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
        ids += [2 * r, 2 * r + 1]
        vecs += [v, v]  # rep + exact twin
    for i in (200, 201):  # exact pair, cos(base, ·) ≈ 0.2 < threshold
        ids.append(i)
        vecs.append([0.2, 0.0, 0.9798, 0.0, 0.0, 0.0, 0.0, 0.0])
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, type=pa.int64()),
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    got = REGISTRY["dd_semantic_capped"].build(spark, str(tmp_path))
    kept = {r.vec_id for r in got.collect()}
    # non-min exact twins never survive, fired guard or not
    assert 201 not in kept and not any(i % 2 for i in kept if i < 140)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path}/embeddings.parquet')"
        )
        assert_matches_oracle(got, con, REGISTRY["dd_semantic_capped"].oracle)
    finally:
        con.close()


def test_semantic_dedup_threshold_above_self_cos_keeps_twins(spark):
    """threshold > 1 can never be reached by any cosine, so NOTHING drops —
    including byte-identical twins (the collapse fast-path must not apply
    above the _SELF_COS_SAFE line)."""
    rows = [(0, [1.0] * 8), (1, [1.0] * 8), (2, [0.5] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = {
        r.vec_id
        for r in vector.semantic_dedup(
            df, n_clusters=1, threshold=1.5, cluster_cap=None
        ).collect()
    }
    assert kept == {0, 1, 2}


def test_novelty_report_bounds_and_decontaminate_consistency(spark, sf_dir):
    d = io.load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") >= 100)
    ref = d.where(F.col("doc_id") < 100)
    rep = dedup.novelty_report(corpus, ref, n=3).toPandas()
    assert len(rep) == corpus.count()
    assert rep.novelty_permille.between(0, 1000).all()
    assert (rep.n_seen <= rep.n_grams).all()
    # a doc fully covered by the reference must score 0; a doc sharing
    # nothing scores 1000
    overlap_free = rep[rep.n_seen == 0]
    assert (overlap_free.novelty_permille == 1000).all()


def test_novelty_short_doc_is_vacuously_novel(spark):
    corpus = spark.createDataFrame(
        [(1, "two words"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    ref = spark.createDataFrame(
        [(0, "alpha beta gamma epsilon")], "doc_id long, text string"
    )
    rep = {r.doc_id: r for r in dedup.novelty_report(corpus, ref, n=3).collect()}
    assert rep[1].n_grams == 0 and rep[1].novelty_permille == 1000
    # "alpha beta gamma" seen, "beta gamma delta" not -> 500
    assert rep[2].n_grams == 2 and rep[2].n_seen == 1
    assert rep[2].novelty_permille == 500


def test_build_vocab_rank_and_threshold(spark):
    from big_data_project_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "a b b c c c rare"), (2, "c b a a")], "doc_id long, text string"
    )
    out = text_ops.build_vocab(docs, min_count=2, top_k=2).collect()
    # counts: c=4, b=3, a=3, rare=1; top-2 = c then a (tie a<b broken asc)
    assert [(r.term, r.n, r.rank) for r in out] == [("c", 4, 1), ("a", 3, 2)]


def test_md5_affine_minhash_estimates_jaccard(spark):
    # identical docs -> est_jaccard 1.0 under the engine-exact hash family,
    # near-dups -> high estimate; the md5_affine mode must behave like a
    # real MinHash, not just hash-match its own oracle
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    variant = base.replace("lazy", "sleepy")
    docs = [(0, base), (1, variant), (2, "alpha beta gamma delta " * 5),
            (3, "alpha beta gamma delta " * 5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    cand = dedup.minhash_lsh_candidates(
        df, num_hashes=64, bands=16, hash_fn="md5_affine"
    )
    est = {(r.id_a, r.id_b): r.est_jaccard for r in cand.collect()}
    assert est[(2, 3)] == 1.0
    assert (0, 1) in est and est[(0, 1)] >= 0.5


def test_near_dedup_lsh_superset_of_exact_pairs(spark, sf_dir):
    # LSH blocking can only MISS pairs vs all-pairs Jaccard, never invent
    # them, so exact-mode survivors are a subset of lsh-mode survivors
    d = io.load_table(spark, sf_dir, "documents")
    exact_pairs = dedup.jaccard_pairs(d, n=3, min_jaccard=0.5)
    exact_keep = {
        r.doc_id for r in dedup.drop_near_dups(d, exact_pairs).select("doc_id").collect()
    }
    cand = dedup.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, hash_fn="md5_affine"
    ).select("id_a", "id_b")
    lsh_pairs = dedup.jaccard_verify(d, cand, n=3, min_jaccard=0.5)
    lsh_keep = {
        r.doc_id for r in dedup.drop_near_dups(d, lsh_pairs).select("doc_id").collect()
    }
    assert exact_keep <= lsh_keep
    # and the blocking actually fires at sf0.01: some docs are dropped
    assert len(lsh_keep) < d.count()


def test_min_est_jaccard_prefilter_semantics(spark):
    """min_est_jaccard drops candidate pairs below the signature-agreement
    bound BEFORE verify ever sees them, with and without the est column
    in the output (round 8, the sf25 k16/b4 post-mortem)."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    variant = base.replace("lazy", "sleepy")
    docs = [(0, base), (1, variant),
            (2, "alpha beta gamma delta " * 5), (3, "alpha beta gamma delta " * 5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(num_hashes=64, bands=16, hash_fn="md5_affine")

    all_est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in dedup.minhash_lsh_candidates(df, **kw).collect()
    }
    assert (0, 1) in all_est and (2, 3) in all_est
    cut = (all_est[(0, 1)] + all_est[(2, 3)]) / 2  # between the two pairs

    filtered = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(
            df, min_est_jaccard=cut, **kw
        ).collect()
    }
    expected = {p for p, e in all_est.items() if e >= cut}
    assert filtered == expected and (2, 3) in filtered and (0, 1) not in filtered

    # without the est column: same pair set, 2-column schema
    slim = dedup.minhash_lsh_candidates(
        df, min_est_jaccard=cut, include_est_jaccard=False, **kw
    )
    assert slim.columns == ["id_a", "id_b"]
    assert {(r.id_a, r.id_b) for r in slim.collect()} == expected

    # min_est_jaccard=0.0 keeps everything (filter is >=)
    keep_all = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(
            df, min_est_jaccard=0.0, include_est_jaccard=False, **kw
        ).collect()
    }
    assert keep_all == set(all_est)


def test_min_est_prefilter_preserves_e2e_survivors(spark, sf_dir):
    """The dd_near_dedup_lsh chain with the margin-0.2 prefilter
    (min_est_jaccard = 0.5 − 0.2) must keep the SAME survivor set as the
    unfiltered chain on the real documents table: the prefilter only
    removes pairs the exact-Jaccard verify would reject anyway (a true
    J≥0.5 pair estimating below 0.3 over 64 hashes is a ~Φ(−3.2) event,
    and none exists in this corpus)."""
    d = io.load_table(spark, sf_dir, "documents")
    sh = dedup.doc_shingles(d, "text", "doc_id", 3)

    def survivors(**extra):
        cand = dedup.minhash_lsh_candidates(
            d, num_hashes=16, bands=4, hash_fn="md5_affine",
            include_est_jaccard=False, shingles=sh, **extra,
        )
        pairs = dedup.jaccard_verify(d, cand, n=3, min_jaccard=0.5, shingles=sh)
        return {r.doc_id for r in dedup.drop_near_dups(d, pairs).select("doc_id").collect()}

    assert survivors(min_est_jaccard=0.3) == survivors()


def test_hash_shingles_verify_identical_results(spark, sf_dir):
    """jaccard_verify(hash_shingles=True) moves 8-byte longs through the
    pair-expansion join instead of n-gram strings; the Jaccard values must
    be identical (collision probability ~1e-9 at this scale)."""
    d = io.load_table(spark, sf_dir, "documents")
    cand = dedup.minhash_lsh_candidates(
        d, num_hashes=16, bands=4, hash_fn="md5_affine",
        include_est_jaccard=False,
    ).transform(lambda x: x.localCheckpoint())
    strs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_verify(d, cand, n=3).collect()
    }
    longs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_verify(d, cand, n=3, hash_shingles=True).collect()
    }
    assert strs == longs and strs


def _pq_quant_error(spark, emb, cb):
    """Mean total quantization error Σ_s ||sub - centroid[code]||² per vec."""
    enc = vector.pq_encode(emb, cb, m=4, dim=64, keep=())
    sub = vector.pq_subvectors(emb, m=4, dim=64, keep=("vec_id",))
    per = (
        sub.join(enc, ["vec_id", "s"])
        .join(cb, ["s", "code"])
        .select(vector.l2_sq("sub", "centroid").alias("e"))
        .agg(F.avg("e").alias("err"))
        .collect()[0]
    )
    return per.err


def test_pq_refine_reduces_quantization_error(spark, sf_dir):
    emb = io.load_table(spark, sf_dir, "embeddings")
    cb0 = vector.pq_codebooks(emb, m=4, n_codes=16, dim=64)
    cb1 = vector.pq_refine_codebooks(emb, cb0, m=4, dim=64)
    e0 = _pq_quant_error(spark, emb, cb0)
    e1 = _pq_quant_error(spark, emb, cb1)
    # Lloyd monotonicity: mean-update + re-assign never increases SSE
    assert e1 <= e0 + 1e-9, (e0, e1)


def test_pq_adc_recall_vs_exact(spark, sf_dir):
    emb = io.load_table(spark, sf_dir, "embeddings").cache()
    cb = vector.pq_codebooks(emb, m=4, n_codes=16, dim=64)
    for _ in range(3):
        cb = vector.pq_refine_codebooks(emb, cb, m=4, dim=64)
    cb = cb.cache()
    enc = vector.pq_encode(emb, cb, m=4, dim=64).cache()
    hits = 0
    for qid in (0, 3, 7, 42, 99):
        q = vector.query_vector_of(emb, qid)
        exact = {r.vec_id for r in vector.knn_topk(emb, q, k=10, metric="l2").collect()}
        adc = {r.vec_id for r in vector.pq_adc_topk(cb, enc, q, k=30, m=4, dim=64).collect()}
        hits += len(exact & adc)
    # uniform-random 64-d vectors are PQ's adversarial case (distance
    # concentration, no cluster structure); the gate pins "clearly better
    # than the 6% random-chance overlap", not production recall — real
    # embedding corpora cluster and do far better. Deterministic: 0.52
    # measured at this exact config.
    assert hits / 50 >= 0.35, hits


def test_pq_rerank_recovers_recall_over_raw_adc(spark, sf_dir):
    """The refine stage's defining property: exact re-rank of the ADC
    shortlist must do at least as well as raw ADC top-k against exact
    kNN (it re-scores a superset with the true metric), and any exact
    neighbor that made the shortlist MUST be in the reranked top-k."""
    emb = io.load_table(spark, sf_dir, "embeddings").cache()
    cb = vector.pq_codebooks(emb, m=4, n_codes=16, dim=64).cache()
    enc = vector.pq_encode(emb, cb, m=4, dim=64).cache()
    adc_hits = rr_hits = 0
    for qid in (0, 3, 7, 42, 99):
        q = vector.query_vector_of(emb, qid)
        exact = {r.vec_id for r in vector.knn_topk(emb, q, k=10, metric="l2").collect()}
        adc = [r.vec_id for r in vector.pq_adc_topk(cb, enc, q, k=40, m=4, dim=64).collect()]
        rr = {
            r.vec_id
            for r in vector.pq_adc_rerank(
                cb, enc, emb, q, k=10, shortlist=40, m=4, dim=64
            ).collect()
        }
        adc_hits += len(exact & set(adc[:10]))
        rr_hits += len(exact & rr)
        # every exact neighbor the shortlist caught must survive rerank
        assert (exact & set(adc)) <= rr
    assert rr_hits >= adc_hits, (rr_hits, adc_hits)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="shortlist"):
        vector.pq_adc_rerank(cb, enc, emb, vector.query_vector_of(emb, 0), k=10, shortlist=5)


def test_pq_codes_compress_and_cover(spark, sf_dir):
    emb = io.load_table(spark, sf_dir, "embeddings")
    cb = vector.pq_codebooks(emb, m=4, n_codes=16, dim=64)
    packed = vector.pq_pack_codes(vector.pq_encode(emb, cb, m=4, dim=64))
    rows = packed.collect()
    assert len(rows) == emb.count()  # every vector encoded exactly once
    for r in rows[:20]:
        assert len(r.codes) == 4
        assert all(0 <= c < 16 for c in r.codes)


def test_mean_pool_matches_hand_mean(spark):
    df = spark.createDataFrame(
        [(1, 0, [1.0, 3.0]), (1, 1, [3.0, 5.0]), (2, 5, [2.0, 2.0])],
        "grp long, ord long, embedding array<float>",
    )
    out = {r.grp: r for r in vector.mean_pool(df, "grp", "ord").collect()}
    assert out[1].pooled == [2.0, 4.0] and out[1].n_vecs == 2
    assert out[2].pooled == [2.0, 2.0] and out[2].n_vecs == 1


def test_ivfpq_probe_all_equals_whole_corpus_adc(spark, sf_dir):
    """With n_probe = n_clusters, IVF pruning is a no-op: IVF-PQ must
    reproduce plain ADC over the whole corpus exactly."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    q = vector.query_vector_of(emb, 3)
    cb = vector.pq_codebooks(emb, m=4, n_codes=16, dim=64)
    enc = vector.pq_encode(emb, cb, m=4, dim=64)
    plain = [
        (r.vec_id, r.adist)
        for r in vector.pq_adc_topk(cb, enc, q, k=10, m=4, dim=64).collect()
    ]
    ivf = [
        (r.vec_id, r.adist)
        for r in vector.ivfpq_topk(
            emb, q, k=10, n_clusters=8, n_probe=8, m=4, n_codes=16, dim=64
        ).collect()
    ]
    assert ivf == plain


def test_ivfpq_probed_recall_vs_plain_adc(spark, sf_dir):
    """Probing 2/8 lists must retain most of what whole-corpus ADC finds
    (the pruning trade, deterministic on this data)."""
    emb = io.load_table(spark, sf_dir, "embeddings").cache()
    cb = vector.pq_codebooks(emb, m=4, n_codes=16, dim=64)
    enc = vector.pq_encode(emb, cb, m=4, dim=64).cache()
    hits = 0
    for qid in (0, 3, 42):
        q = vector.query_vector_of(emb, qid)
        full = {r.vec_id for r in vector.pq_adc_topk(cb, enc, q, k=10, m=4, dim=64).collect()}
        probed = {
            r.vec_id
            for r in vector.ivfpq_topk(
                emb, q, k=10, n_clusters=8, n_probe=2, m=4, n_codes=16, dim=64
            ).collect()
        }
        hits += len(full & probed)
    # 2/8 random-bucket lists hold ~1/4 of the corpus; on unclustered
    # uniform data the probed top-10 keeps a proportionate share of the
    # full-ADC top-10 (deterministic: measured at this config)
    assert hits / 30 >= 0.2, hits


# ---------------------------------------------------------------------------
# ANN recall on CLUSTERED geometry (VERDICT r3 item 5): the driver's
# synthetic embeddings are uniform-ish — ANN's best case for pruning honesty
# but worst case for recall realism. Planted Gaussian clusters exercise the
# opposite regime: pruning power on data with real structure.
# ---------------------------------------------------------------------------

def _clustered_embeddings(spark, n=2000, dim=16, k_clusters=10, spread=0.05):
    """Deterministic planted-cluster fixture (seeded PRNG): k tight
    Gaussian balls around uniform centers — FAISS-benchmark-style geometry
    (reference py:730-740 runs IVFFlat on real MiniLM vectors, which
    cluster by topic; this is that shape, synthesized)."""
    import random

    rnd = random.Random(1234)
    centers = [
        [rnd.uniform(-1, 1) for _ in range(dim)] for _ in range(k_clusters)
    ]
    rows = []
    for i in range(n):
        c = i % k_clusters
        rows.append(
            (i, [centers[c][j] + rnd.gauss(0, spread) for j in range(dim)], c)
        )
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def _recall_at_10(spark, emb, approx_fn, metric):
    recalls = []
    for qid in (0, 7, 42):
        q = vector.query_vector_of(emb, qid)
        exact = {
            r.vec_id
            for r in vector.knn_topk(emb, q, k=10, metric=metric).collect()
        }
        approx = {r.vec_id for r in approx_fn(emb, q).collect()}
        recalls.append(len(exact & approx) / 10)
    return recalls


def test_ivf_recall_on_clustered_data(spark):
    """recall@10 ≥ 0.9 at n_probe=2 of 16 lists: a tight cluster lands in
    few lists, so probing 1/8 of the corpus must still recover ~all true
    neighbors — the pruning-power claim on data with real geometry."""
    emb = _clustered_embeddings(spark).cache()
    for metric in ("l2", "cosine"):
        recalls = _recall_at_10(
            spark,
            emb,
            lambda e, q: vector.ivf_topk(
                e, q, k=10, n_lists=16, n_probe=2, metric=metric
            ),
            metric,
        )
        assert sum(recalls) / len(recalls) >= 0.9, (metric, recalls)


def test_ivf_refined_centroids_recall_on_clustered_data(spark):
    """The build→kmeans_refine→re-assign lifecycle on clustered data: one
    Lloyd step must keep (or sharpen) n_probe=2 recall ≥ 0.9."""
    emb = _clustered_embeddings(spark).cache()
    centroids, assigned = vector.build_ivf(emb, n_lists=16)
    refined = vector.kmeans_refine(assigned)
    reassigned = vector.ivf_assign(emb, refined)
    recalls = _recall_at_10(
        spark,
        emb,
        lambda e, q: vector.ivf_probe(refined, reassigned, q, k=10, n_probe=2, metric="l2"),
        "l2",
    )
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_auto_lsh_params_scales_with_corpus():
    """Band count must grow (weakly) with corpus size and always satisfy
    the design inequality (1 - p^r)^b <= (1 - target)/k at the design
    angle — the corpus-size-scaled answer to the round-3/4 e5_lsh_recall
    sf0.1 boundary."""
    import math

    prev = 0
    for n in (100, 2_000, 100_000, 10_000_000, 1_000_000_000):
        n_planes, n_bands = vector.auto_lsh_params(n)
        assert n_planes == 2 * n_bands
        assert n_bands >= prev, "bands must be monotone in corpus size"
        assert n_bands >= math.ceil(math.log2(n))
        p = 1.0 - math.radians(72.0) / math.pi
        assert (1.0 - p**2) ** n_bands <= (1.0 - 0.99) / 10 + 1e-12
        prev = n_bands


def test_ann_topk_with_auto_params_recall(spark):
    """ann_topk driven by auto_lsh_params on planted clusters keeps
    recall@10 >= 0.9 — the user-facing scale recipe actually works."""
    emb = _clustered_embeddings(spark).cache()
    n = emb.count()
    n_planes, n_bands = vector.auto_lsh_params(n)
    recalls = _recall_at_10(
        spark,
        emb,
        lambda e, q: vector.ann_topk(
            e, q, k=10, n_planes=n_planes, n_bands=n_bands, metric="cosine"
        ),
        "cosine",
    )
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_lsh_recall_on_clustered_data(spark):
    """The LSH path on the same planted clusters: random-hyperplane buckets
    must keep cosine recall@10 ≥ 0.9 (near-identical directions collide)."""
    emb = _clustered_embeddings(spark).cache()
    recalls = _recall_at_10(
        spark,
        emb,
        lambda e, q: vector.ann_topk(e, q, k=10, metric="cosine"),
        "cosine",
    )
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_sq8_codes_bounded_and_zero_vector_safe(spark):
    df = spark.createDataFrame(
        [(0, [1.0, -0.5, 0.25, 127.0], 0), (1, [0.0, 0.0, 0.0, 0.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    rows = {r.vec_id: r for r in vector.sq8_encode(df).collect()}
    assert all(-127 <= c <= 127 for c in rows[0].codes)
    assert rows[0].codes[3] == 127  # the max-abs element maps to full scale
    assert rows[1].sq_scale == 1.0 and rows[1].codes == [0, 0, 0, 0]


def test_sq8_recall_near_lossless_on_clustered_data(spark):
    """int8 of a bounded range loses <1% relative magnitude — asymmetric
    SQ8 top-k must recover ≥0.9 of exact kNN on real cluster geometry
    (in practice it is ~1.0; the gate leaves room for tie flips)."""
    emb = _clustered_embeddings(spark).cache()
    enc = vector.sq8_encode(emb).cache()
    for metric in ("ip", "l2"):
        recalls = _recall_at_10(
            spark,
            emb,
            lambda e, q: vector.sq8_topk(enc, q, k=10, metric=metric),
            metric,
        )
        assert sum(recalls) / len(recalls) >= 0.9, (metric, recalls)


def test_sq8_reconstruction_error_within_half_step(spark, sf_dir):
    """Quantization theory bound, checked on real data: |v − code·scale|
    ≤ scale/2 per element (round-to-nearest), so SQ8's worst-case relative
    error is 1/254 of the vector's max magnitude."""
    emb = io.load_table(spark, sf_dir, "embeddings")
    enc = vector.sq8_encode(emb)
    joined = emb.join(enc, "vec_id").select(
        F.array_max(
            F.zip_with(
                "embedding",
                "codes",
                lambda v, c: F.abs(
                    v.cast("double") - c.cast("double") * F.col("sq_scale")
                ),
            )
        ).alias("max_err"),
        (F.col("sq_scale") / 2 + F.lit(1e-9)).alias("bound"),
    )
    assert joined.where(F.col("max_err") > F.col("bound")).count() == 0


def test_semantic_dedup_recovery_restores_mixed_cluster_pairs(spark):
    """Round 8: the recovery band gives a FIRED cluster the second witness
    the r8 flood bench proved the pure star lacks (mixed-cluster variant
    recall 0.0). A flood past the cap plus a planted variant pair —
    below-threshold to the cluster min, near-identical to each other —
    must lose the non-min variant WITH recovery (matching the
    cluster_cap=None exact output) while the pure star misses it."""
    import math
    import warnings

    rows = []
    for i in range(30):  # near-identical flood, NOT byte-identical
        rows.append((i, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1e-4 * (i + 1)]))
    a = 0.7
    b = math.sqrt(1 - a * a)
    rows.append((100, [a, b, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))
    rows.append((101, [a, b, 0.0, 0.0, 0.0, 0.0, 1e-4, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kw = dict(n_clusters=1, threshold=0.8, cluster_cap=10)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        star_only = sorted(
            r.vec_id
            # recover_bands=0 pins the pure-star fired semantics; the
            # production default is 4x8 recovery
            for r in vector.semantic_dedup(
                df, recover_bands=0, **kw
            ).collect()
        )
        recovered = sorted(
            r.vec_id
            for r in vector.semantic_dedup(
                df, recover_bands=4, recover_bits=8, **kw
            ).collect()
        )
    exact = sorted(
        r.vec_id
        for r in vector.semantic_dedup(
            df, n_clusters=1, threshold=0.8, cluster_cap=None
        ).collect()
    )
    assert star_only == [0, 100, 101]  # the measured recall miss
    assert exact == [0, 100]
    assert recovered == exact  # recovery restores the exact fired output

    # recovery is inert when the guard does not fire: same output as the
    # plain capped (== uncapped) run on a corpus with no hot cluster
    calm = spark.createDataFrame(
        rows[:5] + rows[-2:], "vec_id long, embedding array<double>"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        plain = sorted(
            r.vec_id
            for r in vector.semantic_dedup(
                calm, n_clusters=1, threshold=0.8, cluster_cap=100
            ).collect()
        )
        rec = sorted(
            r.vec_id
            for r in vector.semantic_dedup(
                calm,
                n_clusters=1,
                threshold=0.8,
                cluster_cap=100,
                recover_bands=4,
                recover_bits=8,
            ).collect()
        )
    assert rec == plain


def test_semantic_dedup_recovery_is_default_and_conf_tunable(spark):
    """VERDICT r8 #3: recovery bands must be reachable from production
    paths without reading SCALE.md — the DEFAULT recover_bands=4 ×
    recover_bits=8 runs the measured recovery when the guard fires (same
    output as the exact cluster_cap=None greedy on this corpus). The
    recover_bands=0 pure-star leg is pinned in
    test_semantic_dedup_recovery_restores_mixed_cluster_pairs."""
    import math
    import warnings

    rows = []
    for i in range(30):  # near-identical flood, NOT byte-identical
        rows.append((i, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1e-4 * (i + 1)]))
    a = 0.7
    b = math.sqrt(1 - a * a)
    rows.append((100, [a, b, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))
    rows.append((101, [a, b, 0.0, 0.0, 0.0, 0.0, 1e-4, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(n_clusters=1, threshold=0.8, cluster_cap=10)

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        default_out = sorted(
            r.vec_id for r in vector.semantic_dedup(df, **kw).collect()
        )
        explicit = sorted(
            r.vec_id
            for r in vector.semantic_dedup(
                df, recover_bands=4, recover_bits=8, **kw
            ).collect()
        )
    exact = sorted(
        r.vec_id
        for r in vector.semantic_dedup(
            df, n_clusters=1, threshold=0.8, cluster_cap=None
        ).collect()
    )
    assert default_out == explicit == exact == [0, 100]


def test_dd_semantic_recovered_oracle_on_mixed_hot_cluster(spark, tmp_path):
    """The dd_semantic_recovered oracle must value-match the engine on a
    corpus where the recovery actually CHANGES the output (the sf
    generator's hot clusters are organic, so at sf0.01 recovered ==
    capped): a 70-strong near-identical flood (cap 60 fires) shares its
    cluster with a planted variant pair at cos ≈ 0.3 to the flood
    (below the 0.4 threshold — the star never drops them) and cos ≈ 1
    to each other. Engine and DuckDB must agree that recovery drops the
    non-min variant, landing on the exact cluster_cap=None output."""
    import duckdb
    import warnings

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_project_spark.registry import REGISTRY
    from tests.conftest import assert_matches_oracle

    dim = 64
    ids, vecs = [], []
    for i in range(70):  # flood: near-identical, not byte-identical
        v = [0.0] * dim
        v[0] = 1.0
        v[dim - 1] = 1e-4 * (i + 1)
        ids.append(i)
        vecs.append(v)
    # variant pair: IP to every (flood-like) centroid ≈ 0.3 + delta*eps —
    # the dim-63 component steers them into the flood's max-eps cluster
    import math

    a = 0.3
    b = math.sqrt(1 - a * a)
    for i, eps62 in ((200, 0.0), (201, 1e-4)):
        v = [0.0] * dim
        v[0] = a
        v[1] = b
        v[62] = eps62
        v[dim - 1] = 1e-3
        ids.append(i)
        vecs.append(v)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, type=pa.int64()),
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        capped = {
            r.vec_id
            for r in REGISTRY["dd_semantic_capped"]
            .build(spark, str(tmp_path))
            .collect()
        }
        got = REGISTRY["dd_semantic_recovered"].build(spark, str(tmp_path))
        kept = {r.vec_id for r in got.collect()}
    exact = {
        r.vec_id
        for r in vector.semantic_dedup(
            io.load_table(spark, str(tmp_path), "embeddings"),
            n_clusters=8,
            threshold=0.4,
            cluster_cap=None,
        ).collect()
    }
    assert 201 in capped  # the star's measured miss
    assert kept == exact == {0, 200}  # recovery restores exact greedy
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path}/embeddings.parquet')"
        )
        assert_matches_oracle(
            got, con, REGISTRY["dd_semantic_recovered"].oracle
        )
    finally:
        con.close()


# --- LSH auto-tune (round 8: suggest_minhash_params) ----------------------


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_lsh_autotune_entropy_drives_band_width(spark):
    """The estimator's whole point: a low-entropy corpus (tiny vocabulary →
    MinHash minima concentrate → band buckets collide between UNRELATED
    docs) must be told to use wider bands at scale, while a high-entropy
    corpus keeps the cheap narrow bands."""
    # low-entropy but NOT duplicated: md5-mixed draws from a 6-word vocab
    # (pairwise Jaccard ~0.03 — random pairs, never true near-dups; naive
    # cyclic constructions collapse into identical-doc classes and get
    # correctly classified TP instead)
    import hashlib

    vocab = [f"v{x}" for x in range(6)]

    def _w(i, j):
        return vocab[int(hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:8], 16) % 6]

    low = [" ".join(_w(i, j) for j in range(30)) for i in range(400)]
    high = [
        " ".join(f"w{i}x{j}" for j in range(30))  # no shared shingles at all
        for i in range(400)
    ]
    # n chosen inside the 400-doc sample's resolution: the add-one
    # smoothing floor is 1/(8·C(400,2)) ≈ 1.57e-6, so a zero-collision
    # corpus predicts ~1.17 cand/doc at 5e5 docs — inside budget 2.0.
    n_big = 500_000
    s_low = dedup.suggest_minhash_params(
        _docs_df(spark, low), sample_docs=400, n_docs=n_big
    )
    s_high = dedup.suggest_minhash_params(
        _docs_df(spark, high), sample_docs=400, n_docs=n_big
    )
    assert s_high["rows_per_band"] == 2 and s_high["within_budget"]
    assert s_low["rows_per_band"] > s_high["rows_per_band"]
    assert s_low["est_cand_per_doc"] > s_high["est_cand_per_doc"]
    # collisions really were observed on the low-entropy corpus
    assert s_low["collisions_total"] > 0


def test_lsh_autotune_true_dups_extrapolate_linearly(spark):
    """TP/FP split: planted TRUE duplicate pairs are a per-doc property and
    must NOT be extrapolated over C(n_docs, 2). A high-entropy corpus with
    50 exact-dup pairs stays narrow-band and within budget at 10⁶ docs;
    the same collisions counted as false positives would predict ~600
    candidates/doc and over-band (500k docs: smoothing floor ≈ 1.17/doc,
    TP term 0.2/doc — within budget only because the split works)."""
    texts = [" ".join(f"w{i}x{j}" for j in range(30)) for i in range(400)]
    for i in range(50):  # doc i+350 duplicates doc i exactly? no — pair up
        texts[300 + i] = texts[i]
    df = _docs_df(spark, texts)
    s = dedup.suggest_minhash_params(df, sample_docs=400, n_docs=500_000)
    assert s["rows_per_band"] == 2, s
    assert s["within_budget"], s
    # the duplicates DID collide (they agree on every band)
    assert s["collisions_total"] >= 50 * (16 // 2)


def test_lsh_autotune_deterministic(spark, sf_dir):
    d = io.load_table(spark, sf_dir, "documents")
    a = dedup.suggest_minhash_params(d, sample_docs=200)
    b = dedup.suggest_minhash_params(d, sample_docs=200)
    assert a == b
    assert a["num_hashes"] == a["rows_per_band"] * a["bands"]


def test_lsh_band_collision_profile_shape(spark, sf_dir):
    d = io.load_table(spark, sf_dir, "documents")
    rows = dedup.lsh_band_collision_profile(
        d, sample_docs=100, rows_per_band_choices=(2, 4, 8)
    ).collect()
    by_r = {r["r"]: r for r in rows}
    assert set(by_r) == {2, 4, 8}
    assert all(r["m"] == rows[0]["m"] for r in rows)
    assert by_r[2]["n_bands"] == 8 and by_r[8]["n_bands"] == 2
    for r in rows:
        assert r["fp_collisions"] + 0 <= r["collisions"]
        assert r["tp_pairs"] >= 0
    # wider bands never collide MORE often per band than narrower ones
    # (a whole-band agreement at width 8 implies agreement at width 4 on
    # its two halves — rates are monotone non-increasing in r per band,
    # modulo the band-count normalization; check the raw incidence trend)
    assert by_r[8]["collisions"] <= by_r[2]["collisions"]


def test_suggest_capped_audit_within_2x_of_realized(spark):
    """VERDICT r9 #3 (calibration): the sf50 '3.5x over-prediction'
    root-cause was the sampled profile modeling the UNGUARDED self-join
    while production pays the hot-bucket-GUARDED load. Planted
    low-entropy corpus (12-word vocab, md5-mixed — min-collisions
    concentrate, buckets exceed the cap): the capped-load audit must be
    a true upper bound on realized guarded candidates AND within 2x of
    them, while the sampled unguarded figure reads far over — the exact
    miscalibration the audit fixes. (Measured here: sampled 4.8/doc,
    exact unguarded 7.0, capped audit 1.98, realized 1.63.)"""
    import hashlib

    vocab = [f"v{x}" for x in range(12)]

    def _w(i, j):
        return vocab[int(hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:8], 16) % 12]

    texts = [" ".join(_w(i, j) for j in range(30)) for i in range(3000)]
    df = _docs_df(spark, texts)
    cap = 32
    sug = dedup.suggest_minhash_params(
        df, sample_docs=600, bucket_cap=cap, hash_fn="md5_affine"
    )
    realized = (
        dedup.minhash_lsh_candidates(
            df,
            num_hashes=sug["num_hashes"],
            bands=sug["bands"],
            include_est_jaccard=False,
            bucket_cap=cap,
            hash_fn="md5_affine",
        ).count()
        / 3000.0
    )
    assert sug["audit_hot_buckets"] > 0  # the guard genuinely fires
    assert sug["est_cand_per_doc_capped"] < sug["est_cand_per_doc_uncapped_exact"]
    # the audit is an upper bound (incidences >= distinct pairs;
    # guarded topology identical) ...
    assert realized <= sug["est_cand_per_doc_capped"] + 1e-9
    # ... and CALIBRATED: within 2x of what the guarded pipeline pays
    assert sug["est_cand_per_doc_capped"] <= 2.0 * realized
    # while the sampled unguarded figure over-reads by >2x — comparing
    # it against a guarded run is the r9 misreading
    assert sug["est_cand_per_doc"] > 2.0 * realized


def test_capped_audit_denominator_is_the_audited_corpus(spark):
    """ADVICE r10: the audit's per-doc figures must divide by the size
    of the df the audit actually SCANNED — recovered inside the audit
    aggregate itself (Σ occupancy / bands = n_docs_audited) — never the
    caller-supplied n_docs. The documented sample-prefix pattern (audit
    a prefix, pass the full-corpus n_docs for the fp extrapolation)
    previously under-read est_cand_per_doc_capped/uncapped_exact by
    full/prefix."""
    texts = [
        " ".join(f"w{(i * 7 + j) % 9}" for j in range(20)) for i in range(400)
    ]
    df = _docs_df(spark, texts)
    arow = dedup.lsh_capped_load_audit(df, hash_fn="md5_affine").collect()[0]
    assert arow["n_docs_audited"] == 400
    # wildly inflated caller n_docs (the full-corpus figure of the
    # sample-prefix pattern): the audit-derived per-doc figures must
    # still divide by the 400 docs actually audited
    sug = dedup.suggest_minhash_params(
        df, sample_docs=100, bucket_cap=8, hash_fn="md5_affine",
        n_docs=1_000_000,
    )
    ref = dedup.lsh_capped_load_audit(
        df, num_hashes=sug["num_hashes"], bands=sug["bands"],
        hash_fn="md5_affine", bucket_cap=8,
    ).collect()[0]
    assert ref["n_docs_audited"] == 400
    assert sug["est_cand_per_doc_capped"] == pytest.approx(
        ref["capped_pairs"] / 400.0
    )
    assert sug["est_cand_per_doc_uncapped_exact"] == pytest.approx(
        ref["uncapped_pairs"] / 400.0
    )


def test_shard_by_entropy_assignment_properties(spark):
    """VERDICT r9 #5: shard ids are in [0, n_shards), deterministic, and
    the structural guarantees hold — exact duplicates (identical shingle
    sets → identical hot-mass) ALWAYS co-shard, and low-entropy template
    docs (all-hot shingles) land in the top shard while unique-vocab
    docs (no hot shingles) land in shard 0."""
    template = " ".join(f"t{j % 5}" for j in range(30))  # tiny vocab: hot
    texts = [template + f" v{i}" for i in range(60)]  # flood family
    texts += [" ".join(f"u{i}x{j}" for j in range(30)) for i in range(40)]
    df = _docs_df(spark, texts)
    # hot_shingles sized to the genuinely-frequent set (the 5 cyclic
    # template shingles + a few tie-broken singletons): a hot set much
    # larger than the corpus's frequent mass would launder singleton
    # shingles in by the tie-break and blur the shard signal
    out = dedup.shard_by_entropy(df, n_shards=4, sample_docs=100,
                                 hot_shingles=8)
    rows = {r.doc_id: r.entropy_shard for r in out.collect()}
    assert set(rows) == set(range(100))
    assert all(0 <= s <= 3 for s in rows.values())
    # flood docs: nearly all shingles are hot-sample shingles -> top shard
    flood_shards = {rows[i] for i in range(60)}
    assert flood_shards == {3}
    # unique-vocab docs share no shingle with anything -> mass 0 -> shard 0
    assert {rows[i] for i in range(60, 100)} == {0}
    again = {
        r.doc_id: r.entropy_shard
        for r in dedup.shard_by_entropy(df, n_shards=4, sample_docs=100,
                                        hot_shingles=8).collect()
    }
    assert again == rows  # deterministic
    # exact duplicates co-shard by construction
    dup = _docs_df(spark, [texts[0], texts[0], texts[70], texts[70]])
    d = {r.doc_id: r.entropy_shard for r in
         dedup.shard_by_entropy(dup, n_shards=4, sample_docs=100).collect()}
    assert d[0] == d[1] and d[2] == d[3]
    # no-shingle docs (< 3 words) shard to 0 — the null-mass branch the
    # dd_shard_by_entropy oracle must mirror (DuckDB least() ignores
    # NULLs, so a naive coalesce-outside-least reads 3 there)
    short = _docs_df(spark, [texts[0], "two words", ""])
    s = {r.doc_id: r.entropy_shard for r in
         dedup.shard_by_entropy(short, n_shards=4, sample_docs=10).collect()}
    assert s[1] == 0 and s[2] == 0


def test_sharded_candidates_equal_union_of_per_shard_runs(spark):
    """The shard_col seam is ONE plan, not a driver loop — candidates
    with the shard-scoped band key must equal the union of running the
    unsharded candidate generator on each shard's documents separately
    (and in particular be a subset of the unsharded candidate set)."""
    template = " ".join(f"t{j % 5}" for j in range(30))
    texts = [template + f" v{i}" for i in range(40)]
    texts += [" ".join(f"u{i}x{j}" for j in range(30)) for i in range(20)]
    # plant a true near-dup pair inside the unique slice
    texts[45] = texts[44] + " extra"
    df = dedup.shard_by_entropy(
        _docs_df(spark, texts), n_shards=4, sample_docs=60
    )
    sharded = dedup.minhash_lsh_candidates(
        df, num_hashes=16, bands=4, include_est_jaccard=False,
        bucket_cap=None, shard_col="entropy_shard",
    )
    got = {(r.id_a, r.id_b) for r in sharded.collect()}
    want = set()
    for s in range(4):
        part = df.where(F.col("entropy_shard") == s)
        if part.isEmpty():
            continue
        want |= {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_candidates(
                part, num_hashes=16, bands=4,
                include_est_jaccard=False, bucket_cap=None,
            ).collect()
        }
    assert got == want
    unsharded = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(
            df, num_hashes=16, bands=4,
            include_est_jaccard=False, bucket_cap=None,
        ).collect()
    }
    assert got <= unsharded  # sharding only ever REMOVES candidates
    # the planted near-dup pair co-shards (near-identical hot-mass) and
    # survives sharding
    assert (44, 45) in got
    # and the flood's candidate volume shrank or stayed (never grew)
    assert len(got) <= len(unsharded)


def test_lsh_autotune_prefilter_prediction(spark):
    """min_est_jaccard planning: with the production candidate prefilter
    in the plan, the predicted verify load counts only false positives
    whose signature agreement survives the cut — on a low-entropy corpus
    a tight cut collapses the prediction and the suggester keeps cheap
    narrow bands instead of over-banding."""
    import hashlib

    vocab = [f"v{x}" for x in range(6)]

    def _w(i, j):
        return vocab[int(hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:8], 16) % 6]

    low = [" ".join(_w(i, j) for j in range(30)) for i in range(400)]
    df = _docs_df(spark, low)
    plain = dedup.suggest_minhash_params(df, sample_docs=400, n_docs=500_000)
    cut = dedup.suggest_minhash_params(
        df, sample_docs=400, n_docs=500_000, min_est_jaccard=1.0
    )
    assert cut["est_cand_per_doc"] <= cut["est_cand_per_doc_unfiltered"]
    assert cut["est_cand_per_doc"] < plain["est_cand_per_doc"]
    # the tight cut removes the collision pressure entirely: narrow bands
    # come back within budget
    assert cut["rows_per_band"] <= plain["rows_per_band"]
    assert cut["within_budget"]
