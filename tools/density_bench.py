#!/usr/bin/env python
"""Isolate dd_near_dedup_lsh's scaling from corpus duplicate density.

VERDICT r4 item 4: the sf5 sweep looked superlinear (5.3× time for 5×
docs), and SCALE.md attributed it to the synthetic corpus's 30-word
vocabulary — true near-dup pairs grow superlinearly with corpus size, so
the extra work is REAL duplicates, not a scaling defect. This tool proves
that attribution by measurement: it generates document corpora with
SCALE-INVARIANT duplicate density —

- vocabulary scales with the corpus (V = max(1000, n_docs // 5) distinct
  hash-derived tokens), so incidental cross-doc shingle collisions stay
  negligible at every size, and
- a fixed 10% of docs are PLANTED near-duplicates (doc 10k+9 reuses doc
  10k+8's text plus one appended token → 3-gram Jaccard ≥ 13/14),

then times the exact dd_near_dedup_lsh operator chain (MinHash-LSH
candidates → Jaccard verify → connected components → drop) at 1× and 5×
docs, each in a FRESH subprocess/session (VERDICT r4 item 5: no
in-sequence measurement churn), and appends the per-doc cost ratio to
bench_history.jsonl. Linear scaling ⇒ ratio ≈ 1 (≤ ~1.5 passes).

Usage: python tools/density_bench.py [--base 50000] [--runs 3]
Internal: python tools/density_bench.py --measure <dir> (one timed run)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def gen_docs(n_docs: int, out: str) -> None:
    """Documents-only corpus with scaled vocabulary + planted 10% dups."""
    from pyspark.sql import functions as F

    from big_data_project_spark.session import get_spark

    spark = get_spark(app_name="density-gen")
    vocab_size = max(1000, n_docs // 5)

    def h(*cols):
        return F.abs(F.xxhash64(*cols))

    ids = spark.range(0, n_docs, 1, 32)
    # planted pair scheme: id % 10 == 9 copies id-1's word recipe and
    # appends one marker token — text stays a pure function of id
    is_dup = (F.col("id") % 10) == 9
    base = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))
    n_words = (h(base, F.lit("dn")) % 46 + 15).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.concat(
            F.lit("w"), (h(base, i, F.lit("dw")) % vocab_size).cast("string")
        ),
    )
    text = F.when(
        is_dup,
        F.concat(F.array_join(words, " "), F.lit(" dupmark")),
    ).otherwise(F.array_join(words, " "))
    docs = ids.select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.format_string("src%d", (h(F.col("id"), F.lit("ds")) % 20 + 1).cast("int")).alias(
            "source"
        ),
    ).withColumn("n_chars", F.length("text").cast("long"))
    os.makedirs(out, exist_ok=True)
    docs.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    spark.stop()


def measure(sf_dir: str) -> None:
    """One timed dd_near_dedup_lsh run in this (fresh) process."""
    from big_data_project_spark import io, registry  # noqa: F401
    from big_data_project_spark.operators import dedup
    from big_data_project_spark.session import get_spark

    spark = get_spark(app_name="density-measure")
    d = io.load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # warm the scan outside the timed window
    t0 = time.monotonic()
    # the registry dd_near_dedup_lsh configuration (round 7): one shared
    # tokenize pass, no discarded est_jaccard join-backs
    sh = dedup.doc_shingles(d, "text", "doc_id", 3).localCheckpoint(
        eager=False
    )
    cand = dedup.minhash_lsh_candidates(
        d,
        num_hashes=registry._MH_K,
        bands=registry._MH_BANDS,
        hash_fn="md5_affine",
        include_est_jaccard=False,
        shingles=sh,
    )
    pairs = dedup.jaccard_verify(d, cand, n=3, min_jaccard=0.5, shingles=sh)
    kept = dedup.drop_near_dups(d, pairs).count()
    elapsed = time.monotonic() - t0
    print(json.dumps({"n_docs": n_docs, "kept": kept, "sec": round(elapsed, 3)}))
    spark.stop()


def timed_subprocess(sf_dir: str, runs: int) -> dict:
    best = None
    for _ in range(runs):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--measure", sf_dir],
            capture_output=True,
            text=True,
            check=True,
            cwd=REPO,
        )
        rec = json.loads(out.stdout.strip().splitlines()[-1])
        if best is None or rec["sec"] < best["sec"]:
            best = rec
    return best


#: 12-word boilerplate; variants below share its first 8 words (n-gram
#: Jaccard 6/14 ≈ 0.43 — UNDER the 0.5 verify threshold, so a variant is
#: NOT a true dup of the template, yet collides with the flood's hot
#: buckets on ~43% of docs: the MIXED hot bucket the guard trades on.
_TEMPLATE = (
    "breaking news boilerplate template body repeated verbatim "
    "across the crawl corpus"
)


def template_flood(n_templates: int) -> int:
    """Adversarial hot-bucket corpus (VERDICT r5 #2): n identical template
    docs + n organic docs. Unguarded banded LSH would emit
    bands·n²/2 candidate pairs (at 50k templates: 20 BILLION rows — the
    job-killer); the bucket_cap salt-split must complete in bounded time
    with candidates ≤ bands·cap·n and collapse the flood to ONE survivor.

    VERDICT r7 #6 adds the MIXED-corpus recall measurement: 100 planted
    variant PAIRS (ids ≥ 2n; each pair is a true near-dup of its twin at
    J ≈ 10/11 but NOT of the template at J ≈ 0.43, while sharing enough
    template shingles to land in the flood's hot star-guarded buckets on
    ~43% of docs). ``guard_recall_sampled`` = fraction of the sampled
    slice's UNGUARDED verified pairs whose duplication the guarded e2e
    still catches (≤ 1 of the 2 endpoints survives) — quantifying the
    documented star trade: intra-cluster pairs in a hot bucket must be
    re-found by the other bands. Appends to bench_history.jsonl."""
    from pyspark.sql import functions as F

    from big_data_project_spark import io  # noqa: F401
    from big_data_project_spark.operators import dedup
    from big_data_project_spark.session import get_spark

    spark = get_spark(app_name="template-flood")
    n = n_templates
    n_pairs = 100
    ids = spark.range(0, 2 * n, 1, 32)
    is_t = F.col("id") < n
    text = F.when(is_t, F.lit(_TEMPLATE)).otherwise(
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"o{k}_"),
                         F.abs(F.xxhash64("id", F.lit(k))).cast("string"))
                for k in range(12)
            ],
        )
    )
    d = ids.select(F.col("id").alias("doc_id"), text.alias("text"))
    tw = _TEMPLATE.split()
    variants = []
    for j in range(n_pairs):
        # 8 shared template words + 6 pair-unique: J(v, template) = 6/16
        # and J(v_j, v_j') = 6/18 — both under the 0.5 verify line, so
        # the ONLY true-dup link of a variant is its own twin
        # (J = 12/13); ~27% of variants still share a band bucket with
        # the flood (p = 1-(1-0.375^4)^16), making those buckets mixed.
        v = " ".join(tw[:8] + [f"var{j}{c}" for c in "abcdef"])
        variants.append((2 * n + 2 * j, v))
        variants.append((2 * n + 2 * j + 1, v + f" var{j}tail"))
    d = d.unionByName(
        spark.createDataFrame(variants, "doc_id long, text string")
    )
    d = d.localCheckpoint()  # corpus fixed; time only the dedup chain
    bands, cap = 16, 1024
    t0 = time.monotonic()
    # one tokenize pass shared by block and verify, est_jaccard join-backs
    # skipped — the e2e near-dedup configuration (round 7)
    sh = dedup.doc_shingles(d, "text", "doc_id", 3).localCheckpoint(
        eager=False
    )
    cand = dedup.minhash_lsh_candidates(
        d, num_hashes=64, bands=bands, bucket_cap=cap,
        include_est_jaccard=False, shingles=sh,
    )
    n_cand = cand.count()
    t1 = time.monotonic()
    pairs = dedup.jaccard_verify(d, cand, n=3, min_jaccard=0.5, shingles=sh)
    kept_df = dedup.drop_near_dups(d, pairs).localCheckpoint()
    kept = kept_df.count()
    t2 = time.monotonic()
    assert n_cand <= bands * cap * (n + 2 * n_pairs), (n_cand,)
    # flood + organic behavior unchanged by the variant planting: one
    # template survivor, every organic doc kept
    core_kept = kept_df.where(F.col("doc_id") < 2 * n).count()
    assert core_kept == n + 1, core_kept
    # --- guard recall on a sampled slice (VERDICT r7 #6) ---------------
    # S = all variants + 250 flood + 250 organic docs; the unguarded pair
    # set restricted to S is feasible (band digests are per-doc, so
    # banding S alone reproduces exactly the full corpus's S-S buckets)
    sample_cond = (
        (F.col("doc_id") >= 2 * n)
        | (F.col("doc_id") < 250)
        | ((F.col("doc_id") >= n) & (F.col("doc_id") < n + 250))
    )
    dS = d.where(sample_cond).localCheckpoint()
    candS = dedup.minhash_lsh_candidates(
        dS, num_hashes=64, bands=bands, bucket_cap=None,
        include_est_jaccard=False,
    )
    trueS = (
        dedup.jaccard_verify(dS, candS, n=3, min_jaccard=0.5)
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint()
    )
    true_pairs = trueS.count()
    surv = kept_df.select(F.col("doc_id"))
    both_survive = (
        trueS.join(surv.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(surv.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        .count()
    )
    recall = round(1.0 - both_survive / true_pairs, 4) if true_pairs else 1.0
    rec = {
        "metric": "lsh_template_flood_guarded",
        "n_templates": n,
        "bucket_cap": cap,
        "bands": bands,
        "candidates": n_cand,
        "unguarded_candidates_would_be": bands * n * (n - 1) // 2,
        "cand_sec": round(t1 - t0, 3),
        "total_sec": round(t2 - t0, 3),
        "kept": kept,
        "variant_pairs_planted": n_pairs,
        "true_pairs_sampled": true_pairs,
        "true_pairs_missed": both_survive,
        "guard_recall_sampled": recall,
    }
    print(json.dumps(rec))
    with open(os.path.join(REPO, "bench_history.jsonl"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    spark.stop()
    return 0


def embedding_flood(n_flood: int, recover_bands: int = 0) -> int:
    """VERDICT r6 #2: the SEMANTIC twin of --template-flood. N near-but-
    NOT-byte-identical embeddings (same template vector, per-doc noise in
    two dims — collapse_exact cannot merge them) plus N organic random
    vectors, through semantic_dedup with the DEFAULT cluster_cap. Every
    cluster past the cap switches to the star topology, so within-cluster
    emission is m−1 instead of m(m−1)/2 — for the flood cluster that is
    exactly output-preserving (all members are similar to the min), and
    the chain finishes where unguarded all-pairs would emit ~n²/16 pairs."""
    import math

    from pyspark.sql import functions as F

    from big_data_project_spark.operators import vector
    from big_data_project_spark.session import get_spark

    spark = get_spark(app_name="embedding-flood")
    n = n_flood
    ids = spark.range(0, 2 * n, 1, 32)
    is_f = F.col("id") < n
    base = [math.sin(0.37 * (j + 1)) for j in range(64)]
    flood_emb = F.array(
        *[
            F.lit(base[j])
            + (
                ((F.abs(F.xxhash64("id", F.lit(j))) % 1000).cast("double"))
                / 1.0e7
                if j < 2
                else F.lit(0.0)
            )
            for j in range(64)
        ]
    )
    organic_emb = F.array(
        *[
            (
                (F.abs(F.xxhash64("id", F.lit(100 + j))) % 2001).cast(
                    "double"
                )
                - 1000.0
            )
            / 1000.0
            for j in range(64)
        ]
    )
    df = ids.select(
        F.col("id").alias("vec_id"),
        F.when(is_f, flood_emb).otherwise(organic_emb).alias("embedding"),
    )
    # VERDICT r7 #6: planted MIXED-cluster variant pairs (ids ≥ 2n) —
    # each v sits at cosine exactly 0.85 to the flood template (UNDER the
    # 0.9 threshold, so never dropped by the star around the flood min)
    # while its twin is the same direction rescaled (cosine 1 — a true
    # pair). Max-IP assignment puts them in the flood's (fired) cluster,
    # so the pair's only witness topology is the star — quantifying the
    # recall the guard trades away for mixed hot clusters.
    bnorm = math.sqrt(sum(b * b for b in base))
    bhat = [b / bnorm for b in base]
    n_pairs = 10
    variants = []
    for j in range(n_pairs):
        w = [math.sin(1.7 * (k + 3) * (j + 5)) for k in range(64)]
        proj = sum(wk * bk for wk, bk in zip(w, bhat))
        w = [wk - proj * bk for wk, bk in zip(w, bhat)]
        wn = math.sqrt(sum(wk * wk for wk in w))
        v = [
            0.85 * bk + math.sqrt(1 - 0.85 ** 2) * wk / wn
            for bk, wk in zip(bhat, w)
        ]
        variants.append((2 * n + 2 * j, v))
        variants.append((2 * n + 2 * j + 1, [1.001 * x for x in v]))
    df = df.unionByName(
        spark.createDataFrame(variants, "vec_id long, embedding array<double>")
    ).localCheckpoint()
    t0 = time.monotonic()
    kept = vector.semantic_dedup(
        df,
        n_clusters=8,
        threshold=0.9,
        recover_bands=recover_bands,
        # 8-bit buckets: the dd_semantic_recovered registry config
        # (bands x bits must fit the 63 packable sign bits)
        recover_bits=8,
    )
    kept = kept.localCheckpoint()
    kept_rows = kept.count()
    flood_kept = kept.where(F.col("vec_id") < n).count()
    t1 = time.monotonic()
    # star semantics: the flood cluster collapses to its min id exactly
    assert flood_kept == 1, flood_kept
    # organic random 64-dim vectors essentially never reach cosine 0.9
    assert kept_rows >= n * 0.999 + 1, kept_rows
    # --- guard recall on a sampled slice (VERDICT r7 #6) ---------------
    # S = variants + 300 flood + 300 organic; ground truth = same-cluster
    # pairs at cosine ≥ 0.9 under the SAME md5 centroids as the full run
    sample_cond = (
        (F.col("vec_id") >= 2 * n)
        | (F.col("vec_id") < 300)
        | ((F.col("vec_id") >= n) & (F.col("vec_id") < n + 300))
    )
    cents = vector.semantic_centroids(df, n_clusters=8)
    asgS = vector.semantic_index(
        df.where(sample_cond), cents
    ).localCheckpoint()
    a = asgS.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_ea"),
    )
    b = asgS.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_eb"),
    )
    trueS = (
        a.join(b, ["cluster_id"])
        .where(F.col("id_a") < F.col("id_b"))
        .where(vector.cosine("_ea", "_eb") >= 0.9)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    true_pairs = trueS.count()
    true_variant = trueS.where(
        (F.col("id_a") >= 2 * n) & (F.col("id_b") >= 2 * n)
    ).count()
    surv = kept.select("vec_id")
    both = trueS.join(
        surv.withColumnRenamed("vec_id", "id_a"), "id_a", "left_semi"
    ).join(surv.withColumnRenamed("vec_id", "id_b"), "id_b", "left_semi")
    both_survive = both.count()
    both_variant = both.where(
        (F.col("id_a") >= 2 * n) & (F.col("id_b") >= 2 * n)
    ).count()
    recall = round(1.0 - both_survive / true_pairs, 4) if true_pairs else 1.0
    variant_recall = (
        round(1.0 - both_variant / true_variant, 4) if true_variant else 1.0
    )
    rec = {
        "metric": "semantic_embedding_flood_guarded",
        "n_flood": n,
        "recover_bands": recover_bands,
        "cluster_cap": 1024,
        "kept": kept_rows,
        "flood_survivors": flood_kept,
        "unguarded_flood_pairs_would_be": n * (n - 1) // 2,
        "total_sec": round(t1 - t0, 3),
        "variant_pairs_planted": n_pairs,
        "true_pairs_sampled": true_pairs,
        "true_pairs_missed": both_survive,
        "guard_recall_sampled": recall,
        "variant_pair_recall_sampled": variant_recall,
    }
    print(json.dumps(rec))
    with open(os.path.join(REPO, "bench_history.jsonl"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    spark.stop()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", type=int, default=50_000)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--measure", default=None, help=argparse.SUPPRESS)
    ap.add_argument(
        "--template-flood", type=int, default=None, metavar="N",
        help="run the adversarial identical-template corpus (N templates "
        "+ N organic docs) through guarded near-dedup and record bounds",
    )
    ap.add_argument(
        "--embedding-flood", type=int, default=None, metavar="N",
        help="run the adversarial near-identical-embedding corpus (N flood "
        "+ N organic vectors) through guarded semantic_dedup and record "
        "bounds",
    )
    ap.add_argument(
        "--recover-bands", type=int, default=4,
        help="sign-LSH recovery bands for fired semantic clusters — "
        "default 4 matches semantic_dedup's default recover_bands; "
        "pass 0 to pin the pure-star guard",
    )
    args = ap.parse_args()

    if args.template_flood:
        return template_flood(args.template_flood)

    if args.embedding_flood:
        return embedding_flood(args.embedding_flood, args.recover_bands)

    if args.measure:
        measure(args.measure)
        return 0

    points = {}
    for mult in (1, 5):
        n = args.base * mult
        out = os.path.join(REPO, "testdata_local", f"density{mult}x")
        if not os.path.exists(os.path.join(out, "documents.parquet")):
            print(f"generating {n} docs -> {out}", file=sys.stderr)
            gen_docs(n, out)
        rec = timed_subprocess(out, args.runs)
        # sanity: ≥95% of planted dups actually dropped (LSH at 16 hashes /
        # 4 bands misses a small tail of the shortest docs — probabilistic
        # recall, not a defect; exactness is the oracle entries' job)
        planted = n // 10
        expected_kept = n - planted
        assert expected_kept <= rec["kept"] <= expected_kept + planted // 20, (
            rec,
            expected_kept,
        )
        points[str(n)] = rec["sec"]
        print(f"{n} docs: {rec['sec']}s (kept {rec['kept']})", file=sys.stderr)

    n1, n5 = args.base, args.base * 5
    per_doc_ratio = (points[str(n5)] / n5) / (points[str(n1)] / n1)
    record = {
        "metric": "dd_near_dedup_fixed_density",
        "points_sec": points,
        "per_doc_cost_ratio_5x": round(per_doc_ratio, 3),
        "planted_dup_rate": 0.1,
        "note": (
            "scale-invariant duplicate density (scaled vocab + planted 10% "
            "near-dups), fresh session per measurement, best of runs"
        ),
    }
    with open(os.path.join(REPO, "bench_history.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
