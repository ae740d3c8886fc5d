"""Deduplication family for LLM data pipelines (BASELINE.json north star:
"dedup, similarity search, multimodal columns, text analysis ... designed for
100 TB scale").

Four tiers, by cost/fidelity:

- exact       : hash-groupBy on a normalized fingerprint. One shuffle.
- ngram       : exact n-gram-shingle Jaccard via shingle equi-join — the
                *oracle-able* similarity op; quadratic in docs-per-shingle,
                so at 100 TB it is the verifier for samples, not the scan.
- minhash-LSH : the scale path. Per-doc signature (k hashes over shingles),
                banded into buckets; only in-bucket pairs are compared.
                Linear shuffles; no all-pairs stage anywhere.
- simhash     : 64-bit near-dup fingerprint; hamming-adjacent candidates via
                rotated prefix buckets.

All hashing derives from md5 (stable across engines/sessions — Spark's
``hash()`` is fine inside one engine but not a cross-system contract).
No Python UDFs: signatures are built with explode + groupBy min, which
keeps everything in whole-stage codegen.

A note on lineage cuts (ADVICE r6 → VERDICT r7 #5): every cut in this
module (and in graph.py / text.py / vector.py) exists to stop Spark
re-executing an expensive subtree referenced by several plan branches,
or to keep iterative plans from growing without bound. All cut sites
route through :func:`plans.lineage.lineage_cut`, which honors the
session conf ``spark.bdps.lineageCut``: ``local`` (default —
localCheckpoint, the right trade on local[n] where executor == driver)
or ``reliable`` (``checkpoint()`` to a durable dir, survives executor
loss — set this on a real cluster). Results are mode-invariant; see the
lineage module docstring.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_project_spark.io import from_rows
from big_data_project_spark.plans.lineage import lineage_cut
from big_data_project_spark.plans.parallelism import spread_input

from big_data_project_spark.operators.cleaning import normalize_text_col
from big_data_project_spark.operators.text import words_col

#: The hot-bucket guard's default cap, shared by minhash_lsh_candidates,
#: dedup_delta_near and the planners that must model the guard
#: (suggest_minhash_params(bucket_cap=...), curate_corpus's drift guard)
#: so planner and pipeline cannot drift apart.
DEFAULT_BUCKET_CAP = 1024

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by md5(normalized text); keep the smallest id as
    the canonical copy. Output one row per distinct content."""
    return (
        df.select(F.md5(normalize_text_col(text)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def drop_exact_dups(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup applied: keep the lowest-id row per content hash."""
    w = Window.partitionBy(F.md5(normalize_text_col(text))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# n-gram shingles + exact Jaccard (oracle-able)
# ---------------------------------------------------------------------------

def shingles_col(words: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles over a *bound* words-array column:
    { join(w[i..i+n-1], ' ') : 0 <= i <= m-n }.

    Takes the already-materialized array, NOT the raw text: referencing
    split(text) inside the transform lambda re-evaluates the split per
    element (O(words²) per doc — measured 8.8s → 0.4s at sf0.1 for the fix).
    """
    # guard: sequence(1, 0) would count DOWN in Spark, so short docs need an
    # explicit empty array rather than relying on an empty sequence.
    idx = F.when(
        F.size(words) >= n, F.sequence(F.lit(1), F.size(words) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))
    )


def doc_shingles(df: DataFrame, text: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Exploded (id, shingle) pairs — the input of both exact Jaccard and
    MinHash. The corpus is spread to the session's parallelism floor
    BEFORE tokenize/explode (r11, guide §2.5): a single-row-group file
    otherwise runs the whole shingle+hash map stage on one task; at
    scale, where the scan already splits, the spread is a no-op."""
    bound = spread_input(df, id_col).select(
        F.col(id_col).alias("doc_id"), words_col(text).alias("_w")
    )
    return bound.select(
        "doc_id", F.explode(shingles_col(F.col("_w"), n)).alias("shingle")
    )


def jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing ≥1 shingle.

    Distributed shape: explode → self-equi-join on shingle → count common →
    join set sizes → jaccard. Shuffles are linear in total shingles; the
    join fan-out is quadratic per hot shingle, which is why the 100 TB path
    is minhash_lsh_candidates (this operator is its correctness oracle)."""
    sh = doc_shingles(df, text, id_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    if min_jaccard > 0:
        out = out.where(F.col("jaccard") >= min_jaccard)
    return out


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.0,
    shingles: DataFrame | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """EXACT Jaccard computed only for the given candidate ``pairs``
    (id_a, id_b) — the verify half of the blocked-dedup recipe: LSH
    proposes, this confirms. Cost is linear in candidates × shingles-per-
    doc (each candidate pair expands to its own shingle rows, never the
    corpus cross product), so it composes with minhash_lsh_candidates into
    a fully scale-shaped near-dedup: block → verify → cluster → drop.

    ``shingles``: share one precomputed (ideally lineage-cut)
    :func:`doc_shingles` stream with the blocking stage instead of
    tokenizing the corpus a second time (see minhash_lsh_candidates).

    ``hash_shingles`` (round 8, the scale knob): compare xxhash64 of each
    shingle instead of the string itself. The pair-expansion join — the
    stage whose shuffle is candidates × shingles-per-doc rows, 11.4 GB at
    sf25 k64/b8 and past-local-disk at k16/b4 — then moves 8-byte longs
    instead of ~25-byte n-gram strings (~3× less shuffle). Results are
    identical unless two DISTINCT shingles of a compared pair collide in
    64 bits (≈ m²/2⁶⁵ for m distinct shingles — ~1e-9 even at 10⁵
    shingles per doc pair), which is why it is opt-in rather than default:
    the DuckDB oracles compare exact strings."""
    # the shingle stream feeds the size aggregate AND both join sides —
    # checkpoint so the corpus tokenizes once, not three times
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(df, text, id_col, n).transform(lineage_cut)
    )
    if hash_shingles:
        # per-doc shingles are already distinct (shingles_col), so the
        # count aggregate below is unchanged modulo 64-bit collisions
        sh = sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    p = pairs.select("id_a", "id_b")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingle").alias("_sa"))
    b = sh.select(F.col("doc_id").alias("_idb"), F.col("shingle").alias("_sb"))
    common = (
        p.join(a, "id_a")
        .join(
            b,
            (F.col("id_b") == F.col("_idb")) & (F.col("_sa") == F.col("_sb")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    if min_jaccard > 0:
        out = out.where(F.col("jaccard") >= min_jaccard)
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------

_MINHASH_P = 2147483647  # 2^31 − 1, prime: a·x+b stays under 2^62 in a long


def md5_affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (aᵢ, bᵢ) multipliers for the classical universal-hash
    MinHash family hᵢ(x) = (aᵢ·x + bᵢ) mod p over p = 2³¹−1. One shared
    source for the Spark expressions AND the registry's DuckDB oracle
    generator, so the two cannot drift."""
    return [
        ((2654435761 * (i + 1)) % _MINHASH_P or 1, (40503 * (i + 1) + 7) % _MINHASH_P)
        for i in range(num_hashes)
    ]


def minhash_signatures_agg(
    shingled: DataFrame,
    num_hashes: int = 64,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures as ONE hash-aggregate: sig[i] = min over shingles
    of xxhash64(shingle, seed+i).

    Two deliberate performance choices (both ~10× wins measured at sf0.1):
    - xxhash64 with a per-function salt column instead of the classical
      (a·x+b mod p) family — the modular form needs >64-bit arithmetic
      (decimal) per hash, which dominates runtime; xxhash64 is a single
      JVM-codegen'd call and empirically min-wise uniform.
    - groupBy(doc_id).agg(min(h_0)..min(h_k)) instead of posexplode+groupBy:
      partial aggregation collapses each partition to one row per doc
      BEFORE the shuffle, so shuffle volume is docs·k longs, not
      docs·shingles·k rows.

    ``hash_fn="md5_affine"`` switches to the classical universal family
    hᵢ(x) = (aᵢ·x + bᵢ) mod 2³¹−1 over x = the 60-bit md5 segment of the
    shingle — ENGINE-EXACT (md5 + integer arithmetic exist identically in
    DuckDB), which upgrades MinHash/LSH from rows-only to
    value-hash-checkable by the driver. The md5 is computed once per
    shingle row, not once per hash function. The 64-hash aggregate alone
    costs about what xxhash64's does (local[4], medians of 6 alternating
    pairs: 0.69 s for both at sf0.1; 1.79 s vs 2.01 s at sf1). Its price is
    in the candidates: with K=16 hashes in 4 bands the family passes far
    more pairs to verify than xxhash64 (sf0.1 2,155 vs 256; sf1 113,814 vs
    6), so at sf1 the whole LSH chain takes 5.99 s vs 3.75 s."""
    # expression strings: one py4j call per aggregate and one for the
    # array assembly (the Column-object form paid seconds of driver-side
    # py4j chatter building 64 nested min(xxhash64) objects per call).
    if hash_fn == "md5_affine":
        hashed = shingled.selectExpr(
            "doc_id",
            "CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT)"
            f" % {_MINHASH_P} AS _hx",
        )
        mins = hashed.groupBy("doc_id").agg(
            *[
                F.expr(f"min(({a} * _hx + {b}) % {_MINHASH_P}) AS h{i}")
                for i, (a, b) in enumerate(md5_affine_params(num_hashes))
            ]
        )
    else:
        mins = shingled.groupBy("doc_id").agg(
            *[
                F.expr(f"min(xxhash64(shingle, {seed + i})) AS h{i}")
                for i in range(num_hashes)
            ]
        )
    sig = ", ".join(f"h{i}" for i in range(num_hashes))
    return mins.selectExpr("doc_id", f"array({sig}) AS signature")


def _band_exprs(num_hashes: int, bands: int) -> str:
    """The band-digest expression list shared by candidate generation and
    the persistable index: band b's hash is md5 over the '_'-joined
    decimal rendering of its rows-per-band signature components —
    engine-exact (identical in DuckDB)."""
    rows_per_band = num_hashes // bands
    return ", ".join(
        "md5(concat_ws('_', "
        + ", ".join(
            f"element_at(signature, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        )
        + "))"
        for b in range(bands)
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    include_est_jaccard: bool = True,
    shingles: DataFrame | None = None,
    min_est_jaccard: float | None = None,
    shard_col: str | None = None,
) -> DataFrame:
    """LSH candidate pairs: band the signature (bands × rows-per-band),
    bucket-join on (band_id, band_hash), emit distinct candidate pairs with
    their estimated Jaccard (signature agreement rate).

    ``shard_col`` — entropy sharding (VERDICT r9 #5): name a per-doc
    shard column on ``df`` (from :func:`shard_by_entropy`) and the band
    key becomes shard-scoped (``band_hash := shard | band_hash``), so
    candidates only form WITHIN a shard — one plan, one corpus scan,
    no per-shard driver loop. Every hot bucket's occupancy splits into
    per-shard pieces (Σ mᵢ² < m² pair output), at the documented recall
    trade (cross-shard pairs are unfindable — see shard_by_entropy).
    The hot-bucket guard, prefilter and est_jaccard compose unchanged
    (they act on the scoped keys / surviving pairs). Cost: one extra
    linear join of the per-doc shard map onto the signature stream.
    Mirrorable in SQL under ``hash_fn='md5_affine'`` (the scoped key is
    a concat).

    ``shingles`` — a precomputed :func:`doc_shingles` stream (ideally
    already lineage-cut) — lets block+verify pipelines tokenize the corpus
    ONCE and share the stream with :func:`jaccard_verify`: one fewer full
    corpus scan per near-dedup run, the kind of pass that costs hours at
    100 TB.

    ``include_est_jaccard=False`` drops the est_jaccard column AND the two
    signature join-backs that compute it. Catalyst cannot prune those
    joins away on its own (an inner join changes cardinality as far as
    the optimizer knows, even though id_a/id_b always hit), so pipelines
    that re-verify candidates with EXACT Jaccard anyway — curate_corpus
    lsh mode, the near-dedup e2e line — pass False and skip two joins
    whose output they would discard.

    ``min_est_jaccard`` — the FALSE-POSITIVE PREFILTER (round 8, the sf25
    k16/b4 post-mortem): candidate pairs whose signature agreement rate is
    below this bound are dropped BEFORE they ever reach the exact-verify
    stage. On a low-entropy corpus (small vocabulary, templated text)
    MinHash minima concentrate and band buckets collide far above the
    true-Jaccard rate — measured cand/doc 11.38 at sf5 k16/b4 with ZERO
    verified pairs, and at sf25 the verify stage's pair×shingle expansion
    (candidates × ~35 shingle rows × both sides) spilled past local disk
    and killed the job. The prefilter costs two hash joins of the DISTINCT
    pair set against the signature table — linear in candidates, bytes =
    candidates × signature width — instead of the verify join's
    candidates × shingles-per-doc × string width. Set it to
    ``verify_threshold − margin``: for ``k`` hashes the estimator's σ is
    at most ``1/(2·sqrt(k))`` (binomial, worst case p=½ — 0.0625 at k=64),
    so a margin of 0.2 at k=64 keeps a true threshold-Jaccard pair with
    P(drop) ≈ Φ(−3.2) ≈ 7e-4 and tightens exponentially for pairs above
    threshold. Pipelines that verify exactly afterwards lose NOTHING
    else: every surviving pair is still exact-checked. Mirrorable in SQL
    under ``hash_fn='md5_affine'`` (agreement is a sum of per-component
    equality cases — see the dd_near_dedup_lsh oracle). Composes with
    ``include_est_jaccard`` either way (filter-only when the column is
    kept; join-filter-drop when it is not).

    100 TB shape: every stage is an equi-shuffle on bounded keys; candidate
    fan-out is controlled by band width. No all-pairs comparison happens.

    **Hot-bucket guard** (``bucket_cap``, VERDICT r5 #2): a template-heavy
    web corpus concentrates millions of near-identical docs into single
    band buckets, and an unguarded self-join emits O(m²) pairs per hot
    bucket — quadratic OUTPUT that AQE cannot re-plan away. Buckets whose
    member count exceeds ``bucket_cap`` switch from all-pairs to a STAR
    candidate topology: every member pairs with the bucket's minimum doc
    id only (star contraction, the standard CC trick) — m−1 pairs per hot
    bucket per band instead of m(m−1)/2, a total output bound of
    ~bands·m. Connectivity is preserved exactly for the flood case (the
    bucket IS one duplicate cluster and the star connects it through the
    min); a mixed hot bucket relies on the other bands' buckets for
    intra-cluster pairs — the same probabilistic cover banding provides
    everywhere else, and only ever weakened for buckets past the cap.
    The guard is TWO-PHASE so it pays only when it fires: a count-only
    probe over xxhash64(band_id, band_hash) — 8-byte shuffle keys,
    map-side partial counts, isEmpty() on the ≤ rows/cap post-filter
    output — decides whether any bucket exceeds the cap; the exact
    aggregate + broadcast join-back + star projection run only then, with
    a ``warnings.warn`` making the recall trade observable. When no
    bucket exceeds the cap the candidate plan is byte-identical to the
    unguarded self-join (oracle mirrors that simulate raw banding stay
    green), and the probe job doubles as the action that materializes the
    signature checkpoint the main job needs anyway.
    ``bucket_cap=None`` disables the guard.

    **The probe is EAGER** (ADVICE r7): with ``bucket_cap`` set,
    *constructing* the returned DataFrame runs the shingle/signature jobs
    up through the probe's ``isEmpty()`` — plan-only callers (``explain``,
    registration sweeps) pay real compute per call, and the hot/not-hot
    topology choice is frozen for the data as of THIS call. Re-executing
    the returned plan later over a mutated source can exceed ``bucket_cap``
    unguarded; for mutable sources rebuild per execution (the streaming
    path, :func:`streaming.ops.near_dedup_stream`, already does — each
    micro-batch calls this fresh). Pass ``bucket_cap=None`` when you only
    need the plan.

    ``hash_fn="md5_affine"`` makes the whole candidate generation
    engine-exact (see :func:`minhash_signatures_agg`) — banding is md5 over
    decimal-rendered signature components, identical in DuckDB, and the
    hot-bucket star (count/min aggregates over band keys) is equally
    SQL-expressible, so a fired cap remains DuckDB-mirrorable."""
    if bucket_cap is not None and bucket_cap < 2:
        raise ValueError("bucket_cap must be >= 2 (or None to disable)")
    # localCheckpoint: the signature aggregate (shingle explode + k-hash
    # min-agg — by far the most expensive subtree here) is referenced by
    # up to FIVE plan branches (two self-join sides, the hot-bucket probe,
    # two est_jaccard signature look-backs). Without the cut Spark
    # re-executes the subtree per branch (measured 2.3s/branch at sf0.1);
    # with it the aggregate materializes once (docs × (8 + 8k) bytes —
    # the same order as its own shuffle) and every branch scans it.
    # WHERE the cut goes depends on what downstream needs: when the
    # signatures are re-read by the pair join-backs (est_jaccard output
    # OR the min_est_jaccard prefilter) the cut sits on sig; otherwise
    # the signature array is consumed exactly once (by banding), so the
    # cut moves AFTER the band digest — the probe and both self-join
    # sides then scan precomputed (doc_id, band_id, band_hash) rows
    # instead of each re-deriving bands·md5s per doc.
    sig_raw = minhash_signatures_agg(
        shingles if shingles is not None else doc_shingles(df, text, id_col, n),
        num_hashes,
        seed,
        hash_fn=hash_fn,
    )
    if shard_col is not None:
        # entropy sharding: scope every band key by the doc's shard —
        # the join is per-doc (one sig row each side, co-keyed) and
        # happens BEFORE the bands explode, so it costs one linear
        # shuffle, not bands× of one
        # null shards default to "0" (shard_by_entropy's no-shingle
        # bucket): concat_ws silently DROPS null args, which would give
        # null-shard docs an unprefixed band key — an implicit extra
        # shard whose members could never pair with their shard-0 twins
        shard_map = df.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(
                F.col(shard_col).cast("string"), F.lit("0")
            ).alias("_shard"),
        )
        sig_raw = sig_raw.join(shard_map, "doc_id")
    band_exprs = _band_exprs(num_hashes, bands)

    def _band(src: DataFrame) -> DataFrame:
        # SLIM banding: the self-join shuffles (doc_id, band_id, band_hash)
        # only — signatures are joined back for the (far fewer) surviving
        # distinct pairs instead of riding every bucket row twice.
        banded_src = src.select(
            "doc_id",
            *([F.col("_shard")] if shard_col is not None else []),
            F.posexplode(F.expr(f"array({band_exprs})")).alias(
                "band_id", "band_hash"
            ),
        )
        if shard_col is not None:
            banded_src = banded_src.select(
                "doc_id",
                "band_id",
                F.concat_ws("|", "_shard", "band_hash").alias("band_hash"),
            )
        return banded_src

    need_sig = include_est_jaccard or min_est_jaccard is not None
    if need_sig:
        sig = sig_raw.transform(lineage_cut)
        banded = _band(sig)
    else:
        sig = None
        banded = _band(sig_raw).transform(lineage_cut)
    join_keys = [
        F.col("a.band_id") == F.col("b.band_id"),
        F.col("a.band_hash") == F.col("b.band_hash"),
    ]
    star = None
    if bucket_cap is not None:
        # TWO-PHASE guard (pay-only-when-firing): a cheap count-only PROBE
        # decides whether ANY bucket exceeds the cap; the star projection +
        # min join-back runs ONLY when one does. In the overwhelmingly
        # common no-hot-bucket case the candidate plan below is
        # byte-identical to the unguarded self-join — no join-back, no
        # filter, no broadcast — and the guard's whole cost is the probe
        # job, which doubles as the action that materializes the
        # localCheckpoint the main job needs anyway (so its shingle/min-agg
        # work is NOT extra). The probe groups on xxhash64(band_id,
        # band_hash) — an 8-byte shuffle key instead of the 36-byte
        # (int, md5-string) pair — with map-side partial counts; its
        # post-filter output is ≤ rows/cap keys and we only ask isEmpty().
        # A (astronomically rare) 64-bit collision can only merge two
        # sub-cap buckets into a spuriously-hot probe group, which fires
        # the exact phase below and is corrected there — never the other
        # way, so the output bound is preserved.
        probe_hot = (
            banded.select(
                F.xxhash64("band_id", "band_hash").alias("_bk")
            )
            .groupBy("_bk")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > bucket_cap)
        )
        if not probe_hot.isEmpty():
            import warnings

            warnings.warn(
                "minhash_lsh_candidates: hot-bucket guard fired "
                f"(some (band_id, band_hash) bucket exceeds bucket_cap={bucket_cap}); "
                "oversized buckets switch to star candidate topology — "
                "intra-cluster pairs in those buckets rely on other bands "
                "(bounded output, documented recall trade).",
                stacklevel=2,
            )
            # FIRED phase: exact (band_id, band_hash) aggregate with the
            # bucket minimum, broadcast join-back (hot list is ≤ rows/cap
            # entries — tiny by construction). Oversized buckets leave the
            # self-join entirely; their star pairs are a pure projection.
            # Star contraction preserves connectivity for the flood case
            # (the bucket IS one duplicate cluster, connected through the
            # min); a mixed hot bucket relies on the other bands' buckets
            # for intra-cluster pairs.
            hot = (
                banded.groupBy("band_id", "band_hash")
                .agg(F.count("*").alias("_n"), F.min("doc_id").alias("_min"))
                .where(F.col("_n") > bucket_cap)
                .drop("_n")
            )
            marked = banded.join(
                F.broadcast(hot), ["band_id", "band_hash"], "left"
            )
            star = (
                marked.where(F.col("_min").isNotNull())
                .where(F.col("doc_id") != F.col("_min"))
                .select(
                    F.col("_min").alias("id_a"), F.col("doc_id").alias("id_b")
                )
            )
            banded = marked.where(F.col("_min").isNull()).drop("_min")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = a.join(
        b,
        functools.reduce(
            lambda x, y: x & y,
            join_keys + [F.col("a.doc_id") < F.col("b.doc_id")],
        ),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    pairs = pairs.distinct()
    if not need_sig:
        return pairs
    sa = sig.select(
        F.col("doc_id").alias("id_a"), F.col("signature").alias("_sig_a")
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"), F.col("signature").alias("_sig_b")
    )
    out = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("_sig_a"),
                            F.col("_sig_b"),
                            lambda x, y: x == y,
                        ),
                        lambda eq: eq,
                    )
                )
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
    )
    if min_est_jaccard is not None:
        out = out.where(F.col("est_jaccard") >= min_est_jaccard)
    if not include_est_jaccard:
        out = out.select("id_a", "id_b")
    return out


# ---------------------------------------------------------------------------
# LSH parameter auto-tuning from measured shingle entropy (round 8: the
# knee analysis operationalized — SCALE.md "Round-8 knee root-cause" ends
# with "size rows-per-band to the corpus's shingle entropy"; this is the
# API that does the sizing instead of leaving it as advice)
# ---------------------------------------------------------------------------

def lsh_band_collision_profile(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    sample_docs: int = 2000,
    probe_hashes: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    rows_per_band_choices: tuple[int, ...] = (2, 3, 4, 5, 6, 8, 10, 12),
    threshold: float = 0.7,
    min_est_jaccard: float = 0.0,
) -> DataFrame:
    """Measure the EMPIRICAL band-collision behavior of a corpus at each
    candidate band width: one row per ``r`` in ``rows_per_band_choices``
    with ``(r, n_bands, m, collisions, fp_collisions, fp_keep_collisions,
    tp_pairs)``, where
    the probe signature's ``probe_hashes`` components are split into
    ``n_bands = probe_hashes // r`` disjoint ``r``-row bands (leftover
    components unused), ``collisions`` counts (pair, band) incidences —
    sampled doc pairs agreeing on a whole band, summed over bands — and
    the incidences are split by each pair's EXACT shingle Jaccard over
    the sample (``≥ threshold`` → a TRUE near-dup, counted once in
    ``tp_pairs``; the rest are false positives, ``fp_collisions``
    incidences). ``fp_keep_collisions`` further counts the
    false-positive incidences whose probe-signature agreement rate is ≥
    ``min_est_jaccard`` — the collisions the production
    ``min_est_jaccard`` prefilter would NOT remove, so the suggester can
    predict post-prefilter verify load (0.0 keeps everything; the cut's
    granularity is 1/probe_hashes, matching a production run at
    k=probe_hashes).

    Why band-level and not per-hash: LSH candidate volume is governed by
    the probability that two docs agree on an ENTIRE ``r``-row band. A
    mean-field model (per-hash rate ``q̂``, band rate ``q̂^r``) assumes
    per-hash collisions are independent across hash functions for the
    same pair — but on a low-entropy corpus the same frequent shingles
    produce the minima for MANY hash functions at once, so collisions are
    strongly pair-correlated and ``q̂^r`` under-predicts by orders of
    magnitude (measured on the sf5 knee corpus: per-hash q̂ ≈ 8·10⁻⁴
    predicts a 4-row band rate of 4·10⁻¹³; the observed rate is ~3·10⁻⁵
    — eight orders off, SCALE.md "Round-8 knee root-cause"). Measuring
    each width directly captures the correlation for free.

    Why the TP/FP split: the two populations extrapolate differently.
    False-positive collisions happen between RANDOM pairs, so their count
    grows with C(n_docs, 2) — quadratic, the blowup the sf25 post-mortem
    found. True near-dup pairs are a per-doc property (each doc has O(1)
    duplicates), so their candidate contribution grows linearly. An
    estimator that extrapolates both quadratically over-predicts by 100×+
    on duplicate-heavy corpora and would over-band forever.

    Why classification is EXACT Jaccard and not signature agreement: on a
    low-entropy corpus the signature estimate is biased UP for unrelated
    pairs (the same min-concentration that causes the collisions inflates
    their apparent similarity — measured: a 12-word-vocabulary corpus
    pushes typical random-pair agreement past 12/16 while true Jaccard
    sits near 0.01), so an agreement-based classifier would launder the
    very false positives it exists to count into the linear bucket. The
    sample's shingles are already materialized; exact Jaccard over them
    (:func:`jaccard_pairs`) is the bounded all-pairs oracle this module
    already trusts, and its join cost is capped by C(sample_docs, 2).

    Distributed shape: the sample is a global TakeOrdered on
    ``md5(doc_id)`` (deterministic, skew-free, no rand()), signatures are
    the same one-hash-aggregate as production and are lineage-cut once;
    each width runs a bucket equi-self-join over the sampled band keys
    (output bounded by C(sample_docs, 2)) plus two signature join-backs.
    The result is ``len(rows_per_band_choices)`` rows of integers —
    value-hash comparable across engines under ``hash_fn='md5_affine'``
    (the ``dd_lsh_autotune`` oracle mirrors the whole procedure in
    DuckDB)."""
    sample = lineage_cut(
        df.select(F.col(id_col), F.col(text))
        .orderBy(F.expr(f"md5(CAST({id_col} AS STRING))"), F.col(id_col))
        .limit(int(sample_docs))
    )
    sig = lineage_cut(
        minhash_signatures_agg(
            doc_shingles(sample, text, id_col, n), probe_hashes, seed, hash_fn=hash_fn
        )
    )
    mrow = sig.agg(F.count("*").cast("long").alias("m"))
    # exact-Jaccard TP set over the sample: bounded by C(sample_docs, 2)
    tp_set = jaccard_pairs(sample, text, id_col, n, min_jaccard=threshold).select(
        F.col("id_a").alias("ia"), F.col("id_b").alias("ib"), F.lit(1).alias("tp")
    )
    # probe-signature agreement rate per colliding pair — what the
    # production min_est_jaccard prefilter would see at k=probe_hashes
    agree = sum(
        F.when(
            F.element_at("sa.signature", i + 1) == F.element_at("sb.signature", i + 1),
            F.lit(1),
        ).otherwise(F.lit(0))
        for i in range(probe_hashes)
    )
    per_r = []
    for r in rows_per_band_choices:
        n_bands = probe_hashes // int(r)
        if n_bands < 1:
            continue
        keys = sig.select(
            F.col("doc_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.md5(
                                F.concat_ws(
                                    "_",
                                    *[
                                        F.element_at("signature", b * int(r) + j + 1)
                                        for j in range(int(r))
                                    ],
                                ).cast("binary")
                            ).alias("key"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bk"),
        ).select("doc_id", "bk.band", "bk.key")
        pairs = (
            keys.alias("x")
            .join(
                keys.alias("y"),
                on=[
                    F.col("x.band") == F.col("y.band"),
                    F.col("x.key") == F.col("y.key"),
                    F.col("x.doc_id") < F.col("y.doc_id"),
                ],
            )
            .groupBy(
                F.col("x.doc_id").alias("ia"), F.col("y.doc_id").alias("ib")
            )
            .agg(F.count("*").alias("hits"))
        )
        classified = (
            pairs.join(tp_set, ["ia", "ib"], "left")
            .join(sig.alias("sa"), F.col("ia") == F.col("sa.doc_id"))
            .join(sig.alias("sb"), F.col("ib") == F.col("sb.doc_id"))
            .select(
                F.col("hits"),
                F.coalesce(F.col("tp"), F.lit(0)).alias("tp"),
                F.when(
                    (agree / F.lit(float(probe_hashes))) >= float(min_est_jaccard),
                    F.lit(1),
                )
                .otherwise(F.lit(0))
                .alias("keep"),
            )
        )
        per_r.append(
            classified.agg(
                F.coalesce(F.sum("hits"), F.lit(0)).cast("long").alias("collisions"),
                F.coalesce(
                    F.sum(F.when(F.col("tp") == 0, F.col("hits"))), F.lit(0)
                )
                .cast("long")
                .alias("fp_collisions"),
                F.coalesce(
                    F.sum(F.when((F.col("tp") == 0) & (F.col("keep") == 1), F.col("hits"))),
                    F.lit(0),
                )
                .cast("long")
                .alias("fp_keep_collisions"),
                F.coalesce(F.sum("tp"), F.lit(0)).cast("long").alias("tp_pairs"),
            )
            .crossJoin(F.broadcast(mrow))
            .select(
                F.lit(int(r)).alias("r"),
                F.lit(n_bands).alias("n_bands"),
                "m",
                "collisions",
                "fp_collisions",
                "fp_keep_collisions",
                "tp_pairs",
            )
        )
    out = per_r[0]
    for nxt in per_r[1:]:
        out = out.unionByName(nxt)
    return out


def lsh_param_choices(
    threshold: float = 0.7,
    max_num_hashes: int = 256,
    rows_per_band_choices: tuple[int, ...] = (2, 3, 4, 5, 6, 8, 10, 12),
) -> list[tuple[int, int, int]]:
    """Candidate ``(rows_per_band, bands, num_hashes)`` configs for a
    similarity threshold: ``bands = max(2, ceil(threshold^-r))`` anchors
    the S-curve midpoint ``(1/bands)^(1/r)`` at-or-below the threshold
    (recall at the threshold never drops as ``r`` grows), and configs
    needing more than ``max_num_hashes`` total hashes are dropped.

    ONE source for the engine's :func:`suggest_minhash_params` and the
    registry oracle's SQL literals, so the two cannot drift."""
    import math

    out = []
    inv = 1.0 / float(threshold)
    for r in rows_per_band_choices:
        t = 1.0
        for _ in range(int(r)):
            t *= inv
        b = max(2, int(math.ceil(t)))
        k = int(r) * b
        if k > max_num_hashes:
            continue
        out.append((int(r), b, k))
    return out


def lsh_capped_load_audit(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    bucket_cap: int = 1024,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT candidate-load audit for one banding config (round 10 — the
    sf50 calibration root-cause): one row ``(n_buckets, n_docs_audited,
    hot_buckets, max_occupancy, uncapped_pairs, capped_pairs)`` where
    the pair sums walk the FULL corpus's band-bucket occupancy
    histogram —
    ``Σ C(c,2)`` for the unguarded self-join, ``Σ (c>cap ? c−1 :
    C(c,2))`` for what :func:`minhash_lsh_candidates`'s hot-bucket
    guard actually emits.

    Why this exists: the sampled profile behind
    :func:`suggest_minhash_params` extrapolates PAIR RATES, which
    predicts the UNGUARDED join — but every production path runs with
    ``bucket_cap`` set, and on a low-entropy corpus the guard is the
    dominant term. Measured at sf50 (2.5M docs, k9/b3): true unguarded
    load 267.2 cand/doc, guarded load 34.3, realized (guarded +
    prefilter + cross-band distinct) 32.8 — the r9 'sample over-predicts
    3.5×' post-mortem was really 'the sample predicts the unguarded
    join while production pays the guarded one'. This audit closes the
    gap exactly (34.3 vs 32.8 = 1.05×).

    Cost and 100 TB shape: ONE linear pass — shingle → k-hash min-agg →
    band digests → count per (band_id, band_hash) — with an 8-byte-key
    count shuffle and a one-row aggregate; no self-join, no pair
    materialization (the sf50 audit ran in 27s where the block stage
    takes 426s). Run it on the suggester's chosen config before
    committing a 100 TB dedup; ``shingles`` shares the tokenize pass.
    Slight over-count vs realized candidates by construction: pairs
    colliding in MULTIPLE bands count once per band here but once total
    after the candidate distinct(), and the ``min_est_jaccard``
    prefilter removes more — so the capped figure is a safe upper
    bound. SQL-mirrorable under ``hash_fn='md5_affine'`` (the
    ``dd_lsh_cap_audit`` registry oracle runs it in DuckDB)."""
    sig = minhash_signatures_agg(
        shingles if shingles is not None else doc_shingles(df, text, id_col, n),
        num_hashes,
        seed,
        hash_fn=hash_fn,
    )
    occ = (
        sig.select(
            F.posexplode(
                F.expr(f"array({_band_exprs(num_hashes, bands)})")
            ).alias("band_id", "band_hash")
        )
        .groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("c"))
    )
    cap = int(bucket_cap)
    # coalesce(…, 0): the aggregates must stay non-null on an EMPTY
    # corpus (first micro-batch of a new feed) — sum/max over zero rows
    # are null otherwise
    return occ.agg(
        F.count("*").cast("long").alias("n_buckets"),
        # audit-derived doc count (ADVICE r10): every doc with a
        # signature contributes exactly ONE occupancy entry per band, so
        # Σc = n_docs · bands — recovering the denominator from the same
        # aggregate means per-doc figures computed from this row can
        # never silently divide the audited df's load by a DIFFERENT
        # corpus's size (the docstring's sample-prefix pattern with an
        # explicit full-corpus n_docs did exactly that)
        F.expr(f"coalesce(sum(c), 0) div {int(bands)}")
        .cast("long")
        .alias("n_docs_audited"),
        F.coalesce(
            F.sum(F.when(F.col("c") > cap, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("hot_buckets"),
        F.coalesce(F.max("c"), F.lit(0)).cast("long").alias("max_occupancy"),
        # integer pair arithmetic (div, not /: Spark's / is double) —
        # exact while per-bucket c*(c-1) fits a long, i.e. occupancy up
        # to ~4.3e9 docs in ONE band bucket (and total pairs within
        # BIGINT, ~9.2e18). Past that the UNGUARDED figure is
        # meaningless anyway (no engine runs that join); the capped
        # branch (c-1 per hot bucket) stays exact at any scale.
        F.coalesce(
            F.sum(F.expr("(CAST(c AS BIGINT) * (c - 1)) div 2")), F.lit(0)
        )
        .cast("long")
        .alias("uncapped_pairs"),
        F.coalesce(
            F.sum(
                F.when(F.col("c") > cap, F.col("c") - 1).otherwise(
                    F.expr("(CAST(c AS BIGINT) * (c - 1)) div 2")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("capped_pairs"),
    )


def suggest_minhash_params(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.7,
    fp_budget_per_doc: float = 2.0,
    sample_docs: int = 2000,
    probe_hashes: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    n_docs: int | None = None,
    max_num_hashes: int = 256,
    rows_per_band_choices: tuple[int, ...] = (2, 3, 4, 5, 6, 8, 10, 12),
    min_est_jaccard: float | None = None,
    bucket_cap: int | None = None,
    shingles: DataFrame | None = None,
) -> dict:
    """Pick ``(rows_per_band, bands, num_hashes)`` for
    :func:`minhash_lsh_candidates` from the corpus's MEASURED min-collision
    rate — the knee analysis (SCALE.md round 8) as an API.

    Procedure: measure the corpus's EMPIRICAL band-collision behavior at
    each candidate band width via :func:`lsh_band_collision_profile`,
    split into false-positive incidences (random pairs — extrapolate
    QUADRATICALLY: ``fp_rate_r = (fp_collisions_r + 1) / (n_bands_r ·
    C(m, 2))``, add-one smoothed so an under-resolved sample never
    reports exactly zero) and true near-dup pairs (a per-doc property —
    extrapolate LINEARLY: ``2 · tp_pairs_r / m`` candidates per doc).
    For each config from :func:`lsh_param_choices` the predicted
    candidates per doc are ``bands · fp_rate_r · (n_docs − 1) / 2 +
    2 · tp_pairs_r / m``; return the smallest ``rows_per_band`` whose
    prediction fits ``fp_budget_per_doc`` (smallest = cheapest hashing
    and gentlest S-curve for borderline pairs), else the config with the
    smallest prediction flagged ``within_budget=False``.

    The TP/FP split is what makes the estimator scale-honest: without it,
    the few TRUE duplicate pairs any real corpus contains would be
    extrapolated over C(n_docs, 2) and dominate every prediction at
    crawl scale — over-banding forever on clean corpora. With it, a
    duplicate-heavy but high-entropy corpus keeps small bands (its
    candidates are the dedup's real work, linear in n), while a
    low-entropy corpus — whose collisions are low-Jaccard random
    pairs — gets the wide bands that kept sf25 from spilling.
    Classification is EXACT shingle Jaccard ≥ ``threshold`` over the
    sample (not signature agreement, which min-concentration biases up
    on exactly the corpora that matter — see
    :func:`lsh_band_collision_profile`). Resolution:
    the smallest nonzero fp rate the sample can observe is ``1 /
    (n_bands · C(m, 2))`` (~1.6·10⁻⁸ per band at the 2000-doc default)
    — raise ``sample_docs`` when tuning for corpora above ~10⁹ docs.

    The profile is a Spark job; only ``len(rows_per_band_choices)`` rows
    of integers are collected (bounded, documented). The choice
    arithmetic is pure IEEE-deterministic float ops written in the same
    order as the ``dd_lsh_autotune`` DuckDB oracle's SQL, so the chosen
    integers are value-hash checked cross-engine, not just plausible.

    ``min_est_jaccard`` — plan WITH the production candidate prefilter:
    the false-positive rate only counts collisions whose probe-signature
    agreement survives the cut (``fp_keep_collisions`` in the profile),
    so the prediction is the post-prefilter VERIFY load — the quantity
    that actually spilled at sf25 — and the selection picks the cheapest
    banding for the prefiltered pipeline. The un-prefiltered prediction
    is still returned as ``est_cand_per_doc_unfiltered`` (that is the
    BLOCK stage's candidate output, which the prefilter joins against).

    ``bucket_cap`` — plan WITH the production hot-bucket guard (round
    10, the sf50 calibration root-cause): the sampled predictions above
    model the UNGUARDED self-join, but production candidate runs cap
    hot buckets (star topology past ``bucket_cap``), and on low-entropy
    corpora the guard dominates — at sf50 the true unguarded load was
    267.2 cand/doc while the guarded pipeline realized 32.8, so the r9
    'sample over-predicts 3.5×' reading was a comparison of an
    unguarded prediction against a guarded run. Pass the cap the
    pipeline will use and the CHOSEN config gets an exact
    :func:`lsh_capped_load_audit` pass (one extra linear scan, no
    self-join — 27s at sf50): ``est_cand_per_doc_capped`` (sf50: 34.3,
    within 5% of realized) plus ``est_cand_per_doc_uncapped_exact``,
    ``audit_hot_buckets``, ``audit_max_occupancy``. ``shingles`` shares
    a precomputed tokenize pass with the audit. The sampled
    ``est_cand_per_doc`` stays the (oracle-mirrored) selection key —
    it is the right REFUSAL signal, since a config whose unguarded load
    explodes leans on the guard's recall trade.

    At 100 TB: run this on a sample-able prefix of the corpus before
    the dedup job; re-run when the corpus's source mix shifts (entropy
    is a property of the data, not the pipeline). Monitor cand/doc from
    ``tools/knee_bench.py`` against ``est_cand_per_doc_capped`` when
    the cap is modeled (``est_cand_per_doc`` otherwise) to catch
    drift."""
    if n_docs is None:
        n_docs = df.count()
    choices = lsh_param_choices(threshold, max_num_hashes, rows_per_band_choices)
    choices = [(r, b, k) for r, b, k in choices if probe_hashes // r >= 1]
    if not choices:
        raise ValueError(
            "no (rows_per_band, bands) choice fits max_num_hashes/probe_hashes"
        )
    # bounded collect: one row of six longs per candidate width.
    rows = {
        row["r"]: row
        for row in lsh_band_collision_profile(
            df, text, id_col, n, sample_docs, probe_hashes, seed, hash_fn,
            tuple(r for r, _, _ in choices), threshold,
            min_est_jaccard if min_est_jaccard is not None else 0.0,
        ).collect()
    }
    m = next(iter(rows.values()))["m"] if rows else 0
    m = int(m or 0)
    if m < 2:
        r, b, k = choices[0]
        out = {
            "rows_per_band": r, "bands": b, "num_hashes": k,
            "fp_band_rates": {}, "est_cand_per_doc": 0.0,
            "est_cand_per_doc_unfiltered": 0.0, "within_budget": True,
            "sample_m": m, "collisions_total": 0, "n_docs": int(n_docs),
        }
        if bucket_cap is not None:
            # keep the bucket_cap contract on the degenerate corpus
            # (callers like curate_corpus's drift guard read these
            # keys unconditionally); a <2-doc corpus has no pairs
            out.update({
                "bucket_cap": int(bucket_cap),
                "est_cand_per_doc_capped": 0.0,
                "est_cand_per_doc_uncapped_exact": 0.0,
                "audit_hot_buckets": 0, "audit_max_occupancy": 0,
                "est_incidences_per_doc_sampled": 0.0,
            })
        return out
    pair_base = m * (m - 1) // 2  # even product → exact int
    scored = []
    rates = {}
    unfiltered = {}
    for r, b, k in choices:
        prow = rows[r]
        # add-one smoothing; each division/multiply chain is mirrored
        # literally (same operand order) in the oracle SQL.
        den = float(prow["n_bands"] * pair_base)
        fp_col = (
            prow["fp_keep_collisions"]
            if min_est_jaccard is not None
            else prow["fp_collisions"]
        )
        fp_rate = (fp_col + 1) / den
        rates[r] = fp_rate
        tp_term = 2.0 * prow["tp_pairs"] / float(m)
        est = b * fp_rate * (n_docs - 1) / 2.0 + tp_term
        unfiltered[r] = (
            b * ((prow["fp_collisions"] + 1) / den) * (n_docs - 1) / 2.0 + tp_term
        )
        scored.append((r, b, k, est))
    budget = float(fp_budget_per_doc)
    # selection key mirrors the oracle's ORDER BY: budget-satisfiers first
    # by smallest r, then everything by smallest prediction.
    r, b, k, est = min(
        scored,
        key=lambda s: (0 if s[3] <= budget else 1, s[0] if s[3] <= budget else 0, s[3], s[0]),
    )
    out = {
        "rows_per_band": r, "bands": b, "num_hashes": k,
        "fp_band_rates": rates, "est_cand_per_doc": est,
        "est_cand_per_doc_unfiltered": unfiltered[r],
        "within_budget": est <= budget, "sample_m": m,
        "collisions_total": int(sum(row["collisions"] for row in rows.values())),
        "n_docs": int(n_docs),
    }
    if bucket_cap is not None:
        # Cap-aware calibration (round 10, VERDICT r9 #3): the sampled
        # predictions above model the UNGUARDED self-join, but every
        # production candidate run caps hot buckets at bucket_cap —
        # measured at sf50 the guarded load is 7.8× below the unguarded
        # (34.3 vs 267.2 cand/doc) and within 5% of realized. The audit
        # is one extra LINEAR pass over df at the CHOSEN config (no
        # self-join; 27s where the sf50 block stage takes 426s), exact
        # rather than extrapolated, collected as a single row.
        arow = lsh_capped_load_audit(
            df, text, id_col, n, num_hashes=k, bands=b, seed=seed,
            hash_fn=hash_fn, bucket_cap=bucket_cap, shingles=shingles,
        ).collect()[0]
        # ADVICE r10: the per-doc audit figures divide by the AUDITED
        # corpus size (recovered inside the audit row as Σc/bands), not
        # the caller-supplied n_docs — a sample-prefix df paired with an
        # explicit full-corpus n_docs would silently under-read both
        den_docs = float(max(int(arow["n_docs_audited"]), 1))
        out["bucket_cap"] = int(bucket_cap)
        out["est_cand_per_doc_capped"] = arow["capped_pairs"] / den_docs
        out["est_cand_per_doc_uncapped_exact"] = (
            arow["uncapped_pairs"] / den_docs
        )
        out["audit_hot_buckets"] = int(arow["hot_buckets"])
        out["audit_max_occupancy"] = int(arow["max_occupancy"])
        # The audit counts (pair, band) INCIDENCES (a high-J pair
        # recurs in many bands), while est_cand_per_doc's tp term
        # counts distinct pairs — so a sample-vs-audit drift check
        # needs the SAMPLED prediction in incidence units too:
        # fp side is already incidence-derived (b · rate · pairs), tp
        # side scales the sample's measured tp incidences per band to
        # the config's band count (tp pairs are per-doc linear):
        # b · tp_incid_r / (n_bands_r · m).
        prow = rows[r]
        fp_unfilt = (prow["fp_collisions"] + 1) / float(
            prow["n_bands"] * pair_base
        )
        tp_incid = prow["collisions"] - prow["fp_collisions"]
        out["est_incidences_per_doc_sampled"] = (
            b * fp_unfilt * (n_docs - 1) / 2.0
            + b * tp_incid / float(prow["n_bands"] * m)
        )
    return out


def shard_by_entropy(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_shards: int = 4,
    sample_docs: int | None = 2000,
    hot_shingles: int = 256,
    out_col: str = "entropy_shard",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Assign each document an entropy shard (VERDICT r9 #5 — the drift
    guard's "shard the corpus by entropy before dedup" advice as code):
    documents are bucketed by how much of their shingle set falls in the
    corpus's HOT shingle set, so the template-heavy/low-entropy docs
    that cause band-bucket floods land together and apart from the
    high-entropy bulk. Running near-dedup with candidates scoped per
    shard (``minhash_lsh_candidates(shard_col=...)``) splits every hot
    band bucket's occupancy m into per-shard pieces — Σ mᵢ² < m², the
    quadratic pair blowup shrinks — while same-template near-dups,
    whose shingle sets (hence hot-mass) are nearly identical, stay
    co-sharded.

    Procedure (fully deterministic, SQL-mirrorable — the
    ``dd_shard_by_entropy`` registry oracle runs it in DuckDB):

    1. md5-ordered ``sample_docs`` sample (the profile/suggester's
       deterministic skew-free sample pattern);
    2. the sample's ``hot_shingles`` most frequent shingles (ties by
       shingle string) form the hot set — bounded, broadcast;
    3. per doc: hot-mass = |distinct shingles ∩ hot| / |distinct
       shingles| (docs with no shingles get mass 0);
    4. ``shard = least(floor(mass · n_shards), n_shards − 1)``.

    RECALL TRADE (document before using): a near-dup pair is only
    findable if both docs land in the SAME shard. Near-dups share most
    shingles, so their hot-masses differ by at most the mass of their
    symmetric difference — pairs are only lost when that difference
    straddles a 1/n_shards bucket boundary. Keep ``n_shards`` small
    (2–8); raise it only when the drift guard says candidate volume,
    not recall, is the binding constraint. Exact-duplicate pairs have
    identical mass and are NEVER split.

    WHEN IT BITES — measured (SCALE.md round 10, bench_history
    ``dd_shard_mixed_bench`` / ``dd_shard_perband_bench``):

    - MIXED corpora (a low-entropy subpopulation sharing shingle space
      with a high-entropy bulk — crawl + template farm): on a 230k-doc
      corpus with a 13% vocabulary-subset flood, sharding separated
      97.5% of the flood and cut candidates 33% at unchanged banding
      (the cross-population pairs), 35.5% with per-shard banding (wide
      bands on the low-entropy shards only — run
      :func:`suggest_minhash_params` per shard and union the drops).
    - HOMOGENEOUS low-entropy corpora: degenerate by construction —
      every doc has the same hot-mass (sf50: 2,499,998 of 2.5M docs in
      one shard), so sharding is a no-op; use the ``min_est_jaccard``
      prefilter and wider bands there instead.
    - SIZE ``hot_shingles`` TO THE SUBPOPULATION: the mass signal only
      separates when the hot set covers the low-entropy population's
      shingle space (the 230k measurement needed 2048 hot shingles for
      a 1728-shingle flood space; at the 256 default the histogram
      collapsed to one shard). Rule of thumb: a couple× the suspect
      subpopulation's distinct-shingle count.

    Distributed shape: one bounded sample pass, then one corpus shingle
    pass + broadcast semi-count + per-doc aggregate joined back on
    ``id_col`` — linear, no self-joins. At 100 TB the hot set is a few
    KB broadcast and the shard column rides the existing dedup scans.

    ``sample_docs=None`` (round 11) profiles the hot set from the FULL
    corpus — no md5 global sort, one linear shingle count + top-k. Use
    it when a SAMPLE cannot be trusted: the curate_corpus drift guard
    fires precisely because the md5 sample missed a subpopulation, and
    shard_by_entropy's default sample shares that exact md5 order, so a
    sampled hot set would be blind to the same flood the sharding is
    meant to contain. ``shingles`` shares a precomputed
    :func:`doc_shingles` stream for the corpus mass pass (and, with
    ``sample_docs=None``, the hot-set pass too — zero extra tokenizes
    inside a block/verify pipeline)."""
    if n_shards < 2:
        raise ValueError("n_shards must be >= 2 (1 shard = no sharding)")
    # re-sharding an already-sharded frame replaces the column (the
    # join below would otherwise raise an ambiguous-reference error)
    if out_col in df.columns:
        df = df.drop(out_col)
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(df, text, id_col, n)
    )
    if sample_docs is None:
        hot_src = sh
    else:
        sample = lineage_cut(
            df.select(F.col(id_col), F.col(text))
            .orderBy(F.expr(f"md5(CAST({id_col} AS STRING))"), F.col(id_col))
            .limit(int(sample_docs))
        )
        hot_src = doc_shingles(sample, text, id_col, n)
    hot = (
        hot_src
        .groupBy("shingle")
        .agg(F.count("*").alias("_cnt"))
        .orderBy(F.col("_cnt").desc(), F.col("shingle"))
        .limit(int(hot_shingles))
        .select("shingle")
    )
    marked = sh.join(
        F.broadcast(hot.withColumn("_hot", F.lit(1))), "shingle", "left"
    )
    mass = marked.groupBy("doc_id").agg(
        (
            F.coalesce(F.sum("_hot"), F.lit(0)) / F.count("*")
        ).alias("_mass")
    )
    shard = mass.select(
        F.col("doc_id").alias(id_col),
        F.least(
            F.floor(F.col("_mass") * n_shards).cast("int"),
            F.lit(int(n_shards) - 1),
        ).alias(out_col),
    )
    return df.join(shard, id_col, "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0))
    )


def minhash_index(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The PERSISTABLE near-dup index: one row per document carrying its
    MinHash signature and the per-band digests —
    ``(doc_id, signature array<bigint>, band_hashes array<string>)``.
    ``shingles`` shares a precomputed tokenize pass (must cover at least
    the documents of ``df``; rows for other docs are dropped by an id
    semi-join — a signature is a pure per-doc function of its shingles,
    so filtering the stream is exactly re-tokenizing the subset).

    This is what a 100 TB incremental pipeline stores instead of
    re-shingling the corpus per ingest: candidate lookup explodes
    ``band_hashes`` (position = band id) into the same (band_id,
    band_hash) key space :func:`minhash_lsh_candidates` joins on, and
    signature agreement replaces exact Jaccard for the verify step — no
    corpus text is ever re-read. Parameters must match between index
    builds and probes (same shingle n, hash family, k, bands)."""
    # The shingle/signature stages carry the id under the family-internal
    # name 'doc_id' (doc_shingles renames on the way in), so the semi-join
    # keys on that name and the final select aliases it back to ``id_col``
    # — a custom id column round-trips (ADVICE r7).
    if shingles is not None:
        src = shingles.join(
            df.select(F.col(id_col).alias("doc_id")), "doc_id", "left_semi"
        )
    else:
        src = doc_shingles(df, text, id_col, n)
    sig = minhash_signatures_agg(src, num_hashes, seed, hash_fn=hash_fn)
    return sig.select(
        F.col("doc_id").alias(id_col),
        "signature",
        F.expr(f"array({_band_exprs(num_hashes, bands)})").alias(
            "band_hashes"
        ),
    )


def _explode_index(index_df: DataFrame, id_col: str) -> DataFrame:
    return index_df.select(
        id_col,
        F.posexplode("band_hashes").alias("band_id", "band_hash"),
    )


def _sig_agreement(a: str, b: str, num_hashes: int) -> Column:
    return F.size(
        F.filter(
            F.zip_with(F.col(a), F.col(b), lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / F.lit(float(num_hashes))


def dedup_delta_near(
    new_df: DataFrame,
    index_df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    threshold: float = 0.5,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """NEAR-dup incremental dedup (the MinHash twin of
    :func:`dedup_against_snapshot`, VERDICT r6 #7): drop rows of
    ``new_df`` that are near-duplicates — estimated Jaccard (signature
    agreement) ≥ ``threshold`` — of anything in ``index_df`` (a
    :func:`minhash_index` over the corpus so far), or of a SMALLER-id row
    within the batch itself. Returns the surviving rows of ``new_df``.

    Order of operations, chosen for boundedness: the batch self-dedups
    FIRST through :func:`minhash_lsh_candidates` (hot-bucket star guard
    included — a template flood inside one batch collapses before ever
    meeting the index), and only the self-survivors probe the index —
    so an m-strong batch flood costs m·(index hits of ONE rep), never
    m·index_hits. Because only survivors are meant to be indexed (see
    :func:`streaming.ops.near_dedup_stream`), the index side of any
    bucket stays deduped and the probe join is linear in true matches.

    Semantics are single-pass greedy, the family rule everywhere in this
    module: a batch row can be dropped by an earlier batch row that is
    itself dropped by the index, and chained near-dups (w~v~u with w≁u)
    are kept — deterministic and SQL-mirrorable, matching
    drop-where-any-smaller-similar.

    Documents shorter than the shingle width carry no signature: they
    always survive and are never indexed (MinHash cannot fingerprint
    them). Pair this with :func:`dedup_against_snapshot`'s exact
    fingerprints when sub-``n``-word rows need cross-batch dedup."""
    # ONE tokenize pass for the whole delta: the self-dedup's signatures
    # and the survivors' index rows both derive from this stream
    sh = doc_shingles(new_df, text, id_col, n).transform(lineage_cut)
    self_pairs = minhash_lsh_candidates(
        new_df,
        text,
        id_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        hash_fn=hash_fn,
        bucket_cap=bucket_cap,
        shingles=sh,
    )
    self_drops = (
        self_pairs.where(F.col("est_jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    batch_kept = new_df.join(self_drops, id_col, "left_anti")
    new_idx = minhash_index(
        batch_kept, text, id_col, n, num_hashes, bands, seed, hash_fn,
        shingles=sh,
    ).transform(lineage_cut)  # feeds band probe AND sig verify
    nb = _explode_index(new_idx, id_col).withColumnRenamed(id_col, "_nid")
    ob = _explode_index(index_df, id_col).withColumnRenamed(id_col, "_oid")
    cand = nb.join(ob, ["band_id", "band_hash"]).select("_nid", "_oid").distinct()
    ns = new_idx.select(F.col(id_col).alias("_nid"), F.col("signature").alias("_sa"))
    os_ = index_df.select(F.col(id_col).alias("_oid"), F.col("signature").alias("_sb"))
    snap_drops = (
        cand.join(ns, "_nid")
        .join(os_, "_oid")
        .where(_sig_agreement("_sa", "_sb", num_hashes) >= threshold)
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    return batch_kept.join(snap_drops, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, text: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """SimHash fingerprint: per-token md5-derived bit pattern, majority vote
    per bit over the document. Output (doc_id, simhash long).

    Bit j of the fingerprint is 1 iff sum over tokens of (±1 for token's
    bit j) is positive. Built with explode + groupBy + bitwise ops — no UDF.
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(words_col(text)).alias("w")
    )
    # majority vote via bit-extraction sums: sum over tokens of ±1 for bit j
    # is positive  ⟺  2·sum(bit_j) > n_tokens. Extracting the bit directly
    # in the aggregate (shift+mask on the single long) keeps the pre-shuffle
    # row at one long instead of a 60-element vote array — measured ~2× at
    # sf0.1 — and partial aggregation still collapses per partition.
    # The wide expressions are built as SQL strings (one py4j call each,
    # one for the whole fingerprint) — the Column-object formulation spent
    # ~1.8s PER CALL in driver-side py4j chatter building 60 aggregates
    # plus a 60-deep OR chain; execution is identical.
    n_bits = bits - 4  # 60 usable bits from 15 hex chars
    tok = tok.selectExpr(
        "doc_id", "CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT) AS h"
    )
    summed = tok.groupBy("doc_id").agg(
        F.count("*").alias("_n"),
        *[
            F.expr(f"sum(shiftrightunsigned(h, {j}) & CAST(1 AS BIGINT)) AS b{j}")
            for j in range(n_bits)
        ],
    )
    # disjoint bit positions: + is OR
    fingerprint = " + ".join(
        f"if(2 * b{j} > _n, CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
        for j in range(n_bits)
    )
    return summed.selectExpr("doc_id", f"{fingerprint} AS simhash")


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two long fingerprints (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))


#: edge-count threshold below which connected_components solves the
#: duplicate-pair graph with a DRIVER-side union-find instead of the
#: iterative distributed fixpoint
CC_LOCAL_THRESHOLD = 100_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a duplicate-pair graph: the clustering step
    that turns verified near-dup PAIRS into duplicate GROUPS (a↔b, b↔c must
    collapse into one cluster even when a↔c was never compared). Returns
    ``(node, cluster_id)`` for every node in ``pairs``; ``cluster_id`` is
    the minimum node id of the component.

    Distributed shape: min-label propagation with pointer jumping — each
    round every node takes the smallest label among itself and its
    neighbours, then short-circuits to its label's own label (path halving),
    giving O(log diameter) rounds instead of O(diameter). Per round: one
    equi-join + groupBy-min over the edge list and one self-join over the
    label table — all linear hash shuffles, no broadcast, no collect. This
    is an inherently iterative fixpoint (Spark has no recursive SQL), so
    each round is one job; ``localCheckpoint`` truncates lineage so plans
    don't grow with the iteration count. Real dup-graphs are forests of
    tiny dense clusters, so it converges in 2-3 rounds.
    """
    # NO cast: min-label propagation only needs an orderable id type, and a
    # cast("long") silently turned string doc ids into NULLs — every edge
    # dropped, near-dedup a no-op. Labels keep the caller's id type so the
    # cluster_id IS a real document id (drop_near_dups compares them).
    e = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).where(F.col("u") != F.col("v"))
    # Bounded-graph fast path (optimization r11): real dup-pair graphs
    # are tiny relative to the corpus (pairs survive banding + exact
    # verify), yet the iterative fixpoint below costs ~8 fixed jobs
    # (two eager cuts + a count per round) — measured 1.1 s of pure
    # scheduling for a 253-edge graph. When the edge list fits under
    # CC_LOCAL_THRESHOLD, collect it (ONE incremental-limit job; the cap
    # bounds driver memory to that many edges — the same bounded-collect
    # contract as the BPE top-1 / MMR ≤k sites) and run union-find on the
    # driver; the result is the identical (node, min-id cluster) labeling,
    # returned as a local relation (io.from_rows), so no job rebuilds it. A
    # graph past the cap falls through to the distributed fixpoint, so
    # at 100 TB nothing ever collects unboundedly. The probe costs the
    # big case one extra partial pass of the pair source; the small case
    # — the overwhelmingly common one — replaces the whole iteration.
    head = e.limit(CC_LOCAL_THRESHOLD + 1).collect()
    if len(head) <= CC_LOCAL_THRESHOLD:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in head:
            u, v = row[0], row[1]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        comp_min: dict = {}
        for n in parent:
            r = find(n)
            m = comp_min.get(r)
            if m is None or n < m:
                comp_min[r] = n
        utype = e.schema[0].dataType.simpleString()
        return from_rows(
            pairs.sparkSession,
            [(n, comp_min[find(n)]) for n in parent],
            f"node {utype}, cluster_id {utype}",
        )
    edges = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .transform(lineage_cut, eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .transform(lineage_cut, eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy(edges["u"].alias("node"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        cand = labels.join(nbr_min, "node", "left").select(
            "node", F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("new_lbl")
        )
        parent = cand.select(
            F.col("node").alias("p_node"), F.col("new_lbl").alias("p_lbl")
        )
        jumped = (
            cand.join(parent, cand["new_lbl"] == parent["p_node"], "left")
            .select(
                "node",
                F.least("new_lbl", F.coalesce("p_lbl", "new_lbl")).alias("new_lbl"),
            )
        )
        # STATS FIREWALL per round (optimization r11, found via guide
        # §7.3 driver thread dump): Spark 4's localCheckpoint REWRITES
        # the new LogicalRDD's statistics from the ORIGIN plan
        # (LogicalRDD.rewriteStatsAndConstraints), and this round's plan
        # references the previous round's label table ~5× in
        # multiplicative (join sizeInBytes = product) positions — so the
        # carried sizeInBytes estimate grows as a ~7-fold DIGIT
        # multiplication per round. By round ~9 the estimate is a
        # BigInteger with tens of millions of digits and the driver spends
        # minutes per Toom-Cook multiply inside stats estimation: the
        # fixpoint hangs in PLANNING, not execution. The firewall:
        # persist the round, let the changed-count materialize the cache,
        # THEN cut lineage — the checkpoint's origin plan is now the
        # materialized InMemoryRelation, whose computeStats is the ACTUAL
        # cached byte size, so every round restarts from honest O(data)
        # stats. Costs one extra cheap job per round (checkpoint reads
        # the cache); the driver fast path above already absorbs small
        # graphs, so this path only ever runs where the join work
        # dominates that overhead.
        # Convergence count FOLDED into the cut job (r12, VERDICT r11 #4):
        # the old shape paid two jobs per round — a count() to materialize
        # the cache and test convergence, then the eager checkpoint reading
        # the cache. An Observation on the cached plan rides the checkpoint
        # job instead (verified: observe metrics DO fire on an eager
        # localCheckpoint action), so one job does materialize + converge-
        # test + cut. The firewall ordering is preserved: the checkpoint
        # job itself materializes the InMemoryRelation, and the LogicalRDD
        # stats rewrite is LAZY (first consulted by the next round's
        # planning, after materialization), so every round still restarts
        # from honest O(data) cached-byte stats — pinned by the long-chain
        # regression test (test_connected_components_long_chain_bounded).
        # Trade: the CONVERGED round now pays the one cut job the old
        # shape skipped; every earlier round saves one — net fewer jobs
        # whenever convergence takes >= 2 rounds, equal at 1.
        from pyspark.sql import Observation

        obs = Observation()
        cached = labels.join(jumped, "node").select(
            "node", "lbl", "new_lbl"
        ).observe(
            obs, F.count_if(F.col("new_lbl") != F.col("lbl")).alias("changed")
        ).persist()
        cut = lineage_cut(cached, eager=True)
        changed = obs.get["changed"]
        if changed == 0:
            # converged: new_lbl == lbl everywhere, so the previous
            # (already-cut) labels ARE the fixpoint
            cached.unpersist()
            break
        labels = cut.select("node", F.col("new_lbl").alias("lbl"))
        cached.unpersist()
    else:  # loop exhausted without a fixpoint — labels would be WRONG
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (pointer jumping needs ~log2(diameter) rounds)"
        )
    return labels.select("node", F.col("lbl").alias("cluster_id"))


def duplicate_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Assign every document a duplicate-cluster id: the connected-component
    minimum over the near-dup pair graph; documents in no pair cluster as
    themselves. One left join against the (tiny relative to the corpus)
    component table — AQE broadcasts it when it measures small, nothing
    forces that at 100 TB."""
    cc = connected_components(pairs).withColumnRenamed("node", id_col)
    return df.select(F.col(id_col)).join(cc, id_col, "left").select(
        id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
    )


def drop_near_dups(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Near-dedup applied: keep one representative per duplicate cluster
    (the minimum id). Composes with any pair source — jaccard_pairs,
    minhash_lsh_candidates, or cosine_neardup_pairs.

    Scale shape (r8): anti-join against the DROP set — the component
    nodes that are not their cluster's minimum — which is at most
    #duplicate-docs rows (tiny relative to the corpus; AQE broadcasts
    it), instead of semi-joining the corpus against a corpus-sized keep
    list (two full shuffles of df at 100 TB)."""
    cc = connected_components(pairs)
    drops = cc.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drops, id_col, "left_anti")


def contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    group_col: str = "source",
) -> DataFrame:
    """Decontamination AUDIT: per ``group_col``, how many documents are
    contaminated (share an exact word n-gram with the eval set) vs clean —
    the report you read before deciding to drop. Same shingle semi-join as
    ``decontaminate`` plus one hash aggregate; emitting counts instead of
    the surviving rows costs one extra join against the (tiny) contaminated
    id set."""
    cg = doc_shingles(corpus, text, id_col, n)
    eg = doc_shingles(eval_df, text, id_col, n).select("shingle").distinct()
    contaminated = (
        cg.join(eg, "shingle", "left_semi")
        .select(F.col("doc_id").alias(id_col))
        .distinct()
        .withColumn("_dirty", F.lit(1))
    )
    return (
        corpus.join(contaminated, id_col, "left")
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce("_dirty", F.lit(0))).alias("n_contaminated"),
            (F.count("*") - F.sum(F.coalesce("_dirty", F.lit(0)))).alias(
                "n_clean"
            ),
        )
    )


def line_doc_counts(
    df: DataFrame, text: str = "text", sep: str = "\n", id_col: str = "doc_id"
) -> DataFrame:
    """Per-line document frequency ``(line, n_docs)`` — the profiling half of
    Falcon-style boilerplate removal ("this cookie banner appears in 4M
    pages"). One explode + one count-distinct hash aggregate."""
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text), sep, -1)).alias("line"),
    )
    return lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )


def remove_hot_lines(
    df: DataFrame,
    max_docs: int = 30,
    text: str = "text",
    sep: str = "\n",
    id_col: str = "doc_id",
    out: str = "text_clean",
) -> DataFrame:
    """Falcon-style line-level dedup: delete every line that occurs in more
    than ``max_docs`` distinct documents (boilerplate — nav bars, cookie
    banners, license headers) and reconstruct each document from its
    surviving lines in original order. Adds ``out`` (cleaned text; empty
    string when every line was boilerplate) and ``n_lines_kept``.

    Distributed shape, all linear in corpus size: posexplode (narrow) →
    count-distinct hash aggregate on line → anti-join on line (the hot set
    is tiny relative to the corpus; AQE broadcasts it when it measures
    small, nothing forces that) → per-document re-aggregation ordered by
    line position → one id-equi-join back to the input. No all-pairs stage,
    no Python, no collect.

    ``sep`` is used as a split regex AND a literal re-join separator, so it
    must be a plain separator string (no regex metacharacters)."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text), sep, -1)).alias("_pos", "_line"),
    ).transform(lineage_cut)  # feeds hot-agg AND anti-join: split once
    hot = (
        lines.groupBy("_line")
        .agg(F.count_distinct(id_col).alias("_nd"))
        .where(F.col("_nd") > max_docs)
        .select("_line")
    )
    kept = lines.join(hot, "_line", "left_anti")
    # collect_list is order-nondeterministic after the shuffle; the struct
    # sort on (_pos, _line) restores document order deterministically.
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
            sep,
        ).alias(out),
        F.count("*").cast("long").alias("n_lines_kept"),
    )
    return (
        df.join(rebuilt, id_col, "left")
        .withColumn(out, F.coalesce(F.col(out), F.lit("")))
        .withColumn(
            "n_lines_kept",
            F.coalesce("n_lines_kept", F.lit(0).cast("long")),
        )
    )


def dedup_against_snapshot(
    new_df: DataFrame,
    snapshot_df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental dedup for a growing corpus: drop rows of ``new_df`` whose
    normalized content already exists in ``snapshot_df`` (the corpus as of
    the last run), then exact-dedup within the batch itself. The shape every
    recurring crawl ingest needs — never re-dedup the full corpus, only the
    delta.

    Distributed shape: the snapshot side reduces to a distinct fingerprint
    column (at 100 TB this is the persisted fingerprint index, not a rescan
    of the corpus — pass ``snapshot_df`` as that index and the md5 is
    computed over whatever column ``text`` names), one anti equi-join on the
    hash. No broadcast hint: the snapshot is the BIG side; AQE picks the
    join strategy."""
    snap_fp = snapshot_df.select(
        F.md5(normalize_text_col(text)).alias("_snap_hash")
    ).distinct()
    batch = drop_exact_dups(new_df, text, id_col)
    return (
        batch.withColumn("_fp", F.md5(normalize_text_col(text)))
        .join(snap_fp, F.col("_fp") == F.col("_snap_hash"), "left_anti")
        .drop("_fp")
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Llama pretraining recipe): drop
    every corpus document sharing at least one exact word ``n``-gram with
    the evaluation set, so test answers cannot leak into training data.

    Distributed shape: explode both sides to (id, shingle), distinct the
    (small) eval shingle set, one semi-join on shingle to find contaminated
    ids, one anti-join to drop them — all hash equi-joins, linear shuffles,
    no broadcast hint (the eval set is usually small and AQE will broadcast
    it when it measures so, but nothing forces that at 100 TB)."""
    cg = doc_shingles(corpus, text, id_col, n)
    eg = doc_shingles(eval_df, text, id_col, n).select("shingle").distinct()
    contaminated = (
        cg.join(eg, "shingle", "left_semi")
        .select(F.col("doc_id").alias(id_col))
        .distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")


def novelty_report(
    corpus: DataFrame,
    reference: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus — the scoring
    form of :func:`decontaminate` (drop is a special case of score): for
    each corpus document, how many of its distinct word ``n``-grams already
    appear anywhere in ``reference``. Output per corpus document:
    ``n_grams`` (distinct n-grams), ``n_seen`` (of those, present in the
    reference), ``novelty_permille`` = ⌊1000·(n_grams−n_seen)/n_grams⌋ —
    integer floor division, so the score itself is engine-exact. Documents
    too short to form an n-gram score 1000 (vacuously novel).

    Distributed shape: explode both sides to distinct (id, shingle), the
    reference reduces to a distinct shingle set, one semi-join marks seen
    shingles, two hash aggregates per doc, one id-join back to the corpus
    ids — all linear, no broadcast hints (AQE broadcasts the reference
    when it measures small)."""
    cg = doc_shingles(corpus, text, id_col, n).distinct()
    ref = doc_shingles(reference, text, id_col, n).select("shingle").distinct()
    totals = cg.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    seen = (
        cg.join(ref, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_seen"))
    )
    report = (
        corpus.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(seen, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_seen", F.lit(0)).cast("long").alias("n_seen"),
        )
    )
    return report.withColumn(
        "novelty_permille",
        F.when(F.col("n_grams") == 0, F.lit(1000).cast("long")).otherwise(
            F.expr("(1000 * (n_grams - n_seen)) DIV n_grams")
        ),
    )


# ---------------------------------------------------------------------------
# span-level exact-substring dedup (Lee et al., "Deduplicating Training Data
# Makes Language Models Better": remove repeated substrings, not just whole
# documents). The reference has no analogue; this is the missing granularity
# between whole-document exact dedup and line_dedup.
# ---------------------------------------------------------------------------

def duplicate_spans(
    docs: DataFrame, n: int = 5, min_count: int = 2,
    text: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Per-document report of duplicated n-gram spans: every maximal token
    range covered by word n-grams that occur >= ``min_count`` times in the
    corpus, merged into non-overlapping spans. Returns one row per document
    that contains at least one such span: ``(doc_id, n_spans, dup_tokens,
    total_tokens, dup_permille)``.

    The suffix-array formulation of the paper is inherently sequential; the
    distributed equivalent used here is positional n-gram counting:

    1. tokenize, emit (doc, pos, xxhash64(gram)) — narrow map stages; the
       64-bit hash (not the gram text) is what shuffles, so shuffle width
       is constant regardless of n;
    2. find grams with global count >= min_count: groupBy(gh) + equi-join
       back — the map-side partial aggregate collapses hot grams BEFORE
       the shuffle, and the join-back is an AQE-skew-splittable SMJ, so a
       boilerplate gram repeated across millions of documents (exactly
       what this operator exists to find) cannot concentrate on one task.
       A count-window over gh would save a corpus pass but hold EVERY
       occurrence of its hottest gram in one window partition.
    3. islands-and-gaps span merge per document: a lag window flags a new
       island whenever the next duplicated position starts more than n
       tokens after the previous (uniform-length intervals make the running
       max of ends unnecessary), a running sum numbers the islands, and a
       groupBy collapses each island to (min_pos, max_pos + n - 1);
    4. per-doc rollup to span count / covered tokens / permille.

    Everything is whole-stage-codegen Catalyst; memory per task is bounded
    by partition size, never by corpus or document count. The hash
    substitutes for gram equality (a 64-bit collision would merge two
    unrelated grams); at the paper's scale that chance is
    ~(grams²)/2⁶⁵ — accepted, as in the MinHash family above."""
    # input-parallelism floor before the tokenize+gram explode (r11,
    # guide §2.5): no-op whenever the scan already splits
    toks = spread_input(docs, id_col).select(
        F.col(id_col).alias("doc_id"), words_col(text).alias("w")
    ).where(F.size("w") >= n)
    grams = toks.select(
        "doc_id",
        F.size("w").alias("total_tokens"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(w) - {int(n)}),"
                f" i -> concat_ws(' ', slice(w, i + 1, {int(n)})))"
            )
        ).alias("pos", "gram"),
    ).select("doc_id", "total_tokens", "pos", F.xxhash64("gram").alias("gh"))
    # the gram stream feeds BOTH the count aggregate and the join-back
    # side; without a cut the tokenize+explode+hash map pass runs twice.
    # localCheckpoint materializes it once — the storage cost is the same
    # order as the shuffle the join-back already pays.
    grams = grams.transform(lineage_cut)
    dup = (
        grams.groupBy("gh")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("gh")
    )
    occ = grams.join(dup, "gh").select("doc_id", "total_tokens", "pos")
    byd = Window.partitionBy("doc_id").orderBy("pos")
    run = byd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # merge overlapping AND adjacent intervals: the previous gram covers
    # tokens [prev, prev+n-1], so a gram starting at prev+n continues the
    # same contiguous duplicated range (break only when the gap exceeds n)
    islands = occ.withColumn(
        "is_new",
        F.when(F.col("pos") - F.lag("pos").over(byd) <= n, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn("island", F.sum("is_new").over(run))
    spans = islands.groupBy("doc_id", "island").agg(
        F.first("total_tokens").alias("total_tokens"),
        F.min("pos").alias("s"),
        (F.max("pos") + n - 1).alias("e"),
    )
    covered = F.sum(F.col("e") - F.col("s") + 1)
    return spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        covered.cast("long").alias("dup_tokens"),
        F.first("total_tokens").cast("long").alias("total_tokens"),
        F.floor(covered * 1000.0 / F.first("total_tokens"))
        .cast("long")
        .alias("dup_permille"),
    )
