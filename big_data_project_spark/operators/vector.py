"""Embedding / similarity-search operators (SURVEY §2.5) — the FAISS
replacement.

The reference collects the whole corpus to the driver, builds an in-process
FAISS index and searches there (py:357-380, py:424-430, py:730-740). That is
the scalability cliff this engine removes: embeddings live in a Parquet-backed
``array<float>`` column, the query vector is broadcast, scoring happens
JVM-side with higher-order functions, and top-k compiles to
TakeOrderedAndProject (per-partition heap + single driver merge — no full
sort, no collect).

- E3 knn_search_l2  → score = Σ(x−y)², ORDER BY (score, vec_id) LIMIT k
- E4 knn_search_ip  → score = Σ x·y (descending)
- E4b cosine        → ip / (‖a‖·‖b‖)
- E5 ANN            → random-hyperplane LSH buckets (sign bits, banded) —
                      recall-gated vs E3/E4, the 100 TB path.
- E6 top-k → rows   → join hits back to documents, truncate text.

Determinism contract: element arithmetic is done in double after casting the
float32 inputs, accumulating left-to-right — bit-identical to DuckDB's
list_* functions over ::DOUBLE[] casts, so exact top-k is hash-matchable
(ties broken by vec_id)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_project_spark.operators.text import q_ident
from big_data_project_spark.plans.lineage import lineage_cut

# ---------------------------------------------------------------------------
# score expressions (JVM-side, codegen'd)
# ---------------------------------------------------------------------------

def _d_sql(name: str) -> str:
    """SQL text of :func:`_d` for a plain column name."""
    return f"transform({q_ident(name)}, x -> CAST(x AS DOUBLE))"


def _d(col: Column | str) -> Column:
    # string fast path (optimization r11, guide §1.2 step 2): each
    # Column-API lambda HOF costs ~20 ms of py4j roundtrips at plan-BUILD
    # time; one F.expr parse builds the identical expression tree JVM-side
    # (0.0D zero, CAST(.. AS DOUBLE) lambda — same literals, same casts,
    # bit-identical values; oracle hashes + plan pins hold). Column-object
    # inputs keep the original construction.
    if isinstance(col, str):
        return F.expr(_d_sql(col))
    return F.transform(col, lambda x: x.cast("double"))


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({_d_sql(a)}, {_d_sql(b)}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product Σ a_i·b_i in double, left-to-right accumulation."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _l2_sq_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({_d_sql(a)}, {_d_sql(b)}, "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
    )


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared L2 distance Σ (a_i−b_i)². (No sqrt: ordering-equivalent and
    avoids one more rounding step.)"""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_l2_sq_sql(a, b))
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(f"sqrt({_dot_sql(a, a)})")
    return F.sqrt(dot(a, a))


def _cosine_sql(a: str, b: str) -> str:
    # try_divide, not `/`: the engine session runs ANSI mode (Spark 4
    # default), where a plain double division by zero THROWS — one
    # zero-norm vector anywhere in a corpus would abort the whole job.
    # try_divide is bit-identical to `/` for every nonzero denominator and
    # yields NULL for zero norms, so a NULL-rejecting threshold filter
    # (`cosine >= t`) simply never matches degenerate vectors.
    return (
        f"try_divide({_dot_sql(a, b)}, "
        f"sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_cosine_sql(a, b))
    return F.try_divide(dot(a, b), norm(a) * norm(b))


#: SQL text of each knn metric's score over two plain column names
_SCORE_SQL = {"ip": _dot_sql, "cosine": _cosine_sql, "l2": _l2_sq_sql}


# ---------------------------------------------------------------------------
# query-vector handling (E2)
# ---------------------------------------------------------------------------

def query_vector_of(embeddings: DataFrame, vec_id: int) -> DataFrame:
    """Single-row DataFrame holding one stored vector as the query — the
    deterministic stand-in for embed_query (E2, py:677-679). Broadcast into
    the scoring join so the scan side never shuffles."""
    return F.broadcast(
        embeddings.where(F.col("vec_id") == vec_id).select(
            F.col("embedding").alias("q")
        )
    )


# ---------------------------------------------------------------------------
# exact top-k (E3/E4)
# ---------------------------------------------------------------------------

def knn_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    metric: str = "ip",
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Exact top-k over the embeddings table for a broadcast single-row
    query. metric ∈ {ip, l2, cosine}. Deterministic: ties broken by vec_id.

    The query side carries the broadcast hint, as in knn_topk_batch: a
    query built with createDataFrame has no size statistics, so without
    it the planner broadcasts the embeddings table instead."""
    score = _SCORE_SQL.get(metric)
    if score is None:
        raise ValueError(f"unknown metric {metric!r}")
    # SQL text and column names, not Column-API calls: each Column method
    # costs ~10 py4j round trips at plan-build time, paid per query
    scored = embeddings.crossJoin(F.broadcast(query)).selectExpr(
        "vec_id", "label", f"{score('embedding', 'q')} AS score"
    )
    if exclude_vec_id is not None:
        scored = scored.where(f"vec_id != {int(exclude_vec_id)}")
    # l2 scores are distances (ascending); ties broken by vec_id ascending
    by_score = F.asc("score") if metric == "l2" else F.desc("score")
    return scored.orderBy(by_score, F.asc("vec_id")).limit(k)


def knn_join_documents(
    hits: DataFrame,
    documents: DataFrame,
    truncate: int = 1000,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """E6 (py:380, py:459): map top-k hits back to document rows; truncate
    text to bound downstream prompt size. ``keep_cols`` carries extra hit
    columns through (e.g. the batched serving path's qid) so every caller
    shares ONE copy of the hits→documents join contract."""
    return hits.join(documents, hits["vec_id"] == documents["doc_id"]).selectExpr(
        *[q_ident(c) for c in keep_cols],
        "vec_id",
        "score",
        f"substring(text, 1, {int(truncate)}) AS snippet",
    )


# ---------------------------------------------------------------------------
# ANN: random-hyperplane LSH (E5)
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (pure-python LCG so no
    numpy/driver state enters the plan)."""
    state = seed & 0x7FFFFFFF or 1
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            v.append(state / float(1 << 30) - 1.0)
        planes.append(v)
    return planes


def lsh_bucket_col(emb: str, planes: list[list[float]]) -> Column:
    """Sign-bit signature of the embedding against each hyperplane, packed
    into a long — the LSH bucket key.

    Built as ONE SQL expression string: the Column-object form paid a
    py4j round trip per hyperplane weight (planes × dim F.lit calls —
    seconds of driver time per query at 12×64). Float literals are
    emitted as ``repr(w)D`` — Python's repr is the shortest exact
    round-trip and Spark parses D-suffixed literals with
    Double.parseDouble, so the plan carries bit-identical weights."""
    terms = " + ".join(
        "IF(aggregate(zip_with(transform({e}, v -> CAST(v AS DOUBLE)), "
        "array({ws}), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x) > 0, "
        "CAST({bit} AS BIGINT), CAST(0 AS BIGINT))".format(
            e=emb,
            ws=", ".join(f"{w!r}D" for w in plane),
            bit=1 << j,
        )
        for j, plane in enumerate(planes)
    )
    return F.expr(f"({terms})")


def auto_lsh_params(
    n_vectors: int,
    k: int = 10,
    target_recall: float = 0.99,
    theta_deg: float = 72.0,
    per_band: int = 2,
) -> tuple[int, int]:
    """Corpus-size-scaled (n_planes, n_bands) for :func:`ann_topk`.

    Sign-LSH collision probability for a neighbor at angle θ is
    p = 1 − θ/π per plane; a two-bit band matches with p², and a neighbor
    is missed only when ALL b bands miss: (1 − p²)^b. Solving
    (1 − p^r)^b ≤ (1 − target_recall)/k gives the band count that holds
    per-query recall@k ≥ target at the design angle; a log2(n) floor adds
    bands as the corpus grows, because the top-k margin tightens with n
    (the round-3/4 e5_lsh_recall sf0.1 boundary was exactly this effect).

    This is a recall HEURISTIC — exactness at scale should use
    candidate-verified shapes (dd_near_dedup_lsh) or probe-all IVF, not a
    bigger LSH table."""
    import math

    p = 1.0 - math.radians(theta_deg) / math.pi
    miss_budget = max(1e-9, (1.0 - target_recall) / max(k, 1))
    b_formula = math.ceil(math.log(miss_budget) / math.log(1.0 - p**per_band))
    b_floor = math.ceil(math.log2(max(n_vectors, 2)))
    n_bands = max(b_formula, b_floor, 4)
    return n_bands * per_band, n_bands


def ann_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 12,
    n_bands: int = 6,
    seed: int = 42,
    metric: str = "cosine",
) -> DataFrame:
    """Approximate top-k: candidates = rows sharing ≥1 LSH band with the
    query (multi-probe via bands), then exact scoring only on candidates.

    At 100 TB the bucketed table is precomputed & partitioned by band hash,
    so a query touches only its buckets — the scan is pruned, not full.
    Recall is tuned by (n_planes, n_bands): collision prob per band is
    (1-θ/π)^(planes/bands), overall 1-(1-p^r)^b. The 2-bit × 6-band default
    gives ~0.93 expected recall at θ≈72° (what uniform-random 64-d data
    exhibits for true top-10 neighbors). On real embedding corpora —
    clustered, lower effective dimension — the same setting prunes far
    harder; pruning power is a property of the data geometry, recall is the
    contract. Tests gate mean recall@10."""
    planes = _hyperplanes(dim, n_planes, seed)
    per_band = n_planes // n_bands

    def banded(df: DataFrame, emb: str, keep: list[str]) -> DataFrame:
        # compute the n_planes-bit signature ONCE, then slice band keys out
        # of it with shift/mask — recomputing the hyperplane dot products
        # per band multiplies codegen size and runtime by n_bands.
        sig = df.withColumn("_sig", lsh_bucket_col(emb, planes))
        keys = F.array(
            *[
                F.shiftrightunsigned(F.col("_sig"), b * per_band)
                .bitwiseAND(F.lit((1 << per_band) - 1))
                for b in range(n_bands)
            ]
        )
        return sig.select(
            *keep, F.posexplode(keys).alias("band", "bkey")
        )

    emb_banded = banded(embeddings, "embedding", ["vec_id", "label", "embedding"])
    q_banded = banded(query, "q", ["q"])
    cand = (
        emb_banded.join(F.broadcast(q_banded), ["band", "bkey"])
        .select("vec_id", "label", "embedding", "q")
        .dropDuplicates(["vec_id"])
    )
    if metric == "cosine":
        score, order = cosine("embedding", "q"), [F.col("score").desc(), F.col("vec_id")]
    elif metric == "ip":
        score, order = dot("embedding", "q"), [F.col("score").desc(), F.col("vec_id")]
    else:
        score, order = l2_sq("embedding", "q"), [F.col("score").asc(), F.col("vec_id")]
    return (
        cand.select("vec_id", "label", score.alias("score"))
        .orderBy(*order)
        .limit(k)
    )


# ---------------------------------------------------------------------------
# embedding near-dup pairs (LSH blocking) and IVF ANN
# ---------------------------------------------------------------------------

def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.8,
    dim: int = 64,
    n_planes: int = 12,
    n_bands: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate vector pairs: block by LSH band, score only in-block
    candidates, keep cosine ≥ threshold. The all-pairs O(n²) comparison never
    happens — candidate volume is governed by band width, so the op stays
    join-shaped at 100 TB (the same shape as MinHash dedup, with hyperplane
    signs instead of shingle minima)."""
    planes = _hyperplanes(dim, n_planes, seed)
    per_band = n_planes // n_bands
    sig = embeddings.select(
        "vec_id", "embedding", lsh_bucket_col("embedding", planes).alias("_sig")
    )
    banded = sig.select(
        "vec_id",
        "embedding",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_sig"), b * per_band)
                    .bitwiseAND(F.lit((1 << per_band) - 1))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bkey"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.embedding").alias("ea"),
            F.col("b.embedding").alias("eb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select("id_a", "id_b", cosine("ea", "eb").alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def cosine_pairs_exact(
    embeddings: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ALL pairs with cosine >= threshold, by exhaustive comparison — the
    correctness oracle for cosine_neardup_pairs (same relationship as
    jaccard_pairs to minhash_lsh_candidates). Quadratic in the table size:
    run it on samples/blocks to verify the LSH-blocked scan path, never as
    the 100 TB scan itself."""
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("_ea"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("_eb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine("_ea", "_eb").alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def build_ivf(
    embeddings: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """E5b build phase: IVF coarse quantizer + list assignment — FAISS
    IVFFlat 'train + add' parity (reference py:730-740, nlist=100).

    Fully LAZY: returns ``(centroids, assigned)`` as unexecuted plans — no
    Spark job runs at build time (pinned by ``test_ivf_build_is_lazy``).
    Centroid seeding is a deterministic hash-bucket representative: each
    vector hashes to one of ``n_lists`` buckets and the minimum-hash vector
    of each bucket becomes that list's centroid — a uniform reservoir-style
    sample computed with ONE map-side-combining groupBy (no count(), no
    global sort, no window over a single partition). Assignment ('add') is a
    broadcast of the ≤n_lists centroids against the corpus, reduced with a
    map-side-combining min_by per vec_id.

    At 100 TB: run once, persist ``assigned`` partitioned by list_id, and
    optionally sharpen the seed centroids with :func:`kmeans_refine` (each
    step is one shuffle). ``ivf_probe`` then prunes every query's scan to
    n_probe/n_lists of the data via partition pruning on list_id."""
    h = F.xxhash64(F.col("vec_id"), F.lit(seed))
    bucketed = embeddings.select(
        "vec_id",
        "embedding",
        F.pmod(h, F.lit(n_lists)).cast("int").alias("list_id"),
        h.alias("_h"),
    )
    centroids = (
        bucketed.groupBy("list_id")
        .agg(F.min_by("embedding", F.struct("_h", "vec_id")).alias("centroid"))
        # NOT localCheckpointed: even eager=False checkpointing runs a
        # planning job, violating the pinned job-free-build contract
        # (test_ivf_build_is_lazy). Consumers re-derive the ≤n_lists-row
        # aggregate — acceptable (one map-side-combining pass each).
    )
    return centroids, ivf_assign(embeddings, centroids)


def ivf_assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign vectors to their nearest IVF list ('add'): broadcast the
    ≤n_lists centroids against the batch, reduce with a map-side-combining
    min_by per vec_id. This is BOTH the build-time add (build_ivf calls it
    on the whole corpus) and the INCREMENTAL append: a new crawl batch
    assigns against the frozen centroids and unions into the persisted
    index — no retrain, no rescan of the existing corpus, the serving
    lifecycle FAISS covers with index.add(). Appended rows land in the
    same list_id layout, so a partition-pruned probe sees them
    immediately; re-run kmeans_refine only when drift accumulates."""
    cdim = F.broadcast(centroids)
    return (
        embeddings.crossJoin(cdim)
        .select(
            "vec_id",
            "label",
            "embedding",
            "list_id",
            l2_sq("embedding", "centroid").alias("_dist"),
        )
        .groupBy("vec_id")
        .agg(
            F.first("label").alias("label"),
            F.first("embedding").alias("embedding"),
            F.min_by("list_id", F.struct("_dist", "list_id")).alias("list_id"),
        )
    )


def kmeans_refine(assigned: DataFrame) -> DataFrame:
    """One lazy Lloyd step: new centroid = element-wise mean of each list's
    members. posexplode → (list_id, pos) avg → re-assemble, so the heavy
    stage is a partial-aggregating groupBy on (list_id, pos) — balanced even
    when lists are skewed. Repeat build→refine→re-assign to taste; each
    iteration is one shuffle, nothing touches the driver."""
    return (
        assigned.select("list_id", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("list_id", "pos")
        .agg(F.avg("val").alias("val"))
        .groupBy("list_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda s: s["val"].cast("float"),
            ).alias("centroid")
        )
    )


def ivf_probe(
    centroids: DataFrame,
    assigned: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    metric: str = "ip",
) -> DataFrame:
    """E5b probe phase: score the query against the (small, broadcast)
    centroid table to pick the n_probe nearest lists, then score exactly
    only inside those lists. With ``assigned`` persisted partitioned by
    list_id this is a partition-pruned scan of n_probe/n_lists of the
    corpus."""
    probed = F.broadcast(
        centroids.crossJoin(query)
        .select("list_id", l2_sq("centroid", "q").alias("qdist"))
        .orderBy("qdist", "list_id")
        .limit(n_probe)
        .select("list_id")
    )
    cand = assigned.join(probed, "list_id").crossJoin(query)
    if metric == "ip":
        score, order = dot("embedding", "q"), [F.col("score").desc(), F.col("vec_id")]
    elif metric == "cosine":
        score, order = cosine("embedding", "q"), [F.col("score").desc(), F.col("vec_id")]
    else:
        score, order = l2_sq("embedding", "q"), [F.col("score").asc(), F.col("vec_id")]
    return cand.select("vec_id", "label", score.alias("score")).orderBy(*order).limit(k)


def ivf_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    metric: str = "ip",
    seed: int = 42,
) -> DataFrame:
    """Convenience composition: build_ivf + ivf_probe in one lazy plan (the
    one-shot form; persistent serving should keep the build output)."""
    centroids, assigned = build_ivf(embeddings, n_lists=n_lists, seed=seed)
    return ivf_probe(centroids, assigned, query, k=k, n_probe=n_probe, metric=metric)


def knn_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "ip",
) -> DataFrame:
    """Batched exact top-k: many query vectors at once. `queries` carries
    (qid, q); the query set is broadcast, scores are computed in one pass
    over the table, and per-query top-k is a window (one shuffle on qid,
    each query's heap built in parallel). This is the serving-path shape:
    N queries cost one scan, not N scans."""
    # any metric other than ip/cosine scores as l2 (distance, ascending)
    score = _SCORE_SQL.get(metric, _l2_sq_sql)
    direction = "ASC" if score is _l2_sq_sql else "DESC"
    return (
        embeddings.crossJoin(F.broadcast(queries))
        .selectExpr("qid", "vec_id", "label", f"{score('embedding', 'q')} AS score")
        .selectExpr(
            "*",
            "CAST(row_number() OVER (PARTITION BY qid ORDER BY score"
            f" {direction}, vec_id) AS BIGINT) AS rn",
        )
        .where(f"rn <= {int(k)}")
    )


#: cosine(x, x) for ANY nonzero double vector lands within a few ULP of 1
#: (the numerator dot(x, x) and the denominator sqrt(dot)·sqrt(dot) are the
#: same value up to two sqrt roundings), so any threshold at or below this
#: line is GUARANTEED satisfied by a vector against its byte-identical twin
#: — the condition under which collapsing exact duplicates to their min-id
#: representative is provably output-preserving for greedy keep-first.
_SELF_COS_SAFE = 1.0 - 1e-9


def semantic_centroids(
    embeddings: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """The engine's verifiable centroid-seeding scheme (shared by
    :func:`semantic_dedup`, :func:`dedup_delta_semantic` and the
    streaming twin): every id md5-hashes to one of ``n_clusters``
    buckets and the minimum-hash vector of each bucket becomes that
    bucket's centroid — ONE map-side-combining groupBy, engine-exact
    (md5 + integer arithmetic mirror in DuckDB). Returns
    ``(_bucket, _centroid)``, ≤ ``n_clusters`` rows, always
    broadcast-sized. Persist this once for a continuous ingest: cluster
    equi-joins across batches are only meaningful against FIXED
    centroids."""
    hh = F.expr(
        f"CAST(conv(substring(md5(CAST({id_col} AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )
    return (
        embeddings.select(F.col(id_col), F.col(emb_col), hh.alias("_hh"))
        .withColumn("_bucket", F.pmod(F.col("_hh"), F.lit(n_clusters)))
        .groupBy("_bucket")
        .agg(F.min_by(emb_col, "_hh").alias("_centroid"))
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    collapse_exact: bool = True,
    cluster_cap: int | None = 1024,
    centroids: DataFrame | None = None,
    recover_bands: int = 4,
    recover_bits: int = 8,
    recover_seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarsely cluster the embedding space, then drop every
    vector whose cosine similarity to a smaller-id vector in the SAME
    cluster reaches ``threshold`` (greedy keep-first — deterministic, and
    among the kept rows no same-cluster pair reaches the threshold).
    Returns the surviving rows as ``(id_col, cluster_id)``.

    Distributed shape — linear everywhere except within-cluster pairing:

    - seed centroids: md5-bucket minimum representative, ONE map-side-
      combining groupBy (the build_ivf scheme, but md5-derived instead of
      xxhash64 so every step stays engine-exact / oracle-mirrorable; the
      60-bit md5 segment is unique per id here, so min_by needs no struct
      tie-break);
    - assignment: the ≤``n_clusters`` centroid table is broadcast and each
      vector takes the max-inner-product centroid (spherical-k-means style,
      the left-to-right ``dot`` fold that is proven bit-identical to
      DuckDB's list_dot_product), ties to the smallest cluster id, reduced
      with a map-side-combining min_by — no shuffle of the scored
      cross-product;
    - pairing is restricted WITHIN clusters: an equi-join on cluster_id, so
      the quadratic term is Σ|cluster|², never N². At 100 TB you raise
      ``n_clusters`` so clusters stay bounded (SemDeDup runs k≈100k on
      LAION-scale corpora) and optionally sharpen seeds with
      :func:`kmeans_refine` first (refined centroids are float-mean
      aggregates, engine-exact no longer — refine is for recall, the
      default seed path is for verifiability).

    **Hot-cluster guards** (VERDICT r5 #2 / r6 #2 — raising ``n_clusters``
    does NOT bound a flood of near-identical vectors, because they all take
    the same max-IP centroid regardless of k):

    - ``collapse_exact`` (default on): byte-identical embeddings are
      collapsed to their min-id representative before PAIRING — provably
      output-preserving for the greedy keep-first rule whenever
      ``threshold <= 1 - 1e-9`` (cosine(x, x) sits within a few ULP of 1
      for every nonzero vector, identical vectors always share a cluster,
      so every non-min twin is dropped with or without the collapse; for
      larger thresholds the collapse automatically restricts itself to
      groups whose actual self-cosine reaches the threshold). Centroid
      seeding uses the FULL id pool, not the collapsed one, so cluster
      assignments — and therefore the survivor set among NEAR (non-
      identical) duplicates — are identical with the flag on or off
      (ADVICE r6: the earlier collapsed-pool seeding could shift seeds
      when exact dups existed). Zero-norm vectors, whose cosine against
      anything is NULL (try_divide), are routed around the pairing
      entirely and kept unconditionally — again matching the uncollapsed
      greedy semantics (NULL never reaches a >= threshold). The collapse
      turns the dominant template-flood case (m identical embeddings →
      m² pairs) into ONE representative in the join, for the cost of one
      embedding-keyed map-side-combining shuffle.
    - ``cluster_cap`` (default-on 1024, VERDICT r6 #2): TWO-PHASE like the
      MinHash guard — a probe over the (checkpointed) assignment counts
      members per cluster (≤ n_clusters rows, one cheap aggregate); only
      when some cluster exceeds the cap does the guard fire, with a
      ``warnings.warn`` making the trade observable. Oversized clusters
      switch from all-pairs to a STAR candidate topology around the
      cluster's minimum id — m−1 candidates instead of m(m−1)/2 — which
      is EXACTLY output-preserving for the flood case (every member is
      similar to the min, so greedy drops all non-min rows either way)
      and a documented recall trade for mixed hot clusters (a drop
      witnessed only by a non-min pair is missed). When no cluster
      exceeds the cap the plan below is byte-identical to the unguarded
      one. ``cluster_cap=None`` disables the guard (exact greedy at any
      cluster size — the oracle-pinned configuration).

    **Guard composition** (ADVICE r7): the collapse runs FIRST, so with
    both flags on the cap counts — and the star topology spans —
    collapsed REPRESENTATIVES, not raw rows; non-min exact twins are
    dropped by the collapse regardless of what the star later sees
    (output-preserving per the collapse rule above). Any oracle or
    external mirror of the capped semantics must collapse to min-id reps
    before counting/pairing (``dd_semantic_capped`` does).

    **Recovery bands** (``recover_bands``, round 8 — the measured answer
    to the star's mixed-cluster recall trade): the r8 flood bench
    quantified what the star guard loses — variant-pair recall **0.0**
    at 50k flood scale (true near-dup pairs inside a fired cluster whose
    members are below-threshold to the cluster MIN are never compared,
    because one clustering is the only witness topology). With
    ``recover_bands > 0``, members of FIRED clusters get the second
    witness MinHash banding has structurally: each member is sign-LSH
    banded (``recover_bands`` bands × ``recover_bits`` hyperplane bits,
    the :func:`lsh_bucket_col` construction) and candidate pairs are
    emitted within each ``(cluster_id, band, bucket)`` group — all-pairs
    when the group is ≤ ``cluster_cap``, star around the group minimum
    when it floods (so the flood stays bounded inside the recovery too:
    ≤ bands·m extra candidates, never m²). A true pair at cos ≈ 1 agrees
    on a band bucket with per-bit probability ≈ 1, while the flood
    contaminates that bucket only when ALL ``recover_bits`` of its bits
    agree with the pair's (p_bit^bits per band, ≈ 0.04 at 16 bits /
    cos 0.85) — so B bands push P(pair muted everywhere) to ≈ 0.04^B.
    Every recovered candidate is still exact-cosine-verified and is a
    pair the UNGUARDED all-pairs join would have had (the bucket key
    includes cluster_id), so recovery strictly moves a fired run's
    output TOWARD the ``cluster_cap=None`` exact-greedy output — it can
    add correct drops, never wrong ones. Costs nothing until the guard
    fires (the banding exists only in the fired branch, over hot-cluster
    members only).

    **Default**: ``recover_bands=4`` × ``recover_bits=8`` — when the
    guard fires, recovery runs with the configuration whose variant-pair
    recall measured 0.0 → 1.0 at 50k flood scale (SCALE.md "Guard recall
    when it fires"; ``dd_semantic_recovered`` value-hashes it end to
    end). Pass ``recover_bands=0`` to pin the pure-star fired semantics
    (``dd_semantic_capped`` does — its oracle models the star alone).

    **The probe is EAGER** (ADVICE r7): with ``cluster_cap`` set,
    constructing the result runs the assignment jobs through the probe's
    ``isEmpty()``; the hot/not-hot decision is valid only for the data as
    of the call. Plan-only callers pay compute; mutable sources should
    rebuild per execution (the streaming path does).

    Nothing corpus-sized is broadcast; no Python; the only driver-side
    action is the probe's bounded isEmpty()."""
    if recover_bands > 0 and recover_bands * recover_bits > 63:
        # lsh_bucket_col packs the sign bits into ONE signed long; bit 63
        # would overflow the literal — fail at call time, not only when
        # the guard happens to fire
        raise ValueError(
            "recover_bands * recover_bits must be <= 63 "
            f"(got {recover_bands} * {recover_bits}); use more bands of "
            "fewer bits"
        )
    full = embeddings.select(id_col, emb_col)
    # Centroid seeding from the FULL id pool (md5-bucket minimum), never
    # the collapsed pool — keeps seeds independent of collapse_exact.
    # ``centroids`` overrides the seeding with an EXTERNAL (persisted)
    # (_bucket, _centroid) table — the continuous-ingest path, where
    # cross-batch cluster equi-joins need fixed centroids
    # (:func:`dedup_delta_semantic`); n_clusters is ignored then.
    if centroids is None:
        centroids = semantic_centroids(full, n_clusters, id_col, emb_col)
    centroids = F.broadcast(centroids.select("_bucket", "_centroid"))
    # Zero-norm split: cosine(x, ·) is NULL exactly when norm(x)·norm(x)
    # underflows to 0 — those rows can neither drop nor be dropped, so
    # they skip pairing and survive unconditionally (they still get a
    # cluster assignment for the output).
    zero_cond = (norm(emb_col) * norm(emb_col)) == F.lit(0.0)
    zeroish = full.where(zero_cond)
    nonzero = full.where(~zero_cond)
    if collapse_exact:
        if threshold <= _SELF_COS_SAFE:
            pair_rows = nonzero.groupBy(emb_col).agg(
                F.min(id_col).alias(id_col)
            )
        else:
            # threshold so close to 1 that float self-cosine may dip
            # below it: collapse only groups whose ACTUAL self-cosine
            # reaches the threshold (their non-min twins are dropped by
            # the rep either way); other groups keep every member in the
            # pairing, preserving exact greedy output at any threshold.
            groups = nonzero.groupBy(emb_col).agg(
                F.min(id_col).alias(id_col)
            )
            self_ok = cosine(emb_col, emb_col) >= F.lit(threshold)
            pair_rows = groups.where(self_ok).unionByName(
                nonzero.join(
                    groups.where(~self_ok).select(emb_col),
                    [emb_col],
                    "left_semi",
                )
            )
    else:
        pair_rows = nonzero
    # One assignment pass over exactly the rows that can appear in the
    # output (pairing participants + zero-norm keepers). localCheckpoint:
    # the assignment is referenced by the cap probe, both pairing sides,
    # and the final anti-join — without the cut each branch re-runs the
    # centroid cross-score. (Local-mode note: the cut truncates lineage,
    # trading executor-loss recoverability for the single-scan plan — the
    # right trade on local[n]; on a real cluster prefer reliable
    # checkpoint() or persist+count for the same effect.)
    assigned = (
        pair_rows.withColumn("_z", F.lit(False))
        .unionByName(zeroish.withColumn("_z", F.lit(True)))
        .crossJoin(centroids)
        .select(
            id_col,
            emb_col,
            "_z",
            "_bucket",
            dot(emb_col, "_centroid").alias("_s"),
        )
        .groupBy(id_col)
        .agg(
            F.first(emb_col).alias(emb_col),
            F.first("_z").alias("_z"),
            F.min_by(
                "_bucket", F.struct(F.negate(F.col("_s")), F.col("_bucket"))
            ).alias("cluster_id"),
        )
        .transform(lineage_cut)
    )
    pair_src = assigned.where(~F.col("_z"))
    star = None
    if cluster_cap is not None:
        if cluster_cap < 2:
            raise ValueError("cluster_cap must be >= 2 (or None to disable)")
        hot = (
            pair_src.groupBy("cluster_id")
            .agg(F.count("*").alias("_m"), F.min(id_col).alias("_min"))
            .where(F.col("_m") > cluster_cap)
            .drop("_m")
        )
        if not hot.isEmpty():
            import warnings

            warnings.warn(
                "semantic_dedup: hot-cluster guard fired (some cluster "
                f"exceeds cluster_cap={cluster_cap}); oversized clusters "
                "switch to star candidate topology around the cluster "
                "minimum — exact for floods, a recall trade for mixed "
                "clusters.",
                stacklevel=2,
            )
            # hot is ≤ n_clusters rows — broadcast join-back; oversized
            # clusters leave the all-pairs join entirely and their star
            # candidates are a pure projection.
            marked = pair_src.join(F.broadcast(hot), ["cluster_id"], "left")
            # embeddings of the ≤ n_clusters hot-cluster minima — tiny,
            # broadcast into the star projection
            min_embs = F.broadcast(
                pair_src.join(
                    F.broadcast(
                        hot.select(F.col("_min").alias(id_col))
                    ),
                    [id_col],
                    "left_semi",
                ).select(
                    F.col(id_col).alias("_ida"),
                    F.col(emb_col).alias("_ea"),
                )
            )
            star = (
                marked.where(F.col("_min").isNotNull())
                .where(F.col(id_col) != F.col("_min"))
                .select(
                    F.col("_min").alias("_ida"),
                    F.col(id_col).alias("_idb"),
                    F.col(emb_col).alias("_eb"),
                )
                .join(min_embs, ["_ida"])
                .select("_ida", "_idb", "_ea", "_eb")
            )
            if recover_bands > 0:
                # Second witness topology for the muted rows (see the
                # docstring): sign-LSH band the FIRED clusters' members,
                # pair within (cluster_id, band, bucket) — all-pairs for
                # groups ≤ cap, star around the group min past it. Only
                # runs in this (already eager, already rare) branch.
                dim = assigned.select(
                    F.size(emb_col).alias("_d")
                ).first()["_d"]
                planes = _hyperplanes(
                    dim, recover_bands * recover_bits, recover_seed
                )
                hot_members = marked.where(
                    F.col("_min").isNotNull()
                ).select("cluster_id", id_col, emb_col)
                mask = (1 << recover_bits) - 1
                keys = F.array(
                    *[
                        F.shiftrightunsigned(
                            F.col("_sig"), g * recover_bits
                        ).bitwiseAND(F.lit(mask))
                        for g in range(recover_bands)
                    ]
                )
                rb = (
                    hot_members.withColumn(
                        "_sig", lsh_bucket_col(emb_col, planes)
                    )
                    .select(
                        "cluster_id",
                        id_col,
                        emb_col,
                        F.posexplode(keys).alias("_band", "_bkey"),
                    )
                    .transform(lineage_cut)
                )
                bkeys = ["cluster_id", "_band", "_bkey"]
                stats = rb.groupBy(*bkeys).agg(
                    F.count("*").alias("_m"),
                    F.min(id_col).alias("_bmin"),
                )
                rbm = rb.join(stats, bkeys)
                small = rbm.where(F.col("_m") <= cluster_cap)
                rec_all = (
                    small.select(
                        *bkeys,
                        F.col(id_col).alias("_ida"),
                        F.col(emb_col).alias("_ea"),
                    )
                    .join(
                        small.select(
                            *bkeys,
                            F.col(id_col).alias("_idb"),
                            F.col(emb_col).alias("_eb"),
                        ),
                        bkeys,
                    )
                    .where(F.col("_ida") < F.col("_idb"))
                    .select("_ida", "_idb", "_ea", "_eb")
                )
                hotb = rbm.where(F.col("_m") > cluster_cap)
                bmin_embs = hotb.where(
                    F.col(id_col) == F.col("_bmin")
                ).select(
                    *bkeys,
                    F.col(id_col).alias("_ida"),
                    F.col(emb_col).alias("_ea"),
                )
                rec_star = (
                    hotb.where(F.col(id_col) != F.col("_bmin"))
                    .select(
                        *bkeys,
                        F.col(id_col).alias("_idb"),
                        F.col(emb_col).alias("_eb"),
                    )
                    .join(bmin_embs, bkeys)
                    .select("_ida", "_idb", "_ea", "_eb")
                )
                star = star.unionByName(rec_all).unionByName(
                    rec_star
                ).dropDuplicates(["_ida", "_idb"])
            pair_src = marked.where(F.col("_min").isNull()).drop("_min")
    a = pair_src.select(
        "cluster_id",
        F.col(id_col).alias("_ida"),
        F.col(emb_col).alias("_ea"),
    )
    b = pair_src.select(
        "cluster_id",
        F.col(id_col).alias("_idb"),
        F.col(emb_col).alias("_eb"),
    )
    cand = (
        a.join(b, ["cluster_id"])
        .where(F.col("_ida") < F.col("_idb"))
        .select("_ida", "_idb", "_ea", "_eb")
    )
    if star is not None:
        cand = cand.unionByName(star)
    dropped = (
        cand.where(cosine("_ea", "_eb") >= threshold)
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti").select(
        id_col, "cluster_id"
    )


def semantic_index(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """The PERSISTABLE semantic-dedup index: ``(id, embedding,
    cluster_id)`` rows assigned against FIXED external centroids (max
    inner product, ties to the smallest bucket — exactly
    :func:`semantic_dedup`'s assignment rule). This is what a continuous
    ingest stores per admitted batch so future deltas probe an equi-join
    on ``cluster_id`` instead of re-scoring the corpus
    (:func:`dedup_delta_semantic`, the embedding twin of
    :func:`minhash_index`)."""
    c = F.broadcast(centroids.select("_bucket", "_centroid"))
    return (
        df.select(id_col, emb_col)
        .crossJoin(c)
        .select(
            id_col, emb_col, "_bucket",
            dot(emb_col, "_centroid").alias("_s"),
        )
        .groupBy(id_col)
        .agg(
            F.first(emb_col).alias(emb_col),
            F.min_by(
                "_bucket", F.struct(F.negate(F.col("_s")), F.col("_bucket"))
            ).alias("cluster_id"),
        )
    )


def dedup_delta_semantic(
    new_df: DataFrame,
    index_df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    collapse_exact: bool = True,
    cluster_cap: int | None = 1024,
    recover_bands: int = 4,
    recover_bits: int = 8,
) -> DataFrame:
    """SEMANTIC incremental dedup (VERDICT r7 #8) — the embedding twin of
    :func:`operators.dedup.dedup_delta_near`: drop rows of ``new_df``
    whose cosine similarity to anything in ``index_df`` (a
    :func:`semantic_index` over the corpus admitted so far) reaches
    ``threshold``, or to a smaller-id row within the batch itself.
    Returns the surviving rows of ``new_df`` (all original columns).

    Order of operations mirrors the MinHash twin: the batch self-dedups
    FIRST through :func:`semantic_dedup` (collapse + hot-cluster star
    guard included, run against the FIXED ``centroids`` so cluster ids
    agree across batches), and only the self-survivors probe the index —
    an m-strong embedding flood inside one batch collapses before ever
    meeting the index. The probe is a cluster_id equi-join + cosine
    filter; the index side of any cluster is NATURALLY bounded by the
    packing number of the similarity space (admitted survivors are
    pairwise below the threshold by construction), so no guard is needed
    there — the quadratic term stays Σ|batch_cluster|·|index_cluster|,
    never corpus².

    Zero-norm batch vectors survive both stages (cosine NULL never
    reaches the threshold), matching semantic_dedup's rule."""
    kept = semantic_dedup(
        new_df,
        threshold=threshold,
        id_col=id_col,
        emb_col=emb_col,
        collapse_exact=collapse_exact,
        cluster_cap=cluster_cap,
        centroids=centroids,
        recover_bands=recover_bands,
        recover_bits=recover_bits,
    )
    kq = new_df.select(id_col, emb_col).join(kept, id_col)
    idx = index_df.select(
        F.col("cluster_id").alias("_ic"), F.col(emb_col).alias("_ie")
    )
    probe_drops = (
        kq.join(idx, kq["cluster_id"] == idx["_ic"])
        .where(cosine(emb_col, "_ie") >= F.lit(threshold))
        .select(id_col)
        .distinct()
    )
    return new_df.join(kept.select(id_col), id_col, "left_semi").join(
        probe_drops, id_col, "left_anti"
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — compressed-vector ANN, the memory-scale path
# ---------------------------------------------------------------------------

def pq_subvectors(
    df: DataFrame,
    m: int = 4,
    dim: int = 64,
    emb_col: str = "embedding",
    keep: tuple[str, ...] = ("vec_id",),
) -> DataFrame:
    """Split each vector into ``m`` contiguous subvectors of dim/m, one row
    per (row, subspace): the long-format input of every PQ stage. Pure
    narrow projection (inline of an array of slices) — no shuffle."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    # one SQL parse instead of m·4 Column-API py4j roundtrips (r11, guide
    # §1.2 step 2): named_struct/`{s}L` build the same literals the
    # lit(s).cast("long") form constant-folds to — values identical
    parts = ", ".join(
        f"named_struct('s', {s}L, 'sub', "
        f"slice({_d_sql(emb_col)}, {s * dsub + 1}, {dsub}))"
        for s in range(m)
    )
    return df.select(*keep, F.expr(f"inline(array({parts}))"))


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """PQ 'train': one codebook of ``n_codes`` centroids per subspace.

    Centroid seeding follows the engine's verifiable scheme (build_ivf /
    semantic_dedup): each (vector, subspace) md5-hashes to a code bucket and
    the minimum-hash subvector of the bucket becomes that code's centroid —
    ONE map-side-combining groupBy over m·N tiny rows, engine-exact and
    mirrorable in SQL. Sharpen with per-subspace Lloyd steps offline if
    recall needs it (refined centroids trade oracle-exactness for quality,
    same trade as kmeans_refine).

    Returns (s, code, centroid) — m·n_codes rows, always broadcast-sized
    (a 16×256 book for 1024-d vectors is 16 KB of floats). The result is
    localCheckpointed: every consumer (encode, ADC distance tables,
    refine) re-uses the materialized m·n_codes rows instead of
    re-aggregating the corpus per reference — the train pass runs
    exactly once, as a train pass should."""
    sub = pq_subvectors(embeddings, m=m, dim=dim, emb_col=emb_col, keep=(id_col,))
    hh = F.expr(
        f"CAST(conv(substring(md5(concat(CAST({id_col} AS STRING), '|', "
        "CAST(s AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        sub.withColumn("_hh", hh)
        .groupBy("s", F.pmod(F.col("_hh"), F.lit(n_codes)).alias("code"))
        .agg(F.min_by("sub", "_hh").alias("centroid"))
        .transform(lineage_cut)
    )


def pq_refine_codebooks(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """One per-subspace Lloyd step: re-assign every subvector to its nearest
    code, then replace each centroid with the element-wise mean of its
    members. Same trade as kmeans_refine — float-mean centroids sharpen
    recall but are no longer oracle-exact, so refinement is the offline
    quality knob while the seed path carries verification. Each step is one
    balanced (s, code, pos) partial-agg shuffle; repeat to taste."""
    enc = pq_encode(
        embeddings, codebooks, m=m, dim=dim, id_col=id_col, emb_col=emb_col, keep=()
    )
    sub = pq_subvectors(embeddings, m=m, dim=dim, emb_col=emb_col, keep=(id_col,))
    return (
        sub.join(enc, [id_col, "s"])
        .select("s", "code", F.posexplode("sub").alias("pos", "val"))
        .groupBy("s", "code", "pos")
        .agg(F.avg("val").alias("val"))
        .groupBy("s", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda x: x["val"],
            ).alias("centroid")
        )
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    keep: tuple[str, ...] = ("label",),
) -> DataFrame:
    """PQ 'add': assign every (vector, subspace) its nearest centroid's code
    (L2, ties to the smaller code). Output long format ``(id, *keep, s,
    code)`` — the compressed index, m small ints per vector instead of dim
    floats (64 floats → 4 codes = 64× less state to scan).

    Shape: broadcast the m·n_codes codebook against the subvector stream,
    reduce with a map-side-combining min_by per (id, s) — one shuffle of
    (id, s, code), never of the scored cross product."""
    sub = pq_subvectors(
        embeddings, m=m, dim=dim, emb_col=emb_col, keep=(id_col, *keep)
    )
    scored = sub.join(F.broadcast(codebooks), "s").select(
        id_col,
        *keep,
        "s",
        "code",
        l2_sq("sub", "centroid").alias("_dist"),
    )
    return scored.groupBy(id_col, "s").agg(
        *[F.first(c).alias(c) for c in keep],
        F.min_by("code", F.struct("_dist", "code")).alias("code"),
    )


def pq_pack_codes(
    encoded: DataFrame, id_col: str = "vec_id", keep: tuple[str, ...] = ("label",)
) -> DataFrame:
    """Long (id, s, code) → one row per id with the s-ordered code array —
    the storage layout of the compressed index."""
    return encoded.groupBy(id_col).agg(
        *[F.first(c).alias(c) for c in keep],
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))), lambda x: x["code"]
        ).alias("codes"),
    )


def pq_adc_topk(
    codebooks: DataFrame,
    encoded: DataFrame,
    query: DataFrame,
    k: int = 10,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    keep: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — FAISS IVFPQ's scoring
    half, the memory-scale serving path: the query precomputes its distance
    to every centroid (m·n_codes doubles, broadcast), and each stored vector
    scores as the SUM of m table lookups — no float vector is ever read.

    Deterministic and engine-exact (lookup values are the proven l2 fold;
    the per-vector sum folds in subspace order), so the approximation itself
    is value-hashable. Approximate by construction: gate recall vs knn_topk
    in tests, never hash ADC against exact scores."""
    qsub = pq_subvectors(query, m=m, dim=dim, emb_col="q", keep=())
    dtab = F.broadcast(
        qsub.join(codebooks, "s").select(
            "s", "code", l2_sq("sub", "centroid").alias("qd")
        )
    )
    per = (
        encoded.join(dtab, ["s", "code"])
        .groupBy(id_col)
        .agg(
            *[F.first(c).alias(c) for c in keep],
            F.expr(
                "aggregate(transform(array_sort(collect_list("
                "struct(s, qd))), x -> x.qd), 0.0D, (acc, x) -> acc + x)"
            ).alias("adist"),
        )
    )
    return per.orderBy(F.col("adist").asc(), F.col(id_col).asc()).limit(k)


def pq_adc_rerank(
    codebooks: DataFrame,
    encoded: DataFrame,
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    shortlist: int = 40,
    m: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    keep: tuple[str, ...] = ("label",),
) -> DataFrame:
    """ADC shortlist → EXACT re-rank: the standard production serving
    pattern for compressed indexes (FAISS's refine/RFlat stage). The PQ
    codes produce a ``shortlist``-sized candidate set without touching a
    float vector; only those candidates' float embeddings are then read
    (a shortlist-sized equi-join — at 100 TB this is the whole point:
    the full vector column is fetched for ~4k rows, not the corpus) and
    re-scored with exact L2 against the broadcast query. Recovers most
    of the recall PQ quantization loses at the cost of one tiny join.
    Both stages are deterministic folds, so the end-to-end result is
    value-hashable; recall vs exact kNN is gated in tests."""
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} must be >= k {k}")
    short = pq_adc_topk(
        codebooks, encoded, query, k=shortlist, m=m, dim=dim,
        id_col=id_col, keep=keep,
    )
    exact = (
        short.select(id_col, *keep)
        .join(embeddings.select(id_col, "embedding"), id_col)
        .crossJoin(query)
        .select(id_col, *keep, l2_sq("embedding", "q").alias("score"))
    )
    return exact.orderBy(F.col("score").asc(), F.col(id_col).asc()).limit(k)


def sq8_encode(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    keep: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Scalar int8 quantization 'add' (FAISS SQ8 parity — the other half of
    the vector-compression family next to PQ): per-vector symmetric scale
    ``max|v| / 127``, codes ``round(v / scale)`` ∈ [-127, 127]. A 4× memory
    cut vs float32 with near-lossless recall, and — unlike PQ — NO train
    pass: every batch encodes independently against its own scales, so
    appends are embarrassingly parallel and drift-free.

    Engine-exact: scale and codes are pure IEEE expressions of the input
    (zero vectors get scale 1.0 → all-zero codes), so the compressed index
    itself is value-hashable (e11_sq8_encode). Output
    ``(id, *keep, sq_scale, codes array<int>)`` — a production sink packs
    codes into a binary column; the array keeps them oracle-visible."""
    # q_ident, not a whole-name backtick (ADVICE r11): a dotted qualified
    # name that resolved via F.col keeps resolving on the string fast path
    absmax = (
        f"array_max(transform({q_ident(emb_col)}, "
        "x -> abs(CAST(x AS DOUBLE))))"
    )
    scale = F.expr(
        f"CASE WHEN {absmax} = 0.0D THEN 1.0D ELSE {absmax} / 127.0D END"
    )
    enc = embeddings.withColumn("sq_scale", scale)
    codes = F.expr(
        f"transform({q_ident(emb_col)}, "
        "x -> CAST(round(CAST(x AS DOUBLE) / sq_scale) AS INT))"
    )
    return enc.select(id_col, *keep, "sq_scale", codes.alias("codes"))


def sq8_topk(
    encoded: DataFrame,
    query: DataFrame,
    k: int = 10,
    metric: str = "ip",
    id_col: str = "vec_id",
    keep: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Asymmetric top-k over SQ8 codes: the float query scores against
    lazily-reconstructed ``code · scale`` values INSIDE the JVM fold — no
    float vector is stored or materialized, the scan reads ints + one
    scale. Same TakeOrdered shape as exact knn; deterministic, so —
    unlike PQ's ADC — the whole approximate path is value-hashable
    (e11_sq8_topk mirrors the reconstruction in SQL). Quality gate vs
    exact knn lives in pytest (near-lossless: int8 of a ±1-ish range)."""
    recon = F.expr(
        "transform(codes, c -> CAST(c AS DOUBLE) * sq_scale)"
    )
    scored = encoded.crossJoin(query).withColumn("_r", recon)
    if metric == "ip":
        score = dot("_r", "q")
        order = [F.col("score").desc(), F.col(id_col).asc()]
    elif metric == "cosine":
        score = cosine("_r", "q")
        order = [F.col("score").desc(), F.col(id_col).asc()]
    elif metric == "l2":
        score = l2_sq("_r", "q")
        order = [F.col("score").asc(), F.col(id_col).asc()]
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return (
        scored.select(id_col, *keep, score.alias("score"))
        .orderBy(*order)
        .limit(k)
    )


def mean_pool(
    df: DataFrame,
    group_col: str = "label",
    order_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Chunk→document embedding pooling: element-wise mean of each group's
    vectors, folded in ``order_col`` order (the standard way a document
    embedding is derived from its chunk embeddings after ``chunk_documents``
    + ``Embedder``; reference parity: the corpus matrix built row-by-row at
    py:424-426 is this op's driver-side ancestor).

    Engine-exact: the per-group sum is an explicit LEFT-ASSOCIATED fold of
    the order-sorted vector sequence (acc = v₁, then +v₂, …), then one
    element-wise division by the group size — both engines execute the
    identical IEEE chain, so even the pooled doubles are value-hashable
    (DuckDB mirror: ``list(... ORDER BY) → list_reduce → list_transform``).

    Distributed shape: ONE map-side-combining groupBy. collect_list holds a
    single group's chunk vectors — chunks-per-document is bounded (a doc has
    tens of chunks), so state per key is KBs regardless of corpus size. At
    100 TB this is the same one-shuffle shape as any hash aggregate; nothing
    touches the driver."""
    g = df.groupBy(group_col).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(order_col).alias("o"), _d(emb_col).alias("e")))
        ).alias("_sorted"),
        F.count("*").cast("long").alias("n_vecs"),
    )
    seq = F.transform(F.col("_sorted"), lambda s: s["e"])
    summed = F.aggregate(
        F.slice(seq, 2, F.size(seq) - 1),
        F.element_at(seq, 1),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    return g.select(
        group_col,
        "n_vecs",
        F.transform(summed, lambda v: v / F.col("n_vecs")).alias("pooled"),
    )


def rrf_fuse(
    ranked_lists: list[DataFrame],
    id_col: str = "doc_id",
    k_rrf: int = 60,
    scale: int = 10**9,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked candidate lists (the hybrid-search
    combiner: lexical BM25 ∪ vector kNN): per id, sum of
    ``scale div (k_rrf + rank)`` over every list containing it, plus the
    list-membership count. INTEGER RRF — floor division makes the scores
    exact integers, so the fusion is order-free, partitioning-independent
    and engine-exact (the float 1/(k+r) form would need an ordered fold).
    Inputs carry ``(id_col, rank)`` with rank 1-based; output ordered
    consumers re-rank by (rrf_score desc, id)."""
    if not ranked_lists:
        raise ValueError("rrf_fuse requires at least one ranked list")
    u = ranked_lists[0].select(id_col, "rank")
    for r in ranked_lists[1:]:
        u = u.unionByName(r.select(id_col, "rank"))
    return u.groupBy(id_col).agg(
        F.sum(
            F.expr(f"CAST({int(scale)} AS BIGINT) div ({int(k_rrf)} + rank)")
        ).alias("rrf_score"),
        F.count("*").cast("long").alias("n_lists"),
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    rel_col: str = "score",
) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998) of a
    retrieval head: greedily pick argmax λ·relevance − (1−λ)·max-sim-to-
    already-selected — the standard diversity pass between retrieval and
    prompt assembly (k near-duplicate passages waste the whole context
    window; RAG quality is recall × diversity).

    Input is a CANDIDATE HEAD (top-N of knn/hybrid retrieval) — bounded by
    construction, so the pairwise-sim join is N², not corpus². The greedy
    loop runs as k argmax stages over cached head/sim frames; the
    function is EAGER — it materializes the ≤k-row result, releases every
    cache it pinned (no per-call cache-manager leak), and returns the
    rows as a fresh DataFrame. Every arithmetic step (cosine fold,
    λ-combination, tie-break by id) is engine-exact, so MMR's SELECTIONS
    AND SCORES are value-hashable."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # persist the head and its pair sims: both are ≤N(+N²) ROWS by
    # construction, and every unrolled greedy stage reuses them — without
    # the cache the lazy tree recomputes the retrieval scan per stage
    # (measured 6.3s → 0.5s at sf0.1 for k=5 over a top-20 head).
    cand = candidates.select(
        F.col(id_col), F.col(emb_col), F.col(rel_col).alias("_rel")
    ).persist()
    a = cand.select(F.col(id_col).alias("_ia"), F.col(emb_col).alias("_ea"))
    b = cand.select(F.col(id_col).alias("_ib"), F.col(emb_col).alias("_eb"))
    # zero-norm guard: similarity to/from a zero vector is NULL by
    # definition here (sorts last), identically under ANSI on (where a bare
    # division would throw DIVIDE_BY_ZERO) and off (where it would be NULL
    # anyway)
    _den = norm(F.col("_ea")) * norm(F.col("_eb"))
    sims = a.join(b, F.col("_ia") != F.col("_ib")).select(
        "_ia",
        "_ib",
        F.when(_den != 0.0, dot("_ea", "_eb") / _den).alias("_sim"),
    ).persist()
    caches = [cand, sims]
    selected = (
        cand.orderBy(F.col("_rel").desc(), F.col(id_col))
        .limit(1)
        .select(
            id_col,
            F.lit(1).cast("long").alias("rank"),
            F.col("_rel").alias("mmr_score"),
        )
    )
    for step in range(2, k + 1):
        sel_ids = selected.select(F.col(id_col).alias("_ib"))
        maxsim = (
            sims.join(sel_ids, "_ib")
            .groupBy("_ia")
            .agg(F.max("_sim").alias("_ms"))
        )
        nxt = (
            cand.join(selected.select(id_col), id_col, "left_anti")
            .join(maxsim, cand[id_col] == F.col("_ia"))
            .select(
                id_col,
                F.lit(step).cast("long").alias("rank"),
                (F.lit(lam) * F.col("_rel") - F.lit(1.0 - lam) * F.col("_ms"))
                .alias("mmr_score"),
            )
            .orderBy(F.col("mmr_score").desc(), F.col(id_col))
            .limit(1)
        )
        # persist each accumulated selection: selected appears twice in the
        # next stage (anti-join + sim filter), so the uncached tree doubles
        # per step — k rows of cache flatten that to linear work.
        selected = selected.unionByName(nxt).persist()
        caches.append(selected)
    # materialize the (≤k-row) result, then release every cache this call
    # pinned — a per-query serving path must not leak k+2 cache-manager
    # entries per invocation. The collect is bounded by k, not the corpus.
    schema = selected.schema
    rows = selected.collect()
    for c in caches:
        c.unpersist()
    return cand.sparkSession.createDataFrame(rows, schema)


def md5_coarse_centroids(
    embeddings: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Coarse quantizer seeds by md5-bucket representative (the
    semantic_dedup scheme, factored): deterministic, engine-exact, ONE
    map-side-combining groupBy. Returns (cluster_id, centroid) —
    broadcast-sized by construction."""
    hh = F.expr(
        f"CAST(conv(substring(md5(CAST({id_col} AS STRING)), 1, 15), 16, 10)"
        " AS BIGINT)"
    )
    return (
        embeddings.select(F.col(id_col), F.col(emb_col), hh.alias("_hh"))
        .groupBy(F.pmod(F.col("_hh"), F.lit(n_clusters)).alias("cluster_id"))
        .agg(F.min_by(emb_col, "_hh").alias("centroid"))
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_clusters: int = 8,
    n_probe: int = 2,
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    keep: tuple[str, ...] = ("label",),
) -> DataFrame:
    """IVF-PQ: the full FAISS memory-scale ANN shape — a coarse md5-seeded
    quantizer prunes the search to ``n_probe``/``n_clusters`` of the
    corpus, and within the probed lists vectors score by PQ asymmetric
    distance (4 table lookups each, no floats read). At 100 TB the codes
    table is partitioned by cluster_id, so a query is a partition-pruned
    scan of a 64×-compressed index.

    Deterministic end to end (md5 buckets, argmin assignment with ties to
    the smaller cluster, the proven L2 fold) — the probed approximation
    itself is value-hashable; recall vs exact kNN is gated in tests.
    probe-all ≡ pq_adc_topk over the whole corpus (asserted in tests)."""
    cents = F.broadcast(md5_coarse_centroids(embeddings, n_clusters, id_col))
    assigned = (
        embeddings.select(id_col, "embedding")
        .crossJoin(cents)
        .select(
            id_col,
            "cluster_id",
            l2_sq("embedding", "centroid").alias("_d"),
        )
        .groupBy(id_col)
        .agg(
            F.min_by("cluster_id", F.struct("_d", "cluster_id")).alias(
                "cluster_id"
            )
        )
    )
    cb = pq_codebooks(embeddings, m=m, n_codes=n_codes, dim=dim, id_col=id_col)
    enc = pq_encode(
        embeddings, cb, m=m, dim=dim, id_col=id_col, keep=keep
    ).join(assigned, id_col)
    probed = F.broadcast(
        cents.crossJoin(query)
        .select("cluster_id", l2_sq("centroid", "q").alias("_qd"))
        .orderBy("_qd", "cluster_id")
        .limit(n_probe)
        .select("cluster_id")
    )
    return pq_adc_topk(
        cb,
        enc.join(probed, "cluster_id"),
        query,
        k=k,
        m=m,
        dim=dim,
        id_col=id_col,
        keep=keep,
    )
