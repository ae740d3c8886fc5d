"""Table-maintenance operators for the 100 TB lake: bucketed co-located
joins, MERGE-style upserts, SCD2 history, partitioned layouts.

None of these exist in the reference (it overwrites flat CSV/JSON each run,
py:161/py:298); they are the capability closure that makes the reference's
pipelines *operable* at scale: incremental loads instead of full rewrites,
shuffle-free repeat joins, partition-pruned scans."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 8, sort_by: str | None = None
) -> None:
    """Persist hash-bucketed by the join key: two tables bucketed the same
    way join WITHOUT a shuffle (both sides already co-partitioned on disk).
    At 100 TB this converts every repeat fact-fact join on the key from a
    full shuffle into a local zip of buckets."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)


def merge_upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE INTO emulation (no Delta in this environment): rows from
    `updates` win on key collision, unmatched target rows survive.
    Plan shape: one broadcast/shuffle anti-join against the raw update
    keys (no aggregate or Exchange of their own) + union — linear, no
    driver-side state."""
    # The right side is the raw update key column, not its distinct():
    # duplicate keys on the right of a left_anti join cannot change its
    # result (and null keys still never match), so a distinct would only
    # add an aggregate, an Exchange and, under AQE, a job of its own.
    kept = target.join(updates.select(key), key, "left_anti")
    return kept.unionByName(updates)


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str,
    ts_col: str,
    attrs: list[str],
) -> DataFrame:
    """Slowly-changing-dimension type 2: close out current versions that
    changed, append the new versions, keep full history.

    current schema: key, attrs..., valid_from, valid_to (null = open).
    updates schema: key, attrs..., ts_col.

    The changed-key join carries no broadcast hint: a full-churn batch
    makes changed_keys as large as the dimension itself, and a mandatory
    broadcast would OOM the executors — the plain join lets AQE broadcast
    it only when it measures small.

    CHAINED applies must materialize between rounds (write the history
    out, or ``plans.lineage.lineage_cut`` it): feeding one apply's LAZY
    result straight into the next grows a self-referential union+join
    plan that trips an AQE planner fault at depth ≥3 ("Can't zip RDDs
    with unequal numbers of partitions", exchange-reuse under union —
    observed on Spark 4.1.2, pinned by
    test_scd2_fold_invariants_property). Every shipped path already
    does this: ``scd2_sink`` persists the history to parquet per
    micro-batch.
    """
    # ONE update per key per apply: a batch may carry several updates for
    # the same key — applying them all would fan out the close join (every
    # current row duplicated per update row) and leave multiple open
    # versions. Keep the latest by ts (attr-tuple tiebreak for determinism);
    # intermediate same-batch states are not representable in a single
    # SCD2 apply and are intentionally collapsed.
    wk = Window.partitionBy(key).orderBy(
        F.col(ts_col).desc(), *[F.col(a).desc_nulls_last() for a in attrs]
    )
    upd_latest = (
        updates.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    upd = upd_latest.select(
        key, *attrs, F.col(ts_col).alias("valid_from")
    ).withColumn("valid_to", F.lit(None).cast("timestamp"))
    # Null-safe change detection: `<>` evaluates to NULL when either side is
    # NULL, silently missing NULL→value / value→NULL transitions; negated
    # eqNullSafe (`<=>`) treats NULL as a comparable value.
    changed_pred = None
    for a in attrs:
        term = ~F.col(f"u.{a}").eqNullSafe(F.col(f"c.{a}"))
        changed_pred = term if changed_pred is None else (changed_pred | term)
    # Classify against the OPEN row via a left join with an explicit
    # presence marker: "apply" = no open row exists (brand-new key OR a key
    # whose versions were all closed out — the update must REOPEN it, not
    # vanish) or the open row's attrs differ.
    open_cur = current.where(F.col("valid_to").isNull()).select(
        key, *attrs, F.lit(1).alias("_has_open")
    )
    classified = upd_latest.alias("u").join(open_cur.alias("c"), key, "left")
    to_apply = classified.where(
        F.col("_has_open").isNull() | changed_pred
    ).select(key, F.col(f"u.{ts_col}").alias("_close_ts"))
    # Only keys that HAVE an open row to close participate in the close.
    changed_keys = classified.where(
        F.col("_has_open").isNotNull() & changed_pred
    ).select(key, F.col(f"u.{ts_col}").alias("_close_ts"))
    closed = (
        current.alias("c")
        .join(changed_keys.alias("k"), key, "left")
        .select(
            "c.*",
            F.when(
                F.col("c.valid_to").isNull() & F.col("k._close_ts").isNotNull(),
                F.col("k._close_ts"),
            )
            .otherwise(F.col("c.valid_to"))
            .alias("_new_valid_to"),
        )
        .drop("valid_to")
        .withColumnRenamed("_new_valid_to", "valid_to")
    )
    new_versions = upd.join(to_apply.select(key), key, "left_semi")
    return closed.unionByName(new_versions)


def history_asof(history: DataFrame, ts) -> DataFrame:
    """Time-travel read of an SCD2 history: the version of every key that
    was current AT ``ts`` (valid_from ≤ ts < valid_to, open = unbounded).
    Pure filter — partition-prunable when the history is laid out by
    valid_from date."""
    t = F.lit(ts).cast("timestamp")
    return history.where(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )


def latest_version(history: DataFrame, key: str, order_col: str) -> DataFrame:
    """Collapse a history table to the latest row per key (window+filter)."""
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    return (
        history.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def write_partitioned_by_day(
    df: DataFrame, path: str, ts_col: str, partition_col: str = "dt"
) -> None:
    """Date-partitioned parquet layout: downstream filters on the partition
    column prune whole directories (static + dynamic partition pruning)."""
    df.withColumn(partition_col, F.to_date(F.col(ts_col))).write.mode(
        "overwrite"
    ).partitionBy(partition_col).parquet(path)


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem handle for a path (works for file://, hdfs://...)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath, _ = _fs(spark, path)
    return bool(fs.exists(hpath))


def list_dir(spark: SparkSession, path: str) -> list[str]:
    """Child names of a directory via the Hadoop FileSystem — works on
    file://, hdfs:// and any object store with an FS impl. The batch-dir
    family sinks/readers (scd2_sink_incremental, admitted_corpus,
    compaction) route through this instead of driver-local os.listdir so
    a non-local target doesn't silently read as empty (ADVICE r8).
    Returns [] for a missing path."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def rename_path(spark: SparkSession, src: str, dst: str) -> None:
    """FS rename with the False-return turned into an error (Hadoop
    reports failure by returning False, not raising)."""
    fs, hsrc, jvm = _fs(spark, src)
    if not fs.rename(hsrc, jvm.org.apache.hadoop.fs.Path(dst)):
        raise IOError(f"rename failed: {src} -> {dst}")


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursive FS delete; no-op when the path is already gone."""
    fs, hpath, _ = _fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def recover_interrupted_swap(spark: SparkSession, path: str) -> bool:
    """If a previous stage-and-swap died between its two renames, the only
    copy of the data sits at ``path__old`` with ``path`` missing — restore
    it. Returns True when a recovery was performed. Safe to call anytime
    (no-op when the live path exists)."""
    fs, hpath, jvm = _fs(spark, path)
    old = jvm.org.apache.hadoop.fs.Path(path + "__old")
    if fs.exists(old) and not fs.exists(hpath):
        if not fs.rename(old, hpath):
            raise IOError(f"recovery rename failed: {path}__old -> {path}")
        return True
    return False


def atomic_overwrite(
    df: DataFrame, path: str, *, commit_if: Callable[[], bool] | None = None
) -> None:
    """Stage-and-swap rewrite of a path the plan may be reading from.

    The new data is fully written to ``path__stage`` (reading the original
    files, which are untouched during the write), then the original directory
    is renamed aside and the stage renamed in — so there is no moment where
    the only copy of the data is a deleted directory or executor-local
    checkpoint blocks. An executor/driver loss mid-write leaves the original
    intact (at worst plus a stale ``__stage``/``__old`` sibling). A loss in
    the between-renames window leaves the data under ``__old``; the next
    call (or ``recover_interrupted_swap``) renames it back instead of
    deleting it. Hadoop ``FileSystem.rename`` reports failure by returning
    False rather than raising — every return value is checked, and a failed
    swap-in rolls the original back so the live path is never left missing.
    Directory rename is atomic on HDFS/local posix; on object stores (S3A)
    it is copy+delete — pair with a manifest committer there.

    ``commit_if`` is evaluated after the stage write, as in
    :func:`write_snapshot`: False deletes the stage and leaves ``path``
    untouched."""
    spark = df.sparkSession
    fs, hpath, jvm = _fs(spark, path)
    stage = jvm.org.apache.hadoop.fs.Path(path + "__stage")
    old = jvm.org.apache.hadoop.fs.Path(path + "__old")
    if fs.exists(stage):
        fs.delete(stage, True)
    # __old present: either a completed run's leftover (live path exists →
    # safe to drop) or an interrupted swap's only copy (live path missing →
    # restore it BEFORE the write below tries to read the live path).
    if fs.exists(old):
        if fs.exists(hpath):
            fs.delete(old, True)
        elif not fs.rename(old, hpath):
            raise IOError(f"recovery rename failed: {path}__old -> {path}")
    df.write.mode("overwrite").parquet(path + "__stage")
    if commit_if is not None and not commit_if():
        fs.delete(stage, True)
        return
    existed = fs.exists(hpath)
    if existed and not fs.rename(hpath, old):
        raise IOError(f"rename failed: {path} -> {path}__old")
    if not fs.rename(stage, hpath):
        if existed and not fs.rename(old, hpath):
            raise IOError(
                f"swap-in AND rollback failed; data is at {path}__old"
            )
        raise IOError(f"rename failed: {path}__stage -> {path} (rolled back)")
    if existed:
        fs.delete(old, True)


def compact(spark: SparkSession, path: str, target_files: int) -> int:
    """Small-file compaction: rewrite a parquet directory into N files.
    The small-files problem is THE silent killer of 100 TB scans (one task
    per tiny file); compaction after streaming/incremental writes restores
    scan efficiency. Crash-safe via stage-and-swap (atomic_overwrite).
    Returns the resulting data-file count."""
    df = spark.read.parquet(path).repartition(target_files)
    atomic_overwrite(df, path)
    fs, hpath, _ = _fs(spark, path)
    return sum(
        1
        for st in fs.listStatus(hpath)
        if st.getPath().getName().endswith(".parquet")
    )


def zorder_value(cols: list[str], mins: list[str], maxs: list[str], bits: int = 16):
    """Z-order (Morton) interleave of N columns, each min-max scaled to a
    ``bits``-bit integer. Pure column expression (shift/mask/or), so the
    curve value costs nothing at scale.

    ``bits`` is clamped to 63 // n_cols: the interleave's top bit position is
    n*bits-1, and bit 63 is the sign bit of a Spark long — without the clamp,
    4+ columns at the default 16 bits push high values negative and break
    the Morton ordering."""
    n = len(cols)
    bits = min(bits, 63 // n)
    mask = (1 << bits) - 1
    # one SQL string, one py4j call: the Column-object formulation (n*bits
    # nested OR/shift objects) spent multiple driver-side SECONDS per call
    # in py4j chatter before any task ran. Whole-stage codegen CSE
    # de-duplicates the repeated scaled subexpressions; scaled values are
    # non-negative so >> matches the previous unsigned shift.
    scaled = [
        f"least(floor((CASE WHEN (({hi}) - ({lo})) > 0 "
        f"THEN (({c}) - ({lo})) / (({hi}) - ({lo})) ELSE 0.0 END) "
        f"* {mask}), CAST({mask} AS BIGINT))"
        for c, lo, hi in zip(cols, mins, maxs)
    ]
    terms = " + ".join(
        f"(((({scaled[j]}) >> {i}) & CAST(1 AS BIGINT)) << {i * n + j})"
        for i in range(bits)
        for j in range(n)
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int = 16, bits: int = 16
) -> None:
    """Z-order-clustered parquet layout: rows are range-partitioned and
    sorted along the Morton curve of ``cols``, so every output file covers a
    tight min/max box in ALL clustering dimensions at once — parquet
    footer stats then let a reader skip most files for a selective filter
    on ANY of the clustered columns (not just the first sort key, which is
    all a lexicographic sort gives you).

    Column domains are min-max scaled from a broadcast single-row aggregate
    computed in the same job (lazy — no driver-side action). This is the
    engine's answer to Delta/Iceberg OPTIMIZE ZORDER BY at 100 TB: one
    range-shuffle write, then every selective scan prunes."""
    aggs = []
    mins, maxs = [], []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"_min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"_max_{c}"),
        ]
        mins.append(f"_min_{c}")
        maxs.append(f"_max_{c}")
    stats = df.agg(*aggs)
    dcols = [F.col(c).cast("double").alias(f"_d_{c}") for c in cols]
    z = zorder_value([f"_d_{c}" for c in cols], mins, maxs, bits)
    clustered = (
        df.select("*", *dcols)
        .crossJoin(F.broadcast(stats))
        .withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *mins, *maxs, *[f"_d_{c}" for c in cols])
    )
    clustered.write.mode("overwrite").parquet(path)


def merge_aggregate_state(
    state: DataFrame, batch: DataFrame, keys: list[str], scale: int = 2
) -> DataFrame:
    """Incremental aggregate maintenance: fold a new batch's partial
    aggregates (n, total) into the stored state — the scalable alternative
    to recomputing a 100 TB aggregate per load. Counts and decimal-exact
    sums are decomposable; averages derive at read time. ``scale`` is the
    total's natural decimal scale (pass 4 for price×discount-grade values —
    the previous hardcoded 2 silently rounded them)."""
    merged = state.unionByName(batch)
    return merged.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum(F.col("total").cast(f"decimal(30,{scale})"))
        .cast("double")
        .alias("total"),
    )


def distinct_sketches(
    df: DataFrame, group_cols: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group HLL sketch state over ``value_col`` (Datasketches HLL_4,
    Spark's hll_sketch_agg) — the persistable partial for incremental
    COUNT(DISTINCT) rollups: store one small binary per (day, key) at
    ingest, answer any coarser-grained distinct question later by merging
    sketches, never rescanning the fact table. Sketch size is bounded by
    2^lg_k registers regardless of input cardinality; the aggregate is
    partial+final like any hash agg."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(int(lg_k))).alias("hll")
    )


def merge_distinct_sketches(
    sketches: DataFrame, rollup_cols: list[str]
) -> DataFrame:
    """Union per-group sketches up to a coarser grouping and estimate.
    hll_union_agg is associative/commutative on the register arrays, so
    the estimate is independent of merge order and partitioning — and
    EQUALS the single-pass sketch over the union of the inputs (asserted
    in tests), which is what makes the stored partials trustworthy.
    Shuffle volume is sketches (KB each), not rows."""
    return sketches.groupBy(*rollup_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("distinct_est")
    )


#: 2^60 — the KMV hash range (top 60 bits of md5, kept as exact BIGINT)
KMV_SCALE = float(1 << 60)


def _kmv_hash_col(value_col: str):
    """Deterministic uniform 60-bit hash of a value (md5 first 15 hex
    digits as BIGINT) — integer-exact on both engines, so KMV sketches
    and their estimates are value-hashable."""
    return F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")


def kmv_sketch(
    df: DataFrame, group_cols: list[str], value_col: str, k: int = 256
) -> DataFrame:
    """Per-group KMV ('k minimum values' / theta) sketch: the k SMALLEST
    60-bit hashes of the distinct values. The mergeable distinct-sketch
    that — unlike HLL — also supports set INTERSECTION estimates
    (Apache DataSketches theta parity), and is fully deterministic.

    Scale shape: distinct (group, hash) → SALTED pre-prune (k smallest
    per (group, hash%64) — any superset of the global k-minima is
    correctness-preserving, so the salt only bounds reducer input) →
    final per-group rank window over ≤ 64·k rows per group. No reducer
    ever sees a group's full distinct-hash stream, so a hot group — or a
    GLOBAL sketch via a constant group column — cannot melt one task.

    Estimate below k is EXACT (the sketch holds every distinct hash)."""
    from pyspark.sql.window import Window

    hashed = (
        df.select(*group_cols, _kmv_hash_col(value_col).alias("_h"))
        # NULL values carry no distinct identity (COUNT(DISTINCT)
        # semantics) and their NULL hash would sort FIRST, evicting the
        # k-th real hash and collapsing the estimate to k−1. A group with
        # ONLY NULLs consequently emits no sketch row at all.
        .where(F.col("_h").isNotNull())
        .distinct()
    )
    w_pre = Window.partitionBy(*group_cols, "_s").orderBy("_h")
    pruned = (
        hashed.withColumn("_s", F.pmod("_h", F.lit(64)))
        .withColumn("_rk", F.row_number().over(w_pre))
        .where(F.col("_rk") <= k)
        .drop("_s", "_rk")
    )
    w = Window.partitionBy(*group_cols).orderBy("_h")
    return (
        pruned.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list("_h")).alias("kmv"))
    )


def kmv_estimate_col(k: int = 256):
    """Distinct-count estimate over a ``kmv`` array column: exact size
    when the sketch is not full, else the KMV estimator (k−1)·2^60 / kth
    smallest hash."""
    return (
        F.when(F.size("kmv") < k, F.size("kmv").cast("double"))
        .otherwise(
            F.lit(float(k - 1) * KMV_SCALE)
            / F.element_at("kmv", k).cast("double")
        )
    )


def kmv_union(
    sketches: DataFrame, rollup_cols: list[str], k: int = 256
) -> DataFrame:
    """Union per-group sketches up to a coarser grouping: the k smallest
    of the concatenated hash sets. Union-of-sketches EQUALS
    sketch-of-union (any globally-k-smallest hash is k-smallest in its
    own group too — asserted exactly in tests), which is what makes
    stored per-day partials trustworthy for any later rollup."""
    from pyspark.sql.window import Window

    ex = sketches.select(
        *rollup_cols, F.explode("kmv").alias("_h")
    ).distinct()
    w = Window.partitionBy(*rollup_cols).orderBy("_h")
    return (
        ex.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .groupBy(*rollup_cols)
        .agg(F.array_sort(F.collect_list("_h")).alias("kmv"))
    )


def kmv_intersect_estimate(
    a: DataFrame, b: DataFrame, join_cols: list[str], k: int = 256
) -> DataFrame:
    """|A ∩ B| from two same-k sketches — the theta-sketch capability HLL
    fundamentally lacks. U = the k smallest of the merged hash sets; the
    fraction of U's members present in BOTH sketches estimates
    |A∩B| / |A∪B|, scaled by the union estimate. When the merged set is
    not full, both sketches are complete and the intersection is EXACT.
    Everything is JVM array ops over 2·k longs per group — no data
    rescan.

    Groups present in only ONE input report intersect_est = 0 (full outer
    join, missing sketch = empty set) — so callers can tell "no overlap"
    apart from a silently dropped row (round-4 ADVICE)."""
    empty = F.expr("CAST(array() AS array<bigint>)")
    ja = a.select(*join_cols, F.col("kmv").alias("ka"))
    jb = b.select(*join_cols, F.col("kmv").alias("kb"))
    j = (
        ja.join(jb, join_cols, "full_outer")
        .withColumn("ka", F.coalesce("ka", empty))
        .withColumn("kb", F.coalesce("kb", empty))
    )
    u_all = F.array_sort(F.array_distinct(F.concat(F.col("ka"), F.col("kb"))))
    j = j.withColumn("_u", F.slice(u_all, 1, k))
    union_est = (
        F.when(F.size(u_all) < k, F.size(u_all).cast("double"))
        .otherwise(
            F.lit(float(k - 1) * KMV_SCALE)
            / F.element_at("_u", k).cast("double")
        )
    )
    both = F.array_intersect(F.col("ka"), F.col("kb"))
    matched = F.size(F.array_intersect(F.col("_u"), both))
    est = (
        F.when(F.size(u_all) < k, F.size(both).cast("double"))
        .otherwise(matched.cast("double") / F.lit(float(k)) * union_est)
    )
    return j.select(*join_cols, est.alias("intersect_est"))


def collect_file_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Zone-map index: per data FILE, row count and min/max of each listed
    column — built ONCE per write/compaction (a single scan), persisted
    small (one row per file), then consulted by every later query via
    :func:`skipping_scan`. This is the external form of parquet's own
    row-group stats: row-group skipping needs every footer opened; a
    persisted file-level index prunes before ANY footer I/O — at 100 TB
    (millions of files) that is the difference between a driver listing
    and a cluster-wide metadata storm."""
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return df.groupBy(F.input_file_name().alias("file")).agg(*aggs)


def prune_files(stats_rows, col: str, lo, hi) -> list[str]:
    """Files whose [min,max] zone intersects [lo, hi]. A file with NULL
    min/max has no non-null values for ``col`` and can never satisfy a
    range predicate, so it is pruned. ``stats_rows`` is the COLLECTED
    stats table — one row per file, bounded by file count (Spark's own
    file index is likewise driver-side)."""
    keep = []
    for r in stats_rows:
        mn, mx = r[f"{col}_min"], r[f"{col}_max"]
        if mn is None or mx is None:
            continue
        if mx < lo or mn > hi:
            continue
        keep.append(r["file"])
    return keep


def skipping_scan(
    spark: SparkSession, path: str, stats: DataFrame, col: str, lo, hi
) -> DataFrame:
    """Range query over a parquet layout using the zone map: read ONLY the
    files whose zones intersect [lo, hi], then apply the residual predicate
    (zones are necessary, not sufficient). Value-identical to the full
    filtered scan by construction — the oracle entry proves it. If every
    file is pruned the full path is read with the same predicate (parquet
    footer stats then skip all row groups; correct either way)."""
    keep = prune_files(stats.collect(), col, lo, hi)
    cond = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    src = spark.read.parquet(*keep) if keep else spark.read.parquet(path)
    return src.where(cond)


def table_diff(
    old: DataFrame, new: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """CDC-style snapshot diff: one row per key present in either snapshot
    with ``status`` ∈ added / removed / changed / unchanged (null-safe
    column comparison — NULL→value and value→NULL are changes, NULL→NULL
    is not). The audit run before committing a MERGE/SCD2 apply, and the
    delta extractor when upstream can't emit one. Single full-outer hash
    join on the key; comparisons are narrow expressions."""
    if not cols:
        raise ValueError("table_diff requires at least one compare column")
    o = old.select(F.col(key).alias("_ok"), *[F.col(c).alias(f"_o_{c}") for c in cols])
    n = new.select(F.col(key).alias("_nk"), *[F.col(c).alias(f"_n_{c}") for c in cols])
    j = o.join(n, o["_ok"] == n["_nk"], "full_outer")
    differs = None
    for c in cols:
        d = ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        differs = d if differs is None else (differs | d)
    status = (
        F.when(F.col("_ok").isNull(), F.lit("added"))
        .when(F.col("_nk").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.coalesce("_ok", "_nk").alias(key), status.alias("status")
    )


def check_expectations(
    df: DataFrame,
    row_rules: dict[str, "F.Column"],
    unique: dict[str, list[str]] | None = None,
    fks: list[tuple[str, DataFrame, str, DataFrame, str]] | None = None,
) -> DataFrame:
    """Data-quality expectation report (the dbt-tests / Great-Expectations
    shape): ``(rule, n_violations)`` per rule, all exact counts.

    - ``row_rules``: name → boolean Column that must hold per row; ALL are
      evaluated in ONE conditional-sum aggregate — one scan regardless of
      rule count (NULL predicate results count as violations: an
      expectation that cannot be evaluated is not satisfied).
    - ``unique``: name → key column list; each is a groupBy counting rows
      in excess of their key's first (duplicates, not distinct keys).
    - ``fks``: (name, child_df, child_col, parent_df, parent_col); each an
      anti-join counting orphans — linear, AQE broadcasts small parents.
      The child is passed explicitly so FK rules can span tables.

    The report is the gate artifact a pipeline checks before publishing a
    load; every branch is a count, so the whole report is value-hashable."""
    parts = []
    if row_rules:
        aggs = [
            F.sum(
                F.when(~F.coalesce(cond, F.lit(False)), 1).otherwise(0)
            ).cast("long").alias(name)
            for name, cond in row_rules.items()
        ]
        wide = df.agg(*aggs)
        stack = ", ".join(f"'{n}', {n}" for n in row_rules)
        parts.append(
            wide.selectExpr(
                f"stack({len(row_rules)}, {stack}) AS (rule, n_violations)"
            )
        )
    for name, keys in (unique or {}).items():
        dups = (
            df.groupBy(*keys)
            .agg(F.count("*").alias("_n"))
            .agg(
                F.coalesce(F.sum(F.col("_n") - 1), F.lit(0))
                .cast("long")
                .alias("n_violations")
            )
            .select(F.lit(name).alias("rule"), "n_violations")
        )
        parts.append(dups)
    for name, child_df, child_col, parent_df, parent_col in fks or []:
        orphans = (
            child_df.where(F.col(child_col).isNotNull())
            .join(
                parent_df.select(F.col(parent_col).alias(child_col)).distinct(),
                child_col,
                "left_anti",
            )
            .agg(F.count("*").cast("long").alias("n_violations"))
            .select(F.lit(name).alias("rule"), "n_violations")
        )
        parts.append(orphans)
    if not parts:
        raise ValueError("check_expectations requires at least one rule")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# versioned snapshots (time travel)
# ---------------------------------------------------------------------------

def snapshot_versions(spark: SparkSession, path: str) -> list[int]:
    """Committed snapshot versions under ``path`` (ascending). A version is
    a ``v=N`` directory — the stage dir is invisible until its checked
    rename, so partial writes never appear here."""
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("v="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


#: name prefix of a version's commit-tag marker file. The leading ``_``
#: hides it from Spark's and pyarrow's parquet readers; the name must not
#: contain ``=``, or Spark would take it for a partition directory.
SNAPSHOT_TAG_PREFIX = "_commit_tag."


def write_snapshot(
    df: DataFrame,
    path: str,
    *,
    tag: str | None = None,
    commit_if: Callable[[], bool] | None = None,
) -> int | None:
    """Append-only versioned store: each call commits the DataFrame as the
    next ``path/v=N`` snapshot and returns N. Old versions are immutable —
    readers pin a version (time travel) or take the latest; no reader is
    ever invalidated by a writer (contrast atomic_overwrite, which swaps
    in place). Crash-safe: data lands in a stage dir first and the commit
    is one checked rename — a died write leaves only a stale stage dir,
    which ``vacuum_snapshots`` clears once it outlives the stage TTL
    (writers never touch each other's stages). Retention is the caller's
    policy (drop old ``v=`` dirs when their readers drain).

    Writer concurrency: OPTIMISTIC. The snapshot content does not depend
    on its version number, so a commit that loses the version race simply
    re-tries the checked rename under the next free N — no re-write of the
    data, ``max_retries`` attempts before giving up. The atomic primitive
    is filesystem rename (exactly Delta/Iceberg's commit primitive, minus
    their log) where rename-onto-existing fails atomically (HDFS); on the
    raw local fs — where rename NESTS instead of failing — versions are
    arbitrated by an O_CREAT|O_EXCL claim marker first
    (``_claim_version``), so concurrent writers are safe there too
    (chaos-tested with racing OS processes).

    Keywords, for streaming sinks:

    - ``tag``: an opaque string committed WITH the version, as an empty
      marker file inside the stage dir (so it lands in the same rename);
      :func:`snapshot_tag` reads it back. Streaming sinks tag a version
      with the epoch that produced it.
    - ``commit_if``: evaluated after the stage write. False deletes the
      stage, commits nothing and returns None — e.g. an ``Observation``
      row count that rode the write job says the input was empty."""
    import uuid as _uuid

    max_retries = 5

    spark = df.sparkSession
    fs, hpath, jvm = _fs(spark, path)
    mk = jvm.org.apache.hadoop.fs.Path
    # WRITER-UNIQUE stage dir: concurrent writers must never stage onto
    # the same path (a shared __stage_v{n} would let one writer delete or
    # interleave with another's in-flight data before the version race is
    # even reached)
    stage = mk(f"{path}/__stage_{_uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(str(stage.toString()))
    if commit_if is not None and not commit_if():
        fs.delete(stage, True)
        return None
    if tag is not None:
        fs.createNewFile(mk(stage, SNAPSHOT_TAG_PREFIX + tag))
    n = (snapshot_versions(spark, path) or [0])[-1] + 1
    for _ in range(max_retries + 1):
        final = mk(f"{path}/v={n}")
        if (
            not fs.exists(final)
            and _claim_version(fs, jvm, path, n)
            and fs.rename(stage, final)
        ):
            return n
        n += 1  # a concurrent writer claimed/committed this version
    fs.delete(stage, True)
    raise IOError(
        f"snapshot commit lost {max_retries + 1} version races at {path}"
    )


def _claim_version(fs, jvm, path: str, n: int) -> bool:
    """Atomically claim version ``n`` before renaming onto ``v=N``.

    On HDFS/object stores, rename onto an existing directory FAILS
    atomically, so the rename itself is the claim — return True and let
    the rename arbitrate. On the local filesystem, Hadoop's rename NESTS
    the source into an existing target instead of failing (and
    ``fs.createNewFile`` is check-then-act there, not atomic), so two
    writers passing the exists-check together would corrupt the store;
    ``java.io.File.createNewFile`` — O_CREAT|O_EXCL under the hood — is
    the primitive that closes that window. The claim marker
    (``__claim_N``) is invisible to ``snapshot_versions`` and vacuumed
    once its version commits (or its writer dies past the stage TTL)."""
    if fs.getScheme() != "file":
        return True
    local = path
    for prefix in ("file://", "file:"):
        if local.startswith(prefix):
            local = local[len(prefix):]
            break
    marker = jvm.java.io.File(f"{local}/__claim_{n}")
    marker.getParentFile().mkdirs()
    return bool(marker.createNewFile())


def vacuum_snapshots(
    spark: SparkSession,
    path: str,
    keep_last: int = 2,
    stage_ttl_seconds: int = 86400,
) -> list[int]:
    """Retention for the versioned store: drop every committed version
    older than the newest ``keep_last`` (the latest always survives), and
    clear ``__stage_*`` dirs from died writers — but only those older
    than ``stage_ttl_seconds`` (default 1 day): a YOUNG stage dir may be a
    concurrent writer mid-commit, and deleting it would destroy that
    writer's data right before its rename. Returns the dropped version
    numbers.

    Deletion is the one operation that can invalidate a PINNED time-travel
    reader — run vacuum only after those readers drain (the same contract
    as Delta's VACUUM vs readers of old snapshots). Versions are dropped
    oldest-first, so a crash mid-vacuum leaves a contiguous suffix of
    versions — the store stays consistent."""
    import time as _time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the latest must survive)")
    fs, hpath, jvm = _fs(spark, path)
    mk = jvm.org.apache.hadoop.fs.Path
    versions = snapshot_versions(spark, path)
    dropped = versions[:-keep_last] if len(versions) > keep_last else []
    for v in dropped:  # oldest first: crash leaves a contiguous suffix
        fs.delete(mk(f"{path}/v={v}"), True)
    if fs.exists(hpath):
        cutoff_ms = (_time.time() - stage_ttl_seconds) * 1000
        for st in fs.listStatus(hpath):
            name = st.getPath().getName()
            if (
                name.startswith("__stage_")
                and st.getModificationTime() < cutoff_ms
            ):
                fs.delete(st.getPath(), True)
            elif name.startswith("__claim_"):
                # claim markers (local-fs commit arbitration) are dropped
                # ONLY past the stage TTL — never merely because their
                # version committed: an in-flight writer whose
                # exists(v=N) check pre-dates that commit would otherwise
                # re-claim the freed marker and nest its rename into the
                # existing v=N (the exact race the marker closes; found
                # by the round-5 adversarial review of the first cut,
                # which deleted committed-version claims immediately)
                if st.getModificationTime() < cutoff_ms:
                    fs.delete(st.getPath(), True)
    return dropped


def snapshot_tag(spark: SparkSession, path: str, version: int) -> str | None:
    """The tag committed with ``path/v=<version>`` by
    ``write_snapshot(tag=...)``, or None for an untagged version."""
    for name in list_dir(spark, f"{path}/v={version}"):
        if name.startswith(SNAPSHOT_TAG_PREFIX):
            return name[len(SNAPSHOT_TAG_PREFIX):]
    return None


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    *,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read one committed snapshot (default: latest). Version pinning is
    the time-travel read: concurrent new snapshots never change what a
    pinned reader sees.

    ``schema`` passes the version's known schema: without it the parquet
    reader infers the schema with a distributed job of its own, so pass
    it only with a pinned ``version`` the caller wrote itself."""
    versions = snapshot_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"snapshot v={v} not found at {path} (have {versions})")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(f"{path}/v={v}")


# ---------------------------------------------------------------------------
# mergeable quantile partials (fixed-grid histogram sketches)
# ---------------------------------------------------------------------------

def quantile_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
) -> DataFrame:
    """Per-group fixed-grid histogram sketch over ``value_col``: one
    ``(group, bin, n)`` row per occupied bin — the persistable partial for
    incremental PERCENTILES (the quantile cousin of distinct_sketches):
    store per-(day, key) histograms at ingest, answer any coarser-grained
    percentile later by ADDING histograms, never rescanning the facts.

    All integers: bin = clamp(floor((v − lo)·n_bins/(hi − lo))), so
    merging is exact addition, order-free, partition-independent — and the
    merged sketch EQUALS the single-pass sketch over the unioned input
    (asserted in tests). Values outside [lo, hi) clamp into the edge bins;
    estimate error is bounded by one bin width (hi − lo)/n_bins. Sketch
    size ≤ n_bins rows per group regardless of row count."""
    v = F.col(value_col).cast("double")
    raw = F.floor((v - F.lit(float(lo))) * n_bins / (F.lit(float(hi) - float(lo))))
    bin_ = F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), raw)).cast("long")
    return (
        df.where(v.isNotNull())
        .groupBy(*group_cols, bin_.alias("bin"))
        .agg(F.count("*").cast("long").alias("n"))
    )


def merge_quantile_sketches(
    sketches: DataFrame,
    rollup_cols: list[str],
    lo: float,
    hi: float,
    n_bins: int = 128,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Add per-group histograms up to a coarser grouping and read the
    quantiles off the cumulative counts: estimate = the UPPER edge of the
    first bin whose cumulative count reaches q·N (error ≤ one bin width).
    Shuffle volume is histograms (≤ n_bins rows per group), not facts. The
    cumulative walk folds the bin list in order — integer-exact, so even
    the float bin-edge output is engine-stable."""
    width = (float(hi) - float(lo)) / n_bins
    # the integer cross-multiplication below works on a centile grid; a
    # q that is not a whole centile would silently mistarget (0.999 →
    # p100) and near-equal quantiles would collide on one output name
    for q in quantiles:
        if abs(q * 100 - round(q * 100)) > 1e-9 or not (0 < q <= 1):
            raise ValueError(
                f"quantile {q} not on the centile grid (use n/100, 0<q<=1)"
            )
    if len({int(round(q * 100)) for q in quantiles}) != len(quantiles):
        raise ValueError(f"duplicate centiles in {quantiles}")
    merged = sketches.groupBy(*rollup_cols, "bin").agg(
        F.sum("n").cast("long").alias("n")
    )
    hist = merged.groupBy(*rollup_cols).agg(
        F.array_sort(F.collect_list(F.struct("bin", "n"))).alias("_h"),
        F.sum("n").cast("long").alias("n_rows"),
    )
    cols = [*rollup_cols, "n_rows"]
    out = hist
    for q in quantiles:
        # first bin where cum/n_rows >= q, decided by INTEGER cross-
        # multiplication (cum·100 >= q100·n_rows): a float q·n_rows target
        # is a cross-engine trap — double(0.9) > 0.9, so Spark's
        # ceil(0.9·n) lands one above DuckDB's DECIMAL ceil whenever
        # n_rows is a multiple of 10.
        q100 = int(round(q * 100))
        qbin = F.aggregate(
            F.col("_h"),
            F.struct(
                F.lit(0).cast("long").alias("cum"),
                F.lit(-1).cast("long").alias("pick"),
            ),
            lambda acc, x: F.struct(
                (acc["cum"] + x["n"]).alias("cum"),
                F.when(
                    (acc["pick"] < 0)
                    & ((acc["cum"] + x["n"]) * 100 >= q100 * F.col("n_rows")),
                    x["bin"],
                ).otherwise(acc["pick"]).alias("pick"),
            ),
            lambda acc: acc["pick"],
        )
        name = f"p{q100}"
        out = out.withColumn(
            name, F.lit(float(lo)) + (qbin + 1) * F.lit(width)
        )
        cols.append(name)
    return out.select(*cols)


def skew_report(df: DataFrame, key: str, top_k: int = 10) -> DataFrame:
    """Operability: join-key skew diagnostic — the report you run BEFORE
    deciding whether a 100 TB join needs `salted_join` / AQE skew
    handling. Returns the `top_k` heaviest keys with their row count,
    corpus share in permille, and count-vs-average multiple in permille
    (1000 = exactly average), heaviest first.

    All derived columns are integer floor-division of exact longs, so the
    report is engine-exact (no float share drift). Cost: one map-side-
    combining count aggregate, a single-row total (broadcast back), and a
    TakeOrderedAndProject for the top-k — no full sort, no window over
    the whole key set."""
    counts = df.groupBy(F.col(key).alias("key")).agg(
        F.count("*").cast("long").alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("_total"),
        F.count("*").cast("long").alias("_nkeys"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "key",
            "cnt",
            F.expr("cnt * 1000L div _total").alias("share_permille"),
            F.expr("cnt * _nkeys * 1000L div _total").alias("x_avg_permille"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key"))
        .limit(top_k)
    )


def _cms_col(token: F.Column, row: F.Column, width: int) -> F.Column:
    """Count-min cell column for one (token, hash-row) pair: the first 15
    md5 hex digits of ``token#row`` decoded to a long (< 2^60, so never
    negative), mod ``width``. md5 is the one keyed hash both engines (and
    any future oracle) share bit-for-bit; per-row keying makes the depth
    rows pairwise-independent enough for the CM guarantee."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(token, F.lit("#"), row.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return h % F.lit(int(width))


def cms_sketch(
    df: DataFrame, token_col: str, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Count-min sketch partial over ``token_col``: at most depth·width
    ``(row, col, n)`` cells regardless of corpus size — the frequency
    cousin of ``distinct_sketches`` (HLL) and ``quantile_sketches``
    (histogram). Store one tiny sketch per (day, source) at ingest and
    answer "how often does token t occur?" later by ADDING sketches,
    never rescanning 100 TB of text; estimates only ever OVERcount
    (min over depth rows, error ≤ N·e/width with prob 1−e^−depth).

    Plan: one generator (explode of a ``depth``-literal sequence), one
    map-side-combining count aggregate onto ≤ depth·width cells. Shuffle
    volume is the cell count, not the token count. Every cell value is a
    long and the hash is md5-derived, so sketches are engine-exact and
    safely persistable/mergeable across engines."""
    t = df.select(F.col(token_col).cast("string").alias("tk")).where(
        F.col("tk").isNotNull()
    )
    cells = t.select(
        "tk",
        F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("row"),
    )
    return cells.groupBy(
        "row", _cms_col(F.col("tk"), F.col("row"), width).alias("col")
    ).agg(F.count("*").cast("long").alias("n"))


def merge_cms_sketches(sketches: DataFrame) -> DataFrame:
    """Add count-min sketches cell-wise. Addition is associative and
    commutative on longs, so the merge is order- and partition-free and
    EQUALS the single-pass sketch over the unioned input (asserted in
    tests) — the property that makes stored per-partition partials
    trustworthy."""
    return sketches.groupBy("row", "col").agg(
        F.sum("n").cast("long").alias("n")
    )


def cms_estimate(
    sketch: DataFrame, tokens: DataFrame, token_col: str,
    depth: int = 4, width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for each row of ``tokens``: recompute the
    ``depth`` cells of each token and take the MIN joined count (0 for a
    token whose cells are all absent — only possible when it never
    occurred). ``depth``/``width`` must match the build. Cost: a
    tokens×depth expansion equi-joined to a ≤ depth·width-row sketch —
    AQE broadcasts the sketch side, so the query never shuffles the
    token list."""
    q = tokens.select(
        F.col(token_col).cast("string").alias("tk"),
        F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("row"),
    ).select("tk", "row", _cms_col(F.col("tk"), F.col("row"), width).alias("col"))
    joined = q.join(sketch, ["row", "col"], "left").select(
        "tk", F.coalesce("n", F.lit(0).cast("long")).alias("n")
    )
    return joined.groupBy("tk").agg(F.min("n").cast("long").alias("est_n"))
