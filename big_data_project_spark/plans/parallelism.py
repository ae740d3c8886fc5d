"""Input-parallelism floor for compute-dense scans (optimization r11).

Guide §2.5 names the failure: "Input skew: one huge unsplittable file …
otherwise repartition immediately after the read." The sandbox's corpus
files are the degenerate case — parquet with a SINGLE row group — so a
scan cannot be split no matter what ``maxPartitionBytes`` /
``openCostInBytes`` say, and every expression fused into the scan stage
(tokenize + explode, MinHash aggregation partials, quality-rule arrays,
hash-embed chains, multimodal decode) runs on ONE task while the other
31 cores idle. The same failure appears in production whenever a small
hot table feeds per-row-expensive work (a model pass over a 50 MB seed
set, a decode pass over one gzip shard).

:func:`spread_input` is the conditional fix: when the planned input
parallelism of ``df`` is below the session's default parallelism,
repartition to the floor — hash on the caller's key when one exists
(deterministic, no sort), round-robin otherwise. When the input already
splits to >= the floor (every real at-scale scan: a 100 TB table plans
thousands of file splits), it is a NO-OP — the plan is returned
untouched, so this never adds a shuffle to the at-scale path.

The floor is the session's ``sc.defaultParallelism``.

Local frames (``df.isLocal`` — literal query rows, broadcast seeds) are
never spread: shuffling a one-row relation buys nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_input(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition ``df`` up to the session's parallelism floor when (and
    only when) its planned input parallelism is below it. ``keys`` —
    optional column names to hash-partition on (skip the round-robin
    path's sort-before-repartition); no keys = round-robin."""
    if df.isLocal():
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        # Plans that already contain an exchange get their parallelism
        # from shuffle partitioning — and, more importantly, consulting
        # .rdd on such a plan under AQE MATERIALIZES the upstream query
        # stages (AdaptiveSparkPlanExec.getFinalPhysicalPlan runs the
        # shuffle jobs), i.e. it would execute the query at plan time.
        # sparkPlan() is the pre-adaptive physical plan: inspecting it is
        # planning-only.
        if "Exchange" in df._jdf.queryExecution().sparkPlan().toString():
            return df
        parts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — exotic plans; floor is best-effort
        return df
    if parts >= target:
        return df
    if keys:
        return df.repartition(target, *keys)
    return df.repartition(target)
