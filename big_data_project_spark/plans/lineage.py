"""Pluggable lineage-cut strategy.

Every expensive subtree the engine references from several plan branches
(MinHash signatures, semantic-dedup assignments, PQ codebooks, …) and
every iterative plan that would otherwise grow without bound (pointer-
jumping CC, PageRank, BPE merges) needs its lineage CUT once so Spark
materializes it instead of re-executing it per branch / per iteration.
How the cut is realized is a deployment decision, not an operator
decision, so every cut site in the package routes through
:func:`lineage_cut` and the strategy comes from one session conf:

``spark.bdps.lineageCut`` =

- ``local`` (default): ``DataFrame.localCheckpoint`` — blocks on
  executors, lineage truncated. The right trade on ``local[n]`` (this
  repo's test/bench target, where executor == driver and the failure
  domain is the whole process anyway). On a real multi-node cluster an
  executor loss makes those blocks unrecoverable and FAILS THE JOB —
  which is why ``reliable`` exists.
- ``reliable``: ``DataFrame.checkpoint`` — same single-scan semantics,
  blocks written to the SparkContext checkpoint directory (HDFS/S3-
  durable on a cluster), survives executor loss. Requires a checkpoint
  dir: set it with ``sc.setCheckpointDir(...)`` or the companion conf
  ``spark.bdps.checkpointDir`` (applied lazily on first cut).

Both modes truncate lineage, so iterative call sites keep a bounded
plan at any iteration count.

Call sites use the chainable form ``df.transform(lineage_cut)`` (lazy)
or ``df.transform(lineage_cut, eager=True)``; the mode is read per call,
so one session can switch strategies between jobs. Oracle results are
mode-invariant (the cut changes WHERE blocks live, never values) —
pinned by tests/test_plans.py's reliable-mode end-to-end run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CONF_KEY = "spark.bdps.lineageCut"
CHECKPOINT_DIR_KEY = "spark.bdps.checkpointDir"
_MODES = ("local", "reliable")


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage per the session's ``spark.bdps.lineageCut``
    strategy (see module docstring). ``eager`` materializes now instead
    of at the first downstream action.

    Contract for both modes: ``eager=True`` must execute a Dataset
    action over ``df``'s own plan before returning. ``Observation``
    callers depend on it — connected components' convergence loop
    (operators/dedup.py) reads ``obs.get`` right after an eager cut, and
    ``obs.get`` blocks until an action over the observed plan fires its
    metrics. A mode that materialized some other way (an RDD-level
    action, or no action at all) would hang that loop, not fail it."""
    spark = df.sparkSession
    mode = spark.conf.get(CONF_KEY, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            ckdir = spark.conf.get(CHECKPOINT_DIR_KEY, None)
            if ckdir is None:
                raise ValueError(
                    f"{CONF_KEY}=reliable needs a checkpoint directory: "
                    "call sc.setCheckpointDir(...) or set "
                    f"{CHECKPOINT_DIR_KEY}"
                )
            sc.setCheckpointDir(ckdir)
        # persist-before-checkpoint: reliable checkpointing re-executes
        # the subtree to write its files unless the blocks are cached —
        # the classic double-compute. The cache serves the checkpoint
        # write, then the checkpointed plan replaces it.
        from pyspark import StorageLevel

        return df.persist(StorageLevel.MEMORY_AND_DISK).checkpoint(
            eager=eager
        )
    raise ValueError(f"{CONF_KEY} must be one of {_MODES}, got {mode!r}")
