"""Sources and sinks (SURVEY §2.1).

Covers the reference's scan/sink surface (ai_powered_financial_analysis.py:
S1 CSV py:203-214, S2 JSON py:334-338, S4 in-memory py:83/151-154, S7 JSON
sink py:87/161-165, S8 CSV sink py:296-307) plus the engine defaults the
reference only claimed (S3/S9 Parquet, Report.pdf §Experiments-1).

Design notes for scale:
- explicit schemas everywhere (no inferSchema extra pass over 100 TB);
  ``read_csv``/``read_json`` take a schema and only fall back to inference
  in the exploratory ``infer=True`` path.
- no ``coalesce(1)`` before writes (reference anti-pattern, py:161/py:298):
  output parallelism follows the data; callers can ``repartition`` by a
  size policy if they need bounded file counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: driver-generated synthetic tables (TESTDATA.md)
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S3: Parquet scan — engine default (columnar, pushdown, pruning)."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    *,
    infer: bool = False,
    multiline: bool = False,
) -> DataFrame:
    """S1: CSV scan with the reference's quoting (py:205-209): header,
    quote='"', escape='"' so embedded commas survive.

    ``multiline=True`` additionally parses quoted fields that span physical
    lines (RFC-4180). The reference's line-split read silently breaks such
    records in half (SEC_filings.csv has 9 of them → the ipynb's "2,622
    rows" are 2,613 records plus 9 mangled halves); per SURVEY §1.4 the
    engine implements the parse *intent* and documents the divergence.
    Scale note: multiline CSV is not line-splittable — Spark parses each
    file whole — so feeds that need it should arrive as many medium files
    (or be rewritten to parquet at the edge), not one 100 TB blob."""
    reader = spark.read.options(
        header=True, quote='"', escape='"', multiLine=multiline
    )
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_csv_audited(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    corrupt_col: str = "_corrupt_record",
    multiline: bool = False,
) -> DataFrame:
    """S1b: PERMISSIVE CSV scan that KEEPS malformed rows instead of
    silently nulling or dropping them — the audited-ingest contract a real
    feed needs (a 100 TB crawl always contains breakage; the pipeline must
    count and quarantine it, not guess). Rows that fail the schema land
    with their raw line in ``corrupt_col`` and NULL typed columns; clean
    rows carry NULL there. Split with :func:`split_corrupt`.

    The frame is persisted (lazily — materialized at the first action):
    Spark computes the corrupt column only when the same scan
    materializes both it and the data columns — filtering on it from a
    fresh scan raises instead (the documented Spark restriction). The
    caller owns the cache entry: unpersist() when done with the split."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    df = (
        spark.read.options(
            header=True,
            quote='"',
            escape='"',
            multiLine=multiline,
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=corrupt_col,
        )
        .schema(full)
        .csv(path)
    )
    df.persist()
    return df


def read_json_audited(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """S2b: PERMISSIVE JSON-lines scan with quarantine — the JSON twin of
    read_csv_audited (same contract: malformed lines land raw in
    ``corrupt_col``, clean rows carry NULL there; split with
    :func:`split_corrupt`; lazily persisted, caller owns the cache)."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    df = (
        spark.read.options(
            mode="PERMISSIVE", columnNameOfCorruptRecord=corrupt_col
        )
        .schema(full)
        .json(path)
    )
    df.persist()
    return df


def split_corrupt(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the audit column, quarantine rows as raw text).
    Write the quarantine to a dead-letter path and alert on its count —
    never swallow it."""
    from pyspark.sql import functions as F

    clean = df.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.where(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return clean, bad


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """S2: JSON-lines scan (py:334-338); explicit schema preferred."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw text-lines source (one row per line, column ``value``) — the
    lowest-common-denominator feed format (logs, WET extracts, plain-text
    dumps). Splittable and schema-free; callers parse lines downstream."""
    return spark.read.text(path)


def write_text(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Raw text sink: one line per row; input must be a single string
    column."""
    df.write.mode(mode).text(path)


def from_rows(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """S4: in-memory source (py:83, py:151-154), and the package's one way
    to turn rows the driver holds into a DataFrame. ``schema`` is a
    ``StructType`` or a DDL string.

    The rows go in as a ``pyarrow.Table`` with the schema's Arrow types, so
    Spark plans a ``LocalRelation`` (``LocalTableScan``): building and
    collecting the frame runs no Spark job and no Python task, and
    ``spread_input`` sees a local plan. ``createDataFrame(list)`` would
    instead pickle the rows into a Python RDD (``Scan ExistingRDD``).

    Values mean what they mean to ``createDataFrame(list)``: each row goes
    through the schema's own ``toInternal`` first, so a naive ``datetime``
    is local wall-clock time (a bare Arrow build would read it as UTC), and
    a NULL double stays NULL apart from a NaN one (a pandas build would
    merge them)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*map(schema.toInternal, rows))) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table from a scale-factor directory.

    ``events.ts`` has shipped in two physical encodings across testdata
    generations; the reader normalizes both to TimestampType (µs, session
    tz = UTC) so every downstream operator sees one type:

    - parquet TIMESTAMP(NANOS): Spark's TimestampType (µs) cannot represent
      it — the reader hard-errors (PARQUET_TYPE_ILLEGAL). Read nanos as long
      (spark.sql.legacy.parquet.nanosAsLong) and convert with exact integer
      division ``ts DIV 1000`` → ``timestamp_micros`` (floor, matching
      DuckDB's ``epoch_ns(ts) // 1000``). Float division would lose
      precision at 1.7e18 ns.
    - parquet timestamp[us] with isAdjustedToUTC=false: Spark 4 infers
      TIMESTAMP_NTZ (inferTimestampNTZ default-on), which rejects numeric
      casts (``cast(ntz as long)`` is a type error). Cast NTZ → timestamp:
      with the session tz pinned to UTC this is value-identical to DuckDB's
      naive-TIMESTAMP read.
    """
    # The driver runs these builders on a VANILLA SparkSession (not the
    # engine's factory, which pins UTC). Every timestamp-rendering function
    # (year/date_trunc/window/datediff) resolves through the session tz,
    # and the DuckDB oracle side is tz-naive — pin UTC here so results are
    # correct under any host JVM timezone, not just UTC containers.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Session-scoped SCHEMA memo (optimization r11, guide §6 "file
    # listing ... cached per session"): every spark.read.parquet call pays
    # driver-side footer/schema inference (~0.1 s here; minutes of listing
    # on a heavily-partitioned at-scale table) even though the table's
    # layout is fixed for the life of the session — exactly the repeated
    # work a catalog exists to avoid. Only the SCHEMA is cached (what a
    # catalog would hold): each call still constructs a FRESH reader/
    # relation, so no rows are ever cached, every action scans the parquet
    # inputs, and — load-bearing, found the hard way — consecutive plans
    # do NOT share Dataset/expression identity. A first cut memoized the
    # DataFrame handle itself; every build of a query then produced
    # byte-equal analyzed plans (same exprIds from the shared relation),
    # and the localCheckpoint-heavy near-dedup chain turned erratic
    # (2.1 s → 2.3–9.4 s swings) once the shared bench session had aged
    # ~130 builds. Schema-only caching keeps the driver-cost win (~0.1 s
    # per table per build) with none of that: aged-session A/B below 2 s
    # again. The dict lives on the session object, so a new session (the
    # driver's, a test's) always re-infers.
    # CONTRACT (ADVICE r11): the memo assumes table files are IMMUTABLE for
    # the life of the session — true for the driver's read-only scale-factor
    # dirs this loader serves. A path whose parquet is rewritten in-session
    # with a DIFFERENT schema would be read through the stale memo
    # (explicit-schema reads surface mismatches as nulls/errors rather than
    # re-inferring); such paths must not go through load_table, or must
    # clear spark._bdps_schema_cache (the invalidation hook) first.
    cache = getattr(spark, "_bdps_schema_cache", None)
    if cache is None:
        cache = {}
        spark._bdps_schema_cache = cache
    if name == "events":
        return _load_events(spark, sf_dir, cache)
    key = (sf_dir, name)
    schema = cache.get(key)
    if schema is None:
        df = spark.read.parquet(table_path(sf_dir, name))
        cache[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(table_path(sf_dir, name))


def _load_events(
    spark: SparkSession, sf_dir: str, schema_cache: dict | None = None
) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (sf_dir, "events")
    cached = schema_cache.get(key) if schema_cache is not None else None
    if cached is not None:
        raw = spark.read.schema(cached).parquet(table_path(sf_dir, "events"))
    else:
        raw = spark.read.parquet(table_path(sf_dir, "events"))
        if schema_cache is not None:
            schema_cache[key] = raw.schema
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register every synthetic table as a temp view for the SQL surface."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by=None) -> None:
    """S9: Parquet sink — engine default."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7: JSON sink (py:87, py:161-165) minus the coalesce(1)."""
    df.write.mode(mode).json(path)


def read_xml(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    row_tag: str = "row",
) -> DataFrame:
    """XML scan (Spark 4 built-in spark-xml — the reference's actual
    domain format: SEC filings are XBRL/XML). Explicit schema recommended
    (inference costs an extra pass and infers numerics loosely)."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    row_tag: str = "row",
    root_tag: str = "rows",
) -> None:
    """XML sink: one <row> element per record under <rows>."""
    (
        df.write.mode(mode)
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S8: CSV sink (py:296-307) minus the coalesce(1). Quote/escape match
    read_csv (quote='"', escape='"' — RFC-4180 doubled quotes), so embedded
    commas and quotes roundtrip bit-for-bit."""
    df.write.mode(mode).options(header=True, quote='"', escape='"').csv(path)


def verify_roundtrip(spark: SparkSession, df: DataFrame, path: str, fmt: str = "parquet") -> int:
    """S8 read-back verify (py:301-304): write then re-read and count.

    The CSV read-back uses the SAME quote/escape/multiLine options as
    write_csv — the default reader splits quoted fields containing
    newlines into extra records, failing the verify on a correct write."""
    {"parquet": write_parquet, "json": write_json, "csv": write_csv}[fmt](df, path)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.options(
            header=True, quote='"', escape='"', multiLine=True
        )
    return reader.load(path).count()


def write_parquet_observed(
    df: DataFrame, path: str, metric_cols: list[str] | None = None
) -> dict:
    """Single-pass audited write: attach an ``Observation`` to the plan so
    the write itself reports row count and per-column null counts — the
    QA numbers the reference gathers with a SECOND full read-back
    (py:301-304). At 100 TB a verification re-scan doubles the job;
    observe() rides the write stage for free (metrics accumulate on
    executors during the one pass). Returns the metrics dict.

    Complements (not replaces) verify_roundtrip: observe proves what was
    WRITTEN-from-memory; the roundtrip proves what is READABLE-from-disk —
    format-level corruption only the latter catches."""
    from pyspark.sql import Observation

    metric_cols = metric_cols or []
    exprs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.count_if(F.col(c).isNull()).cast("long").alias(f"n_null_{c}")
        for c in metric_cols
    ]
    obs = Observation("write_audit")
    df.observe(obs, *exprs).write.mode("overwrite").parquet(path)
    return dict(obs.get)
