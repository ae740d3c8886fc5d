"""SEC filings ETL — the reference's canonical batch pipeline
(ai_powered_financial_analysis.py:203-311), engine-grade.

Stage map (reference → here):

- ingest_file       py:203-214  → ingest(): explicit 15-column string schema
                                  (inferSchema yields all-string anyway,
                                  ipynb cell 21 — we skip the wasted pass),
                                  quote/escape '"' for embedded commas.
- data_cleaning     py:228-255  → clean(): trim+lower (py:230-232),
                                  normalize company names (py:233-235),
                                  Sector null→'unknown' (py:237-238),
                                  money/quantity parsed with comma stripping
                                  then null→0.0 — the §1.4.1/§1.4.3 fix for
                                  the cast-to-null bug — and deterministic
                                  dedup on (ticker, name) (§1.4.5 fix of
                                  py:244).
- metadata_extract  py:267-287  → extract_metadata(): project/rename the 10
                                  analysis columns (py:269-280) and build
                                  record_id = concat_ws('_', ticker, name)
                                  (§1.4.2 fix of the always-null numeric id,
                                  py:281-282).
- data_storing      py:296-307  → store(): parquet (the format the report
                                  claims, §Experiments-1) without the
                                  coalesce(1) anti-pattern; read-back verify
                                  retained.

At 100 TB: the only shuffle in the whole pipeline is the dedup window on
(ticker, name); everything else is narrow (scan → project → write), so the
pipeline scales with input splits."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_project_spark import io
from big_data_project_spark.operators import cleaning

#: raw columns of SEC_filings.csv (FIXTURES.md B1) — all strings on arrival.
RAW_COLUMNS = (
    "Ticker", "Name", "Sector", "Asset Class", "Market Value", "Weight (%)",
    "Notional Value", "Quantity", "Price", "Location", "Exchange",
    "Currency", "FX Rate", "Market Currency", "Accrual Date",
)

RAW_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in RAW_COLUMNS]
)

#: money-like columns that carry thousands separators in the raw feed.
MONEY_COLUMNS = ("Market Value", "Weight (%)", "Notional Value", "Quantity", "Price")

#: dedup order within one (Ticker, Name): lowest Market Value, Quantity,
#: Price, then every other column, so the kept row never depends on the
#: engine. The columns ``extract_metadata`` keeps come before the ones it
#: drops: rows that tie on all kept columns give the same output row, which
#: the ``pl_sec_real_data`` oracle's ORDER BY (the same columns, NULLS
#: FIRST like Spark's ascending sort) relies on.
DEDUP_ORDER = (
    "Market Value", "Quantity", "Price", "Sector", "Weight (%)", "Location",
    "Exchange", "Currency", "Asset Class", "Notional Value", "FX Rate",
    "Market Currency", "Accrual Date",
)


def ingest(spark: SparkSession, path: str) -> DataFrame:
    """S1 (py:203-214): CSV scan with the reference's quoting, plus correct
    RFC-4180 multiline parsing (the reference's line-split read breaks the
    feed's 9 quoted-newline records in half — §1.4-style intent fix)."""
    return io.read_csv(spark, path, schema=RAW_SCHEMA, multiline=True)


def clean(df: DataFrame) -> DataFrame:
    """py:228-255 with the §1.4 fixes; '-' sentinels become nulls first."""
    for c in ("Ticker", "Name", "Sector", "Accrual Date"):
        df = df.withColumn(c, F.nullif(F.trim(F.col(c)), F.lit("-")))
    df = cleaning.trim_lower(df, ["Ticker", "Name", "Sector"])
    df = df.withColumn("Name", cleaning.normalize_text_col("Name"))
    df = df.withColumn("Sector", F.coalesce(F.col("Sector"), F.lit("unknown")))
    for c in MONEY_COLUMNS:
        df = df.withColumn(c, cleaning.parse_money(c, default=0.0))
    return cleaning.dedup_deterministic(df, ["Ticker", "Name"], list(DEDUP_ORDER))


#: py:269-280 projection (reference renames these 10 columns).
METADATA_MAPPING = {
    "Ticker": "ticker",
    "Name": "company_name",
    "Sector": "sector",
    "Market Value": "market_value",
    "Weight (%)": "weight_pct",
    "Quantity": "quantity",
    "Price": "price",
    "Location": "location",
    "Exchange": "exchange",
    "Currency": "currency",
}


def extract_metadata(df: DataFrame) -> DataFrame:
    """py:267-287: project/rename + string record_id (§1.4.2 fix)."""
    out = df.select(
        *[F.col(src).alias(dst) for src, dst in METADATA_MAPPING.items()]
    )
    return out.withColumn(
        "record_id", cleaning.record_id("ticker", "company_name")
    )


def store(spark: SparkSession, df: DataFrame, path: str) -> int:
    """py:296-307: sink + read-back verification (count)."""
    io.write_parquet(df, path)
    return spark.read.parquet(path).count()


def run(spark: SparkSession, csv_path: str, out_path: str) -> int:
    """End-to-end pipeline: ingest → clean → metadata → store → verify."""
    return store(spark, extract_metadata(clean(ingest(spark, csv_path))), out_path)
