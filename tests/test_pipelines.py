"""Golden tests for the reference-shaped pipelines (FIXTURES.md B): the SEC
ETL and the CNBC/Reddit unification, on synthesized fixtures that contain
every tricky behavior from SURVEY §1.4."""

from __future__ import annotations

import json

import pytest

from big_data_project_spark.pipelines import sec, social

SEC_HEADER = (
    '"Ticker","Name","Sector","Asset Class","Market Value","Weight (%)",'
    '"Notional Value","Quantity","Price","Location","Exchange","Currency",'
    '"FX Rate","Market Currency","Accrual Date"'
)

SEC_ROWS = [
    # comma-formatted money (the §1.4.1 cast-to-null trigger) + HTML-ish name
    '"AAPL","APPLE <b>INC</b>!","Information Technology","Equity","559,365,151.11",'
    '"5.16","559,365,151.11","4,305,127.00","129.93","United States","NASDAQ",'
    '"USD","1","USD","-"',
    # duplicate (Ticker,Name) with different values → dedup keeps min value
    '"AAPL","APPLE <b>INC</b>!","Information Technology","Equity","100.00",'
    '"1.00","100.00","10.00","99.00","United States","NASDAQ","USD","1","USD","-"',
    # null sector → 'unknown'; plain decimals
    '"MSFT","MICROSOFT CORP",,"Equity","0.02","2.5","0.02","5","250.10",'
    '"United States","NASDAQ","USD","1","USD","Jan 01, 1970"',
    # '-' sentinel ticker row survives (nullable key)
    '"-","CASH COLLATERAL","Cash","Money Market","12.34","0.01","12.34","12",'
    '"1.00","United States","NO MARKET (E.G. UNLISTED)","USD","1","USD","-"',
]


@pytest.fixture(scope="module")
def sec_csv(tmp_path_factory):
    p = tmp_path_factory.mktemp("sec") / "SEC_filings.csv"
    p.write_text(SEC_HEADER + "\n" + "\n".join(SEC_ROWS) + "\n")
    return str(p)


def test_sec_pipeline_golden(spark, sec_csv, tmp_path):
    raw = sec.ingest(spark, sec_csv)
    assert raw.count() == 4
    assert [f.dataType.simpleString() for f in raw.schema.fields] == ["string"] * 15

    cleaned = sec.clean(raw)
    rows = {(r["Ticker"], r["Name"]): r for r in cleaned.collect()}
    # dedup: one (aapl, apple inc) row, the min-market-value one kept
    assert len(rows) == 3
    aapl = rows[("aapl", "apple inc")]  # lowered, tags+punctuation stripped
    assert aapl["Market Value"] == 100.0
    msft = rows[("msft", "microsoft corp")]
    assert msft["Sector"] == "unknown"
    assert msft["Price"] == 250.10

    meta = sec.extract_metadata(cleaned)
    m = {r.record_id: r for r in meta.collect()}
    assert "aapl_apple inc" in m
    assert set(meta.columns) == {
        "ticker", "company_name", "sector", "market_value", "weight_pct",
        "quantity", "price", "location", "exchange", "currency", "record_id",
    }

    # store + read-back verify (S8/S9)
    n = sec.store(spark, meta, str(tmp_path / "sec_out"))
    assert n == 3


def test_sec_money_parse_pre_dedup(spark, sec_csv):
    cleaned = sec.clean(sec.ingest(spark, sec_csv))
    # run clean without dedup by checking the big-money row via quantity col
    # on the full pipeline instead: parse_money must handle separators
    from big_data_project_spark.operators.cleaning import parse_money
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("559,365,151.11",), (None,), ("0.02",)], "v string")
    got = [r.p for r in df.select(parse_money("v", 0.0).alias("p")).collect()]
    assert got == [559365151.11, 0.0, 0.02]


def _sec_row(ticker, sector, location):
    return (
        f'"{ticker}","TIED CO","{sector}","Equity","10.00","1.00","10.00",'
        f'"2","5.00",{location},"NYSE","USD","1","USD","-"'
    )


def test_sec_dedup_breaks_full_ties_like_the_oracle(spark, tmp_path):
    """Rows of one (Ticker, Name) that tie on Market Value, Quantity and
    Price keep the same row in Spark and in the pl_sec_real_data oracle,
    whatever their file order: the lowest Sector, then (on a Sector tie)
    the NULL Location, as Spark's ascending sort puts NULL first."""
    import duckdb
    import pandas as pd

    from big_data_project_spark import refdata, registry
    from tests.conftest import canonical

    rows = [
        _sec_row("AAA", "tech", '"US"'), _sec_row("AAA", "energy", '"US"'),
        _sec_row("BBB", "energy", '"US"'), _sec_row("BBB", "tech", '"US"'),
        _sec_row("CCC", "tech", '"US"'), _sec_row("CCC", "tech", ""),
    ]
    csv = tmp_path / "SEC_filings.csv"
    csv.write_text(SEC_HEADER + "\n" + "\n".join(rows) + "\n")

    got = sec.extract_metadata(sec.clean(sec.ingest(spark, str(csv)))).toPandas()
    kept = {
        r.ticker: (r.sector, r.location) for r in got.itertuples(index=False)
    }
    assert kept == {
        "aaa": ("energy", "US"), "bbb": ("energy", "US"), "ccc": ("tech", None),
    }

    ref_csv = f"{registry._REF_DIR}/{refdata.SEC_CSV}"
    oracle = registry.REGISTRY["pl_sec_real_data"].oracle
    assert ref_csv in oracle
    want = duckdb.connect().execute(oracle.replace(ref_csv, str(csv))).df()
    pd.testing.assert_frame_equal(canonical(got), canonical(want), check_dtype=False)


CNBC_1 = [
    {"url": "https://cnbc.com/a1", "title": "Apple <b>soars</b>!",
     "date": "2025-04-15 00:00:00", "content": "Apple stock gains 5% today."},
    {"url": "https://cnbc.com/a2", "title": "Fed holds rates",
     "date": "2025-04-16 00:00:00", "content": None},
]
CNBC_2 = [
    {"url": "https://cnbc.com/b1", "title": "Tariffs bite",
     "date": "2025-04-17 00:00:00", "content": "Markets slide on tariffs."},
]
REDDIT = [
    {"Title": "YOLO on $TSLA 🚀", "URL": "https://reddit.com/p1",
     "Upvotes": 100, "Comments_Count": 5, "Post_Time": "2025-04-19T19:41:52.000Z"},
    {"Title": "loss porn", "URL": "https://reddit.com/p2",
     "Upvotes": 1, "Comments_Count": 0, "Post_Time": "2025-04-21 07:29:17"},
    {"Title": "", "URL": "https://reddit.com/p3",
     "Upvotes": 0, "Comments_Count": 0, "Post_Time": "2025-04-21 07:30:00"},
]


@pytest.fixture(scope="module")
def social_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("social")
    for name, rows in (("cnbc1.json", CNBC_1), ("cnbc2.json", CNBC_2),
                       ("reddit.json", REDDIT)):
        (d / name).write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    return str(d / "cnbc1.json"), str(d / "cnbc2.json"), str(d / "reddit.json")


def test_social_pipeline_golden(spark, social_paths, tmp_path):
    c1, c2, rd = social_paths
    cnbc = social.load_cnbc(spark, c1, c2)
    assert cnbc.count() == 3  # two files unioned by name

    reddit = social.load_reddit(spark, rd)
    ts = {r.url: r.ts for r in reddit.collect()}
    # both timestamp formats parsed
    assert ts["https://reddit.com/p1"].isoformat() == "2025-04-19T19:41:52"
    assert ts["https://reddit.com/p2"].isoformat() == "2025-04-21T07:29:17"

    docs = social.unify(cnbc, reddit)
    rows = {r.url: r for r in docs.collect()}
    # empty-text doc dropped (p3: empty title, no body)
    assert "https://reddit.com/p3" not in rows
    assert len(rows) == 5
    # normalize_text applied: tags + punctuation gone, lowercased
    assert rows["https://cnbc.com/a1"].text == "apple soars apple stock gains 5 today"
    # null body tolerated
    assert rows["https://cnbc.com/a2"].text == "fed holds rates"
    # emoji and $ stripped
    assert rows["https://reddit.com/p1"].text == "yolo on tsla"
    # stable ids: distinct and deterministic
    assert len({r.doc_id for r in rows.values()}) == 5

    n = social.run(spark, [c1, c2], rd, str(tmp_path / "docs_out"))
    assert n == 5


# ---------------------------------------------------------------------------
# Real reference data (not fixtures): the pipelines over the files the
# reference itself processes — capability parity on actual inputs.
# ---------------------------------------------------------------------------

import os

REF = "/root/reference"
HAS_REF = os.path.exists(f"{REF}/SEC_filings.csv")


@pytest.mark.skipif(not HAS_REF, reason="reference checkout not present")
def test_sec_pipeline_on_real_reference_data(spark):
    """Pin the invariants the reference observably violates (ipynb cells
    21-23): the feed parses to 2,613 RFC-4180 records (the reference's
    line-split read mangles 9 quoted-newline rows into its '2,622'), all
    survive clean+dedup (no collapsed keys in the real feed),
    comma-formatted Market Value parses non-null (cell 22 shows the
    reference nulling it), record_id is a non-null string (cell 23 shows a
    null double)."""
    from pyspark.sql import functions as F

    out = sec.extract_metadata(
        sec.clean(sec.ingest(spark, f"{REF}/SEC_filings.csv"))
    )
    assert out.count() == 2613
    # §1.4.1 fix: money parses (0.0 fills only true nulls/garbage)
    mv = out.agg(
        F.count(F.when(F.col("market_value").isNull(), 1)).alias("nulls"),
        F.count(F.when(F.col("market_value") > 0, 1)).alias("positive"),
    ).collect()[0]
    assert mv.nulls == 0
    assert mv.positive > 2500  # the overwhelming majority are real amounts
    # §1.4.2 fix: record_id = 'ticker_name' string, never null
    rid = out.where(
        F.col("record_id").isNull() | (F.length("record_id") == 0)
    ).count()
    assert rid == 0
    assert dict(out.dtypes)["record_id"] == "string"
    # spot-pin one known row (AAPL survives cleaning with parsed money)
    aapl = out.where(F.col("ticker") == "aapl").collect()
    assert len(aapl) == 1
    assert abs(aapl[0].market_value - 559365151.11) < 1e-6


@pytest.mark.skipif(not HAS_REF, reason="reference checkout not present")
def test_social_pipeline_on_real_reference_data(spark):
    """39 CNBC articles + 500 reddit posts load; unification emits 538 docs:
    the one drop is the reddit post titled only '🎢', whose normalized text
    is empty — the engine's empty-doc filter removes it (the reference would
    carry an empty document into its FAISS corpus; divergence documented)."""
    from pyspark.sql import functions as F

    cnbc = social.load_cnbc(
        spark,
        f"{REF}/CNBC_financial_news_1.json",
        f"{REF}/CNBC_financial_articles_2.json",
    )
    reddit = social.load_reddit(spark, f"{REF}/reddit_posts.json")
    assert cnbc.count() == 39
    assert reddit.count() == 500
    docs = social.unify(cnbc, reddit)
    assert docs.count() == 538
    by_src = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src == {"cnbc": 39, "reddit": 499}
    # doc ids are stable and non-null; timestamps parsed for both formats
    assert docs.where(F.col("doc_id").isNull()).count() == 0
    assert docs.where(F.col("ts").isNull()).count() == 0
    # the real feed contains 2 articles present in BOTH CNBC files (the
    # reference's positional union, py:336, silently carries them too);
    # keyed dedup closes the gap: 538 rows → 536 unique docs
    assert docs.select("doc_id").distinct().count() == 536
    from big_data_project_spark.operators import cleaning

    deduped = cleaning.dedup_deterministic(docs, ["doc_id"], ["url"])
    assert deduped.count() == 536


def test_fininsight_migration_example_runs_end_to_end(spark, tmp_path):
    """The examples/ migration script — the reference program re-run on
    the engine — must execute offline start to finish: SEC store count,
    unified social docs, top-3 retrieval, and the RAG evaluation sink.
    On the reference's own files the counts are the real-data literals;
    on the committed fixture they are what DuckDB's independent
    re-implementations of the two pipelines (the pl_sec_real_data and
    pl_social_real_data oracles) count over the same files."""
    import examples.fininsight_migration as mig
    from big_data_project_spark import refdata

    if refdata.root() == refdata.REFERENCE_DIR:
        want_sec, want_docs = 2613, 538
    else:
        import duckdb

        from big_data_project_spark.registry import REGISTRY

        with duckdb.connect() as con:
            want_sec, want_docs = (
                con.execute(f"SELECT count(*) FROM ({REGISTRY[n].oracle})").fetchone()[0]
                for n in ("pl_sec_real_data", "pl_social_real_data")
            )
    out = str(tmp_path / "mig")
    mig.main(out, spark=spark)
    sec_rows = spark.read.parquet(f"{out}/sec_filings")
    docs = spark.read.parquet(f"{out}/documents")
    ev = spark.read.json(f"{out}/llm_evaluation")
    assert sec_rows.count() == want_sec
    assert docs.count() == want_docs
    row = ev.collect()[0]
    assert row.question.startswith("What are the risks")
    assert row.accuracy_label in ("High", "Low") and 0.0 <= row.grounding <= 1.0


def test_token_budget_mixture_floors_and_straddler(spark):
    """Every budgeted source reaches AT LEAST its token budget (straddler
    kept), overshoot is bounded by one document, and an unbudgeted source
    passes through whole when default_budget is None."""
    from pyspark.sql import functions as F

    from big_data_project_spark.operators import curation

    rows = []
    for s, n_docs in (("a", 30), ("b", 30), ("c", 5)):
        for i in range(n_docs):
            rows.append((hash(f"{s}{i}") % 10**9, s, "tok " * (5 + i % 7)))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = curation.sample_to_token_budget(
        df, {"a": 50, "b": 120}, default_budget=None
    )
    toks = (
        out.withColumn("nt", F.size(F.split(F.trim("text"), r"\s+")))
        .groupBy("source")
        .agg(F.sum("nt").alias("t"), F.count("*").alias("docs"), F.max("nt").alias("mx"))
    )
    got = {r.source: r for r in toks.collect()}
    assert got["a"].t >= 50 and got["a"].t - got["a"].mx < 50
    assert got["b"].t >= 120 and got["b"].t - got["b"].mx < 120
    assert got["c"].docs == 5  # unbudgeted: kept whole
    # deterministic: same call → same selection
    again = curation.sample_to_token_budget(df, {"a": 50, "b": 120}, default_budget=None)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in again.collect()
    )
