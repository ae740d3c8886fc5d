"""Deterministic synthetic-testdata generator for scale-headroom runs.

The driver ships read-only parquet at sf{0.001,0.01,0.1}; proving that the
engine's plans scale LINEARLY (VERDICT r3 item 2) needs a 10× step the
driver does not provide. This script regenerates the same star schema —
identical column names/types and value distributions sampled from
/root/testdata/sf0.1 — at an arbitrary scale factor, entirely with Spark
column expressions (hash-of-id driven, so the output is a pure function of
(sf, seed): no RNG state, no driver-side loops, reproducible across runs
and partitionings).

    python tools/gen_testdata.py --sf 1 --out testdata_local/sf1
    python tools/gen_testdata.py --sf 1 --skew-zipf 1.2 --out testdata_local/sf1skew
    python tools/gen_testdata.py --refdata big_data_project_spark/refdata

``--refdata DIR`` instead writes the four reference-shaped input files of
FIXTURES.md §B1-B3 (pure Python, seed 42, byte-deterministic); the
committed copy in ``big_data_project_spark/refdata`` is that command's
output.

``--skew-zipf`` additionally makes ``orders.o_custkey`` zipfian (exponent
s): the hottest customer takes ~1/H share of ALL orders — the adversarial
shape for the join benchmarks (AQE skew-split / salted-join validation).

Row counts follow TPC-H ratios (sf1 = 6M lineitem / 1.5M orders / 150k
customer), with the engine's extra tables scaled from their sf0.1 ratios
(events 10M/sf, documents 500k/sf, embeddings 200k/sf).

Output lands under the repo (testdata_local/ is gitignored); /root/testdata
itself is read-only by contract.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
from datetime import datetime, timedelta

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join a customer the"
).split()  # 30 words — the driver corpus's EXACT en vocabulary (round 11
# fidelity fix: the old list had disk/plan/shuffle where the driver has
# a/customer/the, so generated corpora carried ZERO stopwords and the
# Gopher stopword-floor quality rule rejected every doc — pl_curation_e2e
# read 0 rows at sf1 and the whole quality-gated lane was untestable at
# locally generated SFs; 'dup' — the 31st driver token — appears only in
# the driver's planted-duplicate docs, which this generator plants by
# exact repetition instead)

LANGS = [("en", 70), ("fr", 10), ("de", 8), ("zh", 7), ("es", 5)]

#: multilingual vocabulary for the non-ASCII document slice (round 6,
#: VERDICT r5 "What's missing #2"): CJK, Cyrillic, Arabic, emoji,
#: composed AND decomposed combining marks, Greek, Devanagari, Japanese.
#: Docs with lang='zh' (7% of the corpus) draw from this list instead of
#: the ASCII WORDS, so every locally generated corpus carries a real
#: UTF-8 slice for the text/dedup/curation operators to chew on.
WORDS_UTF8 = (
    "你好 世界 大数据 引擎 データ 処理 высокий поток данные بيانات ضخمة "
    "سريع café naïve déjà Ελληνικά λόγος देवनागरी लिपि 🌍 🚀 combíning "
    "márks 高速 分布式 计算"
).split()  # mixed-script tokens incl. NFD combining marks + astral emoji


def _h(*cols):
    """Non-negative 63-bit hash of the given columns — the one source of
    randomness (xxhash64 is a fixed function of its inputs + seed)."""
    return F.abs(F.xxhash64(*cols))


def _u(df_col, salt, lo=0.0, hi=1.0):
    """Uniform double in [lo, hi) as a pure function of (id, salt)."""
    return (_h(df_col, F.lit(salt)) % 1_000_000) / 1_000_000 * (hi - lo) + lo


def gen(
    spark: SparkSession,
    sf: float,
    out: str,
    zipf: float | None,
    tables: set[str] | None = None,
) -> None:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_vecs = int(20_000 * sf)
    par = max(8, min(64, int(32 * sf)))
    os.makedirs(out, exist_ok=True)

    def write(df, name, n_files=None):
        # --tables subset: every table's exprs are lazy, so skipping the
        # write skips its compute — documents-only generation at big SF
        # (the dedup scale curves) avoids the 10M-events/sf pass
        if tables is not None and name not in tables:
            print(f"  {name}: skipped (--tables)")
            return
        df.repartition(n_files or par).write.mode("overwrite").parquet(
            f"{out}/{name}.parquet"
        )
        print(f"  {name}: written")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    region = spark.createDataFrame(
        [(i, n) for i, n in enumerate(regions)], "r_regionkey int, r_name string"
    )
    write(region, "region", 1)

    nations = [(i, f"NATION_{i:02d}", i % 5) for i in range(25)]
    nation = spark.createDataFrame(
        nations, "n_nationkey int, n_name string, n_regionkey int"
    )
    write(nation, "nation", 1)

    segs = ["AUTOMOBILE", "MACHINERY", "BUILDING", "HOUSEHOLD", "FURNITURE"]
    cust = (
        spark.range(0, n_cust, 1, par)
        .select(
            F.col("id").alias("c_custkey"),
            F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
            (_h(F.col("id"), F.lit("cn")) % 25).cast("int").alias("c_nationkey"),
            F.round(_u(F.col("id"), "cb", -999.99, 9999.99), 2).alias("c_acctbal"),
            F.element_at(
                F.array(*[F.lit(s) for s in segs]),
                (_h(F.col("id"), F.lit("cs")) % 5 + 1).cast("int"),
            ).alias("c_mktsegment"),
        )
    )
    write(cust, "customer")

    supp = spark.range(0, n_supp, 1, par).select(
        F.col("id").alias("s_suppkey"),
        F.format_string("Supplier#%09d", F.col("id")).alias("s_name"),
        (_h(F.col("id"), F.lit("sn")) % 25).cast("int").alias("s_nationkey"),
        F.round(_u(F.col("id"), "sb", -999.99, 9999.99), 2).alias("s_acctbal"),
    )
    write(supp, "supplier")

    adjs = ["large", "hot", "blue", "small", "dark", "light", "red", "green"]
    nouns = ["ring", "bolt", "gear", "case", "plate", "wire", "tube", "cap"]
    types = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
    part = spark.range(0, n_part, 1, par).select(
        F.col("id").alias("p_partkey"),
        F.concat_ws(
            " ",
            F.element_at(
                F.array(*[F.lit(a) for a in adjs]),
                (_h(F.col("id"), F.lit("pa")) % 8 + 1).cast("int"),
            ),
            F.element_at(
                F.array(*[F.lit(x) for x in nouns]),
                (_h(F.col("id"), F.lit("pn")) % 8 + 1).cast("int"),
            ),
        ).alias("p_name"),
        F.format_string(
            "Brand#%d", (_h(F.col("id"), F.lit("pb")) % 25 + 1).cast("int")
        ).alias("p_brand"),
        F.element_at(
            F.array(*[F.lit(t) for t in types]),
            (_h(F.col("id"), F.lit("pt")) % 6 + 1).cast("int"),
        ).alias("p_type"),
        (_h(F.col("id"), F.lit("ps")) % 50 + 1).cast("int").alias("p_size"),
        F.round(_u(F.col("id"), "pp", 900.0, 999.99), 2).alias("p_retailprice"),
    )
    write(part, "part")

    # --- orders: uniform or zipfian customer assignment -------------------
    base = spark.range(0, n_orders, 1, par)
    if zipf is None:
        custkey = (_h(F.col("id"), F.lit("oc")) % n_cust).cast("long")
    else:
        # inverse-CDF zipf over ranks 1..n_cust: u in (0,1] maps to the
        # smallest rank whose cumulative zipf mass exceeds u. Closed-form
        # approximation (exact enough for a skew benchmark): for s>1,
        # P(rank <= k) ≈ (1 - k^(1-s)/1) normalized; invert via
        # k = (1 - u*(1 - n^(1-s)))^(1/(1-s)). Rank 1 is the hot key.
        s = float(zipf)
        one_minus_s = 1.0 - s
        u = _u(F.col("id"), "oz", 1e-9, 1.0)
        rank = F.pow(
            F.lit(1.0) - u * (1.0 - math.pow(float(n_cust), one_minus_s)),
            F.lit(1.0 / one_minus_s),
        )
        custkey = F.least(
            F.greatest(rank.cast("long") - 1, F.lit(0)), F.lit(n_cust - 1)
        ).cast("long")
    stat = ["O", "P", "F"]
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = base.select(
        F.col("id").alias("o_orderkey"),
        custkey.alias("o_custkey"),
        F.element_at(
            F.array(*[F.lit(x) for x in stat]),
            (_h(F.col("id"), F.lit("os")) % 3 + 1).cast("int"),
        ).alias("o_orderstatus"),
        F.round(_u(F.col("id"), "op", 1000.0, 500000.0), 2).alias("o_totalprice"),
        F.timestamp_seconds(
            F.lit(788918400)  # 1995-01-01 UTC
            + (_h(F.col("id"), F.lit("od")) % 2404).cast("long") * 86400
        ).alias("o_orderdate"),
        F.element_at(
            F.array(*[F.lit(x) for x in prio]),
            (_h(F.col("id"), F.lit("opr")) % 5 + 1).cast("int"),
        ).alias("o_orderpriority"),
    )
    write(orders, "orders")

    # --- lineitem: 1..7 lines per order (avg 4, TPC-H shape) --------------
    li = (
        orders.select("o_orderkey", "o_orderdate")
        .withColumn(
            "n_lines", (_h(F.col("o_orderkey"), F.lit("ln")) % 7 + 1).cast("int")
        )
        .select(
            "o_orderkey",
            "o_orderdate",
            F.explode(F.sequence(F.lit(1), F.col("n_lines"))).alias("l_linenumber"),
        )
    )
    k = F.col("o_orderkey")
    ln = F.col("l_linenumber")
    lineitem = li.select(
        k.alias("l_orderkey"),
        (_h(k, ln, F.lit("lp")) % n_part).cast("long").alias("l_partkey"),
        (_h(k, ln, F.lit("ls")) % n_supp).cast("long").alias("l_suppkey"),
        ln,
        (_h(k, ln, F.lit("lq")) % 50 + 1).cast("double").alias("l_quantity"),
        F.round(_u(_h(k, ln, F.lit("le")), "x", 900.0, 105000.0), 2).alias(
            "l_extendedprice"
        ),
        ((_h(k, ln, F.lit("ld")) % 11).cast("double") / 100).alias("l_discount"),
        ((_h(k, ln, F.lit("lt")) % 9).cast("double") / 100).alias("l_tax"),
        F.element_at(
            F.array(F.lit("A"), F.lit("N"), F.lit("R")),
            (_h(k, ln, F.lit("lr")) % 3 + 1).cast("int"),
        ).alias("l_returnflag"),
        F.element_at(
            F.array(F.lit("F"), F.lit("O")),
            (_h(k, ln, F.lit("ll")) % 2 + 1).cast("int"),
        ).alias("l_linestatus"),
        (
            F.col("o_orderdate")
            + F.make_interval(days=(_h(k, ln, F.lit("lsd")) % 120).cast("int"))
        ).alias("l_shipdate"),
    )
    write(lineitem, "lineitem")

    # --- events: 30 days, 1.5% of rows as users ---------------------------
    n_users = max(100, n_events // 67)
    etypes = ["signup", "click", "error", "view", "purchase"]
    events = spark.range(0, n_events, 1, par).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1704067200)  # 2024-01-01 UTC
            + (_h(F.col("id"), F.lit("et")) % (30 * 86400)).cast("long")
        ).alias("ts"),
        (_h(F.col("id"), F.lit("eu")) % n_users).cast("long").alias("user_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in etypes]),
            (_h(F.col("id"), F.lit("ee")) % 5 + 1).cast("int"),
        ).alias("event_type"),
        F.round(_u(F.col("id"), "ev", 0.0, 100.0), 4).alias("value"),
        F.format_string(
            '{"k": %d}', (_h(F.col("id"), F.lit("ep")) % 100).cast("int")
        ).alias("props"),
    )
    write(events, "events")

    # --- documents: 15-60 vocab words, weighted languages ----------------
    lang_arr, acc = [], 0
    for code, w in LANGS:
        acc += w
        lang_arr.append((code, acc))
    lang_expr = F.lit(lang_arr[-1][0])
    pick = _h(F.col("id"), F.lit("dl")) % 100
    for code, ceiling in reversed(lang_arr[:-1]):
        lang_expr = F.when(pick < ceiling, F.lit(code)).otherwise(lang_expr)
    vocab = F.array(*[F.lit(w) for w in WORDS])
    vocab_u8 = F.array(*[F.lit(w) for w in WORDS_UTF8])
    n_u8 = len(WORDS_UTF8)
    n_words = (_h(F.col("id"), F.lit("dn")) % 46 + 15).cast("int")
    # the 'zh' slice draws multilingual tokens — same length distribution,
    # same hash-driven determinism, real UTF-8 content
    is_u8 = lang_expr == "zh"
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.when(
                is_u8,
                F.element_at(
                    vocab_u8,
                    (_h(F.col("id"), i, F.lit("dw")) % n_u8 + 1).cast("int"),
                ),
            ).otherwise(
                F.element_at(
                    vocab,
                    (_h(F.col("id"), i, F.lit("dw")) % 30 + 1).cast("int"),
                )
            ),
        ),
        " ",
    )
    docs = spark.range(0, n_docs, 1, par).select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        lang_expr.alias("lang"),
        F.format_string(
            "src%d", (_h(F.col("id"), F.lit("ds")) % 20 + 1).cast("int")
        ).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))
    write(docs, "documents")

    # --- embeddings: 64-dim, driver-faithful geometry ---------------------
    # Round-11 fidelity fix: the driver's embeddings are UNIT-NORM with
    # essentially no label-geometry correlation (measured at sf0.01:
    # norm-mean 1.0, within-label cos 0.002 ≈ cross-label 0.000). The old
    # generator planted 10 tight clusters (norm ~9.3, within-cos 0.985),
    # which made every semantic-dedup entry collapse to 0 rows at
    # generated SFs (all 300 delta vectors within cos 0.4 of the
    # snapshot vs the driver's 80) — trivially-green oracle rows.
    # Cluster-recall tests plant their own geometry in-test; the shared
    # corpora should match the driver shape. Hash-uniform components on
    # [-1, 1] normalized to the unit sphere: deterministic, label-
    # independent, near-orthogonal pairs in 64-dim (cos std ~1/8).
    label = (_h(F.col("id"), F.lit("vl")) % 10).cast("int")
    dims = F.sequence(F.lit(1), F.lit(64))
    raw = F.transform(
        dims,
        lambda i: (
            (_h(F.col("id"), i, F.lit("vn")) % 20001).cast("double") / 10000.0
            - 1.0
        ),
    )
    norm = F.sqrt(
        F.aggregate(raw, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    emb = F.transform(
        raw, lambda x: (x / F.greatest(norm, F.lit(1e-12))).cast("float")
    )
    vecs = (
        spark.range(0, n_vecs, 1, par)
        .withColumn("label", label)
        .select(
            F.col("id").alias("vec_id"),
            emb.alias("embedding"),
            F.col("label"),
        )
    )
    write(vecs, "embeddings")


# ---------------------------------------------------------------------------
# Reference-shaped fixtures (FIXTURES.md §B1-B3): the four input files of the
# FinInsight reference, synthesized in pure Python from one seeded
# random.Random, so the bytes are a function of the seed alone.
# ---------------------------------------------------------------------------

#: the committed fixtures are this seed's output (tests/test_refdata.py)
_REFDATA_SEED = 42

#: the feed's header, spelled out here rather than taken from
#: pipelines.sec.RAW_COLUMNS so the fixture does not follow the code it tests
_SEC_HEADER = (
    "Ticker", "Name", "Sector", "Asset Class", "Market Value", "Weight (%)",
    "Notional Value", "Quantity", "Price", "Location", "Exchange",
    "Currency", "FX Rate", "Market Currency", "Accrual Date",
)
_SEC_WORDS = (
    "ALPHA BEACON CEDAR DELTA EMBER FALCON GRANITE HARBOR IRON JUNIPER "
    "KESTREL LUMEN MERIDIAN NORTHWIND ORION PINNACLE QUARRY RIVERSTONE SUMMIT "
    "TRIDENT UNION VERTEX WILLOW XENON YARROW ZENITH ATLAS BOREAL COBALT "
    "DUNE ECHO FRONTIER GALLEON HELIX INDIGO JASPER KEYSTONE LANTERN MOSAIC "
    "NEXUS"
).split()
_SEC_SUFFIXES = (
    "INC", "CORP", "CO", "PLC", "LTD", "HOLDINGS INC", "GROUP INC",
    "INC CLASS A", "CORP CLASS B", "N.V.", "S.A.", "& CO INC", "INC.",
)
_SECTORS = (
    "Information Technology", "Health Care", "Financials",
    "Consumer Discretionary", "Communication", "Industrials",
    "Consumer Staples", "Energy", "Utilities", "Real Estate", "Materials",
)
_LOCATIONS = (
    ("United States", "NASDAQ"), ("United States", "New York Stock Exchange Inc."),
    ("United States", "Cboe BZX"), ("Canada", "Toronto Stock Exchange"),
    ("United Kingdom", "London Stock Exchange"), ("Ireland", "New York Stock Exchange Inc."),
    ("Switzerland", "SIX Swiss Exchange"), ("Netherlands", "NASDAQ"),
)
_CASH = (
    ("USD CASH", "Cash"), ("CASH COLLATERAL USD", "Cash Collateral and Margins"),
    ("BLK CSH FND TREASURY SL AGENCY", "Money Market"),
    ("S&P500 EMINI JUN 25", "Futures"),
)


def _money(rng, lo_exp, hi_exp):
    return f"{10 ** rng.uniform(lo_exp, hi_exp):,.2f}"


def _sec_rows(rng, n_records):
    """B1: 2,613 records, nine with a quoted newline in Name (a line-split
    read sees 2,622 data lines); comma-formatted money, '-' sentinels, null
    sectors and weights, a U+00A0 ticker, duplicate (Ticker, Name) pairs
    and names that collide only after normalization."""
    rows, keys, nbsp_done = [], [], False
    multiline = set(rng.sample(range(n_records), 9))
    for i in range(n_records):
        u = rng.random()
        if u < 0.02:  # cash / derivative holdings carry the '-' ticker
            name, asset = rng.choice(_CASH)
            ticker, sector = "-", "Cash and/or Derivatives"
            location, exchange = "United States", "NO MARKET (E.G. UNLISTED)"
        elif u < 0.03 and keys:  # a later line for an earlier holding
            ticker, name = rng.choice(keys)
            if rng.random() < 0.5:  # same key only after normalization
                name = name[:-1] if name.endswith(".") else name + "."
            asset, sector = "Equity", rng.choice(_SECTORS)
            location, exchange = rng.choice(_LOCATIONS)
        else:
            w1, w2 = rng.choice(_SEC_WORDS), rng.choice(_SEC_WORDS)
            name = f"{w1} {w2} {rng.choice(_SEC_SUFFIXES)}"
            ticker = (w1[: rng.randint(1, 3)] + w2[: rng.randint(1, 2)])[:5]
            v = rng.random()
            if v < 0.08:
                name = name.title()
            elif v < 0.12:
                name = name.replace(f"{w1} ", f"<b>{w1}</b> ", 1)
            elif v < 0.15:
                name = name.replace(" ", ", ", 1) + " (THE)"
            elif v < 0.17:
                name = f"{w1}'S {w2} &amp; {rng.choice(_SEC_SUFFIXES)}"
            if rng.random() < 0.02:
                ticker = f" {ticker} "
            if i in multiline:
                name = f"{name}\nCLASS {rng.choice('ABC')}"
            if not nbsp_done and i >= 100:  # the feed's one U+00A0 ticker
                ticker, nbsp_done = f"{ticker.strip()}\u00a0", True
            asset = "Equity"
            r = rng.random()
            sector = None if r < 0.03 else "-" if r < 0.04 else rng.choice(_SECTORS)
            location, exchange = rng.choice(_LOCATIONS)
            keys.append((ticker, name))
        r = rng.random()
        if r < 0.01:
            mv = "-"
        elif r < 0.05:
            mv = f"{rng.uniform(0.01, 0.99):.2f}"  # plain, no separators
        else:
            mv = _money(rng, 3, 11)
        weight = None if rng.random() < 0.02 else f"{rng.uniform(0.0, 6.0):.2f}"
        qty = _money(rng, 1, 8)
        price = rng.uniform(0.5, 900.0)
        accrual = "Jan 01, 1970" if rng.random() < 0.05 else "-"
        rows.append((
            ticker, name, sector, asset, mv, weight, mv, qty, f"{price:.2f}",
            location, exchange, "USD", "1", "USD", accrual,
        ))
    return rows


def _csv_line(fields):
    return ",".join(
        "" if f is None else '"' + f.replace('"', '""') + '"' for f in fields
    )


_CNBC_SUBJECTS = (
    ("Amazon", "AMZN", "Amazon's $15B warehouse expansion"),
    ("Apple", "AAPL", "Apple's iPhone tariff exposure"),
    ("Nvidia", "NVDA", "Nvidia's export-license charge"),
    ("Tesla", "TSLA", "Tesla's delivery slump"),
    ("Microsoft", "MSFT", "Microsoft's data-center pullback"),
    ("JPMorgan", "JPM", "JPMorgan's record trading quarter"),
    ("Netflix", "NFLX", "Netflix's price increase"),
    ("Alphabet", "GOOGL", "Alphabet's search antitrust remedy"),
    ("Meta", "META", "Meta's AI capex plan"),
    ("UnitedHealth", "UNH", "UnitedHealth's guidance cut"),
    ("Boeing", "BA", "Boeing's China jet returns"),
    ("Walmart", "WMT", "Walmart's price rollback"),
    ("Goldman Sachs", "GS", "Goldman Sachs' buyback"),
)
_CNBC_ANGLES = (
    "What investors should know about {s}",
    "{s}: analysts weigh the risks",
    "Stocks making the biggest moves midday: {t}, and more",
    "Here's why {c} shares are moving after {s}",
    "{c} CEO defends strategy as Wall Street questions {s}",
    "Jim Cramer says {c} is a buy despite {s}",
)
_CNBC_SENTENCES = (
    "{c} shares fell {p}% in premarket trading on {d}.",
    "Analysts at several banks said {s} could weigh on margins for the next {n} quarters.",
    "The company said it expects capital spending of about ${b} billion this year.",
    "Investors have been watching tariffs, interest rates and consumer demand closely.",
    "“We remain confident in our long-term plan,” a {c} spokesperson said.",
    "The stock is down {p}% year to date, compared with a {q}% decline in the S&P 500.",
    "Risks include higher labor costs, supply-chain delays and weaker freight volumes.",
    "{c}’s results are due later this month, and guidance will be the focus.",
    "Options traders priced in a move of roughly {p}% in either direction.",
    "The Federal Reserve’s next decision could shift the outlook for {t} and its peers.",
)


def _cnbc_articles(rng, n_unique):
    """B2: articles with mixed-case punctuated headlines, stringified
    datetimes, 1-10 KB multi-paragraph bodies (some wrapped in HTML tags,
    some null)."""
    arts = []
    for i in range(n_unique):
        c, t, s = _CNBC_SUBJECTS[i % len(_CNBC_SUBJECTS)]
        title = rng.choice(_CNBC_ANGLES).format(c=c, t=t, s=s)
        day = rng.randint(1, 28)
        slug = "".join(ch if ch.isalnum() else "-" for ch in title.lower()).strip("-")
        url = f"https://www.cnbc.com/2025/04/{day:02d}/{slug}-{i}.html"
        hms = "00:00:00" if rng.random() < 0.3 else (
            f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
        )
        html = rng.random() < 0.3
        paras, size, target = [], 0, rng.randint(1024, 10 * 1024)
        while size < target:
            para = " ".join(
                rng.choice(_CNBC_SENTENCES).format(
                    c=c, t=t, s=s, d=f"April {day}", n=rng.randint(2, 6),
                    p=f"{rng.uniform(0.5, 12):.1f}", q=f"{rng.uniform(1, 15):.1f}",
                    b=rng.randint(5, 120),
                )
                for _ in range(rng.randint(3, 6))
            )
            if html:
                link = f'<a href="https://www.cnbc.com/quotes/{t}/">{c}</a>'
                para = f"<p>{para.replace(c, link, 1)}</p>"
            paras.append(para)
            size += len(para) + 2
        content = None if rng.random() < 0.08 else "\n\n".join(paras)
        arts.append({"url": url, "title": title, "date": f"2025-04-{day:02d} {hms}",
                     "content": content})
    return arts


_REDDIT_TITLES = (
    "{t} to the moon \U0001F680",
    "Thoughts on {c}'s Q1 earnings?",
    "DD: why {t} is undervalued (long post)",
    "YOLO'd my savings into {t} calls \U0001F48E\U0001F64C",
    "Is the market pricing in {s}?",
    "{c} just dropped {p}% — buy the dip or run?",
    "Loss porn: -{p}% on {t} puts \U0001F4C9",
    "What's everyone's take on {s}??",
    "Daily Discussion Thread for April {d}, 2025",
    "{t} earnings play: straddle or strangle?",
)
_SUBREDDITS = ("wallstreetbets", "stocks", "investing", "StockMarket")


def _reddit_posts(rng, n_posts):
    """B3: 500 posts, both Post_Time formats, long-tailed counts, emoji in
    titles and exactly one emoji-only title (normalizes to empty text)."""
    posts, ids = [], set()
    emoji_only = rng.randrange(n_posts)
    for i in range(n_posts):
        c, t, s = rng.choice(_CNBC_SUBJECTS)
        title = "\U0001F3A2" if i == emoji_only else rng.choice(_REDDIT_TITLES).format(
            c=c, t=t, s=s, d=rng.randint(1, 28), p=rng.randint(2, 60)
        )
        pid = ""
        while not pid or pid in ids:
            pid = "".join(rng.choice("0123456789abcdefghijklmnopqrstuvwxyz") for _ in range(7))
        ids.add(pid)
        slug = "_".join("".join(ch for ch in w if ch.isalnum()) for w in title.lower().split())
        posted = datetime(2025, 4, 8) + timedelta(seconds=rng.randrange(14 * 24 * 3600))
        # the raw dump's ISO-8601 form, or PRAW's formatted one (py:120)
        stamp = posted.strftime(
            "%Y-%m-%dT%H:%M:%S.000Z" if rng.random() < 0.5 else "%Y-%m-%d %H:%M:%S"
        )
        sub = rng.choice(_SUBREDDITS)
        posts.append({
            "Title": title,
            "URL": f"https://www.reddit.com/r/{sub}/comments/{pid}/{slug.strip('_') or 'post'}/",
            "Upvotes": int(50001 ** (rng.random() ** 3)) - 1,
            "Comments_Count": int(5001 ** (rng.random() ** 3)) - 1,
            "Post_Time": stamp,
        })
    return posts


def gen_reference_fixtures(out: str) -> list[str]:
    """Write the four FIXTURES.md §B1-B3 files into ``out``: the SEC CSV
    (2,613 records), the two CNBC JSON-lines files (20 + 19 records, one
    article in both) and the Reddit JSON-lines dump (500 posts). Returns
    the written paths."""
    rng = random.Random(_REFDATA_SEED)
    os.makedirs(out, exist_ok=True)
    arts = _cnbc_articles(rng, 38)
    second = arts[20:]
    second.insert(rng.randrange(len(second) + 1), arts[rng.randrange(20)])
    files = {
        "SEC_filings.csv": [_csv_line(_SEC_HEADER)]
        + [_csv_line(r) for r in _sec_rows(rng, 2613)],
        "CNBC_financial_news_1.json": [json.dumps(a, ensure_ascii=False) for a in arts[:20]],
        "CNBC_financial_articles_2.json": [json.dumps(a, ensure_ascii=False) for a in second],
        "reddit_posts.json": [
            json.dumps(p, ensure_ascii=False) for p in _reddit_posts(rng, 500)
        ],
    }
    paths = []
    for name, lines in files.items():
        path = os.path.join(out, name)
        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float)
    ap.add_argument("--out")
    ap.add_argument(
        "--refdata",
        metavar="DIR",
        default=None,
        help="write the FIXTURES.md §B1-B3 reference-shaped files (seed 42, "
        "no Spark) into DIR instead of the parquet tables",
    )
    ap.add_argument(
        "--skew-zipf",
        type=float,
        default=None,
        help="make orders.o_custkey zipfian with this exponent (e.g. 1.2)",
    )
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    ap.add_argument(
        "--tables",
        default=None,
        help="comma-separated subset of tables to write (default: all)",
    )
    args = ap.parse_args()
    if args.refdata is not None:
        for path in gen_reference_fixtures(args.refdata):
            print(path)
        return
    if args.sf is None or args.out is None:
        ap.error("--sf and --out are required (or give --refdata DIR)")
    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("gen_testdata")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    print(f"generating sf={args.sf} → {args.out} (zipf={args.skew_zipf})")
    gen(
        spark,
        args.sf,
        args.out,
        args.skew_zipf,
        tables=set(args.tables.split(",")) if args.tables else None,
    )
    print("done")


if __name__ == "__main__":
    main()
