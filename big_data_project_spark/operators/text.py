"""Text / NLP-deterministic operators (SURVEY §2.4) and the text-analysis
closure for LLM data pipelines (language-ID, quality scoring, token counting,
fingerprinting).

Reference evidence: clean_text py:340-343, field coalescing py:412-422,
doc-text assembly py:363-367, token/sentence stats py:589-590. NER (py:348-352)
and sentiment (claimed README.md:7, absent from code) ship here as
deterministic carriers — gazetteer/regex NER and lexicon sentiment — exactly
the ORG/MONEY/DATE/PERCENT-style extraction validated in Report.pdf
§Experiments-2; model-backed variants plug in behind the same column contract
(see plugins.py) without entering the oracle surface.

Everything is built from JVM-side column functions (regexp_*, split, size,
aggregate) — no Python UDFs — so these run inside whole-stage codegen and
scale linearly with the corpus.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_project_spark.plans.lineage import lineage_cut
from big_data_project_spark.plans.parallelism import spread_input

from big_data_project_spark.operators.cleaning import normalize_text_col

# ---------------------------------------------------------------------------
# N3/N4 field coalescing and document assembly
# ---------------------------------------------------------------------------

def coalesce_fields(df: DataFrame, candidates: list[str], out: str) -> DataFrame:
    """N3 (py:412-422): first-present of candidate columns → one field."""
    return df.withColumn(out, F.coalesce(*[F.col(c) for c in candidates]))


def assemble_doc_text(
    df: DataFrame, title: str, content: str, out: str = "text"
) -> DataFrame:
    """N4 (py:363-367): text = title + ' ' + content with null→'' on content."""
    return df.withColumn(
        out,
        F.concat_ws(" ", F.col(title), F.coalesce(F.col(content), F.lit(""))),
    )


# ---------------------------------------------------------------------------
# N5 token / text statistics
# ---------------------------------------------------------------------------

def q_ident(name: str) -> str:
    """Backtick-quote a column reference with F.col semantics for SQL-text
    interpolation — the package's one quoting helper (ADVICE r11): dots
    are qualifier separators (``a.embedding`` → `a`.`embedding`), embedded
    backticks are doubled so a hostile name cannot break out of the
    quoting into the expression text.

    So a column whose name literally contains a dot parses as a qualified
    reference, not as one column. :func:`train_hashed_classifier` and
    :func:`classify_hashed` used to backtick the whole name and now
    resolve such names this way too: pre-alias a literally-dotted column
    to a dot-free name before passing it."""
    return ".".join(f"`{p.replace('`', '``')}`" for p in name.split("."))


def sql_str(value: str) -> str:
    """``value`` as a SQL string literal for SQL-text interpolation:
    backslashes doubled and single quotes backslash-escaped, which the
    parser's default escape processing undoes (a doubled quote is not
    portable: a Spark lexer without the ``''`` escape reads ``'a''b'`` as
    two adjacent literals, ``ab``); every other character, newlines
    included, stays raw."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def words_sql(col_name: str) -> str:
    """SQL text of :func:`words_col` for a plain column name (r11, guide
    §1.2 step 2: one parse instead of a ~20 ms py4j lambda-HOF build).
    Identical expression tree — same split pattern, same != '' filter."""
    return f"filter(split(trim({q_ident(col_name)}), '\\\\s+'), x -> x != '')"


def words_col(col: Column | str) -> Column:
    """Whitespace tokenization. Empty / whitespace-only text tokenizes to
    an EMPTY array — split() alone returns [''] (size 1), which would count
    every empty document as one word in token accounting, chunking, and
    packing."""
    if isinstance(col, str):
        return F.expr(words_sql(col))
    return F.filter(F.split(F.trim(col), "\\s+"), lambda x: x != "")


def token_stats(df: DataFrame, text: str = "text", with_bpe: bool = False) -> DataFrame:
    """N5 (py:589-590): word count, char count, distinct-word count, and
    mean word length; with_bpe adds the BPE-ish token estimate so the whole
    token-accounting family is one scan."""
    w = words_col(text)
    cols = [
        F.size(w).cast("long").alias("n_words"),
        F.length(F.col(text)).cast("long").alias("n_chars"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct_words"),
        # try_divide: an empty doc has 0 words — NULL mean, not an ANSI
        # DIVIDE_BY_ZERO job abort
        F.try_divide(
            F.aggregate(w, F.lit(0.0), lambda acc, x: acc + F.length(x)),
            F.size(w),
        ).alias("avg_word_len"),
    ]
    if with_bpe:
        cols.append(bpe_ish_token_count(text).alias("n_tokens"))
    return df.select("doc_id", *cols)


def bpe_ish_token_count(col: Column | str) -> Column:
    """Token counting for budget estimation: whitespace words + a crude
    subword correction (words longer than 4 chars count ~len/4 tokens,
    mirroring BPE's behavior on long words)."""
    w = words_col(col)
    return F.aggregate(
        w,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.greatest(F.lit(1), F.ceil(F.length(x) / 4)).cast("long"),
    )


# ---------------------------------------------------------------------------
# N1 deterministic NER (gazetteer + regex), N2 lexicon sentiment
# ---------------------------------------------------------------------------

#: gazetteer for the synthetic corpus; real deployments swap the term list.
NER_TERMS = ("spark", "join", "merge", "window", "stream", "vector")

#: regex classes mirroring the reference's validated entity types
#: (Report.pdf §Experiments-2: ORG/MONEY/DATE/PERCENT).
NER_PATTERNS = {
    "MONEY": r"\$[0-9][0-9,]*(?:\.[0-9]+)?",
    "PERCENT": r"[0-9]+(?:\.[0-9]+)?%",
    "DATE": r"[0-9]{4}-[0-9]{2}-[0-9]{2}",
    "TICKER": r"\b[A-Z]{2,5}\b",
}


def ner_gazetteer(df: DataFrame, text: str = "text") -> DataFrame:
    """N1 deterministic carrier: extract gazetteer terms as entities, one
    output row per hit (U4: one row → many via explode)."""
    pattern = r"\b(" + "|".join(NER_TERMS) + r")\b"
    return df.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.col(text), F.lit(pattern), 1)).alias(
            "entity"
        ),
    )


def ner_regex(df: DataFrame, text: str = "text") -> DataFrame:
    """N1 regex classes: MONEY / PERCENT / DATE / TICKER spans."""
    parts = [
        df.select(
            "doc_id",
            F.lit(label).alias("entity_type"),
            F.explode(
                F.regexp_extract_all(F.col(text), F.lit(pat), 0)
            ).alias("entity"),
        )
        for label, pat in NER_PATTERNS.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: AFINN-style micro-lexicon over the synthetic vocab.
POSITIVE_WORDS = ("fast", "big")
NEGATIVE_WORDS = ("slow", "small", "dup")


def sentiment_lexicon(df: DataFrame, text: str = "text") -> DataFrame:
    """N2 deterministic carrier: lexicon polarity score = #pos − #neg hits,
    labeled positive/negative/neutral."""
    pos_pat = r"\b(" + "|".join(POSITIVE_WORDS) + r")\b"
    neg_pat = r"\b(" + "|".join(NEGATIVE_WORDS) + r")\b"
    pos = F.size(F.regexp_extract_all(F.col(text), F.lit(pos_pat), 0))
    neg = F.size(F.regexp_extract_all(F.col(text), F.lit(neg_pat), 0))
    return df.select(
        "doc_id",
        pos.cast("long").alias("n_pos"),
        neg.cast("long").alias("n_neg"),
        (pos - neg).cast("long").alias("score"),
        F.when(pos - neg > 0, "positive")
        .when(pos - neg < 0, "negative")
        .otherwise("neutral")
        .alias("sentiment"),
    )


# ---------------------------------------------------------------------------
# Text-analysis closure: language ID, quality score, fingerprint
# ---------------------------------------------------------------------------

#: tiny per-language function-word lists (n-gram heuristic carrier).
LANG_STOPWORDS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "et", "les", "est"),
}


def _hits(text: str, words: tuple[str, ...]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.col(text), F.lit(pat), 0))


def _lang_best(score_of) -> Column:
    """Argmax-with-deterministic-ties struct: pick the declaration-first
    language among score maxima (struct comparison: score, then priority)."""
    return F.greatest(
        *[
            F.struct(
                score_of(lang).alias("s"),
                F.lit(len(LANG_STOPWORDS) - i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(LANG_STOPWORDS)
        ]
    )


#: Unicode scripts the profile counts, in dominance tie-break order.
#: Java regex spells them \p{IsXxx}; RE2/DuckDB \p{Xxx} — probed
#: character-identical for all eight (tools/utf8_probe.py lineage).
SCRIPTS = (
    "Han",
    "Hiragana",
    "Katakana",
    "Cyrillic",
    "Arabic",
    "Greek",
    "Devanagari",
    "Latin",
)

#: dominant script → ISO-639-1 language (Han is resolved to ja when any
#: kana is present — the standard CJK disambiguation heuristic; Latin
#: falls back to the stopword argmax).
SCRIPT_LANG = {
    "Han": "zh",
    "Hiragana": "ja",
    "Katakana": "ja",
    "Cyrillic": "ru",
    "Arabic": "ar",
    "Greek": "el",
    "Devanagari": "hi",
}


def _script_count(text: str, script: str) -> Column:
    return F.size(
        F.regexp_extract_all(F.col(text), F.lit(rf"\p{{Is{script}}}"), F.lit(0))
    ).cast("long")


def script_profile(df: DataFrame, text: str = "text") -> DataFrame:
    """Per-document Unicode-SCRIPT histogram — the signal Latin-stopword
    lang-id fundamentally lacks on a multilingual web corpus: character
    counts per script (Han/kana/Cyrillic/Arabic/Greek/Devanagari/Latin),
    the dominant script (max count, ties by declaration order), and the
    dominant share in integer permille of scripted characters. One narrow
    scan, no shuffle; every count is a regexp class both engines evaluate
    character-identically, so the profile is value-hashable."""
    counts = {s: _script_count(text, s) for s in SCRIPTS}
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    best = F.greatest(
        *[
            F.struct(
                counts[s].alias("n"),
                F.lit(len(SCRIPTS) - i).alias("prio"),
                F.lit(s).alias("script"),
            )
            for i, s in enumerate(SCRIPTS)
        ]
    )
    staged = df.select(
        "doc_id",
        *[counts[s].alias(f"n_{s.lower()}") for s in SCRIPTS],
        total.alias("_total"),
        best["n"].alias("_bn"),
        F.when(total == 0, F.lit("none"))
        .otherwise(best["script"])
        .alias("dominant_script"),
    )
    return staged.select(
        "doc_id",
        *[f"n_{s.lower()}" for s in SCRIPTS],
        "dominant_script",
        # `div` = exact integer division (float floor risks an off-by-one
        # against DuckDB's `//` at representation boundaries)
        F.expr(
            "CASE WHEN _total = 0 THEN CAST(0 AS BIGINT)"
            " ELSE _bn * 1000 div _total END"
        ).alias("dominant_permille"),
    )


def lang_id_script(df: DataFrame, text: str = "text") -> DataFrame:
    """Script-aware language ID: the dominant Unicode script names the
    language directly for non-Latin scripts (Han→zh unless kana is
    present → ja; Cyrillic→ru, Arabic→ar, Greek→el, Devanagari→hi);
    Latin-dominant text falls back to the stopword argmax (en/de/es/fr);
    scriptless text is 'und'. This is how production curation pipelines
    triage a web crawl BEFORE any model-based classifier runs — one
    regexp-class scan, no shuffle, engine-exact."""
    counts = {s: _script_count(text, s) for s in SCRIPTS}
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    best = F.greatest(
        *[
            F.struct(
                counts[s].alias("n"),
                F.lit(len(SCRIPTS) - i).alias("prio"),
                F.lit(s).alias("script"),
            )
        for i, s in enumerate(SCRIPTS)
        ]
    )
    kana = counts["Hiragana"] + counts["Katakana"]
    stop_best = _lang_best(lambda lang: _hits(text, LANG_STOPWORDS[lang]))
    lang = F.when(total == 0, F.lit("und"))
    dom = best["script"]
    for s in SCRIPTS[:-1]:
        code = SCRIPT_LANG[s]
        val = (
            F.when(kana > 0, F.lit("ja")).otherwise(F.lit("zh"))
            if s == "Han"
            else F.lit(code)
        )
        lang = lang.when(dom == s, val)
    lang = lang.otherwise(stop_best["lang"])  # Latin → stopword argmax
    return df.select(
        "doc_id",
        F.when(total == 0, F.lit("none")).otherwise(dom).alias(
            "dominant_script"
        ),
        lang.alias("lang"),
    )


def lang_id(df: DataFrame, text: str = "text") -> DataFrame:
    """Language ID via stopword-hit argmax (deterministic tie-break by
    language code order en < de < es < fr via greatest-struct trick)."""
    scored = df.select(
        "doc_id",
        *[
            _hits(text, ws).alias(f"score_{lang}")
            for lang, ws in LANG_STOPWORDS.items()
        ],
    )
    best = _lang_best(lambda lang: F.col(f"score_{lang}"))
    return scored.select(
        "doc_id",
        best["lang"].alias("detected_lang"),
        best["s"].cast("long").alias("stopword_hits"),
    )


def quality_score(df: DataFrame, text: str = "text") -> DataFrame:
    """Quality heuristics: length, stopword ratio, distinct-word (lexical
    diversity) ratio — the standard cheap pre-filters for LLM training data."""
    w = words_col(text)
    n_words = F.size(w)
    stop_hits = _hits(text, LANG_STOPWORDS["en"])
    return df.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        # try_divide: 0-word docs yield NULL ratios, not an ANSI job abort
        F.try_divide(stop_hits, n_words).alias("stopword_ratio"),
        F.try_divide(F.size(F.array_distinct(w)), n_words).alias("diversity"),
        F.when(n_words >= 20, 1).otherwise(0).alias("len_ok"),
    )


def fingerprint(df: DataFrame, text: str = "text") -> DataFrame:
    """Document fingerprint: md5 of normalized text — the exact-dedup key
    and a stable doc identity for lineage."""
    return df.select(
        "doc_id", F.md5(normalize_text_col(text)).alias("fingerprint")
    )


def text_profile(df: DataFrame, text: str = "text") -> DataFrame:
    """One-scan text-analysis profile: the per-document columns of
    lang_id + quality_score + fingerprint computed in a SINGLE select (no
    self-joins, no repeated scans — at 100 TB the three analyses share one
    pass over the corpus)."""
    w = words_col(text)
    n_words = F.size(w)
    best = _lang_best(lambda lang: _hits(text, LANG_STOPWORDS[lang]))
    return df.select(
        "doc_id",
        best["lang"].alias("detected_lang"),
        best["s"].cast("long").alias("stopword_hits"),
        n_words.cast("long").alias("n_words"),
        # try_divide: 0-word docs yield NULL ratios, not an ANSI job abort
        F.try_divide(_hits(text, LANG_STOPWORDS["en"]), n_words).alias(
            "stopword_ratio"
        ),
        F.try_divide(F.size(F.array_distinct(w)), n_words).alias("diversity"),
        F.when(n_words >= 20, 1).otherwise(0).alias("len_ok"),
        F.md5(normalize_text_col(text)).alias("fingerprint"),
    )


def quality_rule_flags(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_word_len_x10: int = 30,
    max_mean_word_len_x10: int = 100,
    max_dup_trigram_permille: int = 50,
    min_stopword_hits: int = 2,
    min_alpha_permille: int = 700,
) -> DataFrame:
    """Gopher/C4-style rule-based quality filtering: one row per document
    with the raw counters and a 0/1 flag per rule plus the combined
    ``keep``. Rules (each a published pretraining-filter heuristic):

    - word count within [min_words, max_words]
    - mean word length within [3.0, 10.0] (x10 fixed-point parameters)
    - duplicated word-trigram rate <= max permille (boilerplate/repetition)
    - at least ``min_stopword_hits`` function-word hits (gibberish guard)
    - >= ``min_alpha_permille`` of words purely alphabetic (symbol-soup
      guard)

    Every comparison is integer arithmetic on exact counters (mean word
    length as 10*chars vs threshold*words, rates as permille cross-
    multiplication) — no float thresholds, so the decision is bit-identical
    on every engine and the whole operator is oracle-able. One scan; the
    words array is bound ONCE (see shingles_col on why re-evaluating
    split inside a lambda is quadratic). The corpus is spread to the
    parallelism floor first (r11, guide §2.5): the rule expressions are
    per-row heavy (trigram transforms, array_distinct), and a single-
    row-group input would otherwise evaluate them all on one task; at
    scale the spread is a no-op and the operator remains shuffle-free."""
    b = spread_input(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.col(text).alias("_t"),
        words_col(text).alias("_w"),
    )
    e = _quality_exprs(
        "_w",
        "_t",
        min_words,
        max_words,
        min_mean_word_len_x10,
        max_mean_word_len_x10,
        max_dup_trigram_permille,
        min_stopword_hits,
        min_alpha_permille,
    )
    return b.select("doc_id", *[c.alias(name) for name, c in e.items()])


def _quality_exprs(
    w_name: str,
    text_col: str,
    min_words: int,
    max_words: int,
    min_mean_word_len_x10: int,
    max_mean_word_len_x10: int,
    max_dup_trigram_permille: int,
    min_stopword_hits: int,
    min_alpha_permille: int,
) -> dict[str, Column]:
    """The rule expressions over an already-BOUND words array column
    named ``w_name`` (never pass a raw split here — see shingles_col on
    quadratic re-evaluation inside lambdas)."""
    w = F.col(w_name)
    n = F.size(w).cast("long")
    # the three lambda HOFs below build as single SQL parses (r11, guide
    # §1.2 step 2): identical expression trees (same CAST(0 AS BIGINT)
    # zero, same try_element_at/concat_ws/rlike calls), ~60 ms less py4j
    # chatter per plan build. ``w`` is always the bound `_w` column here.
    ws = q_ident(w_name)
    total_chars = F.expr(
        f"aggregate({ws}, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))"
    )
    tri_sql = (
        f"transform(sequence(1, greatest(size({ws}) - 2, 1)), "
        f"i -> concat_ws(' ', try_element_at({ws}, i), "
        f"try_element_at({ws}, i + 1), try_element_at({ws}, i + 2)))"
    )
    n_tri = F.when(n >= 3, n - 2).otherwise(F.lit(0)).cast("long")
    n_dup = (
        F.when(
            n >= 3,
            (n - 2) - F.expr(f"size(array_distinct({tri_sql}))"),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    stop = _hits(text_col, LANG_STOPWORDS["en"]).cast("long")
    alpha = F.expr(
        f"size(filter({ws}, x -> x rlike '^[A-Za-z]+$'))"
    ).cast("long")
    len_ok = (n >= min_words) & (n <= max_words)
    word_len_ok = (10 * total_chars >= min_mean_word_len_x10 * n) & (
        10 * total_chars <= max_mean_word_len_x10 * n
    )
    repetition_ok = 1000 * n_dup <= max_dup_trigram_permille * n_tri
    stopword_ok = stop >= min_stopword_hits
    alpha_ok = 1000 * alpha >= min_alpha_permille * n
    return {
        "n_words": n,
        "total_chars": total_chars,
        "n_dup_trigrams": n_dup,
        "stopword_hits": stop,
        "n_alpha_words": alpha,
        "len_ok": len_ok.cast("int"),
        "word_len_ok": word_len_ok.cast("int"),
        "repetition_ok": repetition_ok.cast("int"),
        "stopword_ok": stopword_ok.cast("int"),
        "alpha_ok": alpha_ok.cast("int"),
        "keep": (
            len_ok & word_len_ok & repetition_ok & stopword_ok & alpha_ok
        ).cast("int"),
    }


def filter_quality(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_word_len_x10: int = 30,
    max_mean_word_len_x10: int = 100,
    max_dup_trigram_permille: int = 50,
    min_stopword_hits: int = 2,
    min_alpha_permille: int = 700,
) -> DataFrame:
    """Apply the quality rules as a FILTER: rows of ``df`` (all original
    columns) whose document passes every rule. A pure narrow filter — the
    words array is bound in a stacked projection, the keep decision is
    computed inline, and the temporaries dropped — so the operator costs no
    shuffle and pushes through any downstream join."""
    e = _quality_exprs(
        "_qw",
        text,
        min_words,
        max_words,
        min_mean_word_len_x10,
        max_mean_word_len_x10,
        max_dup_trigram_permille,
        min_stopword_hits,
        min_alpha_permille,
    )
    return (
        df.withColumn("_qw", words_col(text))
        .withColumn("_qkeep", e["keep"])
        .where(F.col("_qkeep") == 1)
        .drop("_qw", "_qkeep")
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 100,
    overlap: int = 20,
    text: str = "text",
) -> DataFrame:
    """Training-data / RAG chunking: split each document into overlapping
    word windows (one output row per chunk). Pure JVM array expressions —
    sequence of start offsets, slice, join — so chunking a 100 TB corpus is
    a narrow map stage (no shuffle, no Python).

    chunk_id is the window ordinal; n_words the actual (possibly short,
    tail) chunk length."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    step = chunk_size - overlap
    w = words_col(text)
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(w) - 1, F.lit(0)), F.lit(step)
    )
    exploded = df.select(
        "doc_id", w.alias("_w"), F.explode(starts).alias("_start")
    )
    chunk = F.slice(F.col("_w"), F.col("_start") + 1, chunk_size)
    return (
        exploded.select(
            "doc_id",
            (F.col("_start") / step).cast("long").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("long").alias("n_words"),
        )
        .where(F.col("n_words") > 0)
    )


#: PII patterns (redaction carriers; swap for production-grade lists).
#: Order matters: SSN before PHONE — the phone pattern (digits+dashes)
#: would otherwise consume SSN-shaped spans. The PHONE pattern requires
#: NANP-ish group shapes ([+cc-]3-4 or 3-3-4) rather than "any 8+ chars of
#: digits and dashes": the loose form redacted every ISO date (2025-04-19)
#: and invoice-number range in the corpus. No lookarounds — the DuckDB
#: oracle mirror runs on RE2, which has none.
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    (r"\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}\b", "[PHONE]"),
)


def redact_pii(df: DataFrame, text: str = "text", out: str = "redacted") -> DataFrame:
    """PII scrubbing for training-data curation: regex-redact emails, phone
    numbers and SSN-shaped spans to typed placeholder tokens. A chain of
    regexp_replace column expressions — whole-stage-codegen'd, linear."""
    c: Column = F.col(text)
    for pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return df.withColumn(out, c)


def repetition_score(df: DataFrame, text: str = "text") -> DataFrame:
    """Boilerplate/repetition detector (Gopher-style quality rule): the
    fraction of duplicated word trigrams, 1 − distinct/total, computed as a
    per-row array expression (no explode, no shuffle)."""
    w = words_col(text)
    # try_element_at, not element_at: for docs under 3 words the sequence
    # still emits index 1, and under ANSI mode (Spark 4 default) an
    # out-of-bounds element_at fails the whole job. NULL-on-miss matches the
    # DuckDB oracle's w[i] semantics (concat_ws skips NULLs on both engines).
    tri = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - 2, F.lit(1))),
        lambda i: F.concat_ws(
            " ",
            F.try_element_at(w, i),
            F.try_element_at(w, i + 1),
            F.try_element_at(w, i + 2),
        ),
    )
    # guard like _quality_exprs: under 3 words the sequence still emits one
    # fake (partial) trigram — report 0, not 1, so corpus trigram totals
    # don't overcount short docs
    n_tri = F.when(F.size(w) >= 3, F.size(tri)).otherwise(F.lit(0))
    score = F.when(
        n_tri > 0,
        1.0 - F.size(F.array_distinct(tri)) / n_tri,
    ).otherwise(F.lit(0.0))
    return df.select(
        "doc_id",
        n_tri.cast("long").alias("n_trigrams"),
        score.alias("repetition_ratio"),
    )


def tf_idf(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", use_log: bool = False
) -> DataFrame:
    """TF-IDF over whitespace terms. One explode + two aggregations — the
    standard two-shuffle shape (by (doc, term), then an equi-join back on
    term).

    The per-term document-frequency table is deliberately NOT broadcast-
    hinted: its cardinality is the corpus vocabulary, which at 100 TB is
    billions of terms — a mandatory broadcast OOMs every executor. The term
    join is a plain shuffle equi-join (both sides already hash-partitioned
    on term from the aggregations, so AQE typically elides one exchange) and
    AQE's size-based planning still broadcasts dfreq automatically whenever
    it is actually small. Only the single-row corpus-size aggregate keeps an
    explicit broadcast.

    LAZY: the corpus size N enters the plan as a broadcast single-row
    aggregate (no driver-side count() action — building the plan runs no
    job, and N is computed in the same execution as everything else).

    use_log=False keeps idf as the raw ratio (N+1)/(df+1): integer-exact
    division is bit-stable across engines (oracle-matchable), while log's
    last-ulp varies by libm. use_log=True applies ln for the classic
    weighting (rows-only checked)."""
    terms = df.select(
        F.col(id_col).alias("doc_id"), F.explode(words_col(text)).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = df.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    idf = (F.col("_n_docs") + 1.0) / (F.col("df") + 1)
    if use_log:
        idf = F.log(idf)
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * idf).alias("tfidf"),
        )
    )


def build_vocab(
    df: DataFrame, text: str = "text", min_count: int = 2, top_k: int = 256
) -> DataFrame:
    """Corpus vocabulary for tokenizer training prep: the ``top_k`` most
    frequent whitespace tokens with at least ``min_count`` occurrences,
    ranked by (count desc, term asc). Output ``(term, n, rank)``.

    Distributed shape: explode → one map-side-combining count aggregate →
    TakeOrderedAndProject top-k (never a global sort of the vocabulary —
    a 100 TB corpus has billions of distinct terms, but only k survive).
    The rank window runs AFTER the limit, over the k-row result: a
    single-partition window over ``top_k`` rows is a driver-bounded
    constant, not a scale term."""
    tok = df.select(F.explode(words_col(text)).alias("term")).where(
        F.col("term") != ""
    )
    counts = tok.groupBy("term").agg(F.count("*").alias("n"))
    top = (
        counts.where(F.col("n") >= min_count)
        .orderBy(F.col("n").desc(), "term")
        .limit(top_k)
    )
    # rank over the ≤top_k post-limit rows WITHOUT a global window (the
    # empty-partition WindowExec warns per task and single-partitions):
    # packed-array sort — collect_list → array_sort comparator →
    # posexplode, position + 1 = rank
    from big_data_project_spark.operators.relational import rank_bounded

    return rank_bounded(top, [("n", "desc"), ("term", "asc")])


def inverted_index(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_df_permille: int = 1000,
) -> DataFrame:
    """Positional inverted index build (the search/RAG index shape): one
    row per (term, doc) with term frequency and the 0-based position list
    (comma-joined string — the cross-engine value contract; a list column's
    rendering differs between engines). ``min_df`` drops hapaxes,
    ``max_df_permille`` drops stopwords by RELATIVE document frequency —
    the cap that keeps a 100 TB index build skew-safe: the hottest terms
    (the ones that would melt a posting-list reducer) are exactly the ones
    the cap excludes, and the df-filter runs on the already-aggregated
    (term, df) table, never on raw postings. Per-(term, doc) position
    lists are bounded by document length. Shape: one posexplode + two hash
    aggregates + one equi-join; the only broadcast is the single-row
    corpus count."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words_col(text)).alias("pos", "term"),
    )
    postings = toks.groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("tf"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("pos")), lambda x: x.cast("string")
            ),
        ).alias("positions"),
    )
    n_row = F.broadcast(docs.agg(F.count("*").alias("_n")))
    dfreq = (
        postings.groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
        .crossJoin(n_row)
        .where(
            (F.col("df") >= min_df)
            & (F.col("df") * 1000 <= F.lit(int(max_df_permille)) * F.col("_n"))
        )
        .select("term", "df")
    )
    return postings.join(dfreq, "term").select(
        "term", "doc_id", "tf", "positions", "df"
    )


def bm25_score_sql(k1: float = 1.2, b: float = 0.75) -> str:
    """The per-(doc, term) BM25 term-score expression over columns
    ``tf, df, dl, n_docs, sum_dl`` — ONE string used verbatim by both the
    Spark plan (F.expr) and the DuckDB oracle, so the float chain cannot
    drift between engines. The idf is the RATIO form (N+1)/(df+1) — the
    repo's oracle-stable idf (ln's last ULP varies by libm; see tf_idf):
    monotone in df like log-idf, so rankings agree where it matters. All
    literals are embedded via repr() so both parsers see the identical
    decimal string."""
    k1p1, k1r, br = repr(k1 + 1.0), repr(float(k1)), repr(float(b))
    return (
        f"((n_docs + CAST(1.0 AS DOUBLE)) / (df + CAST(1.0 AS DOUBLE)))"
        f" * ((tf * CAST({k1p1} AS DOUBLE))"
        f" / (tf + CAST({k1r} AS DOUBLE)"
        f" * (CAST(1.0 AS DOUBLE) - CAST({br} AS DOUBLE)"
        f" + CAST({br} AS DOUBLE) * dl / (CAST(sum_dl AS DOUBLE) / n_docs))))"
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 lexical top-k (ratio idf — see :func:`bm25_score_sql`):
    ``(doc_id, score)``, ordered by (score desc, doc_id), k rows.

    Scale shape: term frequencies are computed ONLY for the query's terms —
    the `isin` filter runs before any aggregation, so the shuffled volume
    is (matching docs × query length), not the corpus vocabulary; document
    lengths are one corpus-wide count aggregate (in production, a stored
    column maintained at ingest); corpus stats are a single broadcast row.
    The per-doc score folds term scores in term order — a bounded list
    (≤ query length), not a corpus-sized array. Top-k compiles to
    TakeOrderedAndProject."""
    if not query_terms:
        raise ValueError("bm25_topk requires at least one query term")
    # Optimization round 11 (guide §2.3/§2.4): the query's terms are plan
    # literals, so per-doc term frequencies are ARRAY EXPRESSIONS over one
    # tokenize — not an explode + three aggregates. The old shape ran the
    # scan+tokenize FOUR times (tfq, dl twice, stats) with 5 exchanges;
    # this shape reads the corpus twice (per-doc stats + the one-row
    # corpus-stats aggregate) with 1 exchange, and the per-doc side stays
    # a narrow map into TakeOrderedAndProject.
    #
    # Value equivalence with the old explode shape (oracle-hash-pinned by
    # tx_bm25 / pl_hybrid_retrieval):
    # - per-term score for an ABSENT term is exactly 0.0 (tf=0 zeroes the
    #   numerator), and `acc + 0.0` is an identity on the non-negative
    #   partial sums, so folding over ALL query terms in sorted order
    #   equals the old fold over the doc's present terms (array_sort on
    #   struct(term, ts) ordered by the term string; Python's sorted()
    #   and UTF8String both order by code point);
    # - candidate docs are exactly those with >= 1 matching term
    #   (greatest(tf…) > 0 mirrors the old semi-join through tfq);
    # - n_docs / sum_dl count docs with >= 1 token, as the old dl table
    #   did (explode emits no row for an empty array).
    terms = sorted({str(t) for t in query_terms})
    tf_cols = [f"_tf{i}" for i in range(len(terms))]

    # ONE corpus pass: explode (whole-stage codegen, unlike interpreted
    # array higher-order functions) into a doc-keyed aggregate carrying
    # document length plus one conditional count per query term. The
    # aggregate is map-side partial (per-partition one row per doc before
    # the shuffle). BOTH downstream branches (corpus stats, candidate
    # scoring) read the same aggregate subtree; its scan→spread→explode→
    # partial-agg prefix ends in an identical Exchange on both sides, so
    # exchange reuse executes the expensive prefix once — no lineage cut
    # (and its extra materialization job) needed. Aggregates are SQL
    # strings: one JVM-side parse each instead of per-Column py4j chatter.
    toks = spread_input(docs, id_col).select(
        F.col(id_col).alias("doc_id"), F.explode(words_col(text)).alias("term")
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.expr("CAST(count(*) AS BIGINT) AS dl"),
        *[
            F.expr(
                f"CAST(count(CASE WHEN term = {sql_str(t)} THEN 1 END)"
                f" AS BIGINT) AS {c}"
            )
            for c, t in zip(tf_cols, terms)
        ],
    )
    # corpus stats (n_docs / sum_dl / per-term df) derive from the SAME
    # per-doc table — no second corpus scan; a doc with zero tokens emits
    # no explode rows, so n_docs counts docs with >= 1 token exactly as
    # the old dl table did
    stats = F.broadcast(
        per_doc.agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_docs"),
            F.expr("CAST(sum(dl) AS BIGINT) AS sum_dl"),
            *[
                F.expr(
                    f"CAST(sum(CAST({c} > 0 AS BIGINT)) AS BIGINT) AS _df{i}"
                )
                for i, c in enumerate(tf_cols)
            ],
        )
    )
    cand = per_doc.where(
        F.expr(
            f"greatest({', '.join(tf_cols)}) > 0"
            if len(tf_cols) > 1
            else f"{tf_cols[0]} > 0"
        )
    )
    # the shared score template, re-bound per term (word-boundary swap of
    # the tf/df column names keeps the float chain byte-identical)
    score_sql = "CAST(0.0 AS DOUBLE)"
    for i in range(len(terms)):
        ts_i = re.sub(
            r"\bdf\b",
            f"_df{i}",
            re.sub(r"\btf\b", f"_tf{i}", bm25_score_sql(k1, b)),
        )
        score_sql = f"({score_sql} + {ts_i})"
    score = cand.crossJoin(stats).select(
        "doc_id", F.expr(score_sql).alias("score")
    )
    return score.orderBy(F.col("score").desc(), "doc_id").limit(k)


def extract_keywords(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document keyword extraction: the top-``k`` terms by TF-IDF
    (ratio idf — the engine's oracle-stable weighting), deterministically
    tie-broken by term. One rank window per document on top of the tf_idf
    shape; frame size is the document's distinct-term count, bounded by
    document length."""
    from pyspark.sql.window import Window

    scored = tf_idf(df, text=text, id_col=id_col)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tfidf")
    )


def collocations(
    df: DataFrame,
    text: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Corpus collocation extraction: top-``k`` adjacent word pairs by
    LIFT — N·c(a,b) / (c(a)·c(b)) — the association measure that, unlike
    PMI, needs no logarithm (its log is PMI, so the RANKING is identical)
    and therefore stays a single integer-product division: engine-exact.
    ``min_count`` drops noise pairs. Shape: one bigram explode + three
    count aggregates + two equi-joins on the unigram (AQE-decided — the
    unigram table is the vocabulary and must not be broadcast-hinted) +
    TakeOrderedAndProject."""
    w = words_col(text)
    # sequence(1, 0) DESCENDS in Spark and ANSI array indexing aborts on
    # out-of-bounds — docs with < 2 words must yield an EMPTY pair list
    bigrams = df.select(w.alias("w")).select(
        F.explode(
            F.expr(
                "transform(CASE WHEN size(w) >= 2 THEN sequence(1, size(w) - 1)"
                " ELSE CAST(array() AS array<int>) END,"
                " i -> struct(w[i - 1] AS a, w[i] AS b))"
            )
        ).alias("bg")
    ).select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    cab = bigrams.groupBy("a", "b").agg(F.count("*").cast("long").alias("c_ab"))
    uni = (
        df.select(F.explode(w).alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    n_row = F.broadcast(
        uni.agg(F.sum("c").cast("long").alias("_n"))
    )
    scored = (
        cab.where(F.col("c_ab") >= min_count)
        .join(uni.select(F.col("t").alias("a"), F.col("c").alias("c_a")), "a")
        .join(uni.select(F.col("t").alias("b"), F.col("c").alias("c_b")), "b")
        .crossJoin(n_row)
        .select(
            "a", "b", "c_ab",
            F.expr("CAST(c_ab * _n AS DOUBLE) / CAST(c_a * c_b AS DOUBLE)").alias(
                "lift"
            ),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "a", "b").limit(k)


def _bigrams_col(words_alias: str = "_w") -> Column:
    """Per-row adjacent word pairs as an array<struct<a,b>> over an
    already-projected words-array column named ``words_alias`` — empty
    (never failing) for docs under 2 words, ANSI-safe."""
    w = words_alias
    return F.expr(
        f"transform(CASE WHEN size({w}) >= 2 THEN sequence(1, size({w}) - 1)"
        f" ELSE CAST(array() AS array<int>) END,"
        f" i -> struct({w}[i - 1] AS a, {w}[i] AS b))"
    )


def train_lm_bigrams(df: DataFrame, text: str = "text") -> DataFrame:
    """Bigram language-model counts from a reference corpus:
    ``(a, b, c_ab, c_a)`` where c_a = occurrences of ``a`` as a bigram
    context (Σ_b c_ab), so c_ab/c_a is the conditional p(b|a).

    This is the count half of a CCNet-style fluency model (Wenzek et al.
    2020 score web text with a reference-corpus LM and keep the fluent
    band): train once on the trusted corpus, broadcast nothing — the model
    IS a table, joined by the scorer. Shape: one bigram explode + two
    map-side-combining counts + one equi-join on the context word; the
    model table is vocabulary-sized, so it is deliberately NOT
    broadcast-hinted (the TF-IDF lesson — AQE broadcasts it when small)."""
    bg = df.select(words_col(text).alias("_w")).select(
        F.explode(_bigrams_col()).alias("bg")
    ).select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    cab = bg.groupBy("a", "b").agg(F.count("*").cast("long").alias("c_ab"))
    ca = bg.groupBy("a").agg(F.count("*").cast("long").alias("c_a"))
    return cab.join(ca, "a")


def lm_fluency(
    df: DataFrame,
    lm: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a trained bigram LM — the quality signal
    CCNet derives from perplexity, in engine-exact integer form:

    - ``known_permille``: share of the doc's bigrams the LM has seen
      (coverage — low for gibberish/out-of-domain text);
    - ``mean_p_permille``: mean over the doc's bigrams of the conditional
      permille ``1000·c_ab div c_a`` (0 for unseen) — a monotone proxy of
      the add-zero-smoothed LM likelihood, kept in integers so the score
      is value-hashable (a float log-perplexity chain is not
      cross-engine-stable; the RANKING this produces is what the
      keep/drop band consumes).

    Docs with < 2 words get n_bigrams = 0 and NULL permilles (not a
    crash, not a fake score). Shape: bigram explode → one equi-join
    against the LM table on (a, b) → one groupBy(id) — all linear, skew
    bounded by hot bigrams which AQE splits."""
    bg = df.select(F.col(id_col), words_col(text).alias("_w")).select(
        id_col, F.explode_outer(_bigrams_col()).alias("bg")
    ).select(id_col, F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    j = bg.join(lm, ["a", "b"], "left").select(
        id_col,
        F.col("a").isNotNull().cast("long").alias("_is_bg"),
        F.coalesce(
            (F.lit(1000) * F.col("c_ab")).cast("long"), F.lit(0)
        ).alias("_num"),
        F.coalesce(F.col("c_a"), F.lit(1)).alias("_den"),
        (F.col("c_ab").isNotNull()).cast("long").alias("_known"),
    )
    per = j.groupBy(id_col).agg(
        F.sum("_is_bg").cast("long").alias("n_bigrams"),
        F.sum("_known").cast("long").alias("n_known"),
        F.sum(F.expr("_num div _den")).cast("long").alias("_psum"),
    )
    return per.select(
        id_col,
        "n_bigrams",
        "n_known",
        F.expr(
            "CASE WHEN n_bigrams > 0 THEN 1000 * n_known div n_bigrams END"
        ).cast("long").alias("known_permille"),
        F.expr(
            "CASE WHEN n_bigrams > 0 THEN _psum div n_bigrams END"
        ).cast("long").alias("mean_p_permille"),
    )


def feature_bucket(col: Column | str, n_buckets: int) -> Column:
    """md5-derived feature bucket in [0, n_buckets) — the vocabulary-free
    feature hashing trick (fastText/Vowpal): fixed-width feature space, no
    vocab table to build, ship, or grow. md5 (not xxhash64) so the bucket
    is engine-exact / oracle-mirrorable."""
    if isinstance(col, str):
        return F.expr(
            f"CAST(pmod(CAST(conv(substring(md5({q_ident(col)}), 1, 15), "
            f"16, 10) AS BIGINT), {int(n_buckets)}) AS BIGINT)"
        )
    h = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")
    return F.pmod(h, F.lit(n_buckets)).cast("long")


def train_hashed_classifier(
    df: DataFrame,
    label_col: str,
    text: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Distill a binary document label into hashed-unigram weights — the
    quality-classifier recipe (fastText-style model distilled from rules
    or LLM judgments, à la FineWeb-Edu) with naive-Bayes-ish training that
    is one aggregation pass and integer-exact:

    per bucket: ``w_milli = 1000·(n₁+1) div (n₀+n₁+2) − prior`` — the
    add-one-smoothed share of the bucket's token occurrences that come
    from label-1 documents, centered on the GLOBAL token-level label-1
    share (centering on 500 instead lets class imbalance push every
    weight positive and the scorer degenerates to always-predict-
    majority). Output ``(bucket, n0, n1, w_milli)`` — at most
    ``n_buckets`` rows, a genuinely broadcast-safe model (fixed width by
    construction, unlike a vocabulary)."""
    # selectExpr strings: one JVM parse per projection instead of ~40
    # Column-API py4j roundtrips (r11, guide §1.2 step 2); identical
    # expression trees, value-pinned by the tx_classifier oracle
    toks = df.selectExpr(
        f"CAST({q_ident(label_col)} AS BIGINT) AS _y",
        f"explode({words_sql(text)}) AS t",
    )
    per_bucket = (
        toks.groupBy(feature_bucket("t", n_buckets).alias("bucket"))
        .agg(
            F.expr("CAST(sum(1 - _y) AS BIGINT) AS n0"),
            F.expr("CAST(sum(_y) AS BIGINT) AS n1"),
        )
    )
    prior = F.broadcast(
        per_bucket.agg(
            F.expr(
                "CAST(1000 * (sum(n1) + 1) div (sum(n0) + sum(n1) + 2)"
                " AS BIGINT)"
            ).alias("_prior")
        )
    )
    return per_bucket.crossJoin(prior).select(
        "bucket", "n0", "n1",
        F.expr("1000 * (n1 + 1) div (n0 + n1 + 2) - _prior")
        .cast("long").alias("w_milli"),
    )


def classify_hashed(
    df: DataFrame,
    weights: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    threshold_milli: int = 0,
) -> DataFrame:
    """Inference for the hashed linear classifier: score = Σ over token
    occurrences of the token bucket's weight (unseen buckets 0), predicted
    = score > threshold. The model is broadcast (≤ n_buckets rows — safe
    by construction); scoring is a narrow explode + broadcast join + one
    groupBy(id): the 100 TB shape of every model-based quality gate."""
    toks = df.selectExpr(
        f"{q_ident(id_col)}", f"explode_outer({words_sql(text)}) AS t"
    ).withColumn("bucket", feature_bucket("t", n_buckets))
    # null token (empty doc) → null bucket → no match; left join keeps the row
    scored = toks.join(
        F.broadcast(weights.select("bucket", "w_milli")), "bucket", "left"
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.expr(
                "CAST(sum(CAST((t IS NOT NULL) AS BIGINT)) AS BIGINT)"
            ).alias("n_tokens"),
            F.expr("CAST(coalesce(sum(w_milli), 0) AS BIGINT)")
            .alias("score_milli"),
        )
        .selectExpr(
            f"{q_ident(id_col)}", "n_tokens", "score_milli",
            f"CAST((score_milli > {int(threshold_milli)}) AS INT)"
            " AS predicted",
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer: distributed training + merge-chain encoding
# ---------------------------------------------------------------------------

#: symbol-stream separator for the string-fold BPE representation. Words
#: containing \x01 would corrupt the stream — impossible for whitespace-split
#: tokens of text that treats control chars as noise; asserted nowhere hot.
BPE_SEP = "\x01"


def bpe_wrap(col: Column | str) -> Column:
    """Word → wrapped symbol stream: each character becomes ``\\x01c\\x01``,
    so a merge of (a, b) is exactly one non-regex string replace of
    ``\\x01a\\x01\\x01b\\x01`` — replace() scans left-to-right over
    non-overlapping occurrences, which IS classic BPE's greedy pass
    ('xxx' + merge (x,x) → [xx, x]). Same semantics in DuckDB's replace,
    so encodes are value-hashable."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "(.)", BPE_SEP + "$1" + BPE_SEP)


def bpe_apply_merges(col: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply a rank-ordered merge list to a wrapped symbol stream — one
    narrow string replace per merge, no Python in the hot path."""
    for a, b in merges:
        col = F.replace(
            col,
            F.lit(BPE_SEP + a + BPE_SEP + BPE_SEP + b + BPE_SEP),
            F.lit(BPE_SEP + a + b + BPE_SEP),
        )
    return col


def bpe_symbols(col: Column) -> Column:
    """Wrapped stream → symbol array."""
    return F.filter(F.split(col, BPE_SEP), lambda x: x != "")


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents with a trained (or fixed) merge list: whitespace
    pre-tokenization, then the per-word merge chain. Returns the
    ``(id_col, token)`` stream. Entirely narrow (explode + string ops) —
    the 100 TB cost is one map pass; the model is a literal in the plan."""
    words = df.select(F.col(id_col), F.explode(words_col(text)).alias("w"))
    toks = bpe_symbols(bpe_apply_merges(bpe_wrap("w"), merges))
    return words.select(id_col, F.explode(toks).alias("token"))


def train_bpe(
    df: DataFrame,
    text: str = "text",
    n_merges: int = 50,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Classic BPE training (Sennrich et al. 2016), distributed the way it
    scales: aggregate the corpus ONCE into (distinct word, count) — the
    only pass whose cost is corpus-sized — then iterate merges over the
    vocabulary table. Each iteration counts weighted adjacent symbol pairs
    (one small shuffle over distinct words) and takes the global argmax
    (count desc, then pair asc — deterministic tie-break); the driver holds
    only the merge list, i.e. the model. This is the standard trade: BPE
    training is inherently sequential in its merge choices, so the
    iteration count, not the corpus size, bounds the driver round-trips.

    Stops early when the best pair's count drops below ``min_pair_count``.
    Returns the rank-ordered merge list for :func:`bpe_encode`.

    The symbol stream is maintained INCREMENTALLY: after each chosen
    merge, one string replace advances the materialized
    (count, symbol-stream) vocabulary table and localCheckpoint truncates
    its lineage — so iteration k applies ONE merge, not a k-deep replace
    chain re-derived from the raw words (the round-5 residual: per-merge
    work and plan size both grew with the merge count; now each round is
    one constant-size replace + one pair-count shuffle over the
    vocabulary, byte-identical merge choices)."""
    cur = (
        df.select(F.explode(words_col(text)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select("cnt", bpe_wrap("w").alias("sym"))
        # LAZY cut (r12, VERDICT r11 #4): the vocabulary table's first
        # consumer is the iteration's top-1 collect, which materializes
        # the checkpoint inside its own job — an eager cut here was one
        # whole job per table for nothing. The second consumer (the next
        # round's replace) only builds AFTER that collect ran, so the
        # blocks always exist by then: single materialization, one job
        # fewer per merge round.
        .transform(lineage_cut)
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = cur.select(
            "cnt", bpe_symbols(F.col("sym")).alias("s")
        ).select(
            "cnt",
            F.explode(_bigrams_col("s")).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0].c < min_pair_count:
            break
        a, b = top[0].a, top[0].b
        merges.append((a, b))
        cur = cur.select(
            "cnt",
            F.replace(
                F.col("sym"),
                F.lit(BPE_SEP + a + BPE_SEP + BPE_SEP + b + BPE_SEP),
                F.lit(BPE_SEP + a + b + BPE_SEP),
            ).alias("sym"),
        ).transform(lineage_cut)  # lazy: next top-1 collect materializes it
    return merges


def stem_light(col: Column | str) -> Column:
    """Light suffix-stripping stemmer (S-stemmer + -ing/-ed, Harman 1991
    class): ies→y, sses→ss, plain plural -s (guarded against -ss/-us/-is),
    -ing/-ed with a ≥4-char stem guard so 'ring'/'red' survive. Chained
    regexp_replace — pure codegen, and the exact same POSIX patterns run
    in DuckDB, so stemmed output is value-hashable. A full Porter stemmer
    is a plugin concern; this is the deterministic carrier used for
    recall-oriented token normalization (vocab collapse, match keys)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, "ies$", "y")
    c = F.regexp_replace(c, "sses$", "ss")
    c = F.regexp_replace(c, "([^su])s$", "$1")
    c = F.regexp_replace(c, "(....+)ing$", "$1")
    c = F.regexp_replace(c, "(....+)ed$", "$1")
    return c


def stem_vocab(df: DataFrame, text: str = "text") -> DataFrame:
    """Stemmed-vocabulary histogram: explode → stem → count. The vocab
    collapse ratio (distinct stems vs distinct words) is the useful
    release metric; one shuffle."""
    toks = df.select(F.explode(words_col(text)).alias("t"))
    return (
        toks.select(stem_light("t").alias("stem"))
        .groupBy("stem")
        .agg(F.count("*").cast("long").alias("n"))
    )


def parse_srt(
    df: DataFrame, srt: str = "srt", id_col: str = "doc_id"
) -> DataFrame:
    """Parse SubRip (.srt) caption streams into one row per cue —
    ``(id, cue_index, start_ms, end_ms, text)`` — the caption half of
    video/caption training pairs.

    Pure Catalyst: split on blank lines → posexplode → one anchored
    regexp over each block (index line, ``HH:MM:SS,mmm --> HH:MM:SS,mmm``
    time line with either comma or dot millisecond separators and
    optional ``\\r``, then the cue text, which may span MULTIPLE lines).
    Malformed blocks (no arrow, unparsable index) are dropped, not
    errors — real SRT files carry BOM junk and stray blank blocks.
    Zero shuffles; the explode is the only row-count change."""
    ts = r"(\d{2}):(\d{2}):(\d{2})[,.](\d{3})"
    pat = rf"^\s*(\d+)\s*\r?\n{ts} --> {ts}\s*\r?\n([\s\S]*)$"

    def ms(base: int) -> Column:
        return (
            F.regexp_extract("_blk", pat, base).cast("long") * 3600000
            + F.regexp_extract("_blk", pat, base + 1).cast("long") * 60000
            + F.regexp_extract("_blk", pat, base + 2).cast("long") * 1000
            + F.regexp_extract("_blk", pat, base + 3).cast("long")
        )

    blocks = df.select(
        id_col,
        F.posexplode(F.split(F.col(srt), r"\r?\n\r?\n+")).alias("_pos", "_blk"),
    ).where(F.col("_blk").rlike("-->"))
    return (
        blocks.select(
            id_col,
            F.nullif(F.regexp_extract("_blk", pat, 1), F.lit(""))
            .cast("int")
            .alias("cue_index"),
            ms(2).alias("start_ms"),
            ms(6).alias("end_ms"),
            F.regexp_replace(
                F.regexp_extract("_blk", pat, 10), r"[\r\n]+$", ""
            ).alias("text"),
        )
        .where(F.col("cue_index").isNotNull())
    )


def parse_vtt(
    df: DataFrame, vtt: str = "vtt", id_col: str = "doc_id"
) -> DataFrame:
    """Parse WebVTT caption streams — the web twin of :func:`parse_srt`:
    one row per cue, ``(id, cue_ord, cue_id, start_ms, end_ms, text)``.

    VTT differences handled: the ``WEBVTT`` header block, OPTIONAL cue
    identifier line, OPTIONAL hours field (``MM:SS.mmm`` is legal), DOT
    millisecond separator, and settings after the end time (``align:...``
    — ignored, not fatal). ``cue_ord`` numbers the cues of each document
    in source order (row_number per doc — the one exchange). Blocks
    without an arrow (headers, NOTE comments) are dropped."""
    from pyspark.sql.window import Window

    ts = r"(?:(\d{2,}):)?(\d{2}):(\d{2})\.(\d{3})"
    pat = (
        rf"^\s*(?:([^\r\n]*?)\s*\r?\n)??{ts}[ \t]+-->[ \t]+{ts}"
        rf"[^\r\n]*\r?\n?([\s\S]*)$"
    )

    def ms(base: int) -> Column:
        return (
            F.coalesce(
                F.nullif(F.regexp_extract("_blk", pat, base), F.lit("")),
                F.lit("0"),
            ).cast("long")
            * 3600000
            + F.regexp_extract("_blk", pat, base + 1).cast("long") * 60000
            + F.regexp_extract("_blk", pat, base + 2).cast("long") * 1000
            + F.regexp_extract("_blk", pat, base + 3).cast("long")
        )

    blocks = df.select(
        id_col,
        F.posexplode(F.split(F.col(vtt), r"\r?\n\r?\n+")).alias("_pos", "_blk"),
    ).where(F.col("_blk").rlike("-->"))
    cues = blocks.select(
        id_col,
        F.col("_pos"),
        F.nullif(F.regexp_extract("_blk", pat, 1), F.lit("")).alias("cue_id"),
        ms(2).alias("start_ms"),
        ms(6).alias("end_ms"),
        F.regexp_replace(
            F.regexp_extract("_blk", pat, 10), r"[\r\n]+$", ""
        ).alias("text"),
    ).where(F.col("end_ms") > 0)
    w = Window.partitionBy(id_col).orderBy("_pos")
    return cues.select(
        id_col,
        F.row_number().over(w).alias("cue_ord"),
        "cue_id",
        "start_ms",
        "end_ms",
        "text",
    )
