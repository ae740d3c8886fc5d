"""Seeded inputs for the benchmark workloads, and the oracles that check
the engine's outputs on them.

The base tables come from the repository's own deterministic generator
(``tools/gen_testdata.py``) at the sf0.1 shape: among them 5,000 documents,
2,000 64-d embeddings, 100,000 events over 1,500 users and the TPC-H-style
tables the headline registry entries read. They are written once per
checkout under ``.bench_build/`` and never change with the seed.
Everything a workload feeds the engine on top of them is a pure function
of ``--seed``: the question set, the duplicated corpus and the event drops.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SF = 0.1


def table_dir(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def materialize_base(spark, build_dir: str) -> str:
    """Write the sf0.1-shaped base tables once; later runs reuse them.
    The write goes to a staging directory renamed into place, so a run that
    dies half way never leaves a partial table set behind."""
    out = os.path.join(build_dir, "sf0.1")
    if os.path.isdir(out):
        return out
    from tools.gen_testdata import gen

    stage = f"{out}.stage-{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):  # stdout carries only the result
        gen(spark, BASE_SF, stage, None)
    os.rename(stage, out)
    return out


def read_table(sf_dir: str, name: str) -> pd.DataFrame:
    return pq.read_table(table_dir(sf_dir, name)).to_pandas()


# ---------------------------------------------------------------------------
# rag_serving: questions
# ---------------------------------------------------------------------------

QUESTION_TEMPLATES = (
    "what do we know about vector {v}",
    "summarize the filings closest to item {v}",
    "which documents discuss the same topic as {v}",
    "give the market context for record {v}",
)


#: query jitter, as a share of the stored vector's RMS
JITTER = 0.05


def rag_questions(sf_dir: str, seed: int, n: int) -> list[dict]:
    """``n`` questions. Each query vector is a stored embedding plus seeded
    Gaussian jitter (``JITTER`` × the vector's RMS), so no query equals a
    stored row and top-k ties are vanishingly rare."""
    rng = np.random.default_rng(seed)
    emb = read_table(sf_dir, "embeddings").sort_values("vec_id")
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float32)
    picks = rng.choice(len(emb), size=n, replace=False)
    out = []
    for qid, row in enumerate(picks):
        base = vecs[row]
        rms = float(np.sqrt(np.mean(base.astype(np.float64) ** 2))) or 1.0
        q = (base + rng.normal(0.0, JITTER * rms, base.shape)).astype(np.float32)
        vid = int(emb["vec_id"].iloc[row])
        tmpl = QUESTION_TEMPLATES[int(rng.integers(len(QUESTION_TEMPLATES)))]
        out.append({"qid": qid, "question": tmpl.format(v=vid), "q": q.tolist()})
    return out


def brute_force_topk(
    sf_dir: str, queries: list[list[float]], k: int
) -> list[list[tuple[int, float]]]:
    """Exact inner-product top-k in NumPy as ``(vec_id, score)`` pairs, ties
    broken by vec_id. Scores accumulate left to right in double (``cumsum``),
    the same order as the engine's ``aggregate(zip_with(...))`` inner
    product, so equal inputs give bit-equal scores."""
    emb = read_table(sf_dir, "embeddings")
    ids = emb["vec_id"].to_numpy()
    mat = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    out = []
    for q in queries:
        scores = np.cumsum(mat * np.asarray(q, dtype=np.float32).astype(np.float64), axis=1)[:, -1]
        order = np.lexsort((ids, -scores))[:k]
        out.append([(int(ids[j]), float(scores[j])) for j in order])
    return out


def _terms(s: str) -> list[str]:
    # Spark's split(trim(lower(s)), '\\s+'): trim strips only ' ', and
    # Java's \s is the ASCII whitespace class
    return re.split(r"\s+", s.lower().strip(" "), flags=re.ASCII)


#: characters of each document ``run_rag`` puts in the context (its default)
TRUNCATE = 1000


def rag_rows(sf_dir: str, questions: list[dict],
             topk: list[list[tuple[int, float]]]) -> dict[int, dict]:
    """The row ``rag.run_rag`` should return for each question, by qid, built
    from the brute-force hits: the context (snippets of the hit documents
    ordered by score desc, then text), the extractive answer (its first 30
    words, the generator's deterministic fallback) and the heuristic scores
    of that answer."""
    text = read_table(sf_dir, "documents").set_index("doc_id")["text"]
    out = {}
    for q, hits in zip(questions, topk):
        snippets = sorted((-score, text[v][:TRUNCATE]) for v, score in hits if v in text.index)
        context = "\n\n".join(t for _, t in snippets)
        answer = " ".join(context.split()[:30])
        qt, at, ct = set(_terms(q["question"])), set(_terms(answer)), set(_terms(context))
        accuracy = len(qt & ct) / len(qt)
        words, sentences = len(_terms(answer)), answer.count(".") + 1
        out[q["qid"]] = {
            "question": q["question"],
            "accuracy": accuracy,
            "accuracy_label": "High" if accuracy > 0.5 else "Low",
            "answer_words": words,
            "answer_sentences": sentences,
            "clarity_label": "High" if words < 100 and sentences > 1 else "Low",
            "grounding": len(at & ct) / len(at),
        }
    return out


# ---------------------------------------------------------------------------
# dedup_embed_etl: duplicated corpus
# ---------------------------------------------------------------------------

#: share of the planted copies that are verbatim; the rest are near-duplicates
EXACT_SHARE = 0.5


def dup_corpus(sf_dir: str, out_dir: str, seed: int, copies: int) -> int:
    """Write ``documents.parquet`` under ``out_dir``: every base document
    plus ``copies`` planted copies of seeded originals, ``EXACT_SHARE`` of
    them verbatim and the rest near-duplicates (about one word in twelve
    replaced by another word of the same document). Copies take fresh ids
    above the base range. Returns the document count."""
    rng = np.random.default_rng(seed)
    docs = read_table(sf_dir, "documents").sort_values("doc_id").reset_index(drop=True)
    next_id = int(docs["doc_id"].max()) + 1
    src = rng.integers(0, len(docs), copies)
    exact = rng.random(copies) < EXACT_SHARE
    rows = []
    for j, (i, is_exact) in enumerate(zip(src, exact)):
        text = docs.at[i, "text"]
        if not is_exact:
            words = text.split()
            for p in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[p] = words[int(rng.integers(len(words)))]
            text = " ".join(words)
        rows.append((next_id + j, text, docs.at[i, "lang"], docs.at[i, "source"], len(text)))
    planted = pd.DataFrame(rows, columns=docs.columns).astype(docs.dtypes.to_dict())
    corpus = pd.concat([docs, planted], ignore_index=True)
    os.makedirs(out_dir, exist_ok=True)
    corpus.to_parquet(table_dir(out_dir, "documents"), index=False)
    return len(corpus)


# ---------------------------------------------------------------------------
# upsert_stream: event drops
# ---------------------------------------------------------------------------

def event_drops(sf_dir: str, seed: int, n: int, size: int) -> list[pd.DataFrame]:
    """``n`` drops of ``size`` events each, at most one event per ``user_id``
    in a drop, sampled from the base events table."""
    rng = np.random.default_rng(seed)
    ev = read_table(sf_dir, "events").sort_values("event_id").reset_index(drop=True)
    ev["ts"] = pd.to_datetime(ev["ts"]).astype("datetime64[us]").dt.tz_localize("UTC")
    by_user = ev.groupby("user_id").indices
    users = np.array(sorted(by_user))
    drops = []
    for _ in range(n):
        chosen = rng.choice(users, size=size, replace=False)
        rows = [by_user[u][int(rng.integers(len(by_user[u])))] for u in chosen]
        drops.append(ev.iloc[rows].reset_index(drop=True))
    return drops


def write_drop(df: pd.DataFrame, watch_dir: str, name: str) -> None:
    """Publish one drop atomically: Spark's file source skips names that
    start with ``.``, so the file is written hidden and renamed into view."""
    tmp = os.path.join(watch_dir, f".{name}")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.rename(tmp, os.path.join(watch_dir, name))


def fold_last_write(drops: list[pd.DataFrame], key: str) -> pd.DataFrame:
    """Last-write-wins fold of the drops by ``key`` — the upsert oracle."""
    merged = pd.concat(drops, ignore_index=True).drop_duplicates(key, keep="last")
    return merged.sort_values(key).reset_index(drop=True)
