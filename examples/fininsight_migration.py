"""The reference program, re-run on the engine — a line-by-line migration.

Every top-level action of ``ai_powered_financial_analysis.py`` (the
FinInsight reference), in the same order, expressed as engine calls. Run it
offline:

    python examples/fininsight_migration.py [out_dir]

It reads the four input files from ``refdata.root()``: the reference's own
data files where its checkout exists (2,613 SEC records, 538 unified social
documents), else the committed seed-42 reference-shaped fixtures in
``big_data_project_spark/refdata`` (FIXTURES.md §B1-B3).

Mapping (reference line → engine call):

  py:10-31   fetch_cnbc_article_links + article fetch  → spark.read.format("cnbc_articles")
             (live mode needs network; this script uses the connector's
             fixture mode over the JSON captures under REF)
  py:99-122  fetch_subreddit_posts (PRAW)              → spark.read.format("reddit_posts")
  py:203-226 ingest_file (SEC csv)                     → pipelines.sec.ingest
  py:228-265 data_cleaning                             → pipelines.sec.clean
  py:267-294 metadata_extraction                       → pipelines.sec.extract_metadata
  py:296-311 data_storing + read-back verify           → pipelines.sec.store
  py:334-345 CNBC/Reddit union + clean_text            → pipelines.social (normalize_* + unify)
  py:354-375 document embedding (MiniLM or fallback)   → plugins.Embedder().transform
  py:377-444 search_similar (FAISS top-k)              → vector.knn_topk + knn_join_documents
  py:446-453 load_llm (flan-t5, cached)                → plugins.Generator (inside generate_answers)
  py:455-501 run_rag                                   → rag.run_rag
  py:579-628 evaluate_response + llm_evaluation.json   → rag.evaluate_response (inside run_rag)
                                                          + io.write_json

Offline determinism: without sentence-transformers/transformers the
embedder and generator use their deterministic fallbacks (hash-embed,
extractive answer) — same code path the oracle suite hash-verifies.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from big_data_project_spark import io, plugins, refdata
from big_data_project_spark.operators import rag, vector
from big_data_project_spark.pipelines import sec, social
from big_data_project_spark.session import get_spark
from big_data_project_spark.sources import register_connectors

REF = refdata.root()
QUESTION = "What are the risks of Amazon's $15B warehouse expansion?"


def main(out_dir: str, spark=None) -> None:
    # getOrCreate can return a caller's live session (a notebook, the test
    # harness). spark=None therefore does NOT imply ownership — only stop
    # when no session existed anywhere in the process before this call.
    # getActiveSession alone is THREAD-local (None from a worker thread
    # even while the caller's session lives), so also check the
    # process-global instantiated session.
    from pyspark.sql import SparkSession

    own_session = (
        spark is None
        and SparkSession.getActiveSession() is None
        and getattr(SparkSession, "_instantiatedSession", None) is None
    )
    if spark is None:
        spark = get_spark(app_name="fininsight-migration")
    try:
        _run(spark, out_dir)
    finally:
        if own_session:
            spark.stop()


def _run(spark, out_dir: str) -> None:
    register_connectors(spark)

    # --- SEC filings: ingest → clean → metadata → store (py:203-311) ---
    filings = sec.extract_metadata(sec.clean(sec.ingest(spark, f"{REF}/SEC_filings.csv")))
    n = sec.store(spark, filings, f"{out_dir}/sec_filings")
    print(f"SEC filings stored: {n} rows")

    # --- CNBC + Reddit via the connector formats (py:10-174, 334-345) ---
    cnbc = social.normalize_cnbc(
        spark.read.format("cnbc_articles")
        .option("path", f"{REF}/CNBC_financial_news_1.json,{REF}/CNBC_financial_articles_2.json")
        .load()
    )
    reddit = social.normalize_reddit(
        spark.read.format("reddit_posts").option("path", f"{REF}/reddit_posts.json").load()
    )
    docs = social.unify(cnbc, reddit)
    io.write_parquet(docs, f"{out_dir}/documents")
    docs = io.read_parquet(spark, f"{out_dir}/documents")
    print(f"social documents: {docs.count()} rows")

    # --- embed the corpus (py:354-375) ---
    embedder = plugins.Embedder()  # MiniLM if available, hash-embed offline
    emb = (
        embedder.transform(docs)
        .select(
            F.col("doc_id").alias("vec_id"),
            F.col("source").alias("label"),
            "embedding",
        )
    )
    io.write_parquet(emb, f"{out_dir}/embeddings")
    emb = io.read_parquet(spark, f"{out_dir}/embeddings")

    # --- search_similar(query, k=3) (py:377-444) ---
    qdf = io.from_rows(spark, [(QUESTION,)], "text string")
    q = embedder.transform(qdf).select(F.col("embedding").alias("q"))
    hits = vector.knn_topk(emb, q, k=3, metric="ip")
    top = vector.knn_join_documents(hits, docs, truncate=100)
    print("top-3 similar documents:")
    for r in top.orderBy(F.col("score").desc()).collect():
        print(f"  vec_id={r.vec_id} score={r.score:.4f} {r.snippet[:60]!r}...")

    # --- run_rag + evaluate (py:455-628) ---
    # cache: the RAG DAG spans retrieval + generation (a column expression,
    # or a mapInPandas model stage when transformers is present) — without
    # it the write and the collect below would each run the whole pipeline
    # (and, with a model, generate twice)
    result = rag.run_rag(emb, docs, q, QUESTION, k=7).cache()
    io.write_json(result, f"{out_dir}/llm_evaluation")
    row = result.collect()[0]
    result.unpersist()
    print(f"question : {row.question}")
    print(
        "evaluation: accuracy={} ({:.2f}) clarity={} ({} words/{} sentences) "
        "grounding={:.2f}".format(
            row.accuracy_label,
            row.accuracy,
            row.clarity_label,
            row.answer_words,
            row.answer_sentences,
            row.grounding,
        )
    )
    print(f"evaluation saved to {out_dir}/llm_evaluation")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="fininsight_"))
