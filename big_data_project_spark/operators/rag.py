"""RAG pipeline operators (SURVEY §2.6) — deterministic carriers.

The reference's RAG loop (py:455-484, py:560-577, py:688-707) is driver-side
LangChain: embed query → FAISS top-k → truncate(1000) → PromptTemplate →
flan-t5 → heuristic evaluation. Here the deterministic stages are DataFrame
column functions that run over *batches of queries*, and generation is a
pluggable interface (plugins.py) excluded from the oracle surface. The model
path (a mapInPandas stage) runs only when a pipeline loader is injected or
the driver can import transformers; otherwise generation is the extractive
fallback as a column expression, and a RAG plan runs no Python worker.

Retrieval itself is operators.vector (E2–E6); this module owns prompt
assembly (R1), the pipeline composition (R3 minus generation), and the
heuristic evaluator (R4)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_project_spark.operators.text import q_ident, sql_str

#: the reference's prompt shape (py:462-477): context docs joined by blank
#: lines, then the question.
PROMPT_TEMPLATE = (
    "Use the following context to answer the question.\n\n"
    "Context:\n{context}\n\nQuestion: {question}\n\nAnswer:"
)


def _prompt_sql(
    rank_col: str, text_col: str, descending: bool, question: str
) -> tuple[str, str]:
    """ONE copy of the context-assembly contract shared by the single and
    batched prompt builders, as SQL text that each caller's ``selectExpr``
    or ``agg`` parses once JVM-side (a Column-API lambda chain costs a py4j
    round trip per call at plan-build time): snippets ordered by a sortable
    (rank, text) struct array — deterministic regardless of input order —
    joined with blank lines, then the PROMPT_TEMPLATE segments (built from
    the exported constant so prompt text cannot drift from it) around the
    context and the SQL expression ``question``. Returns (context, prompt)."""
    rank = q_ident(rank_col) + (" * -1" if descending else "")
    ctx = (
        f"array_join(transform(array_sort(collect_list(struct({rank} AS r,"
        f" {q_ident(text_col)} AS t))), s -> s.t), {sql_str(chr(10) * 2)})"
    )
    pre, rest = PROMPT_TEMPLATE.split("{context}")
    mid, post = rest.split("{question}")
    prompt = (
        f"concat({sql_str(pre)}, {ctx}, {sql_str(mid)}, {question},"
        f" {sql_str(post)})"
    )
    return ctx, prompt


def assemble_prompt(
    hits: DataFrame,
    question: str,
    rank_col: str = "score",
    text_col: str = "snippet",
    descending: bool = True,
) -> DataFrame:
    """R1 (py:459-477): order the retrieved snippets, join with blank lines,
    fill the template. Output: single row (question, context, prompt).

    The question column is an aggregate of the literal, not the literal:
    a literal would be propagated into every projection above and
    constant-folded there (evaluate_response's question terms), giving
    each distinct question its own generated code and so one Janino
    compile per question. ``coalesce`` keeps the question on the row of
    an empty ``hits``."""
    q = sql_str(question)
    ctx, prompt = _prompt_sql(rank_col, text_col, descending, q)
    return hits.selectExpr(
        f"coalesce(any_value({q}), {q}) AS question",
        f"{ctx} AS context",
        f"{prompt} AS prompt",
    )


def assemble_prompts_batch(
    hits: DataFrame,
    key: str = "qid",
    question_col: str = "question",
    rank_col: str = "score",
    text_col: str = "snippet",
    descending: bool = True,
) -> DataFrame:
    """R1, batched: one prompt row per ``key`` — the SAME context-assembly
    contract as assemble_prompt (shared _prompt_sql), grouped instead of
    global, so N questions' prompts build in one aggregate over the joined
    hits."""
    ctx, prompt = _prompt_sql(rank_col, text_col, descending, q_ident(question_col))
    return hits.groupBy(key, question_col).agg(
        F.expr(f"{ctx} AS context"), F.expr(f"{prompt} AS prompt")
    )


def evaluate_response(
    df: DataFrame,
    question_col: str = "question",
    answer_col: str = "answer",
    context_col: str = "context",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """R4 (py:579-594): heuristic accuracy / clarity / grounding scores as
    column expressions, so evaluation runs over arbitrary batches of
    (question, answer, context) rows.

    - accuracy  : fraction of question terms present in the context
                  (> 0.5 ⇒ 'High', else 'Low')
    - clarity   : reference semantics (py:588-590): word count < 100 AND
                  sentence count > 1, where sentences = count('.') + 1
    - grounding : fraction of answer terms present in the context

    Built as ONE selectExpr parse (r12, guide §1.2 step 2 — the Column-API
    form cost ~0.7 s of py4j chatter per plan build, cProfile'd on
    r6_rag_batch): the SQL text reproduces the identical expression tree —
    same split/trim/lower terms, same int/int `/` (double division), `0.5D`
    double literal, 2-arg replace (delete '.') — so values are bit-identical;
    pinned by the r3/r4/r6 oracle hashes and the scoring unit tests."""
    q, a, c = q_ident(question_col), q_ident(answer_col), q_ident(context_col)

    def terms(ident: str) -> str:
        return f"split(trim(lower({ident})), '\\\\s+')"

    qt, at, ct = f"array_distinct({terms(q)})", f"array_distinct({terms(a)})", terms(c)
    acc = f"(size(array_intersect({qt}, {ct})) / size({qt}))"
    grd = f"(size(array_intersect({at}, {ct})) / size({at}))"
    nw = f"size({terms(a)})"
    ns = f"((length({a}) - length(replace({a}, '.'))) + 1)"
    return df.selectExpr(
        *[q_ident(k) for k in keep_cols],
        q,
        f"{acc} AS accuracy",
        f"CASE WHEN {acc} > 0.5D THEN 'High' ELSE 'Low' END AS accuracy_label",
        f"CAST({nw} AS BIGINT) AS answer_words",
        f"CAST({ns} AS BIGINT) AS answer_sentences",
        f"CASE WHEN ({nw} < 100) AND ({ns} > 1) THEN 'High' ELSE 'Low' END"
        " AS clarity_label",
        f"{grd} AS grounding",
    )


def run_retrieval(
    embeddings: DataFrame,
    documents: DataFrame,
    query: DataFrame,
    question: str,
    k: int = 7,
    truncate: int = 1000,
    metric: str = "ip",
) -> DataFrame:
    """R3 minus generation (py:455-484): retrieval → truncation → prompt.
    Returns the one-row prompt DataFrame; a generator plugin maps it to an
    answer (plugins.FlanT5Generator or any callable)."""
    from big_data_project_spark.operators import vector

    hits = vector.knn_topk(embeddings, query, k=k, metric=metric)
    docs = vector.knn_join_documents(hits, documents, truncate=truncate)
    # l2 scores are DISTANCES (lower = more relevant): sort ascending so
    # the best hit leads the prompt context, not the worst of the k
    return assemble_prompt(docs, question, descending=(metric != "l2"))


def generate_answers(
    prompts: DataFrame,
    prompt_col: str = "prompt",
    out_col: str = "answer",
    pipeline_loader=None,
) -> DataFrame:
    """R2 as a distributed stage: append ``out_col``, one answer per prompt.

    Without ``pipeline_loader``, and when the driver cannot import
    transformers, the answer is the deterministic extractive fallback (first
    30 words of the context section, plugins.extractive_answer) as ONE SQL
    column expression: no Python worker, so the composition is
    oracle-checkable and a RAG plan launches no Python task of its own. A
    NULL prompt yields a NULL answer on this path.

    Otherwise the MODEL path runs: mapInPandas over Arrow batches (N prompts
    cost one pass, vs the reference reloading flan-t5 per query,
    py:479/py:703). ``pipeline_loader`` (zero-arg callable, pickled by
    value, returning ``fn(prompt) -> [{"generated_text": str}]``) injects
    the model — the bring-your-own-runtime seam; without it each worker
    loads flan-t5-base through transformers. Either handle is cached once
    per worker process (plugins.generation_pipeline); a default model that
    fails to load is cached as absent, and its prompts get the extractive
    answer. The worker closure imports this package, so this path ships it
    to the workers first (bootstrap.ensure_worker_imports, once per
    context)."""
    import importlib.util

    from big_data_project_spark import plugins

    if pipeline_loader is None and importlib.util.find_spec("transformers") is None:
        answer = plugins.extractive_answer_sql(q_ident(prompt_col))
        return prompts.selectExpr("*", f"{answer} AS {q_ident(out_col)}")

    from pyspark.sql import types as T

    from big_data_project_spark import bootstrap

    bootstrap.ensure_worker_imports(prompts.sparkSession)
    out_schema = T.StructType(
        list(prompts.schema.fields) + [T.StructField(out_col, T.StringType())]
    )
    # loader identity = cloudpickle content hash, computed driver-side
    # (qualname would collide for distinct closures from one source line,
    # silently serving the wrong model from a reused worker)
    loader = pipeline_loader
    loader_key = None if loader is None else plugins._loader_token(loader)

    def gen_batches(it):
        from big_data_project_spark import plugins as _plug

        model = _plug.generation_pipeline(loader, loader_key)
        for pdf in it:
            if model is not None:
                pdf[out_col] = [
                    model(p)[0]["generated_text"] for p in pdf[prompt_col]
                ]
            else:
                pdf[out_col] = [_plug.extractive_answer(p) for p in pdf[prompt_col]]
            yield pdf

    return prompts.mapInPandas(gen_batches, out_schema)


def run_rag(
    embeddings: DataFrame,
    documents: DataFrame,
    query: DataFrame,
    question: str,
    k: int = 7,
    truncate: int = 1000,
    metric: str = "ip",
) -> DataFrame:
    """R3 full composition (py:688-707): retrieve → prompt → generate →
    evaluate, entirely as DataFrame stages (one row per question here; the
    same plan serves batches of questions via knn_topk_batch). Generation is
    generate_answers' default: the extractive column expression unless the
    driver can import transformers."""
    prompts = run_retrieval(
        embeddings, documents, query, question, k=k, truncate=truncate, metric=metric
    )
    answered = generate_answers(prompts)
    return evaluate_response(answered)


def run_rag_batch(
    embeddings: DataFrame,
    documents: DataFrame,
    queries: DataFrame,
    k: int = 7,
    truncate: int = 1000,
    metric: str = "ip",
) -> DataFrame:
    """R3, SERVING SHAPE: N questions through one plan. ``queries`` carries
    (qid, question, q). Retrieval is knn_topk_batch — the query set is
    broadcast, the embeddings table is scanned ONCE, per-question top-k is
    a window on qid — then prompts assemble in one grouped aggregate and
    generation answers all prompts in one pass (generate_answers). N questions
    cost one table scan + two keyed shuffles, vs the reference running its
    whole FAISS+flan-t5 loop once per question (py:688-707)."""
    from big_data_project_spark.operators import vector

    hits = vector.knn_topk_batch(
        embeddings, queries.select("qid", "q"), k=k, metric=metric
    )
    docs = vector.knn_join_documents(
        hits, documents, truncate=truncate, keep_cols=("qid",)
    ).join(queries.select("qid", "question"), "qid")
    prompts = assemble_prompts_batch(docs, descending=(metric != "l2"))
    answered = generate_answers(prompts)
    return evaluate_response(answered, keep_cols=("qid",))
