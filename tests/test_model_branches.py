"""MODEL-branch execution under test (VERDICT r3 item 1).

The real wheels (sentence-transformers / transformers / spark-nlp) are
absent here and installs are prohibited, so the model branches were the
one repeatedly-unexercised surface. These tests run THE SAME code paths —
mapInPandas batching, Arrow transfer, per-worker-process handle caching,
the pipeline-invocation plumbing — by injecting fake model handles
through the plugins' loader seams. The only line not executed is the
literal ``import sentence_transformers`` / ``from transformers import
pipeline`` (still covered by the env-gated smoke tests in
test_rag_multimodal.py when the wheels exist). See COVERAGE.md
§model-branches for the environment record.
"""

from __future__ import annotations

import os
import uuid

import pytest

from big_data_project_spark import plugins
from big_data_project_spark.operators import rag


def test_cached_handle_loads_once_and_reuses():
    calls = []

    def loader():
        calls.append(1)
        return object()

    key = ("test", uuid.uuid4().hex)
    a = plugins._cached_handle(key, loader)
    b = plugins._cached_handle(key, loader)
    assert a is b
    assert len(calls) == 1


def test_embedder_model_branch_runs_on_executors(spark):
    """The injected model's .encode drives the SAME mapInPandas closure as
    real sentence-transformers: batched texts in, one vector per row out,
    Arrow float arrays back — verified by value on a multi-partition df."""

    class FakeST:
        dim = 4

        def encode(self, texts):
            # deterministic, text-dependent — proves the values really
            # came through the model path, not the hash fallback
            return [
                [float(len(t)), float(t.count("a")), 1.5, -0.5] for t in texts
            ]

    emb = plugins.Embedder(
        model_name=f"fake-{uuid.uuid4().hex}", dim=4, model_loader=FakeST
    )
    assert emb.available()
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "bb"), (3, None)], "doc_id long, text string"
    ).repartition(3)
    rows = {r.doc_id: r.embedding for r in emb.transform(df).collect()}
    assert rows[1] == [5.0, 2.0, 1.5, -0.5]
    assert rows[2] == [2.0, 0.0, 1.5, -0.5]
    assert rows[3] == [0.0, 0.0, 1.5, -0.5]  # None → fillna("") batching


def test_embedder_handle_cached_once_per_worker_process(spark, tmp_path):
    """The load-once-per-process contract: over many tasks and two actions,
    each Python worker pid loads the model at most once (worker reuse then
    serves every later task from plugins._MODEL_HANDLES). This is the
    property that kills the reference's reload-per-query cost (py:479)."""
    marker = str(tmp_path / "loads.txt")

    def loader():
        with open(marker, "a") as fh:
            fh.write(f"{os.getpid()}\n")

        class M:
            def encode(self, texts):
                return [[1.0, 2.0] for _ in texts]

        return M()

    emb = plugins.Embedder(
        model_name=f"fake-{uuid.uuid4().hex}", dim=2, model_loader=loader
    )
    df = spark.range(0, 64, 1, 8).selectExpr(
        "id as doc_id", "cast(id as string) as text"
    )
    out = emb.transform(df)
    assert out.count() == 64
    assert out.count() == 64  # second action: reused workers must NOT reload
    pids = open(marker).read().split()
    assert pids, "model branch never executed"
    assert len(pids) == len(set(pids)), f"a worker process reloaded: {pids}"


def test_generator_injected_pipeline_cached_driver_side():
    calls = []

    def fake_pipeline():
        calls.append(1)
        return lambda prompt: [{"generated_text": f"gen:{prompt[:12]}"}]

    gen = plugins.Generator(
        model_name=f"fake-{uuid.uuid4().hex}", pipeline_loader=fake_pipeline
    )
    assert gen.available()
    a = gen.generate("Context:\nsome context\n\nQuestion: q1")
    b = gen.generate("Context:\nother context\n\nQuestion: q2")
    assert a == "gen:Context:\nsom" and b.startswith("gen:")
    assert len(calls) == 1, "cached handle must not reload per generate()"


def test_generator_cache_keyed_by_model_params():
    def mk(tag):
        def loader():
            return lambda p: [{"generated_text": tag}]

        return loader

    g1 = plugins.Generator(model_name="fake-key-a", pipeline_loader=mk("A"))
    g2 = plugins.Generator(model_name="fake-key-b", pipeline_loader=mk("B"))
    assert g1.generate("x") == "A"
    assert g2.generate("x") == "B"  # different key must not reuse A's handle


def test_generate_answers_model_branch_distributed(spark):
    """The R2 stage's MODEL branch end to end on executors: injected
    pipeline handle, Arrow-batched prompts, answers provably from the
    model (the extractive fallback could never produce the marker)."""

    def fake_pipeline():
        return lambda prompt: [{"generated_text": f"MODEL[{prompt.split()[0]}]"}]

    prompts = spark.createDataFrame(
        [(i, f"p{i} Context:\nctx\n\nQuestion: q{i}") for i in range(6)],
        "qid long, prompt string",
    ).repartition(3)
    out = rag.generate_answers(prompts, pipeline_loader=fake_pipeline)
    rows = {r.qid: r.answer for r in out.collect()}
    assert rows == {i: f"MODEL[p{i}]" for i in range(6)}


def test_generate_answers_fallback_unchanged(spark):
    """No loader → the deterministic extractive branch (the oracle-checked
    default) must stay bit-identical."""
    prompts = spark.createDataFrame(
        [(1, "Context:\n" + " ".join(f"w{i}" for i in range(40)) + "\n\nQuestion: q")],
        "qid long, prompt string",
    )
    row = rag.generate_answers(prompts).collect()[0]
    assert row.answer == " ".join(f"w{i}" for i in range(30))


def test_generate_answers_null_prompt_yields_null_answer(spark):
    """The extractive column expression maps a NULL prompt to a NULL answer
    (the Python-worker form of the rule raised on it)."""
    prompts = spark.createDataFrame([(1, None)], "qid long, prompt string")
    assert rag.generate_answers(prompts).collect()[0].answer is None


def test_default_generation_pipeline_loads_once_per_process(monkeypatch):
    """The default model branch resolves through plugins._cached_handle
    under one fixed key: two resolutions make one pipeline() call, and a
    load that raises is cached as absent (None), not retried per task."""
    import sys
    import types

    calls = []

    def fake_transformers(pipeline):
        mod = types.ModuleType("transformers")
        mod.pipeline = pipeline
        monkeypatch.setitem(sys.modules, "transformers", mod)
        monkeypatch.setattr(plugins, "_MODEL_HANDLES", {})
        calls.clear()

    def pipeline(task, model):
        calls.append((task, model))
        return lambda prompt: [{"generated_text": "model"}]

    fake_transformers(pipeline)
    first = plugins.generation_pipeline()
    assert plugins.generation_pipeline() is first
    assert first("p") == [{"generated_text": "model"}]
    assert calls == [("text2text-generation", "google/flan-t5-base")]

    def failing(task, model):
        calls.append((task, model))
        raise OSError("no weights offline")

    fake_transformers(failing)
    assert plugins.generation_pipeline() is None
    assert plugins.generation_pipeline() is None
    assert len(calls) == 1


def test_sparknlp_ner_injected_factory(spark):
    """The N1 model path's transform plumbing: the pipeline receives the
    df with the column RENAMED to `text` (the Spark NLP input contract)
    and its output is returned untouched."""
    from pyspark.sql import functions as F

    seen = {}

    class FakePipe:
        def transform(self, df):
            seen["cols"] = df.columns
            return df.withColumn("entities", F.lit("ORG"))

    ner = plugins.SparkNLPNer(pipeline_factory=FakePipe)
    assert ner.available()
    df = spark.createDataFrame([(1, "Apple hired")], "doc_id long, body string")
    out = ner.transform(df, text_col="body")
    assert seen["cols"] == ["doc_id", "text"]
    assert out.collect()[0].entities == "ORG"


def test_sparknlp_ner_without_factory_still_gates():
    ner = plugins.SparkNLPNer()
    if not ner.available():
        with pytest.raises(NotImplementedError, match="spark-nlp"):
            ner.transform(None)


def test_embedder_loader_identity_keys_worker_cache(spark):
    """Two Embedders with the SAME model_name/dim but different injected
    loaders must not share a worker-side handle (cache keys include the
    loader's cloudpickle content hash — review r4 finding)."""

    def mk(val):
        class M:
            def encode(self, texts):
                return [[float(val)] for _ in texts]

        def loader():
            return M()

        return loader

    df = spark.createDataFrame([(1, "t")], "doc_id long, text string").coalesce(1)
    e1 = plugins.Embedder(model_name="same-name", dim=1, model_loader=mk(1.0))
    e2 = plugins.Embedder(model_name="same-name", dim=1, model_loader=mk(2.0))
    assert e1.transform(df).collect()[0].embedding == [1.0]
    assert e2.transform(df).collect()[0].embedding == [2.0]
    # the SAME loader object keeps one token (stable across calls); any
    # separately-constructed loader gets its own slot (conservative —
    # cloudpickle's class tracker distinguishes per-definition classes)
    one = mk(3.0)
    assert plugins._loader_token(one) == plugins._loader_token(one)
    assert plugins._loader_token(mk(3.0)) != plugins._loader_token(mk(4.0))


def test_generator_same_params_distinct_loaders_not_conflated():
    def mk(tag):
        def loader():
            return lambda p: [{"generated_text": tag}]

        return loader

    g1 = plugins.Generator(model_name="shared-model", pipeline_loader=mk("A"))
    g2 = plugins.Generator(model_name="shared-model", pipeline_loader=mk("B"))
    assert g1.generate("x") == "A"
    assert g2.generate("x") == "B"


def test_generate_answers_distinct_lambdas_not_conflated(spark):
    """Two closures from the SAME source line with different captures must
    reach different cached handles (qualname-keying conflated them)."""
    prompts = spark.createDataFrame([(1, "p")], "qid long, prompt string").coalesce(1)
    answers = []
    for tag in ("m1", "m2"):
        out = rag.generate_answers(
            prompts,
            pipeline_loader=(lambda tag=tag: (lambda p: [{"generated_text": tag}])),
        )
        answers.append(out.collect()[0].answer)
    assert answers == ["m1", "m2"]


def test_perceptual_decoder_injected_fake_runs_on_executors(spark):
    """VERDICT r6 #4: the PerceptualDecoder seam's dispatch, Arrow batch
    iteration, schema, and segment-mean fold run end to end with an
    injected decoder — the exact closure the real ffmpeg path uses."""

    def loader():
        class _Fake:
            def decode(self, data):
                import hashlib

                h = hashlib.sha256(bytes(data)).digest()
                samples = [b / 255.0 * 2 - 1 for b in h]  # 32 deterministic
                return 16000, 1, samples

        return _Fake()

    df = spark.createDataFrame(
        [(1, bytearray(b"payload-a")), (2, bytearray(b"payload-b"))],
        "doc_id long, payload binary",
    )
    dec = plugins.PerceptualDecoder(dim=4, decoder_loader=loader)
    assert dec.available()
    out = dec.transform(df).orderBy("doc_id").collect()
    assert [f.name for f in dec.transform(df).schema.fields] == [
        "doc_id", "sample_rate", "n_channels", "n_samples", "features",
    ]
    assert [r.doc_id for r in out] == [1, 2]
    assert all(
        r.sample_rate == 16000 and r.n_channels == 1 and r.n_samples == 32
        and len(r.features) == 4
        for r in out
    )
    # deterministic: same payloads → same features across invocations
    again = dec.transform(df).orderBy("doc_id").collect()
    assert [r.features for r in again] == [r.features for r in out]
    # distinct payloads → distinct features (the fold is not a constant)
    assert out[0].features != out[1].features


def test_perceptual_decoder_gates_without_binary_or_loader():
    """No ffmpeg in this container and no injected loader: available() is
    False and transform() raises the documented NotImplementedError —
    never a silent fake."""
    dec = plugins.PerceptualDecoder(binary="definitely-not-a-binary")
    assert not dec.available()
    with pytest.raises(NotImplementedError, match="perceptual decoder"):
        dec.transform(None)


def test_perceptual_decoder_decode_error_propagates(spark):
    """A decoder failure on one payload fails the job loudly (strict-codec
    discipline: refuse, don't resync/skip)."""

    def loader():
        class _Boom:
            def decode(self, data):
                raise ValueError("corrupt stream")

        return _Boom()

    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id long, payload binary")
    with pytest.raises(Exception, match="corrupt stream"):
        plugins.PerceptualDecoder(decoder_loader=loader).transform(df).collect()


def test_ffmpeg_loader_gates_on_worker_without_binary():
    """The real-path loader probes the binary on the WORKER (a driver
    without ffmpeg can still submit to a cluster whose workers have it);
    with no binary anywhere it raises the documented NotImplementedError
    at load time, not a cryptic subprocess failure."""
    loader = plugins._ffmpeg_pcm_loader("definitely-not-a-binary", 16000)
    with pytest.raises(NotImplementedError, match="perceptual decode"):
        loader()
