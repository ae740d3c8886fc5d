"""Optional ML plugins (SURVEY §7: heavy deps behind interfaces).

The deterministic engine never imports these at module load; every plugin
degrades to a clearly-marked deterministic fallback so the core suite runs
on vanilla pyspark. Reference parity:

- Embedder            ↔ SentenceTransformers all-MiniLM-L6-v2 (py:354-375)
- Generator           ↔ flan-t5-base via LangChain (py:446-453) — with the
                        model handle CACHED, fixing the reload-per-query
                        defect (py:479,703) that dominates baseline latency.
- SparkNLP NER        ↔ PretrainedPipeline('recognize_entities_dl')
                        (py:348-352)

All inference runs through mapInPandas/pandas UDFs (Arrow batches), never
row-at-a-time Python UDFs."""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hash_embed(text: str, dim: int = 16) -> list[float]:
    """Deterministic fallback embedder (FIXTURES.md B4): per-dimension
    sha256(text||i) → float in [-1, 1]. Stable across processes — usable in
    golden tests where a real model would not be."""
    out = []
    for i in range(dim):
        h = hashlib.sha256(f"{text}\x00{i}".encode()).digest()
        v = int.from_bytes(h[:8], "big") / float(1 << 63) - 1.0
        out.append(v)
    n = math.sqrt(sum(x * x for x in out)) or 1.0
    return [x / n for x in out]


def hash_embed_cols(text_col, dim: int):
    """Catalyst (JVM-codegen) form of :func:`hash_embed`: the raw
    per-dimension column and the L2 norm column, bit-identical to the
    Python chain (optimization round 11, guide §4.1 — prefer built-ins
    over the Python boundary).

    Why each step is exactly the Python value:
    - ``sha2(concat(text, '\\x00', i), 256)`` hashes the same UTF-8 bytes
      as ``sha256(f"{text}\\x00{i}".encode())``;
    - ``conv(substring(hex, 1, 16), 16, 10)`` is the unsigned 64-bit value
      of the first 8 digest bytes (= ``int.from_bytes(h[:8], "big")``),
      rendered in decimal; casting that decimal string to double is
      correctly rounded (Java parseDouble), and Python's ``int / float``
      is the correctly rounded quotient — division by 2**63 is an exact
      exponent shift, so the two routes agree for every digest;
    - the norm is the same left fold ``0.0 + x₀² + x₁² + …`` (Python's
      ``sum`` starts at 0), and ``or 1.0`` only fires at exactly 0.0.

    Pinned bit-identical against the Python reference in
    tests/test_rag_multimodal.py (and by every e*/pl_* oracle hash).

    Each returned piece is ONE ``F.expr`` SQL string, not a Column-API
    chain: every higher-order-function lambda built through the Column
    API costs ~20 ms of py4j roundtrips at plan-build time (r11 cProfile
    of pl_hybrid_retrieval: 3,000 roundtrips/build), while a SQL string
    is parsed JVM-side in one call — the same driver-chatter rule the
    MinHash aggregate documents (registry minhash note). ``CAST(X'00' AS
    STRING)`` is the NUL separator (binary→string cast is UTF-8 decode);
    2**63 as ``9.223372036854775808E18`` parses exactly."""
    col = str(text_col)
    comp = (
        f"CAST(conv(substring(sha2(concat(coalesce(CAST(`{col}` AS STRING),"
        " ''), CAST(X'00' AS STRING), CAST(i AS STRING)), 256), 1, 16),"
        " 16, 10) AS DOUBLE) / 9.223372036854775808E18"
        " - CAST(1.0 AS DOUBLE)"
    )
    raw = F.expr(f"transform(sequence(0, {int(dim) - 1}), i -> {comp})")

    def _norm(raw_col_name: str):
        n = (
            f"sqrt(aggregate(`{raw_col_name}`, CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + x * x))"
        )
        return F.expr(
            f"CASE WHEN {n} = 0.0 THEN CAST(1.0 AS DOUBLE) ELSE {n} END"
        )

    return raw, _norm


#: Per-Python-worker model-handle cache. Worker processes are REUSED across
#: tasks (spark.python.worker.reuse, default true), so a handle loaded once
#: per process serves every subsequent task — the property that makes model
#: inference affordable (the reference reloads flan-t5 per query, py:479).
#: Keyed by (kind, model identity); see _cached_handle.
_MODEL_HANDLES: dict = {}


def _loader_token(loader) -> str:
    """Content identity for an injected zero-arg loader: sha256 of its
    cloudpickle bytes, computed DRIVER-side and ONCE per owner (a
    stateful closure's bytes drift as its captured state mutates — the
    token must be pinned at construction). Different captures — e.g.
    ``lambda: load(m)`` for two values of ``m`` — get distinct tokens;
    cloudpickle's class tracker also makes separately-defined identical
    loaders distinct, which is CONSERVATIVE: a duplicate load per worker,
    never a wrong shared handle. Keying a model cache by name alone would
    let different injected models silently share one."""
    from pyspark.serializers import CloudPickleSerializer

    return hashlib.sha256(
        CloudPickleSerializer().dumps(loader)
    ).hexdigest()[:16]


def _cached_handle(key, loader):
    """Load-once-per-process: return the cached handle for ``key`` or call
    ``loader()`` and cache it. Lives at module level so the cache survives
    across tasks on a reused worker (requires this package importable on
    the worker — true in local mode and in any --py-files/wheel deploy;
    Embedder falls back to a fresh load when it is not, and
    rag.generate_answers' model path ships the package first through
    bootstrap.ensure_worker_imports). A ``None`` handle
    (a load that failed and chose a fallback) is cached like any other, so
    a worker does not retry a failing load in every task."""
    if key not in _MODEL_HANDLES:
        _MODEL_HANDLES[key] = loader()
    return _MODEL_HANDLES[key]


class Embedder:
    """E1: batched document embedding as a mapInPandas stage.

    Tries sentence-transformers (all-MiniLM-L6-v2, dim 384 — py:354); when
    unavailable (no package / no network) falls back to hash_embed with the
    requested dim. ``Report.pdf §Methodology-3``: "Batch embedding was
    implemented using PySpark UDFs" — this is that, done Arrow-batched.

    ``model_loader`` injects the model construction: a zero-arg callable
    (pickled to executors by value) returning any object with
    ``.encode(list[str]) -> sequence of float-vectors``. This is both the
    bring-your-own-model seam (ONNX export, a custom tower, a quantized
    MiniLM) and what lets the MODEL branch — batching, Arrow transfer,
    per-process handle caching — run under test without the wheels
    (tests/test_model_branches.py)."""

    def __init__(
        self,
        model_name: str | None = "all-MiniLM-L6-v2",
        dim: int = 384,
        model_loader=None,
    ):
        #: ``model_name=None`` pins the deterministic hash-embed branch even
        #: when sentence-transformers is importable — the oracle entries
        #: depend on this (a model result is not engine-mirrorable).
        self.model_name = model_name
        self.dim = dim
        self.model_loader = model_loader
        self._loader_key = (
            _loader_token(model_loader) if model_loader is not None else "default"
        )

    def available(self) -> bool:
        if self.model_loader is not None:
            return self.model_name is not None
        if self.model_name is None:
            return False
        try:  # pragma: no cover - environment-dependent
            import sentence_transformers  # noqa: F401

            return True
        except ImportError:
            return False

    def transform(
        self, df: DataFrame, text_col: str = "text", out_col: str = "embedding"
    ) -> DataFrame:
        model_name, dim, loader = self.model_name, self.dim, self.model_loader
        use_model = self.available()
        # cache identity must include WHICH loader, not just the name —
        # two Embedders with the same model_name but different injected
        # loaders must not share a worker-side handle
        loader_key = self._loader_key
        # input-parallelism floor (r11, guide §2.5): embedding cost is per
        # row (dim× hash chain, or a model forward pass) — a single-row-
        # group input must not serialize it on one task. No-op for local
        # literal frames (query vectors) and at-scale splittable scans.
        from big_data_project_spark.plans.parallelism import spread_input

        df = spread_input(df)
        if not use_model:
            # Deterministic branch: the hash-embed chain is plain hashing
            # + float arithmetic, so it runs as JVM-codegen expressions —
            # no Python workers, no Arrow transfer, no row pickling
            # (guide §4.1: built-ins over UDFs). Bit-identical to the
            # mapInPandas closure it replaces (see hash_embed_cols); the
            # raw array and norm are materialized as intermediate columns
            # so the dim× sha256 chain is evaluated once, not once per
            # consumer (CollapseProject keeps multi-referenced non-cheap
            # aliases in their own project).
            raw, norm_of = hash_embed_cols(text_col, dim)
            return (
                df.withColumn("__he_raw", raw)
                .withColumn("__he_n", norm_of("__he_raw"))
                .withColumn(
                    out_col,
                    F.expr(
                        "transform(`__he_raw`,"
                        " x -> CAST(x / `__he_n` AS FLOAT))"
                    ),
                )
                .drop("__he_raw", "__he_n")
            )
        fields = df.schema.fields
        out_schema = T.StructType(
            list(fields) + [T.StructField(out_col, T.ArrayType(T.FloatType()))]
        )

        # worker closure must be self-contained: module-level functions
        # (like hash_embed) would pickle by reference and require this
        # package on the Python worker's path — not guaranteed.
        def embed_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import hashlib as _hl
            import math as _math

            def _hash_embed(text: str) -> list:
                vals = []
                for i in range(dim):
                    h = _hl.sha256(f"{text}\x00{i}".encode()).digest()
                    vals.append(int.from_bytes(h[:8], "big") / float(1 << 63) - 1.0)
                n = _math.sqrt(sum(x * x for x in vals)) or 1.0
                return [x / n for x in vals]

            model = None
            if use_model:

                def _load():
                    if loader is not None:
                        return loader()
                    # pragma: no cover - needs the package + weights
                    from sentence_transformers import SentenceTransformer

                    return SentenceTransformer(model_name)

                try:
                    from big_data_project_spark import plugins as _plug

                    model = _plug._cached_handle(
                        ("embedder", model_name, dim, loader_key), _load
                    )
                except ImportError:
                    # package absent on this worker's path: load fresh —
                    # correct, just without the cross-task cache
                    model = _load()
            for pdf in it:
                if model is not None:
                    vecs = model.encode(pdf[text_col].fillna("").tolist())
                    pdf[out_col] = [list(map(float, v)) for v in vecs]
                else:
                    pdf[out_col] = [
                        _hash_embed(t or "") for t in pdf[text_col].tolist()
                    ]
                yield pdf

        return df.mapInPandas(embed_batches, out_schema)


#: The extractive fallback's rule: the first ``_EXTRACT_WORDS`` whitespace
#: tokens of the prompt's context section, i.e. the text after the first
#: ``_CONTEXT_OPEN`` (the whole prompt when it is absent) and before the
#: first ``_CONTEXT_CLOSE`` after it. Both markers come from
#: rag.PROMPT_TEMPLATE and contain no regex metacharacters.
_CONTEXT_OPEN = "Context:\n"
_CONTEXT_CLOSE = "\n\nQuestion:"
_EXTRACT_WORDS = 30

#: Java-regex class of exactly Python's ``str.isspace`` code points (all 29;
#: Java's ``\s`` lacks \x1C-\x1F, \x85, \xA0 and the Unicode spaces), so
#: the SQL rule tokenizes as ``str.split()`` does.
_ISSPACE_CLASS = (
    r"[\t\n\x0B\f\r\x1C-\x1F \x85\xA0\u1680\u2000-\u200A\u2028\u2029"
    r"\u202F\u205F\u3000]"
)


def extractive_answer(prompt: str) -> str:
    """The deterministic extractive "generator": the first 30 words of the
    prompt's context section. Python copy of :func:`extractive_answer_sql`."""
    ctx = prompt.split(_CONTEXT_OPEN, 1)[-1].split(_CONTEXT_CLOSE, 1)[0]
    return " ".join(ctx.split()[:_EXTRACT_WORDS])


def extractive_answer_sql(prompt: str) -> str:
    """SQL text of :func:`extractive_answer` over the SQL expression
    ``prompt``, run JVM-side with no Python worker. ``split`` with limit 2
    cuts at the first marker as ``str.split(sep, 1)`` does, and the empty
    tokens that leading or trailing whitespace leave are filtered out, as
    ``str.split()`` drops them. A NULL prompt yields a NULL answer."""
    from big_data_project_spark.operators.text import sql_str

    ctx = (
        f"element_at(split(element_at(split({prompt}, {sql_str(_CONTEXT_OPEN)},"
        f" 2), -1), {sql_str(_CONTEXT_CLOSE)}, 2), 1)"
    )
    return (
        f"array_join(slice(filter(split({ctx}, {sql_str(_ISSPACE_CLASS + '+')},"
        f" -1), w -> w != ''), 1, {_EXTRACT_WORDS}), ' ')"
    )


def _load_default_generator():
    """flan-t5-base through transformers, or None when it cannot be loaded.
    Broad on purpose: transformers may import fine but fail to LOAD (no
    network for weights → OSError, missing torch backend, incompatible
    cache); any such failure means the extractive fallback."""
    try:
        from transformers import pipeline

        return pipeline("text2text-generation", model="google/flan-t5-base")
    except Exception:
        return None


def generation_pipeline(loader=None, loader_key: str | None = None):
    """The per-process text2text handle rag.generate_answers' worker closure
    uses: ``loader()``'s result cached under its content token, or the
    default flan-t5-base pipeline cached under a fixed key. None when the
    default could not load; that outcome is cached too."""
    if loader is None:
        return _cached_handle(("generator", "default"), _load_default_generator)
    return _cached_handle(("generator", loader_key), loader)


class Generator:
    """R2: pluggable text generation with a CACHED model handle.

    The reference reloads flan-t5-base inside run_rag on every query
    (py:479, py:703) — the dominant latency cost in BASELINE.md. Here the
    pipeline is loaded once per process and reused. Fallback: a deterministic
    extractive "generator" (:func:`extractive_answer`, the first 30 words of
    the context) so RAG plumbing is testable without torch."""

    _cached = None

    def __init__(
        self,
        model_name: str = "google/flan-t5-base",
        max_new_tokens: int = 200,
        pipeline_loader=None,
    ):
        self.model_name = model_name
        self.max_new_tokens = max_new_tokens
        #: injectable model construction: zero-arg callable returning a
        #: transformers-pipeline-shaped callable
        #: (``fn(prompt) -> [{"generated_text": str}]``). The
        #: bring-your-own-runtime seam (llama.cpp binding, an HTTP serving
        #: endpoint, a test fake) — cached exactly like the default.
        self.pipeline_loader = pipeline_loader
        self._loader_key = (
            _loader_token(pipeline_loader)
            if pipeline_loader is not None
            else "default"
        )

    def available(self) -> bool:
        if self.pipeline_loader is not None:
            return True
        try:  # pragma: no cover
            import transformers  # noqa: F401

            return True
        except ImportError:
            return False

    def _pipeline(self):
        # cache keyed by construction params AND loader identity: a second
        # Generator with a different model, token budget, or injected
        # runtime must not silently reuse the first's handle
        key = (self.model_name, self.max_new_tokens, self._loader_key)
        if Generator._cached is None or Generator._cached[0] != key:
            if self.pipeline_loader is not None:
                handle = self.pipeline_loader()
            else:  # pragma: no cover - needs torch + weights
                from transformers import pipeline

                handle = pipeline(
                    "text2text-generation",
                    model=self.model_name,
                    max_new_tokens=self.max_new_tokens,
                )
            Generator._cached = (key, handle)
        return Generator._cached[1]

    def generate(self, prompt: str) -> str:
        if self.available():
            return self._pipeline()(prompt)[0]["generated_text"]
        return extractive_answer(prompt)


class SparkNLPNer:
    """N1 model path: Spark NLP recognize_entities_dl (py:348-352).

    Requires the spark-nlp JVM package on the classpath; ``available()``
    gates it, and operators.text.ner_gazetteer/ner_regex are the
    deterministic carriers the oracle actually checks.

    ``pipeline_factory`` injects the pretrained-pipeline construction: a
    zero-arg callable returning an object with
    ``.transform(df) -> DataFrame`` — the plug-a-different-NER seam, and
    what lets the transform plumbing (column rename contract, pipeline
    invocation) run under test without the JVM package."""

    def __init__(self, pipeline_factory=None):
        self.pipeline_factory = pipeline_factory

    def available(self) -> bool:
        if self.pipeline_factory is not None:
            return True
        try:  # pragma: no cover - needs the JVM package
            import sparknlp  # noqa: F401

            return True
        except ImportError:
            return False

    def transform(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        if not self.available():
            raise NotImplementedError(
                "spark-nlp not on the classpath; use operators.text.ner_* "
                "deterministic carriers instead"
            )
        if self.pipeline_factory is not None:
            pipe = self.pipeline_factory()
        else:  # pragma: no cover - mirrors py:348-352 with a proper pipeline
            from sparknlp.pretrained import PretrainedPipeline

            pipe = PretrainedPipeline("recognize_entities_dl", lang="en")
        return pipe.transform(df.withColumnRenamed(text_col, "text"))


#: Output contract of PerceptualDecoder.transform — PCM-level audio (or
#: demuxed-video-audio) features for payloads the strict stdlib codecs
#: stop at. Mirrors multimodal.FEATURE_SCHEMA's shape discipline: typed
#: metadata + a fixed-dim feature vector, value-comparable across runs.
PCM_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def _ffmpeg_pcm_loader(binary: str, sample_rate: int):
    """Zero-arg loader (pickled by value to executors) producing a handle
    around a real ffmpeg binary: payload bytes in on stdin, mono s16le PCM
    at ``sample_rate`` out on stdout. Built lazily on the worker so a
    driver without the binary can still SUBMIT the job to a cluster whose
    workers have it."""

    def load():
        import shutil as _sh
        import struct as _st
        import subprocess as _sp

        path = _sh.which(binary)
        if path is None:
            raise NotImplementedError(
                f"perceptual decode needs the '{binary}' binary on the "
                "worker PATH (or an injected decoder_loader)"
            )

        class _FFmpegPCM:
            def decode(self, data: bytes):
                p = _sp.run(
                    [
                        path, "-v", "error", "-i", "pipe:0",
                        "-f", "s16le", "-acodec", "pcm_s16le",
                        "-ac", "1", "-ar", str(sample_rate), "pipe:1",
                    ],
                    input=bytes(data),
                    capture_output=True,
                )
                if p.returncode != 0:
                    raise ValueError(
                        "ffmpeg decode failed: "
                        + p.stderr.decode(errors="replace")[:300]
                    )
                n = len(p.stdout) // 2
                samples = [
                    s / 32768.0
                    for s in _st.unpack(f"<{n}h", p.stdout[: 2 * n])
                ]
                return sample_rate, 1, samples

        return _FFmpegPCM()

    return load


class PerceptualDecoder:
    """Perceptual-codec escape hatch (VERDICT r6 #4, "What's missing #2"):
    MP3/AAC PCM and H.26x sample decode genuinely need a licensed
    transform stack (Huffman tables + IMDCT synthesis / motion comp) that
    the strict stdlib codecs in operators/multimodal.py deliberately stop
    short of — their container walks (e.g. :func:`mp3_frame_index`) are
    exact, but sample reconstruction raises NotImplementedError. This
    plugin is that seam made pluggable, in the Embedder/Generator mold:

    - ``available()`` probes for an ffmpeg binary on PATH (the real path
      auto-activates the day a binary exists in the environment) or an
      injected ``decoder_loader``;
    - ``transform()`` is an Arrow-batched mapInPandas stage over a pruned
      (id, payload) projection — shuffle-free, schema-stable
      (:data:`PCM_FEATURE_SCHEMA`), per-worker handle caching via the
      same ``_MODEL_HANDLES`` discipline as model inference;
    - tests inject a deterministic fake decoder so the dispatch, schema,
      batch iteration, and feature fold run WITHOUT the binary
      (tests/test_model_branches.py pattern).

    ``decoder_loader``: zero-arg callable (pickled by value) returning an
    object with ``.decode(payload: bytes) -> (sample_rate, n_channels,
    samples: sequence of floats in [-1, 1])``. Features are ``dim``
    left-to-right segment means of the decoded signal — the same
    value-hashable fold :func:`operators.multimodal.decode_features`
    uses."""

    def __init__(
        self,
        binary: str = "ffmpeg",
        dim: int = 8,
        sample_rate: int = 16000,
        decoder_loader=None,
    ):
        self.binary = binary
        self.dim = dim
        self.sample_rate = sample_rate
        self.decoder_loader = decoder_loader
        self._loader_key = (
            _loader_token(decoder_loader)
            if decoder_loader is not None
            else f"ffmpeg:{binary}:{sample_rate}"
        )

    def available(self) -> bool:
        if self.decoder_loader is not None:
            return True
        import shutil

        return shutil.which(self.binary) is not None

    def transform(
        self, df: DataFrame, payload: str = "payload", id_col: str = "doc_id"
    ) -> DataFrame:
        from big_data_project_spark.operators.multimodal import _segment_means

        if not self.available():
            raise NotImplementedError(
                f"no perceptual decoder: '{self.binary}' not on PATH and no "
                "decoder_loader injected; strict container-level stats "
                "(mp3_frame_index/mp3_stats) remain available without it"
            )
        loader = self.decoder_loader or _ffmpeg_pcm_loader(
            self.binary, self.sample_rate
        )
        loader_key, dim = self._loader_key, self.dim
        pruned = df.select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(payload)
        )
        out_columns = [f.name for f in PCM_FEATURE_SCHEMA.fields]
        segment_means = _segment_means()  # factory-local => pickled by value

        # self-contained worker closure (cloudpickle by value) — the same
        # hostile-cwd discipline as decode_features/Embedder
        def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            handle = _cached_handle(("pcm", loader_key), loader)

            for pdf in it:
                rows = []
                for i, b in zip(pdf["doc_id"], pdf.iloc[:, 1]):
                    rate, n_ch, samples = handle.decode(bytes(b))
                    rows.append(
                        {
                            "doc_id": i,
                            "sample_rate": int(rate),
                            "n_channels": int(n_ch),
                            "n_samples": len(samples),
                            "features": segment_means(list(samples), dim),
                        }
                    )
                yield pd.DataFrame(rows, columns=out_columns)

        return pruned.mapInPandas(run, PCM_FEATURE_SCHEMA)
