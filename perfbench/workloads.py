"""The benchmark's workloads. Each one is a closed loop with one client:
the next operation starts only after the previous one returned.

An operation is split into ``build`` (plan construction, timed as build
time) and ``act`` (the action that executes it). Outputs are kept and
checked by ``check`` after the timed window closes.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq

from big_data_project_spark import io, plugins, registry
from big_data_project_spark.operators import cleaning, dedup, rag, vector
from big_data_project_spark.plans.lineage import lineage_cut
from big_data_project_spark.streaming import ops
from perfbench import inputs


@dataclass
class Phase:
    name: str
    share: float  # share of the timed window
    build: object  # (i) -> built
    act: object  # (built) -> result
    keep: object  # (i, built, result, wall_s) -> None


class Workload:
    name = ""
    #: engine functions the traced run wraps in spans: (module path, attr, span name)
    traced_functions: tuple[tuple[str, str, str], ...] = ()
    #: per-layer metrics :meth:`layer_metrics` returns
    layer_metric_names: tuple[str, ...] = ()
    #: workloads a traced run of this one also drives, after its own window:
    #: they measure layers no workload of the benchmark reaches
    companions: tuple[type[Workload], ...] = ()

    def __init__(self, spark, base_dir: str, work_dir: str, seed: int, traced: bool = False):
        self.spark = spark
        self.base_dir = base_dir
        self.work_dir = work_dir
        self.seed = seed
        self.traced = traced
        os.makedirs(work_dir, exist_ok=True)

    def prepare(self) -> None:
        """Generate this seed's inputs and hand them to the engine."""

    def warmup(self) -> None:
        """Run every phase until operations stop speeding up; part of set-up."""
        for ph in self.phases():
            ph.act(ph.build(0))

    def phases(self) -> list[Phase]:
        raise NotImplementedError

    def result_frame(self, built):
        """The DataFrame an operation executed, for plan metrics, if any."""
        return None

    def check(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, messages) over every operation of the window."""
        raise NotImplementedError

    def layer_metrics(self, traced_ops: list[dict], tracer) -> dict[str, float]:
        """Workload-specific per-layer numbers for the traced run, named in
        ``layer_metric_names``."""
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# rag_serving
# ---------------------------------------------------------------------------

class RagServing(Workload):
    """Seeded questions through ``rag.run_rag`` one at a time; a traced run
    then sends the same question set through ``rag.run_rag_batch``, ``BATCH``
    questions per call."""

    name = "rag_serving"
    traced_functions = (
        ("big_data_project_spark.io", "load_table", "io.load_table"),
        ("big_data_project_spark.operators.vector", "knn_topk", "operators.vector.knn_topk"),
        ("big_data_project_spark.operators.vector", "knn_topk_batch",
         "operators.vector.knn_topk_batch"),
        ("big_data_project_spark.operators.vector", "knn_join_documents",
         "operators.vector.knn_join_documents"),
        ("big_data_project_spark.operators.rag", "run_rag", "operators.rag.run_rag"),
        ("big_data_project_spark.operators.rag", "run_rag_batch", "operators.rag.run_rag_batch"),
    )
    layer_metric_names = ("registry.build_s", "registry.build.py4j_calls")
    K = 7
    QUESTIONS = 64
    BATCH = 32
    # single-question latency keeps falling over the first questions of a
    # session; these rounds take most of that slope out of the window
    WARM_ROUNDS = 4

    def __init__(self, spark, base_dir, work_dir, seed, traced=False):
        super().__init__(spark, base_dir, work_dir, seed, traced)
        self.singles: list[tuple[int, list]] = []  # (qid, output rows)
        self.batches: list[tuple[list[int], list]] = []  # (qids, output rows)

    def prepare(self):
        self.questions = inputs.rag_questions(self.base_dir, self.seed, self.QUESTIONS)
        self.expected = inputs.brute_force_topk(
            self.base_dir, [q["q"] for q in self.questions], self.K
        )

    def _tables(self):
        return (io.load_table(self.spark, self.base_dir, "embeddings"),
                io.load_table(self.spark, self.base_dir, "documents"))

    def _query(self, q):
        return self.spark.createDataFrame([(q["q"],)], "q array<float>")

    def _queries(self, qs):
        return self.spark.createDataFrame(
            [(q["qid"], q["question"], q["q"]) for q in qs],
            "qid long, question string, q array<float>",
        )

    def _single_build(self, i):
        q = self.questions[i % len(self.questions)]
        emb, docs = self._tables()
        return q["qid"], rag.run_rag(emb, docs, self._query(q), q["question"], k=self.K)

    def _batch_build(self, i):
        n = len(self.questions)
        qs = [self.questions[(i * self.BATCH + j) % n] for j in range(self.BATCH)]
        emb, docs = self._tables()
        return [q["qid"] for q in qs], rag.run_rag_batch(emb, docs, self._queries(qs), k=self.K)

    @staticmethod
    def _act(built):
        return built[1].collect()

    def result_frame(self, built):
        return built[1]

    def warmup(self):
        for _ in range(self.WARM_ROUNDS):
            super().warmup()

    def phases(self):
        single = Phase("run_rag", 1.0, self._single_build, self._act,
                       lambda i, b, r, w: self.singles.append((b[0], r)))
        if not self.traced:
            return [single]
        # batch latency is bimodal run to run, so it is no bounded metric:
        # only the traced run takes the batch path, for its layers, with its
        # minimum of operations after the window
        return [single, Phase("run_rag_batch", 0.0, self._batch_build, self._act,
                              lambda i, b, r, w: self.batches.append((b[0], r)))]

    def retrieved(self, qids: list[int]) -> dict[int, list[int]]:
        """Top-k vec_ids of the given questions, by qid, from one
        ``vector.knn_topk_batch`` over the same tables and query vectors."""
        emb, _ = self._tables()
        by_qid = {q["qid"]: q for q in self.questions}
        queries = self._queries([by_qid[q] for q in qids]).select("qid", "q")
        hits: dict[int, list] = {}
        for r in vector.knn_topk_batch(emb, queries, k=self.K).collect():
            hits.setdefault(r.qid, []).append((-r.score, r.vec_id))
        return {qid: [v for _, v in sorted(h)] for qid, h in hits.items()}

    def layer_metrics(self, traced_ops, tracer):
        """Driver-side build of every headline registry entry, once each, at
        the base tables: the plan-construction layer the serving path shares
        with the registry's queries. Summed over the entries; each entry's own
        span is in the run record."""
        tracer.active = True
        first = len(tracer.spans)
        for name, q in registry.headline_queries().items():
            with tracer.span(f"registry.build.{name}", op=-2):
                q.build(self.spark, self.base_dir)
        tracer.active = False
        spans = [s for s in tracer.spans[first:] if s["name"].startswith("registry.build.")]
        return {"registry.build_s": sum(s["s"] for s in spans),
                "registry.build.py4j_calls": sum(s["py4j_calls"] for s in spans)}

    def check(self, expected=None):
        """Every collected row against the pandas oracle built from the
        brute-force top-k. The rows carry only the question and the scores of
        its answer, so each question's retrieved vec_ids are compared too, re-
        run for every question of the window in one batched top-k.
        ``expected`` replaces the brute-force top-k."""
        expected = expected or self.expected
        want = inputs.rag_rows(self.base_dir, self.questions, expected)
        want_ids = {q["qid"]: [v for v, _ in e] for q, e in zip(self.questions, expected)}
        ids = self.retrieved(sorted({qid for qid, _ in self.singles}
                                    | {qid for qids, _ in self.batches for qid in qids}))
        msgs: list[str] = []
        failed = 0

        def ok(qid, row):
            if row is None or any(row[k] != want[qid][k] for k in row if k != "qid"):
                msgs.append(f"question {qid}: {row} != {want[qid]}")
                return False
            if ids.get(qid) != want_ids[qid]:
                msgs.append(f"question {qid}: top-{self.K} {ids.get(qid)} != {want_ids[qid]}")
                return False
            return True

        for qid, rows in self.singles:
            failed += not ok(qid, rows[0].asDict() if len(rows) == 1 else None)
        for qids, rows in self.batches:
            out = {r["qid"]: r.asDict() for r in rows}
            for qid in qids:
                failed += not ok(qid, out.get(qid) if len(out) == len(rows) == len(qids) else None)
        attempted = len(self.singles) + sum(len(q) for q, _ in self.batches)
        return attempted, failed, msgs


# ---------------------------------------------------------------------------
# dedup_embed_etl: a companion of upsert_stream's traced run
# ---------------------------------------------------------------------------

class DedupEmbedEtl(Workload):
    """load → dd_near_dedup_lsh's four dedup calls with its parameters →
    clean_text → hash-embed → parquet, timed from load to committed files.
    It runs only as a companion of a traced run, for the dedup, cleaning,
    embedding and write layers."""

    name = "dedup_embed_etl"
    traced_functions = (
        ("big_data_project_spark.io", "load_table", "io.load_table"),
        ("big_data_project_spark.io", "write_parquet", "io.write_parquet"),
        ("big_data_project_spark.operators.dedup", "doc_shingles", "operators.dedup.doc_shingles"),
        ("big_data_project_spark.operators.dedup", "minhash_lsh_candidates",
         "operators.dedup.minhash_lsh_candidates"),
        ("big_data_project_spark.operators.dedup", "jaccard_verify",
         "operators.dedup.jaccard_verify"),
        ("big_data_project_spark.operators.dedup", "drop_near_dups",
         "operators.dedup.drop_near_dups"),
        ("big_data_project_spark.operators.cleaning", "clean_text",
         "operators.cleaning.clean_text"),
        ("big_data_project_spark.plugins", "Embedder.transform", "plugins.Embedder.transform"),
    )
    layer_metric_names = (
        "operators.dedup.candidate_pairs", "operators.dedup.verified_pairs",
        "operators.dedup.verify_yield", "operators.dedup.eager_jobs",
        "io.bytes_written", "io.files_written",
    )
    #: embedding width: the sf0.1 embeddings table's 64 dimensions
    DIM = 64
    #: planted copies on top of the 5,000 base documents
    COPIES = 2500

    def __init__(self, spark, base_dir, work_dir, seed, traced=False):
        super().__init__(spark, base_dir, work_dir, seed, traced)
        self.corpus_dir = os.path.join(work_dir, "corpus")
        self.outputs: list[str] = []
        self.last = None

    def prepare(self):
        inputs.dup_corpus(self.base_dir, self.corpus_dir, self.seed, self.COPIES)

    def _build(self, i):
        d = io.load_table(self.spark, self.corpus_dir, "documents")
        sh = dedup.doc_shingles(d, "text", "doc_id", 3).transform(lineage_cut)
        cand = dedup.minhash_lsh_candidates(
            d, num_hashes=registry._MH_K, bands=registry._MH_BANDS, hash_fn="md5_affine",
            include_est_jaccard=False, shingles=sh,
        )
        pairs = dedup.jaccard_verify(d, cand, n=3, min_jaccard=0.5, shingles=sh)
        kept = dedup.drop_near_dups(d, pairs)
        clean = cleaning.clean_text(kept, "text")
        out = plugins.Embedder(model_name=None, dim=self.DIM).transform(clean)
        return out, os.path.join(self.work_dir, f"out-{len(self.outputs)}"), cand, pairs

    @staticmethod
    def _act(built):
        io.write_parquet(built[0], built[1])

    def _keep(self, i, built, result, wall):
        self.outputs.append(built[1])
        self.last = built

    def result_frame(self, built):
        # a DataFrameWriter plans inside its own QueryExecution, which py4j
        # cannot reach: catalyst_ms plans the written DataFrame once more
        return built[0]

    def warmup(self):
        built = self._build(0)
        self._act(built)
        shutil.rmtree(built[1])

    def phases(self):
        return [Phase("pipeline", 1.0, self._build, self._act, self._keep)]

    def oracle_survivors(self) -> set[int]:
        """Survivors by the registry's DuckDB oracle for dd_near_dedup_lsh,
        run over this seed's corpus. DuckDB runs the oracle up to its verified
        pairs; the closure the oracle takes with a recursive CTE (tens of
        seconds on this corpus) is the same min-id-per-component rule, done
        here by union-find."""
        import duckdb

        sql = registry.REGISTRY["dd_near_dedup_lsh"].oracle
        head = sql[: sql.index("sym AS")].rstrip().rstrip(",")
        con = duckdb.connect()
        try:
            path = inputs.table_dir(self.corpus_dir, "documents")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            pairs = con.execute(f"{head}\nSELECT id_a, id_b FROM pairs").fetchall()
            ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
        finally:
            con.close()
        root = {i: i for i in ids}

        def find(x):
            while root[x] != x:
                root[x] = root[root[x]]
                x = root[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
        return {int(i) for i in ids if find(i) == i}

    def check(self):
        want = self.oracle_survivors()
        failed, msgs = 0, []
        for path in self.outputs:
            t = pq.read_table(path, columns=["doc_id", "embedding"])
            ids = t.column("doc_id").to_pylist()
            dims = {len(v) for v in t.column("embedding").to_pylist()}
            ok = len(ids) == len(set(ids)) == len(want) and set(ids) == want and dims == {self.DIM}
            if not ok:
                msgs.append(
                    f"{os.path.basename(path)}: {len(ids)} rows, {len(set(ids) ^ want)} ids "
                    f"differ from the oracle's {len(want)} survivors, dims {sorted(dims)}"
                )
            failed += not ok
        return len(self.outputs), failed, msgs

    def layer_metrics(self, traced_ops, tracer):
        # deterministic per corpus, so counted once, outside every timed span
        _, _, cand, pairs = self.last
        n_cand, n_pairs = cand.count(), pairs.count()
        out_bytes = out_files = 0
        for root, _, files in os.walk(self.outputs[-1]):
            for f in files:
                if f.endswith(".parquet"):
                    out_files += 1
                    out_bytes += os.path.getsize(os.path.join(root, f))
        return {
            "operators.dedup.candidate_pairs": n_cand,
            "operators.dedup.verified_pairs": n_pairs,
            "operators.dedup.verify_yield": n_pairs / n_cand if n_cand else 0.0,
            "operators.dedup.eager_jobs": statistics.median(o["build_jobs"] for o in traced_ops),
            "io.bytes_written": out_bytes,
            "io.files_written": out_files,
        }


# ---------------------------------------------------------------------------
# upsert_stream
# ---------------------------------------------------------------------------

class UpsertStream(Workload):
    """Seeded event files dropped one at a time into a watched directory;
    ``read_event_stream`` feeds ``versioned_upsert_sink(key="user_id")`` and
    each drop is timed until ``processAllAvailable()`` returns."""

    name = "upsert_stream"
    traced_functions = (
        ("big_data_project_spark.streaming.ops", "read_event_stream",
         "streaming.ops.read_event_stream"),
        ("big_data_project_spark.streaming.ops", "versioned_upsert_sink",
         "streaming.ops.versioned_upsert_sink"),
        ("big_data_project_spark.operators.maintenance", "snapshot_versions",
         "operators.maintenance.snapshot_versions"),
        ("big_data_project_spark.operators.maintenance", "read_snapshot",
         "operators.maintenance.read_snapshot"),
        ("big_data_project_spark.operators.maintenance", "merge_upsert",
         "operators.maintenance.merge_upsert"),
        ("big_data_project_spark.operators.maintenance", "write_snapshot",
         "operators.maintenance.write_snapshot"),
    )
    layer_metric_names = (
        "streaming.ops.trigger_ms", "streaming.ops.add_batch_ms",
        "streaming.ops.query_planning_ms", "streaming.ops.wal_commit_ms",
        "streaming.ops.input_rows_per_row", "operators.maintenance.versions_per_drop",
        "operators.maintenance.snapshot_bytes",
    )
    companions = (DedupEmbedEtl,)
    KEY = "user_id"
    # drop latency keeps falling over the first drops of a session
    WARM_DROPS = 5
    #: drops generated per run, more than a window uses
    POOL = 400
    #: events per drop, one per user
    ROWS = 100

    def __init__(self, spark, base_dir, work_dir, seed, traced=False):
        super().__init__(spark, base_dir, work_dir, seed, traced)
        self.watch = os.path.join(work_dir, "watch")
        self.target = os.path.join(work_dir, "table")
        self.published: list[pd.DataFrame] = []
        self.new_versions: list[int] = []  # per timed drop
        self.progress: list[list[dict]] = []  # per timed drop
        self.query = None

    def prepare(self):
        self.drops = inputs.event_drops(self.base_dir, self.seed, self.POOL, self.ROWS)
        os.makedirs(self.watch, exist_ok=True)
        self.query = ops.versioned_upsert_sink(
            ops.read_event_stream(self.spark, self.watch), self.target,
            os.path.join(self.work_dir, "checkpoint"), self.KEY,
        )

    def versions(self) -> int:
        if not os.path.isdir(self.target):
            return 0
        return sum(1 for n in os.listdir(self.target) if n.startswith("v="))

    def _build(self, i):
        n = len(self.published)
        if n >= len(self.drops):
            raise RuntimeError(f"drop pool of {len(self.drops)} exhausted")
        inputs.write_drop(self.drops[n], self.watch, f"drop-{n:05d}.parquet")
        self.published.append(self.drops[n])
        return n

    def _act(self, built):
        self.query.processAllAvailable()

    def _keep(self, i, built, result, wall):
        versions = self.versions()
        self.new_versions.append(versions - self._versions)
        self._versions = versions
        progress = [p for p in self.query.recentProgress if p["batchId"] > self._batch]
        self._batch = max([self._batch] + [p["batchId"] for p in progress])
        self.progress.append(progress)

    def warmup(self):
        for i in range(self.WARM_DROPS):
            self._act(self._build(i))
        self._versions = self.versions()
        self._batch = max([-1] + [p["batchId"] for p in self.query.recentProgress])

    def phases(self):
        return [Phase("drop", 1.0, self._build, self._act, self._keep)]

    def latest_snapshot(self) -> pd.DataFrame:
        v = max(int(n[2:]) for n in os.listdir(self.target) if n.startswith("v="))
        df = pq.read_table(os.path.join(self.target, f"v={v}")).to_pandas()
        return df.sort_values(self.KEY).reset_index(drop=True)

    def check(self):
        msgs = []
        failed = 0
        for n, v in enumerate(self.new_versions):
            if v != 1:
                failed += 1
                msgs.append(f"drop {n}: {v} new versions, want exactly 1")
        want = inputs.fold_last_write(self.published, self.KEY)
        got = self.latest_snapshot()
        cols = ["event_id", "user_id", "event_type", "value", "props"]
        same = len(got) == len(want) and got[cols].equals(want[cols])
        if same:
            # either side may carry the timestamps at another unit or zone
            us = lambda s: pd.to_datetime(s, utc=True).astype("datetime64[us, UTC]")  # noqa: E731
            same = bool((us(got["ts"]).to_numpy() == us(want["ts"]).to_numpy()).all())
        if not same:
            failed += 1
            msgs.append(f"latest snapshot ({len(got)} rows) != last-write-wins fold ({len(want)})")
        return len(self.new_versions), failed, msgs

    def layer_metrics(self, traced_ops, tracer):
        idx = [o["index"] for o in traced_ops]
        progs = [self.progress[i] for i in idx]
        rows = self.ROWS * len(idx)

        def dur(key):
            return statistics.median(
                sum(p["durationMs"].get(key, 0) for p in ps) for ps in progs
            )

        last = max(int(n[2:]) for n in os.listdir(self.target) if n.startswith("v="))
        snap = os.path.join(self.target, f"v={last}")
        return {
            # the stream plans each micro-batch itself; queryPlanning is that
            "spark.catalyst_ms": dur("queryPlanning"),
            "streaming.ops.trigger_ms": dur("triggerExecution"),
            "streaming.ops.add_batch_ms": dur("addBatch"),
            "streaming.ops.query_planning_ms": dur("queryPlanning"),
            "streaming.ops.wal_commit_ms": dur("walCommit"),
            "streaming.ops.input_rows_per_row": sum(
                p["numInputRows"] for ps in progs for p in ps
            ) / rows,
            "operators.maintenance.versions_per_drop": sum(
                self.new_versions[i] for i in idx
            ) / len(idx),
            "operators.maintenance.snapshot_bytes": sum(
                os.path.getsize(os.path.join(snap, f)) for f in os.listdir(snap)
                if f.endswith(".parquet")
            ),
        }

    def close(self):
        if self.query is not None:
            self.query.stop()
            self.query.awaitTermination(30)


WORKLOADS = {w.name: w for w in (RagServing, UpsertStream)}
