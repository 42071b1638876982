"""The benchmark workloads: one class per workload, each with a fixed
input size, a fixed number of discarded warm-up operations, the timed
operation and the checks of its output.

An operation calls the program exactly as its entry points do
(``jobs/run_kg.py``, ``jobs/curate_corpus.py``, ``jobs/classify_entity.py``)
and returns what the checks need. Checks run after the timed call, never
inside it, and in the ``Checker`` process: the ``judge_*`` functions below
run there, so the ground truth, the outputs read back and the replays
never count in the benchmark process's memory.
"""

from __future__ import annotations

import contextlib
import json
import multiprocessing
import os
import shutil
import traceback

import pandas as pd
import pyarrow.dataset as ds

import checks
import inputs


class Checker:
    """A child process, forked before the Spark session starts (so it
    holds no JVM connection or thread), that runs check functions sent to
    it one at a time and returns their results."""

    def __init__(self):
        ctx = multiprocessing.get_context("fork")
        self.conn, child = ctx.Pipe()
        self.proc = ctx.Process(target=_serve, args=(child,), daemon=True)
        self.proc.start()
        child.close()

    def call(self, fn, *args):
        self.conn.send((fn, args))
        ok, value = self.conn.recv()
        if not ok:
            raise RuntimeError(f"check {fn.__name__} raised:\n{value}")
        return value

    def close(self) -> None:
        self.conn.send(None)
        self.proc.join()


def _serve(conn) -> None:
    while (msg := conn.recv()) is not None:
        fn, args = msg
        try:
            conn.send((True, fn(*args)))
        except Exception:
            conn.send((False, traceback.format_exc()))


# checker-process state: ground truth loaded once per run, and outputs
# that are checked together at the end
_STATE: dict = {}


def _once(key, load):
    if key not in _STATE:
        _STATE[key] = load()
    return _STATE[key]


def committed(table_dir: str, columns: list[str]) -> pd.DataFrame:
    """A committed warehouse table read back with pyarrow, not Spark."""
    with open(os.path.join(table_dir, "_MANIFEST.json")) as f:
        data_dir = json.load(f)["data_dir"]
    return ds.dataset(data_dir, format="parquet", partitioning="hive").to_table(
        columns=columns).to_pandas()


def account(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``, which is then
    deleted."""
    files = size = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    shutil.rmtree(path, ignore_errors=True)
    return files, size


class Workload:
    warmup = 2  # discarded operations before the first timed one
    round_ops = 1  # the timed loop runs whole rounds of this many operations
    rows_per_op = 1

    def __init__(self, work: str, seed: int, checker: Checker):
        self.work = work
        self.seed = seed
        self.checker = checker
        self.errors: list[str] = []
        self.out_files = self.out_bytes = 0
        self.rule_share = 0.0
        # the traced run replaces this with Tracer.span
        self.span = lambda name, label=None: contextlib.nullcontext()

    def prepare(self) -> None:
        """Generate (or reuse) the seeded inputs; no Spark involved."""

    def setup(self, spark) -> None:
        """Per-session objects the entry point builds before its call."""
        self.spark = spark

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, result) -> None:
        """Check one operation's output (after its timing ended)."""

    def finish(self) -> None:
        """Checks that need every operation's output."""

    def _out(self, i: int) -> str:
        path = os.path.join(self.work, "out", f"{type(self).__name__}-{i}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _judge(self, fn, *args) -> None:
        errors, self.rule_share, (self.out_files, self.out_bytes) = self.checker.call(fn, *args)
        self.errors += errors


def judge_kg(path: str, out: str):
    truth = _once(path, lambda: pd.read_parquet(os.path.join(path, "truth.parquet")))
    edges = committed(os.path.join(out, "edges"),
                      ["subj_qid", "pred", "obj_qid", "ts", "conv_id", "turn_idx"])
    nodes = committed(os.path.join(out, "nodes"), ["qid", "bfo_class_uri", "source"])
    errors = checks.check_kg(edges, nodes, truth)
    return errors, float((nodes["source"] == "rule_based").mean()), account(out)


class KgBuild(Workload):
    """``plans.pipeline.run_pipeline`` over a seeded transcripts table,
    one build per operation into a fresh warehouse dir."""

    warmup = 2  # the second build still runs ~10-40% slower than later ones
    n_turns = 60_000
    rows_per_op = n_turns

    def prepare(self):
        self.path = inputs.transcripts(os.path.join(self.work, "inputs"), self.seed, self.n_turns)

    def setup(self, spark):
        super().setup(spark)
        self.transcripts = spark.read.parquet(os.path.join(self.path, "data"))

    def op(self, i):
        from bfokg.plans.pipeline import run_pipeline

        out = self._out(i)
        run_pipeline(self.spark, self.transcripts, out)
        return out

    def check(self, i, out):
        self._judge(judge_kg, self.path, out)


# hash_split's default weights, which run_curation uses when the caller
# passes none (as jobs/curate_corpus.py does)
SPLIT_WEIGHTS = {"train": 0.98, "val": 0.01, "test": 0.01}


def judge_curation(path: str, out: str):
    def load():
        with open(os.path.join(path, "truth.json")) as f:
            clusters = json.load(f)["clusters"]
        doc_ids = ds.dataset(os.path.join(path, "data")).to_table(
            columns=["doc_id"]).column(0).to_pylist()
        return clusters, doc_ids

    clusters, doc_ids = _once(path, load)
    corpus = committed(os.path.join(out, "corpus"), ["doc_id", "split"])
    errors = checks.check_curation(corpus, doc_ids, clusters, SPLIT_WEIGHTS)
    return errors, 0.0, account(out)


class CorpusCurate(Workload):
    """``plans.curation.run_curation`` over a seeded corpus with planted
    near-duplicate clusters."""

    warmup = 1
    n_docs = 10_000
    rows_per_op = n_docs

    def prepare(self):
        self.path = inputs.documents(os.path.join(self.work, "inputs"), self.seed, self.n_docs)

    def setup(self, spark):
        super().setup(spark)
        self.docs = spark.read.parquet(os.path.join(self.path, "data")).select("doc_id", "text")

    def op(self, i):
        from bfokg.plans.curation import run_curation

        out = self._out(i)
        run_curation(self.spark, self.docs, out)
        return out

    def check(self, i, out):
        self._judge(judge_curation, self.path, out)


def judge_request(rows: list[dict]) -> None:
    _STATE.setdefault("single", []).append(pd.DataFrame(rows))


def judge_requests(batch_rows: list[dict]):
    single = pd.concat(_STATE.pop("single"), ignore_index=True)
    errors = checks.check_requests(single, pd.DataFrame(batch_rows))
    r1 = checks.direct_rank1(single)
    return errors, float((r1["source"] == "rule_based").mean()), (0, 0)


class ClassifyEntity(Workload):
    """A closed loop with one client: each request classifies one entity
    never requested before through ``api.Classifier.classify``, built as
    a one-row local frame like the CLI's fixture lookup. Every round
    holds the same mix of classifier routes (see ``inputs.request_pool``)."""

    warmup = 2  # one request down each classifier route
    round_ops = inputs.ROUND_HITS + inputs.ROUND_MISSES

    def prepare(self):
        self.pool = inputs.request_pool(self.seed, n_rounds=100)
        self.asked: list[dict] = []

    def setup(self, spark):
        from bfokg.api import Classifier

        super().setup(spark)
        self.clf = Classifier(spark)

    def _frame(self, entities):
        from bfokg.fixtures import ENTITY_SCHEMA
        from bfokg.util import local_df

        rows = [(e["id"], e["label"], e["description"], e["aliases"], {}) for e in entities]
        return local_df(self.spark, rows, ENTITY_SCHEMA)

    def op(self, i):
        if i >= len(self.pool):
            raise RuntimeError("request pool exhausted")
        matches = self.clf.classify(self._frame([self.pool[i]]))
        with self.span("collect"):
            return matches.collect()

    def check(self, i, rows):
        if i >= self.warmup:
            self.checker.call(judge_request, [r.asDict() for r in rows])
            self.asked.append(self.pool[i])

    def finish(self):
        """Classifies every timed request's entity again in one batch."""
        if self.asked:
            batch = self.clf.classify(self._frame(self.asked)).collect()
            self._judge(judge_requests, [r.asDict() for r in batch])


def judge_batch(path: str, out: str):
    def load():
        docs = pd.read_parquet(os.path.join(path, "data"))
        return docs, checks.replay_doc_cascade(docs)

    docs, replay = _once(path, load)
    matches = ds.dataset(out, format="parquet").to_table().to_pandas()
    errors = checks.check_batch(matches, docs, replay)
    rule_share = float((checks.direct_rank1(matches)["source"] == "rule_based").mean())
    return errors, rule_share, account(out)


class ClassifyBatch(Workload):
    """The same ``Classifier.classify`` over a seeded entity/document
    table: the classifier's dataflow route at scale, written as a user
    would write a batch result."""

    n_rows = 20_000
    rows_per_op = n_rows

    def prepare(self):
        self.path = inputs.entity_documents(os.path.join(self.work, "inputs"), self.seed, self.n_rows)

    def setup(self, spark):
        from pyspark.sql import functions as F

        from bfokg.api import Classifier

        super().setup(spark)
        self.clf = Classifier(spark)
        self.entities = spark.read.parquet(os.path.join(self.path, "data")).select(
            "id", "text", F.lit(None).cast("map<string,array<string>>").alias("claims"))

    def op(self, i):
        out = self._out(i)
        self.clf.classify(self.entities).write.parquet(out)
        return out

    def check(self, i, out):
        self._judge(judge_batch, self.path, out)


WORKLOADS = {
    "kg_build": KgBuild,
    "corpus_curate": CorpusCurate,
    # runnable and checked, but outside BENCHMARK.json: see README.md
    "classify_entity": ClassifyEntity,
    "classify_batch": ClassifyBatch,
}
