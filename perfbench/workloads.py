"""The benchmark's workloads.

Each workload owns its seeded inputs, one *iteration* (the unit whose
wall time is ``run_s``), the correctness checks on what an iteration
produced, and the per-layer figures it reads off a traced iteration.
An iteration is a list of *operations* -- the requests a user issues
and waits on -- and every operation counts once in ``attempted``; one
that raises or fails its check counts in ``failed``.

``semsim``
    The paper's Steps 1-5: ``run_pipeline.run(mode="parity")`` from a
    biarcs corpus and a hub-shaped gold list to ``report.txt``, which
    drives ``plans.pipeline.semantic_similarity_pipeline`` (parse and
    Porter-stem, l/f/lf counts, association measures, pair vectors with
    their similarity measures, each stage written as parquet) and the
    RandomForest cross-validation in ``ml.classify``.
``llm_session``
    One analyst session over the sf0.01 registry tables in ``data/``:
    keep-newest streaming curation of two micro-batches cut from the
    ``documents`` table, the second carrying re-crawls of the first
    (``streaming.documents.run_streaming_curation``), then one registry
    query from each ``workload`` module -- relational joins, the
    similarity semantics read-only over documents, dedup, embeddings
    and events -- in a seed-permuted order, each result collected.  No
    biarcs, stemming, pair vectors or ML run here.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import random
import shutil
import statistics
import time

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.spans import instrument, node_sum


@functools.lru_cache(maxsize=None)
def _porter_stem(word: str) -> str:
    from semantic_similarity_system_using_aws_mapreduce_spark.functions.stemming import porter_stem

    return porter_stem(word)


class Op:
    """Outcome of one timed operation."""

    def __init__(self, name: str, layer: str, seconds: float, error: str | None = None):
        self.name, self.layer, self.seconds, self.error = name, layer, seconds, error


def _timed(name: str, layer: str, fn, tracer=None) -> tuple[Op, object]:
    t0 = time.perf_counter()
    try:
        if tracer is None:
            out = fn()
        else:
            with tracer.span(layer, name):
                out = fn()
    except Exception as exc:  # noqa: BLE001 -- a failed operation is a result
        return Op(name, layer, time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"), None
    return Op(name, layer, time.perf_counter() - t0), out


def _per_iter(values, n: int) -> float:
    return sum(values) / n if n else 0.0


# ==================================================================== semsim


class Semsim:
    name = "semsim"
    #: full run / fast smoke run; folds and trees are small so one
    #: Steps 1-5 iteration fits a benchmark run on four cores
    SIZES = {
        False: dict(lines=20_000, roots=3_000, classes=40, hubs=40, relata=25, folds=2, trees=10,
                    min_f1=0.3),
        True: dict(lines=1_500, roots=300, classes=10, hubs=6, relata=6, folds=2, trees=3,
                   min_f1=0.0),
    }

    def __init__(self, cache: str, work: str, seed: int, smoke: bool):
        self.size = self.SIZES[smoke]
        s = self.size
        key = f"semsim-{seed}-{s['lines']}-{s['hubs']}x{s['relata']}-{gen.fingerprint()}"
        self.dir = os.path.join(cache, key)
        self.corpus = os.path.join(self.dir, "corpus.txt")
        self.gold = os.path.join(self.dir, "gold.txt")
        props_path = os.path.join(self.dir, "props.json")
        if not os.path.exists(props_path):
            os.makedirs(self.dir, exist_ok=True)
            vocab = gen.Vocabulary(seed, s["roots"], s["classes"])
            props = {
                "corpus": gen.biarcs_corpus(self.corpus, seed, s["lines"], vocab),
                "gold": gen.hub_gold(self.gold, seed, vocab, s["hubs"], s["relata"]),
                "folds": s["folds"], "trees": s["trees"],
            }
            _write_json(props_path, props)
        with open(props_path) as f:
            self.props = json.load(f)
        self.work = os.path.join(work, "semsim")
        self.items = s["lines"]
        self._runs: list[tuple[str, dict | None]] = []

    def instrument(self, tracer):
        return instrument(tracer)

    def iteration(self, spark, tracer=None) -> list[Op]:
        from semantic_similarity_system_using_aws_mapreduce_spark import run_pipeline

        out = os.path.join(self.work, f"it{len(self._runs)}")
        s = self.size
        op, metrics = _timed("run_pipeline", "run_pipeline", lambda: run_pipeline.run(
            spark, self.corpus, self.gold, out, mode="parity", folds=s["folds"], trees=s["trees"],
        ), tracer)
        self._runs.append((out, metrics))
        return [op]

    # ------------------------------------------------------------ checks

    def _oracle(self) -> dict:
        """Reference-oracle vectors for these inputs, computed once per
        seed and cached next to them."""
        path = os.path.join(self.dir, "oracle.json")
        if not os.path.exists(path):
            from tests import reference_oracle as ro

            ro.porter_stem = _porter_stem  # pure function: memoizing changes no result
            with open(self.corpus) as f:
                counts, total = ro.step1_counts(f)
            assoc = ro.assoc_measures(counts, total, mode="parity")
            # the engine treats an exact (0, 0) aligned pair as adding 0
            # instead of resetting the JS accumulator, as
            # tests/test_pair_vector_properties.py compares it
            vecs = ro.pair_vectors(assoc, ro.load_gold(self.gold), mode="parity", js_reset_quirk=False)
            _write_json(path, [[w1, w2, rel, v] for (w1, w2, rel), v in vecs.items()])
        with open(path) as f:
            return {(w1, w2, rel): v for w1, w2, rel, v in json.load(f)}

    def check(self, spark) -> list[str]:
        """Failures of the iterations run so far: pair vectors against the
        reference oracle (row set, then each of the 24 values), the CV
        report's instance count against the vector count, and the
        quality floor."""
        from semantic_similarity_system_using_aws_mapreduce_spark.schemas import VECTOR_COLUMNS

        expected = self._oracle()
        failures = []
        for out, metrics in self._runs:
            if metrics is None:
                continue  # the operation already failed
            rows = spark.read.parquet(f"{out}/pair_vectors.parquet").collect()
            got = {(r.word1, r.word2, r.is_related): [r[c] for c in VECTOR_COLUMNS] for r in rows}
            tag = os.path.basename(out)
            if len(rows) != len(got) or set(got) != set(expected):
                failures.append(f"{tag}: {len(rows)} vectors, oracle has {len(expected)}")
                continue
            bad = [k for k, exp in expected.items()
                   if not all(_close(a, b) for a, b in zip(got[k], exp))]
            if bad:
                failures.append(f"{tag}: {len(bad)} vectors differ from the oracle, e.g. {bad[0]}")
            if metrics["n"] != len(rows):
                failures.append(f"{tag}: report n={metrics['n']} but {len(rows)} vectors")
            # fidelity floor for the signal the generator's word classes
            # give: a faster Step 5 must not lose it (too few pairs in
            # the smoke size to learn anything)
            if metrics["f1_similar"] < self.size["min_f1"]:
                failures.append(f"{tag}: cv f1 {metrics['f1_similar']:.3f} < {self.size['min_f1']}")
            with open(f"{out}/report.txt") as f:
                if f"Total Number of Instances         {len(rows)}" not in f.read():
                    failures.append(f"{tag}: report.txt does not count {len(rows)} instances")
        return failures

    # ----------------------------------------------------- layer figures

    def layers(self, tracer, n_iters: int) -> dict:
        by = _by_layer(tracer)

        def per_iter(layer, key):
            return _rec_sum(tracer, by.get(layer, []), key, n_iters)

        def sql(layer, node, metric):
            return _sql_sum(tracer, by.get(layer, []), node, metric) / n_iters

        write = "InsertIntoHadoopFsRelationCommand"
        aligned = sql("operators.pair_vectors", "BroadcastHashJoin", "number of output rows")
        vectors = sql("operators.pair_vectors", write, "number of output rows")
        cv = [m for _, m in self._runs[-n_iters:] if m]
        writes = [s for s in tracer.spans if s.name.startswith("write ")]
        return {
            "sources.biarcs.wall_s": per_iter("sources.biarcs", "wall_s"),
            "sources.biarcs.python_udf_s": per_iter("sources.biarcs", "python_udf_s"),
            "sources.biarcs.rows_out": sql("sources.biarcs", write, "number of output rows"),
            "sources.biarcs.partitions": sql("sources.biarcs", write, "number of written files"),
            "sources.gold.wall_s": per_iter("sources.gold", "wall_s"),
            "operators.counts.wall_s": per_iter("operators.counts", "wall_s"),
            "operators.counts.shuffle_write_mb": per_iter("operators.counts", "shuffle_write_mb"),
            "operators.assoc.wall_s": per_iter("operators.assoc", "wall_s"),
            "operators.assoc.broadcast_mb": per_iter("operators.assoc", "broadcast_mb"),
            "operators.pair_vectors.wall_s": per_iter("operators.pair_vectors", "wall_s"),
            "operators.pair_vectors.aligned_rows": aligned,
            "operators.pair_vectors.useful_ratio": vectors / aligned if aligned else 0.0,
            "operators.pair_vectors.spill_mb": per_iter("operators.pair_vectors", "spill_mb"),
            "ml.classify.wall_s": per_iter("ml.classify", "wall_s"),
            "ml.classify.jobs": per_iter("ml.classify", "jobs"),
            "ml.classify.executor_cpu_s": per_iter("ml.classify", "executor_cpu_s"),
            "ml.classify.cv_f1_similar": statistics.median(m["f1_similar"] for m in cv) if cv else 0.0,
            "ml.classify.cv_accuracy": statistics.median(m["accuracy"] for m in cv) if cv else 0.0,
            "run_pipeline.write_s": per_iter("run_pipeline.write", "wall_s"),
            "run_pipeline.bytes_written_mb": _rec_sum(tracer, writes, "written_mb", n_iters),
        }


def _close(a: float, b: float) -> bool:
    return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


# =============================================================== llm_session

#: registry queries of one session, one per workload module
LLM_QUERIES = [
    "q05_local_supplier",
    "q_source_similarity",
    "q_minhash_lsh_candidates",
    "q_cosine_pairs",
    "q_sessionization",
]
LLM_MODULES = ["relational", "text", "dedup", "embeddings", "events"]
#: the registry tables at sf0.01, as the repository's test data has them
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class LlmSession:
    name = "llm_session"
    SIZES = {
        False: dict(batches=2, docs_per_batch=40),
        True: dict(batches=2, docs_per_batch=10),
    }

    def __init__(self, cache: str, work: str, seed: int, smoke: bool):
        s = self.size = self.SIZES[smoke]
        self.seed = seed
        self.tables = TABLES
        self.dir = os.path.join(
            cache, f"llm-{seed}-{s['batches']}x{s['docs_per_batch']}-{gen.fingerprint()}"
        )
        self.batches = os.path.join(self.dir, "stream")
        props_path = os.path.join(self.dir, "props.json")
        if not os.path.exists(props_path):
            shutil.rmtree(self.dir, ignore_errors=True)
            props = {
                "tables": {f[:-len(".parquet")]: pq.read_metadata(os.path.join(TABLES, f)).num_rows
                           for f in sorted(os.listdir(TABLES))},
                "stream": gen.stream_batches(self.batches, os.path.join(TABLES, "documents.parquet"),
                                             seed, s["batches"], s["docs_per_batch"]),
                "queries": LLM_QUERIES,
            }
            _write_json(props_path, props)
        with open(props_path) as f:
            self.props = json.load(f)
        self.work = os.path.join(work, "llm_session")
        self.items = len(LLM_QUERIES) + 1
        self._corpora: list[str] = []
        self._collected: list[tuple[str, list, list]] = []
        self.batch_ms: list[float] = []
        self.stream_run_ids: list[str] = []

    def iteration(self, spark, tracer=None) -> list[Op]:
        """The micro-batches arrive and are curated into a fresh corpus
        (keep-newest, with stats), then the queries run in an order
        drawn from the seed and the iteration number; the analyst
        collects every result."""
        from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import run_streaming_curation
        from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_QUERIES

        it = len(self._corpora)
        base = os.path.join(self.work, f"it{it}")
        self._corpora.append(f"{base}/corpus")

        def ingest():
            run_streaming_curation(
                spark, self.batches, f"{base}/corpus", f"{base}/index",
                stats=True, dedup="keep-newest",
            )

        ops = [_timed("run_streaming_curation", "streaming.documents", ingest, tracer)[0]]
        if tracer is not None:
            # the stream's jobs run under its query run id, not the span's
            # job group: attach the ids the listener saw to the span
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            tracer.spans[-1].groups.extend(self.stream_run_ids)
            self.stream_run_ids.clear()
        order = list(LLM_QUERIES)
        random.Random(self.seed * 1000 + it).shuffle(order)
        for name in order:
            fn = ALL_QUERIES[name]

            def run(fn=fn):
                df = fn(spark, self.tables)
                return df.columns, [tuple(r) for r in df.collect()]

            op, out = _timed(name, "workload." + fn.__module__.rsplit(".", 1)[1], run, tracer)
            if out is not None:
                self._collected.append((name, *out))
            ops.append(op)
        return ops

    def instrument(self, tracer):
        """The benchmark spans each call it makes itself; nothing to wrap."""
        return contextlib.nullcontext()

    def listener(self):
        """A StreamingQueryListener recording each micro-batch's duration
        and each stream run's id (registered for traced iterations)."""
        from pyspark.sql.streaming import StreamingQueryListener

        wl = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                wl.stream_run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                if event.progress.numInputRows:
                    wl.batch_ms.append(event.progress.durationMs.get("triggerExecution", 0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Listener()

    def check(self, spark) -> list[str]:
        """Failures: each collected query result against its DuckDB
        oracle over the same tables (normalised as the oracle-mirror
        test does), and each iteration's curated corpus -- visible
        rows, raw rows, digests and per-batch kept counts -- against
        the generator's prediction."""
        import duckdb

        from semantic_similarity_system_using_aws_mapreduce_spark.streaming.documents import (
            DIGESTS_SUFFIX,
            read_corpus_asof,
        )
        from semantic_similarity_system_using_aws_mapreduce_spark.workload import ALL_ORACLES
        from tests.test_entry_queries import _normalize

        failures = []
        con = duckdb.connect()
        try:
            for t in self.props["tables"]:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            oracle = {}
            for name, cols, rows in self._collected:
                if name not in oracle:
                    res = con.execute(ALL_ORACLES[name])
                    oracle[name] = _normalize([d[0] for d in res.description],
                                              [tuple(r) for r in res.fetchall()])
                if _normalize(cols, rows) != oracle[name]:
                    failures.append(f"{name}: {len(rows)} rows differ from the oracle's "
                                    f"{len(oracle[name][1])}")
        finally:
            con.close()
        expect = self.props["stream"]["expect_after_batch"]
        want = {"visible": expect[-1]["visible"], "corpus_rows": expect[-1]["corpus_rows"],
                "digests": expect[-1]["digests"], "kept_per_batch": [e["kept"] for e in expect]}
        for corpus in self._corpora:
            try:
                got = {
                    "visible": read_corpus_asof(spark, corpus).count(),
                    "corpus_rows": spark.read.parquet(corpus).count(),
                    "digests": spark.read.parquet(corpus + DIGESTS_SUFFIX).count(),
                    "kept_per_batch": [r.n_kept for r in spark.read.parquet(corpus + "_stats")
                                       .orderBy("ingest_batch").collect()],
                }
            except Exception as exc:  # noqa: BLE001 -- unreadable output is a failure
                got = f"{type(exc).__name__}: {exc}"
            if got != want:
                failures.append(f"{corpus}: stream tables {got} != {want}")
        return failures

    def layers(self, tracer, n_iters: int) -> dict:
        by = _by_layer(tracer)
        out = {}
        for mod in LLM_MODULES:
            spans = by.get(f"workload.{mod}", [])
            out[f"workload.{mod}.wall_s"] = _rec_sum(tracer, spans, "wall_s", n_iters)
            out[f"workload.{mod}.jobs"] = _rec_sum(tracer, spans, "jobs", n_iters)
            out[f"workload.{mod}.broadcast_mb"] = _rec_sum(tracer, spans, "broadcast_mb", n_iters)
            out[f"workload.{mod}.shuffle_write_mb"] = _rec_sum(tracer, spans, "shuffle_write_mb", n_iters)
        stream = by.get("streaming.documents", [])
        batches = len(self.batch_ms)
        out["streaming.documents.wall_s"] = _rec_sum(tracer, stream, "wall_s", n_iters)
        out["streaming.documents.jobs_per_batch"] = (
            _rec_sum(tracer, stream, "jobs", 1) / batches if batches else 0.0
        )
        out["streaming.documents.batch_p50_s"] = (
            statistics.median(self.batch_ms) / 1e3 if batches else 0.0
        )
        out["streaming.documents.batch_max_s"] = max(self.batch_ms) / 1e3 if batches else 0.0
        query_s = [s.wall_s for layer, spans in by.items()
                   if layer.startswith("workload.") for s in spans]
        out["workload.query_geomean_s"] = (
            math.exp(statistics.fmean(math.log(x) for x in query_s)) if query_s else 0.0
        )
        return out


# ----------------------------------------------------------------- helpers


def _by_layer(tracer) -> dict[str, list]:
    out: dict[str, list] = {}
    for sp in tracer.spans:
        out.setdefault(sp.layer, []).append(sp)
    return out


def _rec_sum(tracer, spans, key: str, n_iters: int) -> float:
    return _per_iter([tracer.record(s)[key] for s in spans], n_iters)


def _sql_sum(tracer, spans, node: str, metric: str) -> float:
    return sum(node_sum(tracer.inclusive(s), node, metric) for s in spans)


def _write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


WORKLOADS = {Semsim.name: Semsim, LlmSession.name: LlmSession}
