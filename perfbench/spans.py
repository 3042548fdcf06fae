"""Outside-in tracing: spans around the calls the benchmark makes into
each layer's public functions, with Spark's own counters per span.

A span is opened by the benchmark (or by a wrapper that ``instrument``
installs over a library function for the duration of a traced
iteration), tags every Spark job started inside it with
``sc.setJobGroup(span_id, ...)`` and records wall time.  When the
iteration ends, the recorder waits for Spark's listener bus to drain
and resolves each span's jobs to counters read through py4j: stage
data from the JVM ``AppStatusStore`` and SQL plan-node metrics from
``sharedState().statusStore()``.  Both stores are populated with
``spark.ui.enabled=false``.  Spans stay in memory and are written out
once, at the end of the run.

Counters are inclusive (a span's jobs plus its descendants'); self
time is the span's wall time minus the time its children cover.
"""

from __future__ import annotations

import contextlib
import os
import re
import time
from dataclasses import dataclass, field

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_MB = 1 << 20


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric ('12,556', '16.1 MiB', '3.1 s', or the
    per-task 'total (min, med, max ...)' form) as a number in bytes,
    seconds or rows."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else text
    text = text.split(" (", 1)[0].strip()
    m = re.fullmatch(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    id: str
    layer: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    #: job groups whose jobs belong to this span (its own, plus e.g. a
    #: streaming query's run id)
    groups: list[str] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._resolved = 0

    @contextlib.contextmanager
    def span(self, layer: str, name: str = ""):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"pb-span-{len(self.spans)}", layer, name or layer,
                  parent.id if parent else None, time.perf_counter())
        sp.groups.append(sp.id)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, f"{layer} {name}".strip())
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, f"{parent.layer} {parent.name}".strip())
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ------------------------------------------------------------ counters

    def resolve(self) -> None:
        """Read Spark's counters for every span closed since the last
        call.  Waits for the listener bus so the stores hold every
        finished job."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        new = self.spans[self._resolved:]
        self._resolved = len(self.spans)
        for sp in new:
            sp.jobs = sorted({j for g in sp.groups for j in tracker.getJobIdsForGroup(g)})
        nodes_by_job = self._sql_nodes({j for sp in new for j in sp.jobs})
        for sp in new:
            sp.counters = _stage_counters(store, sp.jobs)
            sp.counters["sql"] = [n for j in sp.jobs for n in nodes_by_job.get(j, [])]

    def _sql_nodes(self, jobs: set[int]) -> dict[int, list[tuple[str, str, float]]]:
        """job id -> (plan node, metric, value) of the SQL execution that
        ran the job; each execution is listed under its first job only."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        execs = sql.executionsList()
        out: dict[int, list] = {}
        for k in range(execs.size()):
            ex = execs.apply(k)
            ex_jobs = sorted(int(j) for j in conv.asJava(ex.jobs().keySet()))
            if not ex_jobs or ex_jobs[0] not in jobs:
                continue
            values = sql.executionMetrics(ex.executionId())
            graph = sql.planGraph(ex.executionId()).allNodes()
            rows = []
            for n in range(graph.size()):
                node = graph.apply(n)
                metrics = node.metrics()
                for i in range(metrics.size()):
                    m = metrics.apply(i)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        rows.append((node.name(), m.name(), parse_metric(v.get())))
            out[ex_jobs[0]] = rows
        return out

    # ------------------------------------------------------------- queries

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_s(self, sp: Span) -> float:
        """Wall time not covered by child spans (children run
        sequentially on the driver thread, so they never overlap)."""
        return sp.wall_s - sum(c.wall_s for c in self.children(sp))

    def inclusive(self, sp: Span) -> dict:
        """Counters of the span and all its descendants."""
        total: dict = {}
        for s in [sp] + self.descendants(sp):
            for k, v in s.counters.items():
                if k == "sql":
                    total.setdefault("sql", []).extend(v)
                else:
                    total[k] = total.get(k, 0) + v
        total.setdefault("sql", [])
        return total

    def record(self, sp: Span) -> dict:
        """The span as written out: timings, inclusive stage counters and
        the SQL metrics the per-layer figures use."""
        inc = self.inclusive(sp)
        return {
            "id": sp.id, "parent": sp.parent, "layer": sp.layer, "name": sp.name,
            "wall_s": sp.wall_s, "self_s": self.self_s(sp),
            **{k: v for k, v in inc.items() if k != "sql"},
            "python_udf_s": node_sum(inc, "ArrowEvalPython", "time to run Python workers"),
            "broadcast_mb": node_sum(inc, "BroadcastExchange", "data size") / _MB,
            "written_mb": node_sum(inc, "InsertIntoHadoopFsRelationCommand", "written output") / _MB,
        }

    def records(self) -> list[dict]:
        return [self.record(sp) for sp in self.spans]


def node_sum(counters: dict, node: str, metric: str) -> float:
    return sum(v for n, m, v in counters["sql"] if node in n and m == metric)


def _stage_counters(store, jobs: list[int]) -> dict:
    c = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_read_mb": 0.0,
         "shuffle_write_mb": 0.0, "spill_mb": 0.0, "executor_cpu_s": 0.0,
         "executor_run_s": 0.0, "gc_s": 0.0}
    seen = set()
    for j in jobs:
        try:
            ids = store.job(j).stageIds()
        except Exception:  # noqa: BLE001 -- job evicted from the store
            continue
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 -- stage evicted from the store
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numTasks()
            c["shuffle_read_mb"] += (sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()) / _MB
            c["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            c["spill_mb"] += sd.diskBytesSpilled() / _MB
            c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            c["executor_run_s"] += sd.executorRunTime() / 1e3
            c["gc_s"] += sd.jvmGcTime() / 1e3
    return c


# --------------------------------------------------------------- wrappers

_WRITE_LAYER = {
    "emissions.parquet": "sources.biarcs",
    "assoc.parquet": "operators.assoc",
    "pair_vectors.parquet": "operators.pair_vectors",
}


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the paper pipeline's layer entry points in spans for the
    duration of the block, restoring the originals afterwards.

    Lazy DataFrames do their work at an action, so the spans that
    matter are around the actions: every parquet write is a span named
    after the layer whose output it materializes (other writes belong
    to ``run_pipeline``'s per-stage outputs).  ``corpus_counts`` and
    ``read_gold_standard`` return relations the pipeline consumes
    later; their wrappers materialize them inside the span (counts are
    persisted at the storage level the pipeline itself uses, so the
    pipeline reuses them; the gold relation is counted once more),
    which is part of the tracing overhead."""
    from pyspark import StorageLevel
    from pyspark.sql.readwriter import DataFrameWriter

    from semantic_similarity_system_using_aws_mapreduce_spark import run_pipeline
    from semantic_similarity_system_using_aws_mapreduce_spark.plans import pipeline

    patches = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def spanned(layer):
        def make(fn):
            def wrapper(*a, **kw):
                with tracer.span(layer, fn.__name__):
                    return fn(*a, **kw)
            return wrapper
        return make

    def counts_make(fn):
        def wrapper(*a, **kw):
            with tracer.span("operators.counts", fn.__name__):
                counts = fn(*a, **kw)
                counts.pair_counts.persist(StorageLevel.MEMORY_AND_DISK).count()
            return counts
        return wrapper

    def gold_make(fn):
        def wrapper(*a, **kw):
            with tracer.span("sources.gold", fn.__name__):
                gold = fn(*a, **kw)
                gold.count()
            return gold
        return wrapper

    def write_make(fn):
        def wrapper(self, path, *a, **kw):
            layer = _WRITE_LAYER.get(os.path.basename(str(path).rstrip("/")), "run_pipeline.write")
            with tracer.span(layer, "write " + os.path.basename(str(path))):
                return fn(self, path, *a, **kw)
        return wrapper

    patch(run_pipeline, "semantic_similarity_pipeline", spanned("plans.pipeline"))
    patch(run_pipeline, "cross_validate_random_forest", spanned("ml.classify"))
    patch(pipeline, "corpus_counts", counts_make)
    patch(pipeline, "read_gold_standard", gold_make)
    patch(DataFrameWriter, "parquet", write_make)
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(patches):
            setattr(owner, attr, orig)
