"""Spans around calls into the pipeline's layers, and Spark task metrics
grouped by span.

Spark is lazy, so a layer's work runs where the pipeline forces it: in the
checkpoint write that ends each stage, in BCA's own actions, in the GloVe
epoch loop, in PCA's fit and in the TSV export. The traced run replaces
those module attributes with pass-through wrappers that open a span and
tag the Spark jobs started inside it with the span's job group; the
status store then yields task metrics per span. Spans live in memory and
are written out once the run ends. Untraced runs install no wrapper.
"""

from __future__ import annotations

import functools
import itertools
import time
from dataclasses import asdict, dataclass

# (module, attribute, span name) wrapped in a traced run; a checkpoint
# span is named after the stage it writes.
WRAPPED = [
    ("graph_embeddings_spark.session", "get_spark", "session.get_spark"),
    ("graph_embeddings_spark.pipeline", "checkpoint_stage", "checkpoint_stage"),
    ("graph_embeddings_spark.pipeline", "bca_cooccurrence", "bca_cooccurrence"),
    ("graph_embeddings_spark.pipeline", "optimize", "optimize"),
    ("graph_embeddings_spark.pipeline", "write_tsv", "write_tsv"),
    ("graph_embeddings_spark.glove.pca", "pca_reduce", "pca_reduce"),
    # counted, to tell which BCA strategy ran
    ("graph_embeddings_spark.bca.cooc", "_broadcast_bca", "bca.broadcast"),
]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.run}/{self.id}/{self.name}"


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.sc = None  # set once a SparkContext exists
        self.bookkeeping_s = 0.0  # time spent opening and closing spans

    # -- spans -------------------------------------------------------------
    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(next(self._ids), name, parent, self.run_id, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    def call(self, name: str, fn, *args, **kwargs):
        t = time.perf_counter()
        span = self.open(name)
        self.bookkeeping_s += time.perf_counter() - t
        try:
            return fn(*args, **kwargs)
        finally:
            t = time.perf_counter()
            self.close(span)
            self.bookkeeping_s += time.perf_counter() - t

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)

            def wrapper(*args, _orig=orig, _name=name, **kwargs):
                if _name == "checkpoint_stage":
                    stage = args[2] if len(args) > 2 else kwargs["stage"]
                    _name = f"checkpoint_stage:{stage}"
                return self.call(_name, _orig, *args, **kwargs)

            setattr(mod, attr, functools.wraps(orig)(wrapper))

    # -- derived figures ---------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, edge = 0.0, span.start
        for a, b in kids:
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        return (span.end - span.start) - covered

    def records(self) -> list[dict]:
        return [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]


# -- Spark status store ------------------------------------------------------

def _jlist(sc, seq):
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


@dataclass
class StageTotals:
    jobs: int = 0
    tasks: int = 0
    run_ms: int = 0           # executorRunTime
    cpu_ns: int = 0           # executorCpuTime
    shuffle_write: int = 0
    skew: float = 0.0         # max / median task time of the busiest stage

    @property
    def py_boundary_s(self) -> float:
        """Time tasks ran but not on a JVM CPU: Python workers and the
        Arrow hand-off to them (plus any I/O wait)."""
        return max(0.0, self.run_ms / 1e3 - self.cpu_ns / 1e9)

    @property
    def shuffle_mb(self) -> float:
        return self.shuffle_write / 1e6


def stage_totals_by_group(sc) -> dict[str, StageTotals]:
    """Task metrics of every finished job, summed per job group. A stage
    counts once, for the first job that ran it."""
    store = sc._jsc.sc().statusStore()
    out: dict[str, StageTotals] = {}
    seen: set[int] = set()
    jobs = sorted(_jlist(sc, store.jobsList(None)), key=lambda j: j.jobId())
    for job in jobs:
        grp = job.jobGroup()
        key = grp.get() if grp.isDefined() else ""
        tot = out.setdefault(key, StageTotals())
        tot.jobs += 1
        busiest = (0, None)
        for sid in _jlist(sc, job.stageIds()):
            if sid in seen:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: a skipped stage has no attempt
                continue
            if st.numCompleteTasks() == 0:
                continue
            seen.add(sid)
            tot.tasks += st.numCompleteTasks()
            tot.run_ms += st.executorRunTime()
            tot.cpu_ns += st.executorCpuTime()
            tot.shuffle_write += st.shuffleWriteBytes()
            if st.executorRunTime() > busiest[0]:
                busiest = (st.executorRunTime(), st)
        if busiest[1] is not None:
            st = busiest[1]
            durs = sorted(
                t.duration().get()
                for t in _jlist(sc, store.taskList(st.stageId(), st.attemptId(), 100_000))
                if t.duration().isDefined()
            )
            if durs:
                med = durs[len(durs) // 2]
                tot.skew = max(tot.skew, durs[-1] / med if med else float(durs[-1] > 0))
    return out


def input_scans(spark, first_execution: int, last_execution: int, marker: str) -> int:
    """Executed file scans of the input in SQL executions first..last: plan
    nodes named 'Scan <format>' whose description holds `marker` and that
    read at least one file. Each is one full pass over the input file. A
    scan shown twice in one plan graph (adaptive re-planning) shares its
    metric accumulators, so scans are counted by accumulator id."""
    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()
    scans = set()
    for ex in _jlist(sc, sql.executionsList()):
        eid = ex.executionId()
        if not first_execution <= eid <= last_execution:
            continue
        values = sql.executionMetrics(eid)
        for node in _jlist(sc, sql.planGraph(eid).allNodes()):
            if not node.name().startswith("Scan ") or marker not in node.desc():
                continue
            for m in _jlist(sc, node.metrics()):
                acc = m.accumulatorId()
                if m.name() == "number of files read" and values.contains(acc) \
                        and values.get(acc).get() not in ("", "0"):
                    scans.add(acc)
    return len(scans)


def last_execution_id(spark) -> int:
    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()
    ids = [ex.executionId() for ex in _jlist(sc, sql.executionsList())]
    return max(ids, default=-1)
