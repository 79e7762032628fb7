"""Tracing for the per-layer run: spans around calls into the engine's
modules, Spark job groups per span, and Spark counters per operation.

Spans are recorded from the benchmark's side only: ``Tracer.install``
replaces public functions of the engine's modules with wrappers for the
life of the tracer and ``Tracer.uninstall`` puts the originals back.
Each span sets a Spark job group of its own, so every job lands on the
innermost span that caused it. After each top-level operation the
tracer reads the status tracker and the status store for the jobs of
its spans, before the store's retention limits can evict them. Spans
stay in memory; ``dump`` writes them out at the end of the run. The
scan-node metrics of each collected frame are read after its operation,
so the plan walk stays out of the timed region."""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

PKG = "adaptive_recommendation_chatbot_with_rag_and_vector_database_spark"

OWNED = "engine.postprocess"  # its frame's plan and collect spans carry this name

# (module, attribute, span name). Names follow the module that owns the
# code; engine.py imports some helpers by name, so those are wrapped in
# the engine's namespace, where its methods look them up.
WRAPPED = (
    ("engine", "embed_text", "functions.embed_text"),
    ("engine", "topk_cosine", "operators.topk_cosine"),
    ("engine", "postprocess_answers", OWNED),
    ("engine", "write_index_incremental", "engine.index_write"),
    ("engine", "load_binary_documents", "sources.load_binary_documents"),
    ("operators.similarity", "nearest_cells", "operators.nearest_cells"),
    ("operators.similarity", "ivf_knn_pruned", "operators.ivf_knn_pruned"),
    ("operators.similarity", "append_ivf_index", "engine.ivf_append"),
    ("operators.similarity", "write_ivf_index", "engine.ivf_write"),
    ("operators.similarity", "train_centroids_sample", "operators.train_centroids"),
    ("operators.ranking", "bm25_scores", "operators.bm25"),
    ("operators.ranking", "bm25_postings_scores", "operators.bm25"),
    ("operators.ranking", "rrf_fuse", "operators.rrf_fuse"),
    ("operators.ranking", "write_postings_index", "engine.postings_write"),
)
METHODS = (("engine", "RagEngine", "retrieve", "engine.retrieve"),)


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    sid: int
    start: float = 0.0
    end: float = 0.0
    group: str = ""
    scans: list = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Op:
    kind: str
    oid: int
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    job_ms: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    executor_cpu_ms: float = 0.0
    gc_ms: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def _jlist(jvm, seq):
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def scan_metrics(spark, df) -> list[dict]:
    """numFiles / numOutputRows of every file scan in the executed plan
    of ``df`` (after an action), looking through adaptive and query
    stage wrappers."""
    jvm = spark._jvm
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            m = node.metrics()
            row = {}
            for key in ("numFiles", "numOutputRows"):
                opt = m.get(key)
                row[key] = int(opt.get().value()) if opt.isDefined() else 0
            out.append(row)
        todo += _jlist(jvm, node.children())
    return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._stack: list[Span] = []
        self._op: Op | None = None
        self._seq = 0
        self._saved: list[tuple[object, str, object]] = []
        self._ungrouped_before = 0
        # collected frames whose scan metrics are read after their
        # operation, outside its timed region
        self._scanned: list[tuple[Span, object]] = []

    # -- spans ---------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name,
            self._op.oid if self._op else -1,
            parent.sid if parent else None,
            self._seq,
            group=f"perfbench-{self._seq}",
        )
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(sp)

    @contextmanager
    def op(self, kind: str):
        """One user-visible operation; its counters are read on exit."""
        op = Op(kind, len(self.ops))
        self._op = op
        first = len(self.spans)
        op.start = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                yield op
        finally:
            op.end = time.perf_counter()
            self._op = None
            self._read_counters(op, self.spans[first:])
            self.ops.append(op)

    def _read_counters(self, op: Op, spans: list[Span]) -> None:
        for sp, df in self._scanned:
            sp.scans = scan_metrics(self.spark, df)
        self._scanned.clear()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        intervals = []
        for sp in spans:
            for jid in tracker.getJobIdsForGroup(sp.group):
                op.jobs += 1
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime(), done.get().getTime()))
                for sid in _jlist(self.spark._jvm, jd.stageIds()):
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # NoSuchElement: never attempted
                        op.skipped_stages += 1
                        continue
                    if st.status().toString() == "SKIPPED":
                        op.skipped_stages += 1
                        continue
                    op.stages += 1
                    op.tasks += st.numCompleteTasks()
                    op.input_bytes += st.inputBytes()
                    op.shuffle_bytes += st.shuffleWriteBytes()
                    op.executor_cpu_ms += st.executorCpuTime() / 1e6
                    op.gc_ms += st.jvmGcTime()
        op.job_ms = _union_ms(intervals)

    def unattributed_jobs(self) -> int:
        """Jobs outside any job group since the tracer started."""
        return len(self.sc.statusTracker().getJobIdsForGroup(None)) - self._ungrouped_before

    # -- patching ------------------------------------------------------

    def wrap(self, fn, name: str):
        """``fn`` recording a span named ``name`` on each call."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if name == OWNED:
                # the caller collects this frame later: name those spans
                # after the function that built it
                out._perfbench_owner = name
            return out

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        """Wrap the engine's module functions and ``DataFrame`` actions."""
        from pyspark.sql.classic.dataframe import DataFrame

        self._ungrouped_before = len(self.sc.statusTracker().getJobIdsForGroup(None))
        for mod, attr, name in WRAPPED:
            m = importlib.import_module(f"{PKG}.{mod}")
            self._patch(m, attr, self.wrap(getattr(m, attr), name))
        for mod, cls, attr, name in METHODS:
            owner = getattr(importlib.import_module(f"{PKG}.{mod}"), cls)
            self._patch(owner, attr, self.wrap(getattr(owner, attr), name))
        tracer = self
        collect, count = DataFrame.collect, DataFrame.count

        def traced_collect(df):
            # plan and execution as separate spans: the executed plan is
            # cached on the query execution, so forcing it first adds no work
            owner = getattr(df, "_perfbench_owner", "spark")
            with tracer.span(f"{owner}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span(f"{owner}.collect") as sp:
                rows = collect(df)
            tracer._scanned.append((sp, df))
            return rows

        def traced_count(df):
            with tracer.span("spark.count"):
                return count(df)

        self._patch(DataFrame, "collect", traced_collect)
        self._patch(DataFrame, "count", traced_count)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, old = self._saved.pop()
            setattr(owner, attr, old)

    # -- output --------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({"span": sp.__dict__}) + "\n")
            for op in self.ops:
                fh.write(json.dumps({"op": op.__dict__}) + "\n")


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)
