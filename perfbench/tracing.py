"""In-memory spans around the engine's public calls, with the Spark work of
each span read from Spark's status store.

A span is (name, start, end, parent, op). Its layer is the longest of
LAYERS that prefixes its name: ``query.segment_search.wand_topk`` belongs to
layer ``query.segment_search``. The benchmark has a single client thread, so
every Spark job is caused by the innermost span open when it was submitted;
jobs are attributed by submission time rather than by job group, because the
engine submits some jobs from its own helper threads (``build_index`` runs
doclens and term_stats concurrently), which do not inherit a job group.
Jobs of those two overlapping stages are told apart by the directory their
SQL execution writes.

Nothing here runs when tracing is off: ``span`` is then a no-op.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)")
PYTHON_SENT = "data sent to Python workers"
_WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: (?:file:)?([^\s,]+)")


#: the engine's modules that the benchmark wraps; "op" is the benchmark's
#: own root span around each operation
LAYERS = ("data", "index.build", "index.segments", "index.store", "query.segment_search",
          "query.bm25", "query.dsl", "query.batch", "streaming.ingest", "op")


def layer_of(name: str) -> str:
    """The longest layer that prefixes a span name."""
    return max((ly for ly in LAYERS if name.startswith(ly + ".")), key=len)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return layer_of(self.name)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {"id": self.sid, "name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "op": self.op, "attrs": self.attrs,
                "counters": self.counters}


class Tracer:
    """Span recorder. Spans are kept in memory and written by the caller
    when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, time.time(), 0.0, parent, self._op, dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, kind: str, op_id: int):
        """Root span of one timed (or warm-up) operation."""
        self._op = op_id
        try:
            with self.span(f"op.{kind}", kind=kind) as sp:
                yield sp
        finally:
            self._op = None

    def add(self, name: str, start: float, end: float, parent: Span | None, **attrs) -> None:
        """A span reconstructed after the fact (e.g. a build stage)."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, start, end,
                                   parent.sid if parent else None,
                                   parent.op if parent else None, dict(attrs)))

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def self_time(self, sp: Span) -> float:
        """Span wall minus the part of it covered by its children."""
        return sp.wall - covered(sp, self.children(sp))


def covered(sp: Span, kids: list[Span]) -> float:
    """Length of the union of `kids` clipped to `sp`."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(k.start, sp.start), min(k.end, sp.end)) for k in kids):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _seq(jvm, seq) -> list:
    """A Scala Seq as a Python list."""
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def parse_size(text: str) -> float:
    """Total bytes of a SQL size metric string such as '806.4 KiB' or
    'total (min, med, max (...))\\n806.4 KiB (...)'."""
    m = _SIZE.search(text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * SIZE_UNITS[m.group(2)] if m else 0.0


def attribute_spark_work(spark, tracer: Tracer) -> None:
    """Fill each span's counters from the Spark jobs submitted while it was
    the innermost open span: jobs, tasks, task run and CPU seconds, input
    rows, shuffle bytes and Arrow bytes sent to Python workers."""
    sc = spark.sparkContext
    jvm = sc._jvm
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    store = jsc.statusStore()
    spans = tracer.spans
    for sp in spans:
        sp.counters = dict.fromkeys(
            ("jobs", "tasks", "task_run_s", "task_cpu_s", "input_rows",
             "shuffle_read_bytes", "shuffle_write_bytes", "python_bytes"), 0.0)
    # innermost = latest-starting span containing the submission time
    by_start = sorted(spans, key=lambda s: s.start)

    def owner(t_ms: int) -> Span | None:
        t = t_ms / 1000.0
        best = None
        for s in by_start:
            if s.start > t + 0.001:
                break
            if s.start - 0.001 <= t <= s.end + 0.001:
                best = s
        return best

    jobs = {}
    for job in _seq(jvm, store.jobsList(None)):
        sub = job.submissionTime()
        if not sub.isEmpty():
            sp = owner(sub.get().getTime())
            if sp is not None:
                jobs[job.jobId()] = (job, sp)

    sql = spark._jsparkSession.sharedState().statusStore()
    python_bytes = []
    for ex in _seq(jvm, sql.executionsList()):
        ids = [int(j) for j in _seq(jvm, ex.jobs().keys().toSeq()) if int(j) in jobs]
        if not ids:
            continue
        sp = jobs[ids[0]][1]
        if "path" in sp.attrs:
            # concurrent build stages overlap in time; the stage a write
            # job belongs to is the one whose directory it writes
            m = _WRITE.search(ex.physicalPlanDescription())
            target = m.group(1).rstrip("/") if m else ""
            for other in spans:
                if other.attrs.get("path") == target and other.parent == sp.parent:
                    sp = other
            for j in ids:
                jobs[j] = (jobs[j][0], sp)
        accs = [m.accumulatorId() for m in _seq(jvm, ex.metrics()) if m.name() == PYTHON_SENT]
        if accs:
            values = sql.executionMetrics(ex.executionId())
            for acc in accs:
                v = values.get(acc)
                if v.isDefined():
                    python_bytes.append((sp, parse_size(v.get())))

    seen_stages: set[int] = set()
    for jid in sorted(jobs):
        job, sp = jobs[jid]
        c = sp.counters
        c["jobs"] += 1
        for sid in _seq(jvm, job.stageIds()):
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage never ran
                continue
            c["tasks"] += st.numCompleteTasks()
            c["task_run_s"] += st.executorRunTime() / 1e3
            c["task_cpu_s"] += st.executorCpuTime() / 1e9
            c["input_rows"] += st.inputRecords()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
    for sp, n in python_bytes:
        sp.counters["python_bytes"] += n
