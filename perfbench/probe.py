"""Spans around calls into the engine, with Spark status-store metrics.

A :class:`Tracer` records one span per call the benchmark makes into an
engine module: name, start, end, parent span and operation id. Each span
runs under its own Spark job group. When the call returns, the tracer
drains the listener bus and reads what the call caused from Spark's
status stores:

* SQL executions (``SQLAppStatusStore``) with an id above the one seen
  when the span opened: count, duration, and the per-operator SQL metrics
  of file scans and writes;
* jobs of the span's job group (``AppStatusStore``): job count, and the
  stage totals for shuffle, spill and bytes written;
* JVM garbage-collection time over the span.

Metrics are read after every call because the engine's session keeps
only the latest 50 SQL executions and 200 jobs and stages. With tracing
off, :meth:`Tracer.span` only yields, so the untraced run measures the
engine alone. Each span records the time the tracer spent on it, so a
traced operation states its own tracing overhead.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: SQL metrics summed over file-scan nodes (``Scan parquet ...``).
SCAN_METRICS = {
    "number of files read": "files_read",
    "number of partitions read": "partitions_read",
    "number of output rows": "scan_rows",
}
#: SQL metrics summed over every node.
WRITE_METRICS = {"number of written files": "files_written"}
#: Stage totals of ``v1.StageData`` summed over a span's jobs.
STAGE_FIELDS = {
    "shuffleWriteBytes": "shuffle_bytes",
    "diskBytesSpilled": "spill_bytes",
    "outputBytes": "bytes_written",
}
_DOT_NODE = re.compile(r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*?)" tooltip=')
_HTML_TAG = re.compile(r"<[^>]+>")
_METRIC = re.compile(r"^(.+?): ([\d,]+)$")


@dataclass
class Span:
    name: str
    op_id: int
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    #: counters caused by the call, children included
    counts: dict = field(default_factory=dict)
    #: time the tracer itself spent opening and closing this span
    overhead: float = 0.0
    #: tracer time spent inside this span, on the spans nested in it
    nested_overhead: float = 0.0
    #: Spark jobs and stages the call ran, children included
    job_ids: set = field(default_factory=set)
    stage_ids: set = field(default_factory=set)

    @property
    def wall(self) -> float:
        """Duration of the call, less the tracer's work on nested spans."""
        return self.end - self.start - self.nested_overhead

    def as_json(self) -> dict:
        return {
            "name": self.name,
            "op": self.op_id,
            "id": self.span_id,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
            "counts": self.counts,
            "overhead": self.overhead,
        }


def parse_dot_metrics(dot: str) -> dict[str, int]:
    """Sum the scan and write SQL metrics out of ``SparkPlanGraph.makeDotFile``.

    Each plan node is one DOT line whose HTML label holds the node name in
    bold, then one ``<br>name: value`` line per metric (a metric with a
    distribution spans two ``<br>`` lines and is skipped). Only integer
    ("sum") metrics are read; size and timing metrics are formatted with
    units and are taken from the stage totals instead.
    """
    out = {v: 0 for v in (*SCAN_METRICS.values(), *WRITE_METRICS.values())}
    for line in dot.splitlines():
        m = _DOT_NODE.match(line)
        if not m:
            continue
        parts = [_HTML_TAG.sub("", p).strip() for p in re.split(r"<br\s*/?>", m.group(1))]
        node, metrics = parts[0], parts[1:]
        is_scan = node.startswith("Scan parquet")
        for text in metrics:
            mm = _METRIC.match(text)
            if not mm:
                continue
            name, value = mm.group(1), int(mm.group(2).replace(",", ""))
            if is_scan and name in SCAN_METRICS:
                out[SCAN_METRICS[name]] += value
            if name in WRITE_METRICS:
                out[WRITE_METRICS[name]] += value
    return out


class Tracer:
    """In-memory span recorder; see the module docstring."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op_id = 0
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        jvm = self._sc._jvm
        self._to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._bus = self._sc._jsc.sc().listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc._jsc.sc().statusStore()
        self._gcs = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self._empty_list = jvm.java.util.ArrayList()
        self._empty_doubles = self._sc._gateway.new_array(jvm.double, 0)
        self._exec_cache: dict[int, dict] = {}
        self._stage_cache: dict[int, dict] = {}

    # -- span API ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_open = time.perf_counter()
        self._bus.waitUntilEmpty()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.op_id, len(self.spans), parent.span_id if parent else None, 0.0, attrs=attrs)
        group = f"{name}#{sp.span_id}"
        self._sc.setJobGroup(group, name)
        exec_mark = self._last_execution_id()
        gc0 = self._gc_ms()
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            gc_ms = self._gc_ms() - gc0
            if parent is not None:
                self._sc.setJobGroup(f"{parent.name}#{parent.span_id}", parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            for child in self.spans:
                if child.parent == sp.span_id:
                    sp.job_ids |= child.job_ids
                    sp.stage_ids |= child.stage_ids
            self._collect(sp, group, exec_mark)
            sp.counts["gc_s"] = gc_ms / 1000.0
            sp.overhead = (sp.start - t_open) + (time.perf_counter() - sp.end)
            if parent is not None:
                parent.nested_overhead += sp.overhead + sp.nested_overhead
            self.spans.append(sp)

    # -- status-store reads ----------------------------------------------
    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gcs)

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).head().executionId()

    def _execution(self, eid: int) -> dict | None:
        """Duration, scan/write metrics, jobs and stages of one SQL
        execution, read once (a parent span reuses what its children read)."""
        if eid in self._exec_cache:
            return self._exec_cache[eid]
        # the completion time and final metrics are written asynchronously
        # after the execution-end event
        deadline = time.perf_counter() + 5.0
        while True:
            opt = self._sql.execution(eid)
            if not opt.isDefined():
                return None  # dropped from the store before it was read
            e = opt.get()
            done = e.completionTime()
            if done.isDefined() or time.perf_counter() > deadline:
                break
            time.sleep(0.002)
        rec = parse_dot_metrics(self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid)))
        rec["sql_exec_s"] = 0.0
        if e.rootExecutionId() == eid and done.isDefined():
            rec["sql_exec_s"] = (done.get().getTime() - e.submissionTime()) / 1000.0
        rec["job_ids"] = set(self._to_java(e.jobs().keySet()))
        rec["stage_ids"] = set(self._to_java(e.stages()))
        self._exec_cache[eid] = rec
        return rec

    def _stage(self, sid: int) -> dict:
        if sid not in self._stage_cache:
            rec = dict.fromkeys(STAGE_FIELDS.values(), 0)
            try:
                attempts = self._to_java(
                    self._app.stageData(sid, False, self._empty_list, False, self._empty_doubles)
                )
            except Py4JJavaError:  # dropped from the store, or never submitted
                attempts = []
            for sd in attempts:
                for fld, key in STAGE_FIELDS.items():
                    rec[key] += getattr(sd, fld)()
            self._stage_cache[sid] = rec
        return self._stage_cache[sid]

    def _collect(self, sp: Span, group: str, exec_mark: int) -> None:
        """Counters of the SQL executions started since ``exec_mark`` and of
        the jobs they ran or that ran under ``group``. Streaming queries run
        their batches on threads of their own, without the job group, so
        the executions are what attribute their jobs."""
        self._bus.waitUntilEmpty()
        counts = {
            "sql_execs": 0,
            "sql_exec_s": 0.0,
            **dict.fromkeys((*SCAN_METRICS.values(), *WRITE_METRICS.values()), 0),
        }
        for eid in range(exec_mark + 1, self._last_execution_id() + 1):
            rec = self._execution(eid)
            if rec is None:
                continue
            counts["sql_execs"] += 1
            for k in counts.keys() - {"sql_execs"}:
                counts[k] += rec[k]
            sp.job_ids |= rec["job_ids"]
            sp.stage_ids |= rec["stage_ids"]
        tracker = self._sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            sp.job_ids.add(jid)
            info = tracker.getJobInfo(jid)
            if info is not None:
                sp.stage_ids.update(info.stageIds)
        counts["jobs"] = len(sp.job_ids)
        for key in STAGE_FIELDS.values():
            counts[key] = sum(self._stage(sid)[key] for sid in sp.stage_ids)
        sp.counts = counts
