"""Spans, counters and Spark's own records for the traced run.

``Tracer.wrap`` replaces a layer's public function by a spanned version
from the outside (module or class attributes; nothing in the package is
edited) and records one span per call: name, start, end, parent span and
op id. Spans and counters stay in memory and are written out once, at
the end of the run.

Spark-side numbers come only from what Spark already records: the app
status store (stages, jobs, tasks), the SQL status store (executions and
their plan metrics) and ``StreamingQueryProgress`` delivered to a
listener.
"""

from __future__ import annotations

import functools
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.stats import Span


class Tracer:
    """In-memory spans and counters; ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._names: list[str] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._names.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self._names.pop()
            self.spans.append(
                Span(name, t0, time.perf_counter(), sid, parent, self.op_id)
            )

    def add(self, key: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[key] += value

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a spanned version of itself.

        ``on_call(args, kwargs, seconds)`` runs after each call, inside the
        span, to record counts for that call.
        """
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            if self._names and self._names[-1] == name:
                return fn(*args, **kwargs)  # re-entry: the outer span counts
            with self.span(name):
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(args, kwargs, time.perf_counter() - t0)
                return out

        setattr(owner, attr, spanned)


def span_cost_s(calls: int = 20_000, repeats: int = 5) -> float:
    """Seconds one spanned call adds to the call it wraps: a no-op
    called through ``Tracer.wrap`` against the plain no-op, the median
    of ``repeats`` timings of ``calls`` calls each."""

    class Probe:
        @staticmethod
        def noop():
            return None

    def per_call() -> float:
        f = Probe.noop
        t0 = time.perf_counter()
        for _ in range(calls):
            f()
        return (time.perf_counter() - t0) / calls

    plain = statistics.median(per_call() for _ in range(repeats))
    Tracer(True).wrap(Probe, "noop", "probe")
    spanned = statistics.median(per_call() for _ in range(repeats))
    return max(spanned - plain, 0.0)


# --- Spark status stores -------------------------------------------------

def _iter(seq):
    """Iterate a Scala Seq handed over py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def sql_execution_count(spark) -> int:
    return int(spark._jsparkSession.sharedState().statusStore().executionsCount())


def _stages(spark):
    """Every retained stage, without task details or quantiles."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    return _iter(store.stageList(
        None, False, False, no_quantiles, sc._jvm.java.util.ArrayList()
    ))


def max_stage_id(spark) -> int:
    return max((int(s.stageId()) for s in _stages(spark)), default=-1)


def max_execution_id(spark) -> int:
    sql = spark._jsparkSession.sharedState().statusStore()
    ids = [int(e.executionId()) for e in _iter(sql.executionsList())]
    return max(ids, default=-1)


def stage_totals(spark, after_stage: int) -> dict[str, float]:
    """Task metrics summed over stages with id > ``after_stage``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tot: dict[str, float] = defaultdict(float)
    for s in _stages(spark):
        if int(s.stageId()) <= after_stage:
            continue
        tot["spark.tasks"] += int(s.numCompleteTasks()) + int(s.numFailedTasks())
        tot["spark.failed_tasks"] += int(s.numFailedTasks())
        tot["spark.task_run_s"] += int(s.executorRunTime()) / 1e3
        tot["spark.task_cpu_s"] += int(s.executorCpuTime()) / 1e9
        tot["spark.gc_s"] += int(s.jvmGcTime()) / 1e3
        tot["spark.shuffle_write_bytes"] += int(s.shuffleWriteBytes())
        tot["spark.shuffle_read_bytes"] += int(s.shuffleReadBytes())
        tot["spark.spill_bytes"] += int(s.memoryBytesSpilled()) + int(
            s.diskBytesSpilled()
        )
        tot["spark.scan_bytes"] += int(s.inputBytes())
    jobs = [j for j in _iter(store.jobsList(None))]
    tot["spark.jobs"] = float(
        sum(1 for j in jobs if any(
            int(x) > after_stage for x in _iter(j.stageIds())
        ))
    )
    return dict(tot)


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a SQL metric as the status store renders it: ``"1,234"``,
    ``"12.3 MiB"``, ``"1.5 s"``, or the task-aggregated form
    ``"total (min, med, max ...)\\n4.0 MiB (1.0 MiB, ...)"`` (bytes for
    sizes, seconds for times)."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)


# SQL plan metric name -> counter key. Python runner metrics appear on
# the Arrow/Pandas/batch-eval exec nodes; scan metrics on file scans.
SQL_METRICS = {
    "number of files read": "spark.scan_files",
    "time to run Python workers": "python.eval_s",
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
}


def sql_totals(spark, after_execution: int) -> dict[str, float]:
    """SQL executions with id > ``after_execution``: their count and the
    plan metrics named in ``SQL_METRICS``, summed."""
    sql = spark._jsparkSession.sharedState().statusStore()
    tot: dict[str, float] = defaultdict(float)
    for e in _iter(sql.executionsList()):
        eid = int(e.executionId())
        if eid <= after_execution:
            continue
        tot["spark.executions"] += 1
        wanted = {}
        for m in _iter(e.metrics()):
            key = SQL_METRICS.get(m.name())
            if key:
                wanted[int(m.accumulatorId())] = key
        if not wanted:
            continue
        values = {}
        for kv in _iter(sql.executionMetrics(eid)):
            values[int(kv._1())] = str(kv._2())
        for acc, key in wanted.items():
            if acc in values:
                tot[key] += parse_metric(values[acc])
    return dict(tot)


# --- streaming progress --------------------------------------------------

def stream_listener(spark):
    """Register and return a listener that keeps every progress event.

    Progress arrives asynchronously; ``settle()`` waits until no new
    event has arrived for a short quiet period.
    """
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events = []
            self.last = time.monotonic()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(event.progress)
            self.last = time.monotonic()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.last = time.monotonic()

        def settle(self, quiet: float = 0.5, limit: float = 5.0) -> None:
            t_end = time.monotonic() + limit
            while time.monotonic() < t_end:
                if time.monotonic() - self.last >= quiet:
                    return
                time.sleep(0.05)

    lst = Progress()
    spark.streams.addListener(lst)
    return lst


def progress_totals(events) -> tuple[dict[str, float], list[float]]:
    """Per-layer streaming counters and each epoch's trigger time (s)."""
    tot: dict[str, float] = defaultdict(float)
    epochs = []
    keys = {
        "addBatch": "streaming.add_batch_s",
        "queryPlanning": "streaming.planning_s",
        "latestOffset": "streaming.latest_offset_s",
        "walCommit": "streaming.wal_commit_s",
        "commitOffsets": "streaming.commit_offsets_s",
    }
    for p in events:
        d = dict(p.durationMs or {})
        epochs.append(d.get("triggerExecution", 0) / 1e3)
        tot["streaming.epochs"] += 1
        if not p.numInputRows:
            tot["streaming.empty_epochs"] += 1
        for src, key in keys.items():
            tot[key] += d.get(src, 0) / 1e3
        for op in p.stateOperators or []:
            # rows held in state, summed over epochs
            tot["streaming.state_rows"] += op.numRowsTotal
            tot["streaming.state_bytes"] += op.memoryUsedBytes
            tot["streaming.state_commit_s"] += op.commitTimeMs / 1e3
            tot["streaming.rows_dropped_by_watermark"] += (
                op.numRowsDroppedByWatermark
            )
    if tot["streaming.epochs"]:
        tot["streaming.empty_epoch_frac"] = (
            tot["streaming.empty_epochs"] / tot["streaming.epochs"]
        )
    return dict(tot), epochs
