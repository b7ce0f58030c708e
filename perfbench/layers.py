"""Per-query layer counters, read from outside the engine.

Everything here reads Spark's own bookkeeping around calls into the
engine's public entry points; nothing is added inside the engine:

- jobs and stages from the live ``AppStatusStore`` (run, CPU and GC
  time, input, output, shuffle and spill bytes, submit and complete
  times);
- Python-boundary and file-writer metrics from the SQL status store,
  by metric name;
- micro-batch progress from a ``StreamingQueryListener``.

Status-store and listener updates arrive asynchronously, so every read
first drains the listener bus.
"""

from __future__ import annotations

import json
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

#: SQL status-store metric name -> the layer counter it adds to
SQL_METRICS = {
    "data sent to Python workers": "udfs.bytes_to_python",
    "data returned from Python workers": "udfs.bytes_from_python",
    "time to run Python workers": "udfs.python_run_s",
    "time to start Python workers": "udfs.python_start_s",
    "time to initialize Python workers": "udfs.python_start_s",
    "number of written files": "sinks.files",
}
_UNITS = {
    "": 1.0,
    "B": 1.0,
    "KiB": 2.0**10,
    "MiB": 2.0**20,
    "GiB": 2.0**30,
    "TiB": 2.0**40,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

#: counters one query contributes; every per-query record carries all of them
COUNTERS = (
    "scheduler.jobs",
    "scheduler.jobs_in_group",
    "scheduler.stages",
    "scheduler.tasks",
    "scheduler.failed_tasks",
    "scheduler.driver_gap_s",
    "scheduler.task_s",
    "scheduler.cpu_s",
    "scheduler.gc_s",
    "catalog.input_bytes",
    "catalog.input_rows",
    "catalog.scan_task_s",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.fetch_wait_s",
    "shuffle.spill_bytes",
    *dict.fromkeys(SQL_METRICS.values()),
    "sinks.output_bytes",
    "sinks.output_rows",
    "streaming.batches",
    "streaming.empty_batches",
    "streaming.trigger_s",
    "streaming.add_batch_s",
    "streaming.planning_s",
    "streaming.commit_s",
    "streaming.empty_batch_s",
    "streaming.state_rows",
    "streaming.state_mem_bytes",
)


#: times that are zero by construction on one of the workloads (no Python
#: worker or stream runs in ``sql_etl``, no remote shuffle fetch in local
#: mode): kept in the record, not printed, because a time that always reads
#: the same says nothing about a change
RECORD_ONLY = frozenset(
    {
        "shuffle.fetch_wait_s",
        "udfs.python_run_s",
        "udfs.python_start_s",
        "streaming.trigger_s",
        "streaming.add_batch_s",
        "streaming.planning_s",
        "streaming.commit_s",
        "streaming.empty_batch_s",
    }
)


def metric_value(text: str) -> float:
    """A SQL-metric display string ("1,000", "26.5 KiB", "732 ms") as a
    number in bytes, seconds or rows. Multi-line forms keep the total on
    their last line."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class _StreamEvents(StreamingQueryListener):
    """Collects micro-batch progress per streaming query id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.id))

    def take(self, timeout_s: float) -> tuple[list[dict], int]:
        """Progress of every query started since the last call, after
        waiting for each one's terminal event; returns the progress list
        and the number of queries still not terminated at the timeout."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                pending = self.started - self.terminated
                if not pending or time.monotonic() >= deadline:
                    out = self.progress
                    self.progress = []
                    self.started -= self.terminated
                    self.terminated.clear()
                    return out, len(pending)
            time.sleep(0.01)


class Tracer:
    """Reads the layer counters of each query run on one SparkSession."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gateway = sc._gateway
        self._jvm = sc._jvm
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._streams = _StreamEvents()
        spark.streams.addListener(self._streams)
        self._drain()
        self._last_job = self._newest(self._store.jobsList(None), "jobId")
        self._last_stage = self._newest(self._stage_list(), "stageId")
        execs = self._sql.executionsList()
        n = execs.size()
        self._last_exec = execs.apply(n - 1).executionId() if n else -1

    @staticmethod
    def _newest(seq, attr: str) -> int:
        return getattr(seq.apply(0), attr)() if seq.size() else -1

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _stage_list(self):
        array_list = self._jvm.java.util.ArrayList
        quantiles = self._gateway.new_array(self._jvm.double, 0)
        return self._store.stageList(array_list(), False, False, quantiles, array_list())

    def jobs_since_last(self) -> int:
        """Jobs started since the last ``collect`` (drains the bus)."""
        self._drain()
        jobs = self._store.jobsList(None)
        n = 0
        while n < jobs.size() and jobs.apply(n).jobId() > self._last_job:
            n += 1
        return n

    def collect(self, group: str, start_ms: int, end_ms: int) -> dict[str, float]:
        """Counters of everything that ran since the previous call.

        The benchmark is a closed loop with one client thread, so every
        job, stage and SQL execution newer than the previous call belongs
        to the query that just ran, including the jobs a streaming query
        runs under its own job group."""
        self._drain()
        c = dict.fromkeys(COUNTERS, 0.0)
        jobs = self._store.jobsList(None)
        i = 0
        while i < jobs.size() and (job := jobs.apply(i)).jobId() > self._last_job:
            c["scheduler.jobs"] += 1
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                c["scheduler.jobs_in_group"] += 1
            i += 1
        if i:
            self._last_job = jobs.apply(0).jobId()

        stages = self._stage_list()
        intervals = []
        i = 0
        while i < stages.size() and (s := stages.apply(i)).stageId() > self._last_stage:
            i += 1
            status = s.status().toString()
            if status in ("SKIPPED", "PENDING"):
                continue
            run_s = s.executorRunTime() / 1e3
            c["scheduler.stages"] += 1
            c["scheduler.tasks"] += s.numTasks()
            c["scheduler.failed_tasks"] += s.numFailedTasks()
            c["scheduler.task_s"] += run_s
            c["scheduler.cpu_s"] += s.executorCpuTime() / 1e9
            c["scheduler.gc_s"] += s.jvmGcTime() / 1e3
            if s.inputBytes() or s.inputRecords():
                c["catalog.input_bytes"] += s.inputBytes()
                c["catalog.input_rows"] += s.inputRecords()
                c["catalog.scan_task_s"] += run_s
            c["shuffle.write_bytes"] += s.shuffleWriteBytes()
            c["shuffle.read_bytes"] += s.shuffleReadBytes()
            c["shuffle.fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            c["shuffle.spill_bytes"] += s.diskBytesSpilled()
            c["sinks.output_bytes"] += s.outputBytes()
            c["sinks.output_rows"] += s.outputRecords()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined():
                b = done.get().getTime() if done.isDefined() else end_ms
                intervals.append((sub.get().getTime(), b))
        if i:
            self._last_stage = stages.apply(0).stageId()
        gap_ms = (end_ms - start_ms) - covered_ms(intervals, start_ms, end_ms)
        c["scheduler.driver_gap_s"] = max(gap_ms, 0) / 1e3

        execs = self._sql.executionsList()
        i = execs.size() - 1
        newest = self._last_exec
        while i >= 0 and (ex := execs.apply(i)).executionId() > self._last_exec:
            newest = max(newest, ex.executionId())
            values = self._sql.executionMetrics(ex.executionId())
            seen = set()
            metrics = ex.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                counter = SQL_METRICS.get(m.name())
                acc = m.accumulatorId()
                if counter is None or acc in seen or not values.contains(acc):
                    continue
                seen.add(acc)
                c[counter] += metric_value(values.apply(acc))
            i -= 1
        self._last_exec = newest

        progress, unfinished = self._streams.take(timeout_s=10.0)
        if unfinished:
            raise RuntimeError(f"{unfinished} streaming queries never reported termination")
        last_state: dict[str, list] = {}
        for p in progress:
            d = p.get("durationMs", {})
            c["streaming.batches"] += 1
            c["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            c["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            c["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
            c["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            if p.get("numInputRows", 0) == 0:
                c["streaming.empty_batches"] += 1
                c["streaming.empty_batch_s"] += d.get("triggerExecution", 0) / 1e3
            last_state[p["id"]] = p.get("stateOperators", [])
        for ops in last_state.values():
            c["streaming.state_rows"] += sum(op.get("numRowsTotal", 0) for op in ops)
            c["streaming.state_mem_bytes"] += sum(op.get("memoryUsedBytes", 0) for op in ops)
        return c
