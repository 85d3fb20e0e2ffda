"""Spans, Spark accounting and host readings for the benchmark's traced runs.

Everything here observes the library from the outside:

- :class:`Tracer` records a span per layer call.  Each span runs under its
  own Spark job group (a thread-local property, so spans opened in driver
  worker threads are attributed correctly), which lets the status store
  say how many jobs each layer launched.
- :class:`TimingSnapshotter` is the mapping pipeline's ``snap=`` hook: the
  same eager ``localCheckpoint`` as the default snapshotter, with each cut
  timed and its rows counted.
- :func:`interposed` swaps a module's functions for timed wrappers for the
  length of a ``with`` block.  Wrapped calls that return lazy frames are
  materialized inside their span, so the work lands in the layer that
  planned it; the traced run pays for that, and ``trace.overhead_frac``
  reports the price.
- :class:`SparkLedger` reads job, stage, task and shuffle totals from the
  driver's status store, which Spark keeps even with the UI disabled.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

from metasra_pipeline_spark.ops import Snapshotter

_GROUP = "spark.jobGroup.id"
_SPAN_PREFIX = "perfbench:"
# trace-only jobs (row counts) run under this group, outside every span
_TRACE_GROUP = "perfbench-trace"


# ------------------------------------------------------------- host readings
def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    fields = [int(x) for x in parts[1:9]]   # user .. steal; guest is in user
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ------------------------------------------------------------------- spans
class Tracer:
    """Per-layer spans and counts for one traced pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._lock = threading.Lock()
        self.spans: list[tuple[str, float, float]] = []
        self.values: dict[str, float] = {}

    @contextmanager
    def _job_group(self, group: str):
        prev = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty(_GROUP, prev)

    @contextmanager
    def span(self, layer: str):
        with self._job_group(_SPAN_PREFIX + layer):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                t1 = time.perf_counter()
                with self._lock:
                    self.spans.append((layer, t0, t1))

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.values[name] = self.values.get(name, 0) + value

    def count(self, df: DataFrame) -> int:
        """Row count of an already materialized frame, as a trace-only job."""
        with self._job_group(_TRACE_GROUP):
            return df.count()

    def seconds(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for layer, t0, t1 in self.spans:
            out[layer] = out.get(layer, 0.0) + (t1 - t0)
        return out

    def covered(self, start: float, end: float) -> float:
        """Length of the union of all span intervals within [start, end]:
        spans that run concurrently count once."""
        total, reach = 0.0, start
        for _, t0, t1 in sorted(self.spans, key=lambda s: s[1]):
            t0, t1 = max(t0, reach), min(t1, end)
            if t1 > t0:
                total += t1 - t0
                reach = t1
        return total


class TimingSnapshotter(Snapshotter):
    """Eager in-memory cuts, as the pipeline's default, timed per cut."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def cut(self, df: DataFrame, name: str) -> DataFrame:
        layer = f"plans.pipeline.cut.{name}"
        with self.tracer.span(layer):
            out = df.localCheckpoint(eager=True)
        self.tracer.add(f"{layer}.rows", self.tracer.count(out))
        return out


def _materialize(out):
    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, tuple):
        return tuple(_materialize(o) for o in out)
    return out


@contextmanager
def interposed(tracer: Tracer, module, spec: dict):
    """Within the block, ``module.<attr>`` runs inside a span named
    ``spec[attr][0]``; its frame outputs are materialized in the span and
    ``spec[attr][1](out, kwargs)`` (if given) records counts afterwards."""
    saved = {attr: getattr(module, attr) for attr in spec}

    def wrap(fn, layer, after):
        def timed(*args, **kwargs):
            with tracer.span(layer):
                out = _materialize(fn(*args, **kwargs))
            if after is not None:
                after(out, kwargs)
            return out
        return timed

    for attr, (layer, after) in spec.items():
        setattr(module, attr, wrap(saved[attr], layer, after))
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


# --------------------------------------------------------- spark accounting
class SparkLedger:
    """Job/stage/task totals from the driver's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects all jobs submitted so far."""
        self._bus.waitUntilEmpty(60_000)

    def _jobs(self):
        return list(self._conv.asJava(self._store.jobsList(None)))

    def last_job_id(self) -> int:
        self.settle()
        jobs = self._store.jobsList(None)      # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def jobs_after(self, job_id: int) -> list:
        self.settle()
        return [j for j in self._jobs() if j.jobId() > job_id]

    @staticmethod
    def group_of(job) -> str | None:
        g = job.jobGroup()
        return g.get() if g.isDefined() else None

    def totals(self, jobs: list) -> dict[str, float]:
        """Spark-wide counters over ``jobs``: stages that ran (skipped
        ones excluded), their tasks, summed task run time, shuffle bytes
        and failed tasks, over every stage attempt."""
        wanted = set()
        for j in jobs:
            wanted.update(int(s) for s in self._conv.asJava(j.stageIds()))
        tasks = failed = run_ms = wbytes = rbytes = 0
        ran = set()
        for s in self._conv.asJava(self._store.stageList(
                None, False, False, self._no_quantiles, None)):
            sid = s.stageId()
            if sid not in wanted or s.status().toString() == "SKIPPED":
                continue
            ran.add(sid)
            tasks += s.numTasks()
            failed += s.numFailedTasks()
            run_ms += s.executorRunTime()
            wbytes += s.shuffleWriteBytes()
            rbytes += s.shuffleReadBytes()
        return {"spark.jobs": len(jobs), "spark.stages": len(ran),
                "spark.tasks": tasks, "spark.task_s": run_ms / 1000.0,
                "spark.shuffle_write_bytes": wbytes,
                "spark.shuffle_read_bytes": rbytes,
                "spark.failed_tasks": failed}

    def jobs_per_span(self, jobs: list) -> dict[str, int]:
        out: dict[str, int] = {}
        for j in jobs:
            g = self.group_of(j)
            if g and g.startswith(_SPAN_PREFIX):
                layer = g[len(_SPAN_PREFIX):]
                out[layer] = out.get(layer, 0) + 1
        return out

    def peak_rss_mb(self) -> float:
        """VmHWM of this driver process plus the JVM's."""
        return vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid)


def nproc() -> int:
    return len(os.sched_getaffinity(0))
