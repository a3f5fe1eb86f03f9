"""In-memory spans and Spark status-store counters for the traced run.

Spans are recorded only around the benchmark's own calls into engine
layers; nothing inside the engine is instrumented. Counters come from
the two status stores Spark keeps with the UI off: the core store
(jobs, stages, tasks, executor time, shuffle and spill bytes) and the
SQL store (per-operator metrics, including the Python worker metrics).

Jobs, stages and SQL executions are attributed to a span by the range
of ids Spark assigned while it was open. Job groups would not work:
micro-batches run on the stream's own thread, outside any group the
caller sets.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40, "PiB": 2.0**50,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_ENTRY_RE = re.compile(r"(\d+) -> (.*?)(?=, \d+ -> |\)\s*$)", re.S)
_METRIC_DEF_RE = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
MB = 2.0**20

PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.received_mb",
}


def parse_metric(text: str | None) -> float:
    """One status-store metric string -> a number in base units.

    Accepts ``291 ms``, ``2.1 KiB``, ``26,136``, the ``Some(...)`` /
    ``None`` of a Scala ``Option``, and the multi-task summaries
    ``total (min, med, max (stageId: taskId))\n1.2 s (...)``, of which
    the total is taken, and ``(min, med, max (stageId: taskId)):\n(1,
    2, 3 (...))``, of which the median is taken. Times come back in
    seconds, sizes in bytes.
    """
    if text is None:
        return 0.0
    s = text.strip()
    if s.startswith("Some(") and s.endswith(")"):
        s = s[5:-1].strip()
    if s in ("", "None"):
        return 0.0
    if s.startswith("total"):
        s = s.split("\n", 1)[1]
    elif s.startswith("(min"):
        s = s.split("\n", 1)[1].lstrip("(").split(", ")[1]
    m = _VALUE_RE.match(s)
    if m is None:
        raise ValueError(f"unparseable metric {text!r}")
    number, unit = m.groups()
    if unit and unit not in _UNITS:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return float(number.replace(",", "")) * _UNITS.get(unit, 1.0)


def split_metric_map(text: str) -> dict[int, str]:
    """``executionMetrics(id).toString()`` -> {accumulator id: raw string}."""
    body = text[text.index("(") + 1 :] if "(" in text else ""
    return {int(k): v for k, v in _ENTRY_RE.findall(body)}


class Tracer:
    """Spans (name, start, end, parent) kept in memory until ``dump``.

    ``job_ids`` is a callable returning the next job id Spark will
    assign; a span opened with ``jobs=True`` records how many jobs ran
    while it was open. ``own_s`` is the wall time spent in the tracer's
    own bookkeeping, job id calls included: the tracing overhead inside
    any clock that encloses the spans.
    """

    def __init__(self, job_ids=None):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._job_ids = job_ids
        self._t0 = time.perf_counter()
        self.own_s = 0.0

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        t = time.perf_counter()
        span = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(span)
        self._stack.append(span["id"])
        j0 = self._job_ids() if jobs else None
        span["start"] = time.perf_counter() - self._t0
        self.own_s += span["start"] + self._t0 - t
        try:
            yield span
        finally:
            t = time.perf_counter()
            span["end"] = t - self._t0
            if jobs:
                span["jobs"] = self._job_ids() - j0
            self._stack.pop()
            self.own_s += time.perf_counter() - t

    def total(self, name: str, field: str | None = None, under: int | None = None) -> float:
        """Summed duration (or ``field``) of spans called ``name``,
        optionally only those whose parent is span index ``under``."""
        out = 0.0
        for s in self.spans:
            if s["name"] == name and (under is None or s["parent"] == under):
                out += s[field] if field else s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class NullTracer(Tracer):
    """The untraced path: same interface, records nothing."""

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        yield {}


class BatchCounter(StreamingQueryListener):
    """Counts micro-batches and their trigger-execution time; ``own_s``
    is the time spent in its own callback."""

    def __init__(self):
        self.batches = 0
        self.batch_s = 0.0
        self.own_s = 0.0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        t = time.perf_counter()
        self.batches += 1
        self.batch_s += event.progress.durationMs.get("triggerExecution", 0) / 1e3
        self.own_s += time.perf_counter() - t

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class SparkProbe:
    """Reads counters from a live session's status stores."""

    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until every posted listener event has been handled."""
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def ids(self) -> tuple[int, int, int]:
        """(next job id, next stage id, last SQL execution id); drain first."""
        self.drain()
        execs = self._sql.executionsList()
        last = -1 if execs.isEmpty() else int(execs.last().executionId())
        dag = self._sc.dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId()), last

    def counters(self, lo: tuple[int, int, int], hi: tuple[int, int, int]) -> dict[str, float]:
        """Core-store and SQL-store counters for ids in [lo, hi)."""
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._sc.statusStore().stageList(None, False, False, self._no_quantiles, None)
            )
        )
        stages = [s for s in stages if lo[1] <= s["stageId"] < hi[1] and s["status"] != "SKIPPED"]

        def total(key: str) -> float:
            return float(sum(s[key] for s in stages))

        out = {
            "spark.jobs": float(hi[0] - lo[0]),
            "spark.stages": float(len(stages)),
            "spark.tasks": total("numTasks"),
            "spark.task_failures": total("numFailedTasks"),
            "spark.executor_run_s": total("executorRunTime") / 1e3,
            "spark.executor_cpu_s": total("executorCpuTime") / 1e9,
            "spark.gc_s": total("jvmGcTime") / 1e3,
            "spark.input_mb": total("inputBytes") / MB,
            "spark.output_mb": total("outputBytes") / MB,
            "spark.shuffle_write_mb": total("shuffleWriteBytes") / MB,
            "spark.shuffle_read_mb": total("shuffleReadBytes") / MB,
            "spark.spill_mb": (total("memoryBytesSpilled") + total("diskBytesSpilled")) / MB,
        }
        out.update(self.python_metrics(lo[2], hi[2]))
        return out

    def python_metrics(self, lo_exec: int, hi_exec: int) -> dict[str, float]:
        """Python worker time and bytes over SQL executions in (lo, hi].

        A cached or reused subplan lists the same accumulator in several
        executions, so each accumulator is counted once.
        """
        key_of: dict[int, str] = {}
        value_of: dict[int, float] = {}
        for eid in range(lo_exec + 1, hi_exec + 1):
            data = self._sql.execution(eid)
            if data.isEmpty():
                continue
            wanted = {
                int(acc): PYTHON_METRICS[name]
                for name, acc, _ in _METRIC_DEF_RE.findall(data.get().metrics().toString())
                if name in PYTHON_METRICS
            }
            if not wanted:
                continue
            values = split_metric_map(self._sql.executionMetrics(eid).toString())
            for acc, key in wanted.items():
                key_of[acc] = key
                value_of[acc] = max(value_of.get(acc, 0.0), parse_metric(values.get(acc)))
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        for acc, key in key_of.items():
            out[key] += value_of[acc] / MB if key.endswith("_mb") else value_of[acc]
        return out

    def pins(self) -> tuple[int, float]:
        """(persisted RDD count, their memory + disk MB)."""
        infos = self._sc.getRDDStorageInfo()
        mb = sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / MB
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size()), mb

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def plan_seconds(df) -> float:
    """Catalyst planning time of ``df``'s query (all tracker phases)."""
    jvm = df.sparkSession._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases()
    )
    return sum(int(p.durationMs()) for p in phases.values()) / 1e3


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
