"""Spans, percentiles and Spark counter readers for the benchmark.

Spans are recorded by the benchmark around its calls into each engine
layer.  They stay in memory (``Tracer.spans``) and are written out once
when the run ends.  A span's *self time* is its duration minus the part of
its interval that its child spans cover.

Spark counters are read from Spark's own status APIs at the same
boundaries: the scheduler's job ids bracket the jobs a call started
(streaming queries run their jobs under their own job group, so the group
alone would miss them), the status tracker maps jobs to stages, the core
status store gives per-stage task, run-time, shuffle and spill totals, and
the SQL status store gives the SQL metrics of the Python-worker plan nodes.
A StreamingQueryListener records one entry per micro-batch.
"""

from __future__ import annotations

import contextlib
import math
import re
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    query: str
    sid: int = 0


@dataclass
class Tracer:
    """Collects spans in memory; ``enabled=False`` records nothing."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, query: str, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), math.nan, parent, query, len(self.spans))
        self.spans.append(s)
        try:
            yield s.sid
        finally:
            s.end = time.perf_counter()

    def add(self, name: str, start: float, end: float, query: str,
            parent: int | None = None) -> int:
        """Record a span measured elsewhere (e.g. a Catalyst phase)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, parent, query, len(self.spans)))
        return len(self.spans) - 1

    def to_json(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"id": s.sid, "name": s.name, "query": s.query, "parent": s.parent,
             "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6)}
            for s in self.spans
        ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name, summed over all spans of that name."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered(children.get(s.sid, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


def tail_percentile(samples: list[float], p: float = 0.9, min_beyond: int = 10):
    """The ``p`` quantile of ``samples`` and the number of samples beyond it.

    Raises ``ValueError`` when fewer than ``min_beyond`` samples lie beyond
    the quantile, i.e. when there are fewer than ``min_beyond / (1 - p)``
    samples: such a tail is not measured, it is guessed.
    """
    n = len(samples)
    need = math.ceil(min_beyond / (1.0 - p) - 1e-9)
    if n < need:
        raise ValueError(f"p{round(p * 100)} needs >= {need} samples, got {n}")
    q = statistics.quantiles(samples, n=100, method="inclusive")[round(p * 100) - 1]
    return q, sum(1 for x in samples if x > q)


# --- Spark status readers --------------------------------------------------

_UNIT = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str | None) -> float:
    """Numeric value of a formatted SQL metric string, in seconds for
    timings, bytes for sizes, the plain number otherwise.  Multi-task
    metrics are formatted ``"total (min, med, max ...)\\n<total> (...)"``;
    the total is taken."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if text.startswith("total") else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


_PY_NODE = re.compile(r"InPandas|ArrowEvalPython|BatchEvalPython|PythonUDTF|InArrow")


@dataclass
class Counters:
    """Spark work done by a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "Counters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class QueryStats:
    """Per-layer totals over the traced queries of a run."""

    queries: int = 0
    wall: float = 0.0
    build_s: float = 0.0  # builder-call self time: without Catalyst analysis
    exec_s: float = 0.0
    phases: dict = field(default_factory=lambda: dict.fromkeys(
        ("analysis", "optimization", "planning"), 0.0))
    build: Counters = field(default_factory=Counters)
    run: Counters = field(default_factory=Counters)
    python_s: float = 0.0
    python_rows: int = 0
    batches: list = field(default_factory=list)
    module_wall: dict = field(default_factory=dict)
    module_jobs: dict = field(default_factory=dict)

    def add(self, module: str, wall: float, build_s: float, exec_s: float,
            phases: dict, build: Counters, run: Counters,
            python: tuple[float, int], batches: list) -> None:
        self.queries += 1
        self.wall += wall
        self.build_s += build_s
        self.exec_s += exec_s
        for k in self.phases:
            self.phases[k] += phases[k]
        self.build.add(build)
        self.run.add(run)
        self.python_s += python[0]
        self.python_rows += python[1]
        self.batches += batches
        self.module_wall[module] = self.module_wall.get(module, 0.0) + wall
        self.module_jobs[module] = self.module_jobs.get(module, 0) + build.jobs + run.jobs

    def metrics(self, passes: int, cores: int) -> dict[str, float]:
        """Per-layer metrics, per pass over the workload's queries."""
        k = 1.0 / max(1, passes)
        both = Counters()
        both.add(self.build)
        both.add(self.run)
        durs = [b["duration_s"] for b in self.batches]
        m = {
            "registry.build_s": self.build_s * k,
            "registry.build_jobs": self.build.jobs * k,
            "registry.build_share": self.build_s / self.wall if self.wall else 0.0,
            "spark.jobs": both.jobs * k,
            "spark.stages": both.stages * k,
            "spark.tasks": both.tasks * k,
            "spark.exec_s": self.exec_s * k,
            "spark.executor_run_s": both.executor_run_s * k,
            "spark.executor_busy_frac": (
                self.run.executor_run_s / (cores * self.exec_s) if self.exec_s else 0.0),
            "spark.shuffle_read_bytes": both.shuffle_read_bytes * k,
            "spark.shuffle_write_bytes": both.shuffle_write_bytes * k,
            "spark.spill_bytes": both.spill_bytes * k,
            "python_worker.time_s": self.python_s * k,
            "python_worker.rows": self.python_rows * k,
            "streaming.batches": len(self.batches) * k,
            "streaming.batch_p50_s": statistics.median(durs) if durs else 0.0,
            "trace.query_wall_s": self.wall * k,
        }
        for name in ("input_rows", "state_rows", "late_rows_dropped"):
            m[f"streaming.{name}"] = sum(b[name] for b in self.batches) * k
        for name, v in self.phases.items():
            m[f"catalyst.{name}_s"] = v * k
        for mod, v in self.module_wall.items():
            m[f"operators.{mod}.wall_s"] = v * k
            m[f"operators.{mod}.jobs"] = self.module_jobs[mod] * k
        return m


class SparkProbe:
    """Reads per-job-group counters from a live SparkContext."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = self._max_execution_id()

    def next_job_id(self) -> int:
        """Id the scheduler gives the next job: with one client thread, the
        jobs a call started are the ids between two readings."""
        return int(str(self._jsc.dagScheduler().nextJobId()))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores reflect all finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_execution_id(self) -> int:
        execs = self._sql_store.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    def counters(self, job_ids) -> Counters:
        job_ids = list(job_ids)
        c = Counters(jobs=len(job_ids))
        store = self._jsc.statusStore()
        stages = set()
        for j in job_ids:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j surfaces NoSuchElementException for skipped stages
                continue
            c.stages += 1
            c.tasks += sd.numTasks()
            c.executor_run_s += sd.executorRunTime() / 1000.0
            c.shuffle_read_bytes += sd.shuffleReadBytes()
            c.shuffle_write_bytes += sd.shuffleWriteBytes()
            c.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return c

    def python_worker(self) -> tuple[float, int]:
        """Python-worker time and rows from SQL executions since the last
        call: ``time to run Python workers`` and ``number of output rows``
        of every Python plan node."""
        execs = self._sql_store.executionsList()
        secs, rows, newest = 0.0, 0, self._last_exec
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= self._last_exec:
                continue
            newest = max(newest, eid)
            values = self._sql_store.executionMetrics(eid)
            nodes = self._sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not _PY_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    v = values.get(metric.accumulatorId())
                    text = v.get() if v.isDefined() else None
                    if metric.name() == "time to run Python workers":
                        secs += parse_sql_metric(text)
                    elif metric.name() == "number of output rows":
                        rows += int(parse_sql_metric(text))
        self._last_exec = newest
        return secs, rows


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning seconds from a DataFrame's
    QueryExecution tracker (read after its physical plan is forced)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def add_streaming_listener(spark, sink: list):
    """A StreamingQueryListener that appends one dict per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            sink.append({
                "batch": p.batchId,
                "duration_s": (p.batchDuration or 0) / 1000.0,
                "input_rows": p.numInputRows or 0,
                "state_rows": sum(o.numRowsTotal for o in ops),
                "late_rows_dropped": sum(o.numRowsDroppedByWatermark for o in ops),
                "watermark": (p.eventTime or {}).get("watermark"),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
