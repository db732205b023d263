"""Tracing for the benchmark's traced run.

``Tracer`` keeps spans (name, start, end, parent, operation id) in
memory and hands them to the run's trace file at the end. Spans come
from the benchmark's own files only: the harness opens one around each
operation and its build/execute halves, and ``install`` swaps the
package's public layer functions (``LAYER_FUNCS``) for span-recording
wrappers in every loaded module that imported them by name.

``SparkStores`` reads what Spark itself recorded, after the listener
bus has settled: jobs per job group and their stages from the core
status store (``sc._jsc.sc().statusStore()``), and the Python-worker
SQL metrics from the SQL status store
(``sharedState().statusStore()``). Both work with the UI disabled.
"""

from __future__ import annotations

import functools
import importlib
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

PKG = "sbs_suptech_etl_v2_spark"
LAYER_FUNCS = (
    ("io", "table"),
    ("io", "load"),
    ("io", "spread"),
    ("checkpointing", "materialize"),
    ("checkpointing", "materialize_required"),
    ("operators.extraction", "extract_structured"),
    ("sources.entrypoints", "listing_scan"),
    ("plans.document_etl", "run_document_etl"),
    ("sinks.writers", "write_text_artifacts"),
    ("sinks.writers", "merge_metadata"),
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder (wall-clock seconds since the epoch, so
    spans line up with Spark's job and stage timestamps)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if op is not None:
            self._op = op
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        s = Span(sid, name, time.time(), 0.0, parent, self._op)
        self.spans.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if op is not None:
                self._op = None

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every ``LAYER_FUNCS`` entry wherever the package bound it."""
        wrappers = {}
        for mod, attr in LAYER_FUNCS:
            fn = getattr(importlib.import_module(f"{PKG}.{mod}"), attr)
            wrappers[id(fn)] = self._wrap(fn, f"{mod}.{attr}")
        for name, module in list(sys.modules.items()):
            if module is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, value in list(vars(module).items()):
                if id(value) in wrappers:
                    self._patched.append((module, attr, value))
                    setattr(module, attr, wrappers[id(value)])

    def uninstall(self) -> None:
        for module, attr, value in reversed(self._patched):
            setattr(module, attr, value)
        self._patched.clear()

    def child_time(self, span: Span) -> dict[str, float]:
        """Total duration per span name directly or transitively under ``span``."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}

        def walk(sid: int, top: bool) -> None:
            for k in kids.get(sid, []):
                # nested spans of the same layer (io.load -> io.table)
                # count once, at the outermost
                if k.name not in out or top:
                    out[k.name] = out.get(k.name, 0.0) + (k.end - k.start)
                walk(k.id, False)

        walk(span.id, True)
        return out


_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_VALUE = re.compile(r"([-0-9.]+)\s*([A-Za-z]+)")
PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'1.4 s'`` or the first value of
    the ``'total (min, med, max ...)\\n1.4 s (...)'`` form."""
    line = text.strip().split("\n")[-1]
    m = _VALUE.match(line)
    if m is None:
        return float(line.split()[0])
    return float(m.group(1)) * _UNITS[m.group(2)]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkStores:
    """Reads Spark's own status stores from the driver, outside timing."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._sql_seen = 0
        self._python: dict[int, tuple[set[int], dict[str, float]]] = {}

    def settle(self) -> None:
        """Wait until the async listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, job_ids: list[int]) -> dict[str, float]:
        """Job/stage totals over ``job_ids`` plus their covered intervals."""
        out = {
            "jobs": float(len(job_ids)), "stages": 0.0, "sched_delay_s": 0.0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "shuffle_bytes": 0.0,
            "spill_bytes": 0.0, "output_bytes": 0.0,
        }
        intervals = []
        for jid in job_ids:
            jd = self.core.job(jid)
            start, end = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if start is not None and end is not None:
                intervals.append((start, end))
            sids = jd.stageIds()
            for i in range(sids.size()):
                try:
                    sd = self.core.lastStageAttempt(sids.apply(i))
                except Py4JJavaError:  # a stage never submitted has no record
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                sub, first = _opt_ms(sd.submissionTime()), _opt_ms(sd.firstTaskLaunchedTime())
                if sub is not None and first is not None:
                    out["sched_delay_s"] += max(0.0, first - sub)
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["output_bytes"] += sd.outputBytes()
        out["intervals"] = intervals
        return out

    def python(self, job_ids: list[int]) -> dict[str, float]:
        """Python-worker SQL metrics of the SQL executions that ran ``job_ids``."""
        n = self.sql.executionsCount()
        if n > self._sql_seen:
            execs = self.sql.executionsList(self._sql_seen, n - self._sql_seen)
            for i in range(execs.size()):
                self._record(execs.apply(i))
            self._sql_seen = n
        wanted = set(job_ids)
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        for jobs_of_exec, metrics in self._python.values():
            if jobs_of_exec & wanted:
                for k, v in metrics.items():
                    out[k] += v
        return out

    def _record(self, ex) -> None:
        values = self.sql.executionMetrics(ex.executionId())
        metrics: dict[str, float] = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        seen = set()
        ms = ex.metrics()
        for i in range(ms.size()):
            m = ms.apply(i)
            key = PYTHON_METRICS.get(m.name())
            if key is None or m.accumulatorId() in seen:
                continue
            seen.add(m.accumulatorId())
            v = values.get(m.accumulatorId())
            if v.isDefined():
                metrics[key] += parse_metric(v.get())
        jobs = {int(j) for j in ex.jobs().keySet().mkString(",").split(",") if j}
        self._python[ex.executionId()] = (jobs, metrics)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
