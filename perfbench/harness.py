"""Session set-up, span tracing, Spark status-store probing and latency
statistics shared by the workloads.

Tracing lives only here, around the program's public calls: spans are
kept in memory and written once when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import resource
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from py4j.protocol import Py4JJavaError


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A driver heap that fits the machine: an eighth of RAM, 1..4 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gib = min(4, max(1, total // 8 // 2**30))
    return f"{gib}g"


def session_conf(work: str) -> dict[str, str]:
    n = str(cores())
    tmp = os.path.join(work, "tmp")
    return {
        "spark.sql.shuffle.partitions": n,
        "spark.driver.memory": driver_heap(),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def get_session(work: str):
    """A session from the program's own ``get_spark`` at ``local[nproc]``."""
    from pyblazing_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{cores()}]", extra_conf=session_conf(work)
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def median(values) -> float:
    """Median; 0.0 for no samples."""
    return float(np.median(values)) if len(values) else 0.0


# --------------------------------------------------------------- tracing
@dataclass
class Span:
    op: int
    span_id: int
    parent: int | None
    name: str
    start_ns: int
    end_ns: int


@dataclass
class Tracer:
    """In-memory span recorder. Spans of one operation share ``op``."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _stack: list[int] = field(default_factory=list)
    op: int = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time_ns()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(self.op, sid, parent, name, start, time.time_ns()))

    def add(self, name: str, start_ns: int, end_ns: int) -> None:
        """A span measured elsewhere (a Spark job, in whole milliseconds),
        under the innermost span of this operation that contains it."""
        if not self.enabled:
            return
        slack = 1_000_000
        inside = [s for s in self.spans if s.op == self.op
                  and s.start_ns <= start_ns + slack and end_ns <= s.end_ns + slack]
        parent = min(inside, key=lambda s: s.end_ns - s.start_ns).span_id if inside else None
        self.spans.append(Span(self.op, next(self._ids), parent, name, start_ns, end_ns))

    def self_ms(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of
        it its children cover; the layer is the name up to the first
        dot."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur = 0, s.start_ns
            for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start_ns):
                lo, hi = max(c.start_ns, cur), min(c.end_ns, s.end_ns)
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end_ns - s.start_ns - covered) / 1e6
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


@contextmanager
def patched(module, name: str, wrap):
    """Replace ``module.name`` by ``wrap(original)`` for the scope."""
    orig = getattr(module, name)
    setattr(module, name, wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def timed_wrapper(tracer: Tracer, span: str, samples: list):
    """Wrap a function so each call is a span and its duration (ns) is
    appended to ``samples``."""

    def wrap(fn):
        def inner(*a, **kw):
            t0 = time.perf_counter_ns()
            with tracer.span(span):
                try:
                    return fn(*a, **kw)
                finally:
                    samples.append(time.perf_counter_ns() - t0)

        return inner

    return wrap


# ---------------------------------------------------------- engine probe
_STAGE_FIELDS = (
    "numTasks", "executorRunTime", "executorCpuTime", "inputRecords",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled", "numFailedTasks",
)


class EngineProbe:
    """Per-operation Spark counters from the status store. Each traced
    operation runs under its own job group; afterwards the listener bus
    is drained and the group's jobs and stages are read back."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc
        self._store = self._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._jvm = gw.jvm
        self._n = itertools.count()

    def begin(self) -> str:
        gid = f"perfbench-{next(self._n)}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def end(self, gid: str, tracer: Tracer) -> dict[str, float]:
        self._jsc.clearJobGroup()
        self._jsc.sc().listenerBus().waitUntilEmpty()
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out.update(jobs=0, job_wall_ms=0.0)
        stage_ids = set()
        intervals = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(gid)):
            job = self._store.job(jid)
            out["jobs"] += 1
            start = job.submissionTime()
            end = job.completionTime()
            if start.isDefined() and end.isDefined():
                s, e = start.get().getTime(), end.get().getTime()
                intervals.append((s, e))
                tracer.add("engine.job", s * 1_000_000, e * 1_000_000)
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        cur = None
        for s, e in sorted(intervals):  # union of job intervals
            if cur is None or s > cur[1]:
                if cur:
                    out["job_wall_ms"] += cur[1] - cur[0]
                cur = [s, e]
            else:
                cur[1] = max(cur[1], e)
        if cur:
            out["job_wall_ms"] += cur[1] - cur[0]
        empty = self._jvm.java.util.ArrayList()
        for sid in stage_ids:
            try:
                attempts = self._store.stageData(sid, False, empty, False, self._no_quantiles)
            except Py4JJavaError:  # evicted from the store: count nothing
                continue
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                for f in _STAGE_FIELDS:
                    out[f] += getattr(sd, f)()
        return out


# ------------------------------------------------------------- workloads
@dataclass
class OpResult:
    cls: str  # "light" | "heavy"
    kind: str  # query template or stage name
    latency_s: float
    ok: bool = True
    calibration_s: float = 0.0  # calibrate() around the operation
    rows: int = 0  # rows the operation returned
    op: object = None  # the operation, for the correctness check
    output: object = None  # its result, for the correctness check


@dataclass
class Run:
    """What a workload needs from the runner: the work directory, the
    seed, the tracer and the per-layer sample lists of traced ops."""

    work: str
    seed: int
    tracer: Tracer
    samples: dict = field(default_factory=dict)

    def sample(self, name: str, value: float) -> None:
        if self.tracer.enabled:
            self.samples.setdefault(name, []).append(value)
