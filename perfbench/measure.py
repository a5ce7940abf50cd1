"""The measurement loop and metric assembly."""

from __future__ import annotations

import os
import sys
import time

import numpy as np

from harness import EngineProbe, Run, Tracer, get_session, median, peak_rss_mb, stop_jvm
from llm_curation import STAGES

#: Set-ups per run; ``setup_s`` is their median. The first includes the
#: JVM launch, which the median leaves out.
SETUPS = 3

#: Loop steps of :func:`calibrate`.
CALIBRATION_STEPS = 100_000

#: Every per-layer metric, reported by every workload (0 where the
#: workload does not exercise the layer).
PER_LAYER = (
    ["session.get_spark_s", "session.ensure_runtime_confs_ms", "session.ensure_runtime_confs_count",
     "context.create_table_ms", "context.sql_plan_ms", "context.sql_exec_ms", "context.result_rows",
     "dialect.prepare_us", "dialect.prepare_count",
     "engine.jobs_per_op", "engine.tasks_per_op", "engine.job_wall_ms", "engine.driver_ms",
     "engine.executor_run_ms", "engine.executor_cpu_ms", "engine.input_rows_per_result_row",
     "engine.shuffle_write_bytes", "engine.spill_bytes", "engine.failed_tasks",
     "sources.load_table_ms", "sources.load_table_count"]
    + [f"plans.{stage}_s" for stage, _cls in STAGES]
    + ["operators.dedup.recall"]
    + [f"{layer}.self_ms" for layer in ("bench", "session", "context", "dialect", "engine",
                                          "sources", "plans")]
    + ["trace.overhead_ms", "trace.overhead_frac", "trace.probe_ms", "trace.traced_ops",
       "trace.spans"]
    + ["bench.light_p50_ms", "bench.heavy_p50_ms", "bench.calibration_ms"]
)

UNITS = {"_s": "s", "_ms": "ms", "_us": "us", "_bytes": "bytes", "_count": "count"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if ("per" in name or "frac" in name or "recall" in name) else "count"


def run(workload, work: str, seed: int, seconds: float, trace: bool) -> dict:
    """Generate the inputs, set up ``SETUPS`` times, measure, check; the
    result object ``run.py`` prints."""
    t_run = time.perf_counter()
    tracer = Tracer()
    r = Run(work=work, seed=seed, tracer=tracer)
    wl = workload(r)
    _phase("inputs", t_run)

    setup_s, spark_s, spark = [], [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_session(work)
            t1 = time.perf_counter()
            wl.setup(spark)
            setup_s.append(time.perf_counter() - t0)
            spark_s.append(t1 - t0)
        _phase(f"{SETUPS} set-ups", t_run)
        wl.prime()
        _phase("warm-up round", t_run)
        results, traced_flags, engine, probe_ms = _loop(wl, spark, tracer, seconds, trace)
        _phase(f"{len(results)} operations", t_run)
        rss = peak_rss_mb(spark)
        wl.verify(results)
        _phase("check", t_run)
    finally:
        if spark is not None:
            stop_jvm(spark)

    failed = sum(not x.ok for x in results)
    out = {"correct": failed == 0, "attempted": len(results), "failed": failed}
    if not trace:
        out["metrics"] = _end_to_end(results, setup_s, rss)
    else:
        tracer.dump(os.path.join(work, "spans.json"))
        r.samples["session.get_spark_s"] = spark_s
        out["metrics"] = _per_layer(wl, r, tracer, results, traced_flags, engine, probe_ms)
    return out


def _phase(name: str, t_run: float) -> None:
    print(f"perfbench: {name} done at {time.perf_counter() - t_run:.1f} s", file=sys.stderr,
          flush=True)


def calibrate() -> float:
    """Seconds this machine takes for a fixed piece of pure-Python work
    (about 10 ms on a 4-vCPU cloud VM). The program does not take part
    in it, so it tracks only the speed the shared host gives the run."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(CALIBRATION_STEPS):
        acc += i * i
    return time.perf_counter() - t0


def _loop(wl, spark, tracer: Tracer, seconds: float, trace: bool):
    """The closed loop: one operation at a time until the deadline, then
    on to the end of the round of the stream, so that every operation
    kind is measured equally often; and at least two rounds, so that
    every kind has two samples (a traced run traces one of them)."""
    probe = EngineProbe(spark) if trace else None
    round_len = wl.round_len()
    min_ops = 2 * round_len
    results, traced_flags, engine, probe_ms = [], [], [], []
    cal_before = calibrate()
    ops = wl.ops()
    if trace:
        # A traced run compares traced with untraced rounds; the first
        # round after set-up runs slower (first use of each query shape
        # or stage on the real inputs), so it runs untraced and outside
        # that comparison (flag None), before the clock starts.
        for _ in range(round_len):
            results.append(_attempt(wl, next(ops)))
            traced_flags.append(None)
    start = len(results)
    deadline = time.perf_counter() + seconds
    while (time.perf_counter() < deadline or (len(results) - start) % round_len
           or len(results) - start < min_ops):
        op = next(ops)
        # traced runs trace every other round of the stream; the rounds
        # between run exactly as untraced ones, for the overhead
        traced = trace and ((len(results) - start) // round_len) % 2 == 0
        tracer.enabled = traced
        tracer.op += 1
        if traced:
            gid = probe.begin()
            t0 = time.perf_counter()
            with tracer.span("bench.op"):
                res = _attempt(wl, op)
            t1 = time.perf_counter()
            e = probe.end(gid, tracer)
            probe_ms.append((time.perf_counter() - t1) * 1e3)
            e["latency_ms"] = (t1 - t0) * 1e3
            e["rows"] = res.rows
            engine.append(e)
        else:
            res = _attempt(wl, op)
        # the machine's speed around the operation: the calibration
        # runs before and after it
        cal_after = calibrate()
        res.calibration_s = (cal_before + cal_after) / 2
        cal_before = cal_after
        results.append(res)
        traced_flags.append(traced)
    tracer.enabled = False
    return results, traced_flags, engine, probe_ms


def _attempt(wl, op):
    """One operation; an exception is a failed operation, not a crash."""
    from harness import OpResult

    t0 = time.perf_counter()
    try:
        return wl.execute(op)
    except Exception as e:  # the run goes on; the failure is counted
        print(f"perfbench: {type(e).__name__}: {e}"[:500], file=sys.stderr)
        kind, cls = wl.describe(op)
        return OpResult(cls, kind, time.perf_counter() - t0, ok=False)


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _end_to_end(results, setup_s, rss) -> dict:
    """Latencies are taken relative to the machine's speed: each
    operation's latency over the calibration time measured around it.
    They are summarised per operation kind first (query template or
    stage): the median of each kind, averaged over the kinds of a
    class."""
    ok = sum(x.ok for x in results)
    rel = _class_p50(results, lambda x: x.latency_s / x.calibration_s)
    return {
        "setup_s": _m(median(setup_s), "s"),
        "ok_frac": _m(ok / len(results), "frac"),
        "peak_rss_mb": _m(rss, "MB"),
        "light_p50_cal": _m(rel["light"], "cal"),
        "heavy_p50_cal": _m(rel["heavy"], "cal"),
    }


def _class_p50(results, value) -> dict[str, float]:
    """Per class, the mean over its operation kinds of each kind's
    median ``value``."""
    by_kind: dict[str, list[float]] = {}
    cls = {}
    for x in results:
        by_kind.setdefault(x.kind, []).append(value(x))
        cls[x.kind] = x.cls
    med = {k: median(v) for k, v in by_kind.items()}
    return {c: float(np.mean([m for k, m in med.items() if cls[k] == c]))
            for c in ("light", "heavy")}


def _per_layer(wl, r: Run, tracer: Tracer, results, traced_flags, engine, probe_ms) -> dict:
    s = r.samples
    vals: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    n_traced = max(len(engine), 1)

    def total(name):
        return float(sum(s.get(name, ())))

    vals["session.get_spark_s"] = median(s["session.get_spark_s"])
    for name in ("session.ensure_runtime_confs_ms", "session.ensure_runtime_confs_count",
                 "sources.load_table_ms", "sources.load_table_count"):
        vals[name] = total(name)
    for name in ("context.create_table_ms", "context.sql_plan_ms", "context.sql_exec_ms",
                 "dialect.prepare_us"):
        vals[name] = median(s.get(name, ()))
    vals["dialect.prepare_count"] = len(s.get("dialect.prepare_us", ()))
    if "context.result_rows" in s:
        vals["context.result_rows"] = float(np.mean(s["context.result_rows"]))
    for stage, _cls in STAGES:
        vals[f"plans.{stage}_s"] = median(s.get(f"plans.{stage}_s", ()))
    vals["operators.dedup.recall"] = getattr(wl, "recall", 0.0)

    if engine:
        rows = sum(e["rows"] for e in engine)
        vals["engine.jobs_per_op"] = float(np.mean([e["jobs"] for e in engine]))
        vals["engine.tasks_per_op"] = float(np.mean([e["numTasks"] for e in engine]))
        vals["engine.job_wall_ms"] = median([e["job_wall_ms"] for e in engine])
        vals["engine.driver_ms"] = median([e["latency_ms"] - e["job_wall_ms"] for e in engine])
        vals["engine.executor_run_ms"] = float(np.mean([e["executorRunTime"] for e in engine]))
        vals["engine.executor_cpu_ms"] = float(np.mean([e["executorCpuTime"] for e in engine])) / 1e6
        if rows:
            vals["engine.input_rows_per_result_row"] = sum(e["inputRecords"] for e in engine) / rows
        vals["engine.shuffle_write_bytes"] = float(np.mean([e["shuffleWriteBytes"] for e in engine]))
        vals["engine.spill_bytes"] = float(sum(e["memoryBytesSpilled"] + e["diskBytesSpilled"]
                                               for e in engine))
        vals["engine.failed_tasks"] = float(sum(e["numFailedTasks"] for e in engine))

    for layer, ms in tracer.self_ms().items():
        if f"{layer}.self_ms" in vals:
            vals[f"{layer}.self_ms"] = ms / n_traced
    untraced = [x for x, f in zip(results, traced_flags) if f is False]
    raw = _class_p50(untraced, lambda x: x.latency_s * 1e3)
    vals["bench.light_p50_ms"], vals["bench.heavy_p50_ms"] = raw["light"], raw["heavy"]
    vals["bench.calibration_ms"] = median([x.calibration_s * 1e3 for x in untraced])
    over = _overhead(results, traced_flags)
    vals["trace.overhead_ms"], vals["trace.overhead_frac"] = over
    vals["trace.probe_ms"] = median(probe_ms)
    vals["trace.traced_ops"] = float(len(engine))
    vals["trace.spans"] = float(len(tracer.spans))
    return {k: _m(v, unit_of(k)) for k, v in vals.items()}


def _overhead(results, traced_flags) -> tuple[float, float]:
    """Traced minus untraced median latency per operation kind, averaged
    over the kinds that ran both ways; and that over the untraced
    median."""
    diff, base = [], []
    for k in {x.kind for x in results}:
        t = [x.latency_s for x, f in zip(results, traced_flags) if x.kind == k and f is True]
        u = [x.latency_s for x, f in zip(results, traced_flags) if x.kind == k and f is False]
        if t and u:
            diff.append(median(t) - median(u))
            base.append(median(u))
    if not diff:
        return 0.0, 0.0
    return float(np.mean(diff)) * 1e3, float(sum(diff) / sum(base))
