"""``sql_mix``: one analyst in a closed loop (1 client) firing a seeded
stream of half point/short-range lookups and half TPC-H-shaped analytic
queries through ``BlazingContext.sql(q, eager=True)``."""

from __future__ import annotations

import sys
import time

import gen
import oracle
from harness import OpResult, Run, patched, timed_wrapper


class SqlMix:
    name = "sql_mix"

    def __init__(self, run: Run) -> None:
        self.run = run
        meta = gen.inputs(self.name, run.seed, run.work)
        self.rows, self.paths = meta["rows"], meta["paths"]
        self.stream = gen.sql_stream(run.seed, self.rows)
        warm = gen.rng(run.seed, "warmup")
        self.warmup = [q for q in gen.sql_round(warm, self.rows)
                       if q.name in ("lk_orders", "q6")]
        self.bc = None

    def setup(self, spark) -> None:
        """BlazingContext, table registration and warm-up."""
        from pyblazing_spark import BlazingContext

        t0 = time.perf_counter()
        self.bc = BlazingContext(spark)
        for name, path in self.paths.items():
            self.bc.create_table(name, path)
        self.run.samples.setdefault("context.create_table_ms", []).append(
            (time.perf_counter() - t0) * 1e3)
        for q in self.warmup:
            self.bc.sql(q.sql, eager=True)

    def prime(self) -> None:
        """Once per run, after the last set-up: one round of every
        template with other parameters, so that the timed rounds do not
        pay each query shape's first planning and JIT."""
        for q in gen.sql_round(gen.rng(self.run.seed, "prime"), self.rows):
            self.bc.sql(q.sql, eager=True)

    def ops(self):
        return self.stream

    @staticmethod
    def round_len() -> int:
        """Operations in one round of the stream."""
        return 2 * len(gen.LOOKUPS) + len(gen.ANALYTIC)

    @staticmethod
    def describe(q: gen.Query) -> tuple[str, str]:
        return q.name, "light" if q.kind == "lookup" else "heavy"

    def execute(self, q: gen.Query) -> OpResult:
        if self.run.tracer.enabled:
            pdf, lat = self._traced(q)
        else:
            t0 = time.perf_counter()
            pdf = self.bc.sql(q.sql, eager=True)
            lat = time.perf_counter() - t0
        kind, cls = self.describe(q)
        return OpResult(cls, kind, lat, rows=len(pdf), op=q, output=pdf)

    def _traced(self, q: gen.Query):
        """Lazy ``sql`` (planning only), then the eager call."""
        import pyblazing_spark.context as ctx

        tr, prep = self.run.tracer, []
        with patched(ctx, "_prepare_sql", timed_wrapper(tr, "dialect.prepare", prep)):
            t0 = time.perf_counter()
            with tr.span("context.sql_plan"):
                self.bc.sql(q.sql)
            t1 = time.perf_counter()
            with tr.span("context.sql_exec"):
                pdf = self.bc.sql(q.sql, eager=True)
            t2 = time.perf_counter()
        plan_ms = (t1 - t0) * 1e3
        self.run.sample("context.sql_plan_ms", plan_ms)
        self.run.sample("context.sql_exec_ms", (t2 - t1) * 1e3 - plan_ms)
        self.run.sample("context.result_rows", len(pdf))
        for ns in prep:
            self.run.sample("dialect.prepare_us", ns / 1e3)
        return pdf, t2 - t0

    def verify(self, results: list[OpResult]) -> None:
        """Every result against DuckDB over the same parquet."""
        import duckdb

        con = oracle.duckdb_over(self.paths)
        for res in results:
            if res.output is None:  # failed already
                continue
            q = res.op
            try:
                want = con.execute(q.sql).df()
            except duckdb.Error as e:
                print(f"perfbench: oracle failed on {q.name}: {e}", file=sys.stderr)
                res.ok = False
                continue
            res.ok = oracle.frames_match(res.output, want, atol=0.011)
        con.close()
