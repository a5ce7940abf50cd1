"""``llm_curation``: repeated batch passes of eight catalog curation
stages over a generated corpus. Bypasses ``context`` and ``dialect``:
the stages are ``plans.REGISTRY`` functions over an sf-shaped
directory."""

from __future__ import annotations

import os
import time

import gen
import oracle
from harness import OpResult, Run, patched, timed_wrapper

#: Per-row stages are "light"; stages that relate rows to each other
#: (dedup joins, similarity search) are "heavy".
STAGES = (
    ("text_stats", "light"),
    ("text_unigram_tokenize", "light"),
    ("text_bpe_encode", "light"),
    ("text_multi_keyword_tag", "light"),
    ("dedup_minhash_lsh", "heavy"),
    ("dedup_paragraph", "heavy"),
    ("ann_cosine_topk", "heavy"),
    ("multimodal_features", "light"),
)

#: Modules whose stage functions call ``load_table`` through a module
#: alias; traced runs wrap that alias.
_LOADER_MODULES = ("pyblazing_spark.plans.llm", "pyblazing_spark.plans.multimodal")


class LlmCuration:
    name = "llm_curation"

    def __init__(self, run: Run) -> None:
        self.run = run
        meta = gen.inputs(self.name, run.seed, run.work)
        self.paths, self.warm_dir = meta["paths"], meta["warm_dir"]
        self.dir = os.path.dirname(self.paths["documents"])
        self.dup_pairs = {tuple(p) for p in meta["dup_pairs"]}
        self.spark = None

    def setup(self, spark) -> None:
        """Warm-up: the first stage over a 40-document corpus."""
        from pyblazing_spark.plans.registry import REGISTRY

        self.spark = spark
        REGISTRY[STAGES[0][0]].fn(spark, self.warm_dir).toPandas()

    def prime(self) -> None:
        """Once per run, after the last set-up: one untimed pass of every
        stage over the corpus, so that the timed passes do not pay the
        first-run cost of each stage's Python workers and JIT (two to
        three times the steady latency for some stages)."""
        from pyblazing_spark.plans.registry import REGISTRY

        for stage, _cls in STAGES:
            REGISTRY[stage].fn(self.spark, self.dir).toPandas()

    def ops(self):
        while True:
            yield from STAGES

    @staticmethod
    def round_len() -> int:
        return len(STAGES)

    @staticmethod
    def describe(op) -> tuple[str, str]:
        return op

    def execute(self, op) -> OpResult:
        from pyblazing_spark.plans.registry import REGISTRY

        stage, cls = op
        fn = REGISTRY[stage].fn
        if self.run.tracer.enabled:
            pdf, lat = self._traced(stage, fn)
        else:
            t0 = time.perf_counter()
            pdf = fn(self.spark, self.dir).toPandas()
            lat = time.perf_counter() - t0
        return OpResult(cls, stage, lat, rows=len(pdf), output=pdf)

    def _traced(self, stage: str, fn):
        import importlib
        from contextlib import ExitStack

        import pyblazing_spark.sources.tables as tables

        tr, loads, confs = self.run.tracer, [], []
        with ExitStack() as stack:
            stack.enter_context(patched(
                tables, "ensure_runtime_confs",
                timed_wrapper(tr, "session.ensure_runtime_confs", confs)))
            for m in _LOADER_MODULES:
                stack.enter_context(patched(
                    importlib.import_module(m), "T",
                    timed_wrapper(tr, "sources.load_table", loads)))
            t0 = time.perf_counter()
            with tr.span(f"plans.{stage}"):
                pdf = fn(self.spark, self.dir).toPandas()
            lat = time.perf_counter() - t0
        self.run.sample(f"plans.{stage}_s", lat)
        self.run.sample("sources.load_table_ms", sum(loads) / 1e6)
        self.run.sample("sources.load_table_count", len(loads))
        self.run.sample("session.ensure_runtime_confs_ms", sum(confs) / 1e6)
        self.run.sample("session.ensure_runtime_confs_count", len(confs))
        return pdf, lat

    def verify(self, results: list[OpResult]) -> None:
        """Every stage result against its registry oracle on the same
        corpus; MinHash-LSH must also find every planted pair."""
        from pyblazing_spark.plans.registry import REGISTRY

        con = oracle.duckdb_over(self.paths)
        want = {s: con.execute(REGISTRY[s].oracle).df() for s, _ in STAGES}
        con.close()
        planted = self.dup_pairs
        recalls = []
        for res in results:
            if res.output is None:  # failed already
                continue
            stage, pdf = res.kind, res.output
            ok = oracle.frames_match(pdf, want[stage], atol=1e-3)
            if stage == "dedup_minhash_lsh":
                found = {(int(a), int(b)) for a, b in zip(pdf["id_a"], pdf["id_b"])}
                recalls.append(len(found & planted) / len(planted))
                ok = ok and recalls[-1] == 1.0
            res.ok = ok
        self.recall = min(recalls) if recalls else 0.0
