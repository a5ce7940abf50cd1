"""Steadiness self-check: run each workload of ``BENCHMARK.json`` over
several seeds and compare each end-to-end metric's spread (first-to-
third quartile over the median) with its bound, over seeds 1 to 10.
Takes about ten minutes per workload, so it runs only when
``PERFBENCH_STEADY=1``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    WORKLOADS = [w["name"] for w in json.load(fh)["workloads"]]


@pytest.mark.skipif(os.environ.get("PERFBENCH_STEADY") != "1",
                    reason="slow: set PERFBENCH_STEADY=1")
@pytest.mark.parametrize("workload", WORKLOADS)
def test_spread_within_bound(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "steady.py"), "--workload", workload,
         "--seeds", *[str(s) for s in range(1, 11)]],
        cwd=ROOT, capture_output=True, text=True, timeout=1800,
    )
    sys.stderr.write(proc.stderr)
    report = json.loads(proc.stdout)
    for name, row in report["metrics"].items():
        print(f"{workload} {name}: median {row['median']:.4g} spread {row['spread']:.3f} "
              f"bound {row['bound']}")
    assert report["failed"] == 0
    assert report["ok"], "a spread exceeds its bound"
