"""Steadiness check: run one workload once per seed and report, for
each metric, the median over the runs and the spread (distance between
the first and third quartile over the median) against the bound in
``BENCHMARK.json``.

    python3 perfbench/steady.py --workload sql_mix --seeds 1 2 3 4 5

Prints one JSON object; exits 1 if a spread exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    walls, failed = [], 0
    for seed in args.seeds:
        steal0, total0 = cpu_ticks()
        out, wall = run_once(args.workload, seed, bench["run_seconds"])
        steal1, total1 = cpu_ticks()
        walls.append(wall)
        failed += out["failed"] + (not out["correct"])
        for name, m in out["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {wall:.1f} s, attempted {out['attempted']}, failed {out['failed']}, "
              f"CPU stolen by the host {(steal1 - steal0) / max(total1 - total0, 1):.1%}",
              file=sys.stderr, flush=True)

    report, ok = {}, failed == 0
    for name, v in values.items():
        row = {"median": statistics.median(v), "values": v}
        if len(v) >= 2:
            row["spread"] = spread(v)
            row["bound"] = bounds[name]
            ok = ok and row["spread"] <= row["bound"]
        report[name] = row
    print(json.dumps({"workload": args.workload, "ok": ok, "failed": failed,
                      "wall_s": walls, "metrics": report}, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
