"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the inputs from ``--seed``, sets the
program up several times (``setup_s`` is the median), measures a closed
loop for ``--seconds`` (to the end of a round), checks every output, and
prints one JSON line: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything the run writes goes under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_mix", "llm_curation")


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    # keep every JVM (the launcher's too) and Python temp file in the work
    # directory
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [HERE, ROOT]
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    try:
        import pyblazing_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout: {e}", file=sys.stderr)
        return 2

    import measure
    from llm_curation import LlmCuration
    from sql_mix import SqlMix

    workload = {"sql_mix": SqlMix, "llm_curation": LlmCuration}[args.workload]
    result = measure.run(workload, work, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
