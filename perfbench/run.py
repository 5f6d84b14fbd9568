"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 8 --trace 0

Runs one workload (``dashboard`` or ``batch``) from the
root of a checkout against the engine's read-only fixtures: derives the
literals and the operation sequence from ``--seed``, sets up several times,
measures for ``--seconds``, checks every result and prints one JSON object
as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same loop traced and reports the
per-layer metrics. Progress and diagnostics go to
stderr. Scratch files live under ``.perfbench_work/`` in the checkout; the
spans of a traced run are kept there as ``spans-<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("dashboard", "batch"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bookstore_aws_lakehouse_spark")):
        print("perfbench: the engine package bookstore_aws_lakehouse_spark is not "
              f"next to the benchmark (looked in {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_dir = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    # everything Spark, the JVM and Python workers write stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    fixture = harness.fixture_dir(WORKLOADS[args.workload].SF)
    if not os.path.isdir(fixture):
        print(f"perfbench: the fixture {fixture} is missing", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    try:
        result = harness.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work_dir,
            spans_path=os.path.join(
                WORK_ROOT, f"spans-{args.workload}-seed{args.seed}.json"),
        )
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
