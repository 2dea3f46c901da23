"""Benchmark of the lakehouse engine: the medallion write path and the
registry read path, end to end and split by layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload query --seed 1 --seconds 15 --trace 1
    python3 perfbench/run.py --selfcheck

``--trace 0`` prints every end-to-end metric, ``--trace 1`` every
per-layer metric (a separate traced run, which also reports the tracing
overhead).  Each run prints its metrics by name with their unit and its
oracle verdicts, writes a JSON artifact under ``perfbench/out/`` and
ends with one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics``.  See ``perfbench/METRICS.md`` for every definition.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=("medallion", "query"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selfcheck", action="store_true")
    a = p.parse_args(argv)
    if not a.selfcheck and a.workload is None:
        p.error("--workload is required")
    return a


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lakehouse_alchemy_bronze_to_gold_pipeline_spark")):
        print("run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    tag = "selfcheck" if args.selfcheck else f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every scratch file of Python, the JVM and Spark in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = "4"  # local[4], one process
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    try:
        from bench_core import Bench, shutdown_jvm  # imports pyspark: after TMPDIR is set

        try:
            bench = Bench(work, args.seed, args.seconds, bool(args.trace))
            if args.selfcheck:
                return bench.selfcheck()
            result = bench.run(args.workload)
        finally:
            shutdown_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
