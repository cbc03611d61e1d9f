"""Benchmark entry point; run from the repository root:

    python3 enginebench/run.py --workload llm_batch --seed 1 --seconds 10 --trace 0

Prints one JSON object as the last line of standard output. Exits 2
without a result when the engine package is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_heap_mb() -> int:
    """An eighth of the machine's memory, between 1 and 4 GiB."""
    try:
        total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):
        total_mb = 8192
    return int(min(4096, max(1024, total_mb // 8)))


def configure_env(work: str) -> None:
    """Environment the JVM and its Python workers inherit: the checkout
    on PYTHONPATH, this interpreter, a machine-sized heap, and scratch
    space inside the checkout."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_heap_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from enginebench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import llm_batch_processor_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    configure_env(work)
    from enginebench.harness import run

    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
