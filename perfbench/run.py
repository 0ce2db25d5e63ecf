"""Benchmark runner for the neo4j_dynagraph_spark engine.

Run from anywhere; it works on the checkout it sits in:

    python3 perfbench/run.py --workload temporal_queries --seed 42 --seconds 15 --trace 0

One process, one Spark session (``local[N]``, N = the CPUs this process
may use, through ``SPARK_GRAFT_CPUS``), one client in a closed loop.
Prints progress to stderr and, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See perfbench/README.md.

Every file the run writes (input, Spark local dirs, temp and spill
files) lives under ``.perfbench_work/`` in the checkout and is
deleted when the run ends.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stealclock import Interval  # noqa: E402

START = Interval()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DEFAULT_SEED = 42


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="temporal_queries or graph_fixpoints")
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=15.0,
                    help="measuring time; sets the whole number of timed passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def point_environment(work: str) -> None:
    """Send every directory Spark, the JVM, Python workers and the
    program write to into ``work``, make the checkout importable in
    Spark's Python workers, and pin Spark to this process's CPUs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # gettempdir() caches; re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def stop_spark() -> None:
    """Stop the session and wait for its JVM (and with it every Python
    worker) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = [
        d for d in ("neo4j_dynagraph_spark", "tools")
        if not os.path.isdir(os.path.join(ROOT, d))
    ]
    if missing:
        print(f"perfbench: program sources not found under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    point_environment(work)
    try:
        from perfbench import bench

        if args.workload not in bench.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}, "
                  f"expected one of {list(bench.WORKLOADS)}", file=sys.stderr)
            return 2
        result = bench.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work, START
        )
    finally:
        if "pyspark" in sys.modules:
            stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
