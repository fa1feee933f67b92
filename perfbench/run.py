"""Seeded, layer-split benchmark of lcr_etl_upgrade_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload {etl_lcr,query_mix} \
        --seed N --seconds S --trace {0,1}

The seed generates the workload's inputs; the program sees only those.
One run times passes for ``--seconds``, at least one, each in a fresh
JVM after a timed set-up, and checks the first pass's outputs outside
the timed region. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it, prefixed ``DETAIL``, carries the
quartiles, sample counts, per-pass external core load, ``cpu_count``,
``fail_ratio`` and the workload's quality numbers.

Everything the run writes stays under ``.bench_work/`` in the
repository root; the span trace of a ``--trace 1`` run is kept in
``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lcr_etl_upgrade_spark"
CORES = 4


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("etl_lcr", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file the JVM, Derby and Python workers write inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers unpickle the package's UDFs by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]

    import harness
    import workloads

    cores = min(CORES, os.cpu_count() or 1)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms1g -Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }

    def start_session():
        from lcr_etl_upgrade_spark.session import get_session

        return get_session(
            f"perfbench-{args.workload}", master=f"local[{cores}]",
            shuffle_partitions=cores, extra_conf=conf,
        )

    def stop_session(spark) -> None:
        """Stop the session and its JVM, so the next start is cold."""
        spark.stop()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    workload = workloads.make(args.workload, ROOT, work, args.seed)
    trace_path = os.path.join(
        ROOT, ".bench_work", "traces", f"{args.workload}-seed{args.seed}.json"
    )
    sessions = []

    def start():
        sessions.append(start_session())
        return sessions[-1]

    try:
        result, detail = harness.run(
            workload,
            start,
            stop_session,
            args.seconds,
            bool(args.trace),
            trace_path,
        )
    finally:
        if sessions:
            stop_session(sessions[-1])
        shutil.rmtree(work, ignore_errors=True)
    harness.emit(result, detail)
    return 0


if __name__ == "__main__":
    sys.exit(main())
