"""Benchmark of the CDC pipeline and the query suite.

    python3 perfbench/run.py --workload cdc_backlog --seed 1 --seconds 10 --trace 0

Workloads: ``cdc_backlog`` (capacity) and ``cdc_live`` (freshness).
With ``--trace 0`` the last stdout line is a JSON record of the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics of
a traced run, and the spans are written to ``.perfbench-trace/`` under
the checkout. Progress, and in untraced runs the canary query's time,
go to stderr. The exit code is non-zero when an output check fails or
the run is invalid.

Everything the run writes stays under ``.perfbench/`` in the checkout,
which is removed at the end. ``PERFBENCH_CPUS`` sets the local[N]
parallelism (default: 2).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
HEAP = "1536m"


def _environment(work: str) -> None:
    """Point every temp and scratch location of the driver, the JVM and
    the Python workers into ``work``, and let workers import the engine
    from the checkout whatever the working directory is."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Two task threads leave cores for the driver, py4j and the JVM's own
    # threads; at four, run-to-run spread on a 4-core box was 2-3x wider.
    os.environ["SPARK_GRAFT_CPUS"] = os.environ.get("PERFBENCH_CPUS", "2")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # The serial collector sizes the heap from what survives each
        # collection, not from how long collections took, so peak RSS
        # follows the program's memory rather than the host's speed
        # (with G1 it spread by 17% over five seeds, with serial by 3%).
        # Without perf data the JVM writes no hsperfdata file to /tmp.
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:+UseSerialGC -XX:-UsePerfData'",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    import catalog

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(catalog.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smallest inputs (smoke test)")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        result = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _run(args: argparse.Namespace, work: str) -> dict:
    import workload_cdc
    from harness import CANARY, Bench, log

    run = {"cdc_backlog": workload_cdc.cdc_backlog, "cdc_live": workload_cdc.cdc_live}[args.workload]
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work,
                  os.path.join(ROOT, ".perfbench-trace"))
    try:
        run(bench, args.tiny)
        result = bench.finish()
        if not args.trace and result["correct"]:
            # After finish(), so the canary does not count in peak RSS;
            # one run, as the run budget has no room for more.
            log(f"canary {CANARY}: {bench.canary_s(reps=1):.3f}s")
        return result
    finally:
        bench.close()

if __name__ == "__main__":
    sys.exit(main())
