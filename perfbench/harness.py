"""What every workload shares: the run's work directory, Spark session
set-up timed several times, the canary, and the result record."""

from __future__ import annotations

import os
import statistics
import sys
import time

import catalog
from tracing import StatusStore, Tracer, peak_rss_mb

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(BENCH_DIR, "fixtures", "sf0.01")
CANARY = "q1_pricing_summary"
SETUP_REPS = 3
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def pct(values, q: float) -> float:
    """The q-th percentile (0-100) by linear interpolation."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    """One benchmark invocation: arguments, scratch space under the
    checkout, the live Spark session and the tallies of the result."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str, trace_dir: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.trace_path = os.path.join(trace_dir, f"{workload}-seed{seed}.json")
        self.tracer = Tracer() if trace else None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self._dirs = 0

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{name}-{self._dirs}")
        os.makedirs(path)
        return path

    def set_up(self, warm) -> float:
        """Start the session and run ``warm(spark)``, SETUP_REPS times,
        each time from a stopped session; returns the median seconds.
        The first repetition also pays the JVM launch."""
        from flinkstreametl_spark.session import get_spark

        samples = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = get_spark(f"perfbench-{self.workload}")
            warm(self.spark)
            samples.append(time.perf_counter() - t0)
        log(f"setup samples {[round(s, 3) for s in samples]}")
        return statistics.median(samples)

    def check(self, what: str, problems: list[str]) -> None:
        """Count one attempted operation (a batch drain, a schedule, a
        query); a non-empty problem list fails it and the run."""
        self.attempted += 1
        if problems:
            self.failed += 1
            log(f"CHECK FAILED {what}: " + "; ".join(problems))

    def canary_s(self, reps: int = 3) -> float:
        """Median of ``reps`` runs of a fixed query: labels noise windows."""
        from flinkstreametl_spark.plans import REGISTRY

        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            noop(REGISTRY[CANARY].fn(self.spark, FIXTURES))
            samples.append(time.perf_counter() - t0)
        return statistics.median(samples)

    def status(self) -> StatusStore:
        return StatusStore(self.spark)

    def put(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def finish(self) -> dict:
        """The result record: end-to-end metrics untraced, per-layer metrics
        traced. A layer a workload never calls did no work: it reads 0."""
        if self.tracer is None:
            self.put("peak_rss_mb", peak_rss_mb())
            names = catalog.END_TO_END
        else:
            self.tracer.write(self.trace_path)
            log(f"spans written to {self.trace_path}")
            names = catalog.PER_LAYER
        absent = [n for n in names if n not in self.metrics]
        if absent:
            log(f"not measured on {self.workload}: {absent}")
        if self.failed == 0 and self.tracer is None and absent:
            raise RuntimeError(f"end-to-end metrics not measured: {absent}")
        return {
            "correct": self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {n: {"value": self.metrics.get(n, 0.0), "unit": catalog.unit(n)} for n in names},
        }

    def close(self) -> None:
        """Stop the session, end the JVM and wait for it."""
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
