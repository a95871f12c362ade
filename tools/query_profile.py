"""Per-query profile: where a registered query's time and Spark work go.

    python tools/query_profile.py [NAME ... | --bench] [--sf-dir DIR] [--runs N]

Each query is built (``REGISTRY[q].fn``: eager pins, fixture prep and
stream drains run here) and then written to the ``noop`` sink, the
action of ``perfbench/suite.timed_pass``. The jobs of the two phases
carry the job tags ``construct:<q>`` and ``action:<q>``, so the status
store attributes them. Each query prints one JSON line:

- ``construct_s``, ``action_s`` and the job count of each phase;
- ``pin_jobs`` and ``drain_jobs``: the construction jobs that also
  carry the tag ``pin`` (a ``session.pin`` call) or ``drain`` (a
  replay's stream). A pin inside a drain counts in both. An eager pin
  counts its whole frame; a lazy pin counts the shuffle stages that
  adaptive execution runs during the call, while its last stage runs
  inside the action, under the action's tag;
- ``stage_totals``: tasks, executor run vs CPU time, shuffle and spill
  of the stages of each phase, and of the pin and drain jobs;
- ``python``: the summed metrics of the Python-boundary plan nodes;
- ``streaming``: the micro-batch progress of any stream the query
  drained (batches, trigger p50, state commit ms, no-data batches).

With ``--runs N`` the record is the run with the median total time,
plus ``samples_s``, every run's total. Before the first query and after
the last one, a ``canary`` line gives the median time of the
benchmark's canary query on the benchmark's own fixtures; a slow canary
labels a noisy window. The session is warmed up as ``bench.py`` does.

The status-store reader and the progress recorder are perfbench's own
(``perfbench/tracing.py``), imported rather than copied, so the
benchmark's layer metrics and this profile are one reading. The exit
code is non-zero when a query raised; its line then holds ``error``.
Run it from the root of the checkout: Python workers import the engine
from their working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from harness import CANARY, FIXTURES, noop  # noqa: E402
from tracing import StateProgressRecorder, StatusStore  # noqa: E402

from flinkstreametl_spark.plans import REGISTRY  # noqa: E402
from flinkstreametl_spark.schemas import FIXTURE_TABLES  # noqa: E402
from flinkstreametl_spark.session import get_spark, job_tag  # noqa: E402
from flinkstreametl_spark.sources.parquet import load_table  # noqa: E402

PHASES = ("construct", "action")
# Construction jobs that also carry one of these tags.
PARTS = ("pin", "drain")


def warm_up(spark, sf_dir: str) -> None:
    """As ``bench.py``: touch every fixture table once, then run the
    flagship enrich, so the first query does not pay JVM start-up,
    codegen and cold parquet footers. One ``mapInPandas`` query
    crosses the Python boundary, so the first Python query does not
    pay the worker start either. The canary runs once too, so its
    first timing is warm like its last."""
    for t in FIXTURE_TABLES:
        load_table(spark, sf_dir, t).count()
    REGISTRY["flagship_enrich"].fn(spark, sf_dir).count()
    noop(REGISTRY["knn_pandas_topk"].fn(spark, sf_dir))
    noop(REGISTRY[CANARY].fn(spark, FIXTURES))


def canary_s(spark, reps: int = 3) -> float:
    """Median seconds of the benchmark's canary query on its fixtures."""
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        noop(REGISTRY[CANARY].fn(spark, FIXTURES))
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def profile_once(spark, store: StatusStore, name: str, sf_dir: str) -> dict:
    """Build and run ``name`` once with each phase's jobs tagged; read
    the jobs, stages, Python nodes and stream progress they produced."""
    sc = spark.sparkContext
    store.wait_for_events()
    earlier = {p: set(store.tagged_jobs(f"{p}:{name}")) for p in PHASES}
    recorder = StateProgressRecorder()
    spark.streams.addListener(recorder)
    seconds = {}
    try:
        for phase in PHASES:
            t0 = time.perf_counter()
            with job_tag(sc, f"{phase}:{name}"):
                if phase == "construct":
                    df = REGISTRY[name].fn(spark, sf_dir)
                else:
                    noop(df)
            seconds[phase] = time.perf_counter() - t0
        store.wait_for_events()  # the last job end and progress event
    finally:
        spark.streams.removeListener(recorder)
    jobs = {
        p: {j: st for j, st in store.tagged_jobs(f"{p}:{name}").items() if j not in earlier[p]}
        for p in PHASES
    }
    for part in PARTS:
        tagged = store.tagged_jobs(part)
        jobs[part] = {j: st for j, st in jobs["construct"].items() if j in tagged}
    rec: dict = {"query": name}
    for p in PHASES:
        rec[f"{p}_s"] = seconds[p]
    for p in (*PHASES, *PARTS):
        rec[f"{p}_jobs"] = len(jobs[p])
    rec["stage_totals"] = {p: store.stage_totals(jobs[p]) for p in (*PHASES, *PARTS)}
    # No executions are skipped by offset: past spark.sql.ui.retainedExecutions
    # the store drops its oldest ones, which shifts every offset. The
    # job ids alone pick out this run's executions.
    rec["python"] = store.python_nodes([*jobs["construct"], *jobs["action"]], 0)
    rec["streaming"] = recorder.summary()
    return rec


def profile(spark, name: str, sf_dir: str, runs: int = 1) -> dict:
    """The profile record of ``name``: the median of ``runs`` runs by
    total seconds, with every run's total in ``samples_s``."""
    store = StatusStore(spark)
    recs = sorted(
        (profile_once(spark, store, name, sf_dir) for _ in range(runs)),
        key=lambda r: r["construct_s"] + r["action_s"],
    )
    return {**recs[(len(recs) - 1) // 2], "samples_s": [r["construct_s"] + r["action_s"] for r in recs]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="registered query names")
    ap.add_argument("--bench", action="store_true", help="every query tagged bench, in name order")
    ap.add_argument("--sf-dir", default=FIXTURES, help="fixture directory (default: the benchmark's sf0.01)")
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args(argv)
    if args.bench == bool(args.names):
        ap.error("give query names or --bench, not both")
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    names = sorted(n for n, s in REGISTRY.items() if "bench" in s.tags) if args.bench else args.names
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = get_spark("query-profile")
    failed = 0
    try:
        warm_up(spark, args.sf_dir)
        print(json.dumps({"canary": "before", "query": CANARY, "s": canary_s(spark)}), flush=True)
        for name in names:
            try:
                rec = profile(spark, name, args.sf_dir, args.runs)
            except Exception as exc:  # a failing query is reported; the pass goes on
                failed += 1
                traceback.print_exc()
                rec = {"query": name, "error": f"{type(exc).__name__}: {exc}"[:500]}
            print(json.dumps(rec), flush=True)
            print(f"# {name}: {rec.get('construct_s', 0):.2f}s + {rec.get('action_s', 0):.2f}s", file=sys.stderr)
        print(json.dumps({"canary": "after", "query": CANARY, "s": canary_s(spark)}), flush=True)
    finally:
        spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
