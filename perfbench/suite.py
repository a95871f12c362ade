"""The query layers, measured in the traced run of cdc_backlog: a pass
over a fixed list of bench queries at sf0.01.

Each query runs ``REGISTRY[q].fn(spark, sf_dir)`` (construction: eager
pins, fixture prep and stream drains happen here) and then a ``noop``
write (the action; ``count()`` would let Spark skip most of the plan).
Outputs are checked once per invocation, in the warm-up pass:
row count and exact order-insensitive values against the query's
DuckDB oracle.
"""

from __future__ import annotations

import datetime
import decimal
import math
import time

import duckdb
from catalog import STATE_PROBE, SUITE_QUERIES
from harness import FIXTURES, Bench, log, noop
from tracing import StateProgressRecorder

from flinkstreametl_spark.plans import REGISTRY
from flinkstreametl_spark.schemas import FIXTURE_TABLES

TINY_QUERIES = ("knn_pandas_topk", "q1_pricing_summary")


def _canonical(rows, cols) -> list[tuple]:
    """Rows with columns in name order, values normalised the way
    ``tools/verify_contract.py`` compares them, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, (datetime.datetime, datetime.date)):
            return str(v)
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    return sorted(
        (tuple(norm(r[i]) for i in order) for r in rows),
        key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r),
    )


def oracle_problems(con, name: str, cols: list[str], rows: list) -> list[str]:
    oracle = REGISTRY[name].oracle
    if oracle is None:
        return []
    res = con.sql(oracle)
    want = res.fetchall()
    if sorted(cols) != sorted(res.columns):
        return [f"columns {sorted(cols)} != oracle {sorted(res.columns)}"]
    if len(rows) != len(want):
        return [f"{len(rows)} rows, oracle has {len(want)}"]
    if _canonical(rows, cols) != _canonical(want, res.columns):
        return ["values differ from the oracle"]
    return []


def check_pass(bench: Bench, queries: tuple[str, ...]) -> None:
    """Run every query once, collect its rows and compare them with the
    oracle. This pass is also the warm-up of the timed passes."""
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURES}/{t}.parquet'")
    for q in queries:
        try:
            df = REGISTRY[q].fn(bench.spark, FIXTURES)
            rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # a query that raises fails; the pass goes on
            bench.check(q, [f"{type(exc).__name__}: {exc}"])
            continue
        bench.check(q, oracle_problems(con, q, df.columns, rows))
        log(f"checked {q}: {len(rows)} rows")
    con.close()


def timed_pass(bench: Bench, queries: tuple[str, ...]) -> dict[str, dict] | None:
    """One pass: per query, the seconds of construction and of the
    action, each phase's jobs tagged ``<phase>:<query>``."""
    sc = bench.spark.sparkContext
    out = {}
    for q in queries:
        rec = {}
        for phase in ("construct", "action"):
            sc.addJobTag(f"{phase}:{q}")
            t0 = time.perf_counter()
            try:
                if phase == "construct":
                    df = REGISTRY[q].fn(bench.spark, FIXTURES)
                else:
                    noop(df)
            except Exception as exc:  # counted failed; the run is invalid
                bench.check(q, [f"{phase}: {type(exc).__name__}: {exc}"])
                return None
            finally:
                sc.removeJobTag(f"{phase}:{q}")
            rec[phase] = time.perf_counter() - t0
            bench.tracer.add(f"plans.{phase}", t0, t0 + rec[phase], query=q)
        out[q] = rec
    return out


def traced_queries(bench: Bench, tiny: bool) -> None:
    """The query layers, measured in the traced run: a checked warm-up
    pass, one traced pass (jobs attributed to each phase by their tags),
    then the stateful replay with its micro-batch progress recorded."""
    queries = TINY_QUERIES if tiny else SUITE_QUERIES
    check_pass(bench, queries)
    store = bench.status()
    store.wait_for_events()
    skip = store.executions()
    p = timed_pass(bench, queries)
    if p is None:
        return
    store.wait_for_events()
    jobs = {}
    for phase in ("construct", "action"):
        jobs[phase] = {j: st for q in queries for j, st in store.tagged_jobs(f"{phase}:{q}").items()}
        bench.put(f"plans.{phase}_s", sum(r[phase] for r in p.values()))
        bench.put(f"plans.{phase}_jobs", len(jobs[phase]))
    for k, v in store.stage_totals(jobs["construct"]).items():
        bench.put(f"session.construct.{k}", v)
    for k, v in store.python_nodes([*jobs["construct"], *jobs["action"]], skip).items():
        bench.put(f"operators.python.{k}", v)
    for q, r in p.items():
        bench.put(f"plans.{q}.s", r["construct"] + r["action"])

    recorder = StateProgressRecorder()
    bench.spark.streams.addListener(recorder)
    try:
        with bench.tracer.span(f"plans.{STATE_PROBE}") as sp:
            check_pass(bench, (STATE_PROBE,))
        bench.status().wait_for_events()  # the last progress event
    finally:
        bench.spark.streams.removeListener(recorder)
    bench.put(f"plans.{STATE_PROBE}.s", sp.seconds)
    s = recorder.summary()
    for k in ("state_commit_ms", "state_rows", "no_data_batches"):
        bench.put(f"streaming.{k}", s[k])
