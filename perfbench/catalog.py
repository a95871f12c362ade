"""Every metric the benchmark reports, with its unit and direction.
``BENCHMARK.json`` at the checkout root lists the same names; the smoke
test keeps the two in step."""

from __future__ import annotations

# The queries of the traced run's query pass (sf0.01, fn() then a noop
# write): pagerank's eager pins, the media pins and the Python boundary,
# and the q1 aggregate (also the canary).
SUITE_QUERIES = (
    "pagerank_copurchase",
    "video_fingerprint_neardup",
    "knn_pandas_topk",
    "q1_pricing_summary",
)
# The stateful replay whose state-store metrics the traced run records.
STATE_PROBE = "stream_stream_join_replay"

WORKLOADS = {
    "cdc_backlog": "closed loop: a seeded Canal backlog drained in 2 large micro-batches; "
                   "parse/filter/enrich dominate, so it measures capacity",
    "cdc_live": "open loop: small files on a fixed schedule onto a 50K-row keyed table; "
                "the sink rewrite and per-batch cost dominate, so it measures freshness",
}

# name: (unit, better, bound as a share of the parent's median)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "events_per_s": ("1/s", "higher", 0.25),
    "freshness_p50_ms": ("ms", "lower", 0.25),
    "freshness_p90_ms": ("ms", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
}

_STAGE = {"tasks": "count", "run_s": "s", "cpu_s": "s", "shuffle_read_mb": "MB",
          "shuffle_write_mb": "MB", "spill_mb": "MB"}

# name: (unit, better)
PER_LAYER = {
    "sources.cdc.rows_read": ("count", "lower"),
    "sources.cdc.read_amplification": ("ratio", "lower"),
    "sources.cdc.get_batch_ms": ("ms", "lower"),
    "operators.cdc.parse_s": ("s", "lower"),
    "operators.cdc.ingest_s": ("s", "lower"),
    "operators.cdc.keep_ratio": ("ratio", "higher"),
    "operators.joins.enrich_s": ("s", "lower"),
    "operators.joins.match_ratio": ("ratio", "higher"),
    "streaming.sinks.upsert_s": ("s", "lower"),
    "streaming.sinks.upsert_ms_p50": ("ms", "lower"),
    "streaming.sinks.rows_written": ("count", "lower"),
    "streaming.sinks.write_amplification": ("ratio", "lower"),
    "streaming.sinks.bytes_written": ("B", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.trigger_ms_p50": ("ms", "lower"),
    "streaming.overhead_ms": ("ms", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.no_data_batches": ("count", "lower"),
    "plans.construct_s": ("s", "lower"),
    "plans.construct_jobs": ("count", "lower"),
    "plans.action_s": ("s", "lower"),
    "plans.action_jobs": ("count", "lower"),
    **{f"plans.{q}.s": ("s", "lower") for q in (*SUITE_QUERIES, STATE_PROBE)},
    **{f"session.{phase}.{k}": (u, "lower") for phase in ("construct", "action") for k, u in _STAGE.items()},
    "operators.python.nodes": ("count", "lower"),
    "operators.python.worker_start_ms": ("ms", "lower"),
    "operators.python.worker_init_ms": ("ms", "lower"),
    "operators.python.run_ms": ("ms", "lower"),
    "operators.python.bytes_to_python": ("B", "lower"),
    "operators.python.bytes_from_python": ("B", "lower"),
    "harness.gen_late_ms_p90": ("ms", "lower"),
    "harness.backlog_end_envelopes": ("count", "lower"),
    "harness.canary_s": ("s", "lower"),
    "harness.trace_overhead_pct": ("%", "lower"),
}


def unit(name: str) -> str:
    return END_TO_END[name][0] if name in END_TO_END else PER_LAYER[name][0]


def benchmark_json() -> dict:
    """The BENCHMARK.json this catalog describes."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 10,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x} for n, (u, b, x) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b) in PER_LAYER.items()],
    }
