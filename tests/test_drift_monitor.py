"""Streaming data-drift monitor (streaming/drift_monitor.py): batch 0
seeds the baseline (d = 0), a same-distribution batch stays under the
alert line, a boilerplate flood trips it, and re-baselining accepts the
new normal."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from flinkstreametl_spark.sources.parquet import load_table
from flinkstreametl_spark.streaming.drift_monitor import (
    LOG_SUBDIR,
    process_batch,
    rebaseline,
    run_drift_monitor,
)


def _docs(spark, sf_dir, lo, hi):
    return (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        .select("doc_id", "text")
    )


def _boilerplate(spark, n=100):
    return spark.createDataFrame(
        [(10_000 + i, "spam " * 40) for i in range(n)], "doc_id LONG, text STRING"
    )


def test_baseline_seed_then_alert_on_boilerplate_flood(spark, sf_dir, tmp_path):
    state = str(tmp_path / "state")
    r0 = process_batch(spark, _docs(spark, sf_dir, 0, 150), state, batch_id=0)
    assert r0["d_fp"] == 0 and not r0["alert"], "the seeding batch IS the baseline"

    r1 = process_batch(spark, _docs(spark, sf_dir, 150, 300), state, batch_id=1)
    assert not r1["alert"], f"same-distribution batch must not alert (d={r1['d_fp']})"

    r2 = process_batch(spark, _boilerplate(spark), state, batch_id=2)
    assert r2["alert"] and r2["d_fp"] > r1["d_fp"], "a boilerplate flood must trip the alarm"

    log = spark.read.parquet(os.path.join(state, LOG_SUBDIR))
    assert log.count() == 3
    assert {r.batch_id for r in log.collect()} == {0, 1, 2}


def test_rebaseline_accepts_the_new_normal(spark, sf_dir, tmp_path):
    state = str(tmp_path / "state")
    process_batch(spark, _docs(spark, sf_dir, 0, 150), state, batch_id=0)
    flood = _boilerplate(spark)
    assert process_batch(spark, flood, state, batch_id=1)["alert"]
    rebaseline(spark, flood, state)
    r = process_batch(spark, _boilerplate(spark, 80), state, batch_id=2)
    assert not r["alert"], "after rebaseline the flood distribution is the norm"


def test_failed_rebaseline_keeps_the_previous_baseline(spark, sf_dir, tmp_path):
    """A rebaseline whose write job fails leaves the baseline it was
    replacing in force: the next flood still alerts instead of being
    silently reseeded as the new normal."""
    state = str(tmp_path / "state")
    process_batch(spark, _docs(spark, sf_dir, 0, 150), state, batch_id=0)

    @F.udf("string")
    def crash(text):
        raise RuntimeError("scorer crashed")

    # coalesce(1) keeps the histogram in one stage, so the UDF fails
    # inside the write job itself, after an overwrite would have cleared
    # the old baseline (a shuffle map stage fails before that).
    failing = _boilerplate(spark).withColumn("text", crash("text")).coalesce(1)
    with pytest.raises(Exception, match="scorer crashed"):
        rebaseline(spark, failing, state)
    r = process_batch(spark, _boilerplate(spark, 80), state, batch_id=1)
    assert r["d_fp"] > 0 and r["alert"], "the failed rebaseline dropped the committed baseline"


def test_drift_monitor_stream_end_to_end(spark, sf_dir, tmp_path):
    rows = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
        .collect()
    )
    src = tmp_path / "src"
    src.mkdir()
    for i, lo in enumerate(range(0, 300, 100)):
        with open(src / f"{i}.jsonl", "w") as fh:
            for r in rows[lo : lo + 100]:
                fh.write(json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n")
    state = str(tmp_path / "state")
    q = run_drift_monitor(spark, str(src), state)
    q.awaitTermination(120)
    log = spark.read.parquet(os.path.join(state, LOG_SUBDIR))
    got = sorted((r.batch_id, r.alert) for r in log.collect())
    assert [b for b, _ in got] == [0, 1, 2]
    assert not any(a for _, a in got), "stationary corpus: no alerts"


def test_torn_baseline_without_success_marker_is_reseeded(spark, sf_dir, tmp_path):
    """A crash during the baseline overwrite leaves part-files but no
    _SUCCESS marker; the monitor must treat that as 'no baseline' and
    re-seed rather than measure drift against a torn histogram
    (ADVICE r8)."""
    from flinkstreametl_spark.streaming.drift_monitor import BASELINE_SUBDIR

    state = str(tmp_path / "state")
    base = os.path.join(state, BASELINE_SUBDIR)
    # Simulate the torn overwrite: a committed-looking part file with a
    # WILDLY skewed histogram, but no _SUCCESS marker.
    spark.createDataFrame([(0, 1)], "bucket LONG, cnt LONG").write.mode(
        "overwrite"
    ).parquet(base)
    os.remove(os.path.join(base, "_SUCCESS"))
    r0 = process_batch(spark, _docs(spark, sf_dir, 0, 150), state, batch_id=0)
    assert r0["d_fp"] == 0 and not r0["alert"], (
        "torn baseline must be discarded; the first batch re-seeds"
    )
    assert os.path.isfile(os.path.join(base, "_SUCCESS"))
    # ...and the re-seeded baseline is now authoritative.
    r1 = process_batch(spark, _docs(spark, sf_dir, 150, 300), state, batch_id=1)
    assert not r1["alert"]
