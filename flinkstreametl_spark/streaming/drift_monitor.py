"""[EXT] Streaming DATA-drift monitor: per micro-batch, the quality
score histogram of arriving documents compared against a persisted
baseline histogram — the content-level alarm that the telemetry
listener (``monitor.py``: rows/sec, batch durations) cannot raise. A
feed can keep its throughput steady while its content collapses into
boilerplate; the histogram distance is what catches that.

Statistic: both histograms are normalized to integer parts-per-FP
(share_i = cnt_i * FP div total) and compared by squared L2 distance,
    d_fp = Σ_i (share_obs_i - share_base_i)² div FP
— all int64, engine-exact (a chi-square with its division-by-expected
would reintroduce per-bucket ratios of small counts; L2 on normalized
shares is the standard bounded drift score: 0 = identical, 2·FP =
disjoint). The BASELINE is state: seeded from the first batch, then
held fixed until an explicit re-baseline — drift is always "vs what I
was trained/configured on", not "vs yesterday" (a slow slide would hide
in a rolling baseline).

Per batch the monitor appends one row (batch_id, n_docs, d_fp,
alert) to a drift log parquet; the log is the dashboard table. The
batch twin ``quality_score_drift`` (plans/quality_ext.py) runs the
same statistic oracle-verified on arrival halves of the static corpus.

Reference anchor: the reference has no monitoring beyond print sinks
(``Main.java:134,146``); this is the production-hardening surface
SURVEY.md §2.9 schedules.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flinkstreametl_spark.session import pin
from flinkstreametl_spark.streaming.versioned import recover, replace_dir, start_state_loop

BASELINE_SUBDIR = "baseline"
LOG_SUBDIR = "drift_log"

FP = 1_000_000
#: Alert when the squared-L2 share distance exceeds this (0.02·FP ~=
#: "two buckets moved by 10 points each"); a deployment tunes it from
#: the baseline period's observed noise.
DEFAULT_ALERT_FP = 20_000
_N_BUCKETS = 10  # classifier scores 0..9


def score_histogram(docs: DataFrame) -> DataFrame:
    """(bucket, cnt) histogram of the integer quality score, 0..9.
    Uses the SAME classifier expression as the ingest gate
    (``doc_ingest.quality_gate``) — the drift is measured on the signal
    the pipeline actually filters on — but WITHOUT the keep-filter:
    drops must be visible to the monitor."""
    from flinkstreametl_spark.operators import text as X

    score = X.quality_score_expr("text")
    return (
        docs.select(score.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def l2_drift_fp(obs: DataFrame, base: DataFrame) -> int:
    """Squared L2 distance between two (bucket, cnt) histograms on
    normalized integer shares (module docstring). Both inputs are
    <= _N_BUCKETS rows; this is driver-side arithmetic on a bounded
    pull, not a distributed job."""
    o = {int(r.bucket): int(r.cnt) for r in obs.collect()}
    b = {int(r.bucket): int(r.cnt) for r in base.collect()}
    no, nb = sum(o.values()), sum(b.values())
    if no == 0 or nb == 0:
        return 2 * FP if (no or nb) else 0
    d = 0
    for i in set(o) | set(b):
        so = o.get(i, 0) * FP // no
        sb = b.get(i, 0) * FP // nb
        d += (so - sb) * (so - sb)
    return d // FP


def process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    *,
    batch_id: int,
    alert_fp: int = DEFAULT_ALERT_FP,
) -> dict[str, int]:
    """One monitoring micro-batch: histogram the batch, seed the
    baseline if absent (batch 0 defines 'normal'), append the drift
    row. Returns the row for direct callers/tests."""
    base_path = os.path.join(state_dir, BASELINE_SUBDIR)
    log_path = os.path.join(state_dir, LOG_SUBDIR)
    hist = pin(score_histogram(batch_df))
    # A seeded baseline is one whose write JOB committed — Spark's
    # _SUCCESS marker, written atomically after all part-files. The
    # seed and every rebaseline are swapped in whole by ``replace_dir``;
    # part files without the marker are debris of an in-place write, and
    # accepting them would freeze drift measurement against a torn
    # histogram (ADVICE r8), so they are replaced instead.
    recover(base_path)
    if not os.path.isfile(os.path.join(base_path, "_SUCCESS")):
        replace_dir(base_path, hist.write.parquet)
    base = spark.read.schema("bucket LONG, cnt LONG").parquet(base_path)
    d_fp = l2_drift_fp(hist, base)
    n_docs = batch_df.count()
    row = {"batch_id": batch_id, "n_docs": n_docs, "d_fp": d_fp, "alert": d_fp > alert_fp}
    spark.createDataFrame(
        [(batch_id, n_docs, d_fp, d_fp > alert_fp)],
        "batch_id LONG, n_docs LONG, d_fp LONG, alert BOOLEAN",
    ).write.mode("append").parquet(log_path)
    return row


def rebaseline(spark: SparkSession, docs: DataFrame, state_dir: str) -> None:
    """Explicitly reset the baseline to ``docs``' histogram (after a
    deliberate distribution change: new feed onboarded, new gate). The
    swap leaves the previous baseline in force if the write fails."""
    replace_dir(os.path.join(state_dir, BASELINE_SUBDIR), score_histogram(docs).write.parquet)


def run_drift_monitor(
    spark: SparkSession,
    source_path: str,
    state_dir: str,
    *,
    available_now: bool = True,
):
    """Continuous drift monitoring over a JSONL document stream."""
    return start_state_loop(
        spark,
        source_path,
        "doc_id LONG, text STRING",
        state_dir,
        lambda df, bid: process_batch(df.sparkSession, df, state_dir, batch_id=bid),
        available_now=available_now,
    )
