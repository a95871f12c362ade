"""Hot-bucket cap on the media-fingerprint banded self-joins (VERDICT
r10 item 2): a degenerate fingerprint class (black frames, silence,
solid-color stills — here 1k identical fingerprints) must produce
BOUNDED output instead of a squared bucket, a bucket exactly at the
cap must survive untouched, and the drop must be per-bucket (a
healthy pair next to the degenerate bucket still surfaces). The same
cap is mirrored in the three DuckDB oracles via QUALIFY, so these
laws plus the driver hash-compare pin both engines."""

from __future__ import annotations

from pyspark.sql import functions as F

from flinkstreametl_spark.operators.dedup import MAX_BUCKET_SIZE, hamming_pairs


def _const_hashes(spark, n: int, fp: int, start: int = 0):
    return spark.range(start, start + n).select(
        F.col("id").alias("media_id"), F.lit(fp).cast("long").alias("fp")
    )


def test_degenerate_bucket_is_dropped(spark):
    # 1000 identical fingerprints -> every (band, band_bits) bucket
    # holds 1000 > cap members -> zero pairs, not 1000*999/2.
    out = hamming_pairs(_const_hashes(spark, 1000, 12345), "media_id", "fp", 4, 12)
    assert out.count() == 0


def test_bucket_exactly_at_cap_survives(spark):
    n = MAX_BUCKET_SIZE
    out = hamming_pairs(_const_hashes(spark, n, 12345), "media_id", "fp", 4, 12)
    assert out.count() == n * (n - 1) // 2


def test_cap_is_per_bucket_not_global(spark):
    # A degenerate 1000-member bucket (fp=0) next to a healthy
    # hamming-1 pair (fp B vs B^1, whose buckets hold <= 2 members):
    # the pair must still surface — bands 1..3 share band_bits, band 0
    # differs — while the degenerate bucket contributes nothing.
    b = (1 << 48) - 1
    degen = _const_hashes(spark, 1000, 0)
    healthy = degen.sparkSession.createDataFrame(
        [(2000, b), (2001, b ^ 1)], "media_id LONG, fp LONG"
    )
    out = hamming_pairs(degen.unionByName(healthy), "media_id", "fp", 4, 12).collect()
    assert [(r.media_a, r.media_b, r.hamming) for r in out] == [(2000, 2001, 1)]
