"""Round-10 stream-parity / multimodal-triad laws (the invariants
oracle parity can't state): the DRAINED streaming join equals the
one-shot Spark batch join (engine-internal twin, no DuckDB in the
loop), bloom saturation is monotone and exactly reproduces the k=2
FPR law, and every audio near-dup pair's hamming recomputes from the
closed-form fingerprints."""

from __future__ import annotations

from pyspark.sql import functions as F

from flinkstreametl_spark.plans import REGISTRY
from flinkstreametl_spark.plans.llm import _AF_N, _ERA as _AF_ERA, _FAM as _AF_FAM, _FLIPS as _AF_FLIPS
from flinkstreametl_spark.plans.stream_parity_ext import _SAT_M, _SAT_STAGES


def test_stream_stream_join_replay_equals_batch_twin(spark, sf_dir):
    got = {
        r.user_id: (r.n_pairs, r.n_left_matched, r.sum_delta_us, r.max_delta_us)
        for r in REGISTRY["stream_stream_join_replay"].fn(spark, sf_dir).collect()
    }
    from flinkstreametl_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    l, r = ev.alias("l"), ev.alias("r")
    batch = (
        l.join(
            r,
            F.expr("l.user_id = r.user_id AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR"),
        )
        .select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("left_event_id"),
            (F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("l.ts"))).alias("delta_us"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("left_event_id").cast("long").alias("n_left_matched"),
            F.sum("delta_us").cast("long").alias("sum_delta_us"),
            F.max("delta_us").cast("long").alias("max_delta_us"),
        )
    )
    want = {
        r.user_id: (r.n_pairs, r.n_left_matched, r.sum_delta_us, r.max_delta_us)
        for r in batch.collect()
    }
    assert got == want and got, "drained streaming join must equal the batch join"
    for n_pairs, n_left, sum_us, max_us in got.values():
        assert 0 < max_us <= 3_600_000_000
        assert n_left <= n_pairs and sum_us <= n_pairs * 3_600_000_000


def test_bloom_saturation_monotone_and_fpr_law(spark, sf_dir):
    rows = sorted(
        REGISTRY["bloom_saturation_audit"].fn(spark, sf_dir).collect(), key=lambda r: r.stage
    )
    assert [r.stage for r in rows] == list(range(1, _SAT_STAGES + 1))
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_keys >= prev.n_keys and cur.bits_set >= prev.bits_set
        assert cur.fill_ppm >= prev.fill_ppm
    for r in rows:
        assert 0 < r.bits_set <= min(2 * r.n_keys, _SAT_M)
        assert r.fill_ppm == r.bits_set * 1_000_000 // _SAT_M
        assert r.pred_fpr_ppm == r.bits_set * r.bits_set * 1_000_000 // (_SAT_M * _SAT_M)
    # final stage covers the whole corpus
    n_fp = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ").cast("binary")))
        .distinct()
        .count()
    )
    assert rows[-1].n_keys == n_fp


def _afp_closed_form(did: int) -> int:
    vals = [
        ((did % _AF_FAM) * (w + 5) + w * 17 + (did // _AF_ERA) * ((w * w) % 241)) % 256
        for w in range(_AF_N)
    ]
    flip = ((did // _AF_FAM) % _AF_FLIPS) * 12
    vals[flip] = 255 - vals[flip]
    total = sum(vals)
    return sum(1 << w for w, v in enumerate(vals) if v * _AF_N > total)


def test_audio_fingerprint_pairs_recompute_from_closed_form(spark, sf_dir):
    # The 500-doc fixtures (sf0.001 and sf0.01 both span doc_id
    # 0..499) carry same-(era, pattern) partners (doc x and x+240 for
    # x < 260), so the pair stream is non-trivial at the default test
    # fixture (ADVICE r10: no hardcoded /root/testdata path).
    rows = REGISTRY["audio_fingerprint_neardup"].fn(spark, sf_dir).collect()
    assert rows, "the 500-doc fixture must produce near-dup audio pairs"
    seen = set()
    for r in rows:
        assert r.media_a < r.media_b and 0 <= r.hamming <= 3
        assert (r.media_a, r.media_b) not in seen
        seen.add((r.media_a, r.media_b))
        want = bin(_afp_closed_form(r.media_a) ^ _afp_closed_form(r.media_b)).count("1")
        assert r.hamming == want, "decode-path fingerprint must match the closed form"


def test_stream_window_agg_replay_equals_batch_twin(spark, sf_dir):
    """The drained append-mode window stream — late-poison redelivery,
    sentinel-driven final flush — must equal the one-shot Spark batch
    tumbling aggregate (engine-internal twin; a leaked late copy shows
    up as a duplicate (window_start, event_type) key, a missed flush as
    a missing final window)."""
    from flinkstreametl_spark.functions.exact import dsum
    from flinkstreametl_spark.sources.parquet import load_table

    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in REGISTRY["stream_window_agg_replay"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", 18, 6).alias("sum_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    want = {(r.window_start, r.event_type): (r.n, r.sum_value) for r in batch.collect()}
    assert got == want and got, "drained window stream must equal the batch tumbling agg"
    assert len({k for k in got}) == len(got)  # no double-emitted window


def test_stream_cdc_upsert_replay_tombstones_and_latest(spark, sf_dir):
    """The final keyed table after the at-least-once changelog replay
    must be exactly the batch latest-row-per-key with 'error'-latest
    keys tombstoned away (engine-internal twin of the oracle)."""
    from flinkstreametl_spark.operators.cdc import latest_by_key
    from flinkstreametl_spark.sources.parquet import load_table

    out = REGISTRY["stream_cdc_upsert_replay"].fn(spark, sf_dir).collect()
    assert out and all(r.event_type != "error" for r in out)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    want = {
        r.user_id: (r.event_id, r.event_type, r.value, r.ts)
        for r in latest_by_key(ev, ["user_id"], ["ts", "event_id"]).collect()
        if r.event_type != "error"
    }
    got = {r.user_id: (r.event_id, r.event_type, r.value, r.ts) for r in out}
    assert got == want


def test_video_fingerprint_pairs_recompute_from_closed_form(spark, sf_dir):
    from flinkstreametl_spark.plans.llm import _VF_N, _ERA as _VF_ERA, _FAM as _VF_FAM, _FLIPS as _VF_FLIPS

    def closed_form(did: int) -> int:
        vals = [
            ((did % _VF_FAM) * (f + 9) + f * 23 + (did // _VF_ERA) * ((f * f) % 233)) % 256
            for f in range(_VF_N)
        ]
        flip = ((did // _VF_FAM) % _VF_FLIPS) * 12
        vals[flip] = 255 - vals[flip]
        total = sum(vals)
        return sum(1 << f for f, v in enumerate(vals) if v * _VF_N > total)

    # 500-doc fixture: same-(era, pattern) partners exist (see the
    # audio test above for the fixture-span note).
    rows = REGISTRY["video_fingerprint_neardup"].fn(spark, sf_dir).collect()
    assert rows, "the 500-doc fixture must produce near-dup video pairs"
    seen = set()
    for r in rows:
        assert r.media_a < r.media_b and 0 <= r.hamming <= 3
        assert (r.media_a, r.media_b) not in seen
        seen.add((r.media_a, r.media_b))
        want = bin(closed_form(r.media_a) ^ closed_form(r.media_b)).count("1")
        assert r.hamming == want, "container decode path must match the closed form"


def test_unigram_surprisal_laws(spark, sf_dir):
    """Conservation + construction laws the hash compare can't state:
    per-source token counts sum to the corpus total, the fixed-point
    mean recomputes from (sum_bits, n_tokens), and every mean is
    non-negative and bounded by 64 integer bits."""
    rows = REGISTRY["unigram_surprisal_by_source"].fn(spark, sf_dir).collect()
    assert rows
    from flinkstreametl_spark.operators import text as X
    from flinkstreametl_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    total = docs.select(F.explode(X.tokens("text"))).count()
    assert sum(r.n_tokens for r in rows) == total
    for r in rows:
        assert r.mean_surprisal_ubits == r.sum_bits * 1_000_000 // r.n_tokens
        assert 0 <= r.mean_surprisal_ubits <= 64_000_000


def test_stream_session_window_replay_equals_batch_twin(spark, sf_dir):
    """The drained MERGING-window stream must equal the batch
    session_window aggregate (engine-internal twin): a session split at
    a chunk boundary, a merge into an emitted session, or a missed
    final flush all surface as key/value mismatches."""
    from flinkstreametl_spark.functions.exact import dsum
    from flinkstreametl_spark.sources.parquet import load_table

    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.sum_value)
        for r in REGISTRY["stream_session_window_replay"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", 18, 6).alias("sum_value"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    want = {
        (r.user_id, r.session_start): (r.session_end, r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == want and got, "drained session stream must equal the batch session agg"


def test_stream_outer_join_replay_null_emission_laws(spark, sf_dir):
    """Laws the hash compare states but a reader should see asserted:
    per user n_rows == n_matched + n_unmatched (nulls exactly for
    match-free lefts, no double emission), and the engine twin — the
    batch left-outer interval join — agrees on every aggregate."""
    from flinkstreametl_spark.sources.parquet import load_table

    got = {
        r.user_id: (r.n_rows, r.n_matched, r.n_unmatched, r.sum_delta_us)
        for r in REGISTRY["stream_outer_join_replay"].fn(spark, sf_dir).collect()
    }
    assert got
    for n_rows, n_matched, n_unmatched, _ in got.values():
        assert n_rows == n_matched + n_unmatched
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    l, r = ev.alias("l"), ev.alias("r")
    delta = F.when(
        F.col("r.event_id").isNotNull(),
        F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("l.ts")),
    ).otherwise(F.lit(0))
    batch = (
        l.join(
            r,
            F.expr("l.user_id = r.user_id AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR"),
            "left_outer",
        )
        .groupBy(F.col("l.user_id").alias("user_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("r.event_id").cast("long").alias("n_matched"),
            F.sum(F.when(F.col("r.event_id").isNull(), 1).otherwise(0)).cast("long").alias("n_unmatched"),
            F.sum(delta).cast("long").alias("sum_delta_us"),
        )
    )
    want = {
        r.user_id: (r.n_rows, r.n_matched, r.n_unmatched, r.sum_delta_us)
        for r in batch.collect()
    }
    assert got == want


def test_dead_letter_replay_rates_and_identity_dedup(spark, sf_dir):
    """Laws the hash compare doesn't state: all three classes surface,
    the identity-keyed ledger swallows the redelivered batches (total
    n == |events|, not ~5/3 of it), and the ppm rates are the exact
    integer shares of the total."""
    rows = {r.klass: (r.n, r.rate_ppm) for r in
            REGISTRY["stream_dead_letter_replay"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"good", "UNPARSEABLE_JSON", "MISSING_REQUIRED_FIELDS"}
    from flinkstreametl_spark.sources.parquet import load_table

    total = load_table(spark, sf_dir, "events").count()
    assert sum(n for n, _ in rows.values()) == total
    for n, ppm in rows.values():
        assert ppm == n * 1_000_000 // total
