"""Per-operator unit tests (SURVEY.md §5.2 item 3) on crafted inputs:
dedup semantics, kNN fast-vs-exact agreement, IVF recall, HLL accuracy,
multimodal plumbing (stub + fake decoder), REPLACE idempotency."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flinkstreametl_spark.operators import dedup as D
from flinkstreametl_spark.operators import multimodal as M
from flinkstreametl_spark.operators import similarity as S
from flinkstreametl_spark.operators.cdc import latest_by_key
from flinkstreametl_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def crafted_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "the  QUICK   brown fox jumps over the lazy dog"),       # same after normalize
        (4, "the quick brown fox leaps over the lazy dog"),          # near dup (1 token)
        (5, "completely different content about spark engines"),
        (6, "completely different content about flink engines"),     # near dup of 5
    ]
    return spark.createDataFrame(rows, "doc_id INT, text STRING")


def test_exact_dedup_normalized(spark, crafted_docs):
    """Fingerprint normalizes case+whitespace: docs 1,2,3 share one
    group; keeper is the min id."""
    groups = {r.fp: (r.n_docs, r.keeper) for r in D.exact_dup_groups(crafted_docs).collect()}
    assert sorted(groups.values()) == [(1, 4), (1, 5), (1, 6), (3, 1)]
    kept = sorted(r.doc_id for r in D.dedup_keep_first(crafted_docs).collect())
    assert kept == [1, 4, 5, 6]


def test_minhash_finds_near_dups(spark, crafted_docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in D.minhash_lsh_pairs(crafted_docs, threshold=0.5).collect()}
    # exact dups always collide in every band
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 3)] == 1.0 and pairs[(2, 3)] == 1.0
    # near-dups are probabilistic candidates; if banded together, the
    # exact-Jaccard verification must report the true similarity
    if (1, 4) in pairs:
        assert abs(pairs[(1, 4)] - 7 / 9) < 1e-9  # one-token swap: |∩|=7, |∪|=9
    # dissimilar docs must never pass the >= 0.5 verification
    assert all(j >= 0.5 for j in pairs.values())
    assert (1, 5) not in pairs and (4, 5) not in pairs


def test_simhash_near_pairs_on_dups(spark, crafted_docs):
    """Identical token sets -> identical simhash -> hamming 0."""
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in D.simhash_near_pairs(crafted_docs, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0
    sh = {r.doc_id: r.simhash for r in D.simhash(crafted_docs).collect()}
    assert all(0 <= v < 2**16 for v in sh.values())


def test_simhash_pairs_plan_has_no_cross_join(spark, crafted_docs):
    """Candidate generation must be the banded equi-join, never a
    cartesian/nested-loop product."""
    plan = D.simhash_near_pairs(crafted_docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_banding_is_lossless_vs_bruteforce(spark, crafted_docs):
    """Pigeonhole banding finds exactly the pairs a brute-force O(n²)
    hamming scan finds (banding is a candidate restriction with zero
    recall loss; the cap is disabled here to isolate the banding)."""
    sh = {r.doc_id: r.simhash for r in D.simhash(crafted_docs).collect()}
    brute = {
        (a, b)
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    banded = {
        (r.doc_a, r.doc_b)
        for r in D.simhash_near_pairs(crafted_docs, max_hamming=3, max_bucket_size=None).collect()
    }
    assert banded == brute


def test_lsh_bucket_cap_noop_on_small_buckets(spark, crafted_docs):
    """On a corpus whose band buckets are all under the cap, capped and
    uncapped LSH return identical pair sets."""
    capped = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(crafted_docs, threshold=0.5).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(crafted_docs, threshold=0.5, max_bucket_size=None).collect()
    }
    assert capped == uncapped


def test_lsh_bucket_cap_drops_hot_bucket(spark):
    """A bucket larger than the cap is dropped wholesale: 6 identical
    boilerplate docs (bucket size 6 > cap 3) produce no pairs, while the
    distinct near-dup pair elsewhere survives."""
    rows = [(i, "identical boilerplate footer text repeated everywhere") for i in range(1, 7)]
    rows += [(10, "a genuinely unique document about spark shuffles"),
             (11, "a genuinely unique document about spark shuffle")]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(docs, threshold=0.5, max_bucket_size=3).collect()
    }
    assert all(a not in range(1, 7) and b not in range(1, 7) for a, b in pairs)
    if pairs:  # the near-dup pair banded together: verify it's the right one
        assert pairs == {(10, 11)}


def test_knn_fast_matches_exact_sets(spark, sf_dir):
    """The HOF fast path must return the same neighbor sets (per query)
    as the fixed-point exact path — scores may differ in the last ulp."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {}
    for r in S.knn_exact(emb, n_queries=5, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    fast = {}
    for r in S.knn_fast(emb, n_queries=5, k=5).collect():
        fast.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert exact == fast


def test_ivf_recall_on_clustered_data(spark):
    """IVF prunes by centroid: on data with real cluster structure
    (3 well-separated clusters, label = cluster id) nprobe=1 must
    achieve perfect recall — each query's neighbors live in its own
    cluster. (The driver fixture's `label` is NOT a spatial cluster, so
    recall there only measures the scanned fraction.)"""
    dims, per_cluster = 8, 12
    rows = []
    vid = 0
    for c in range(3):
        for m in range(per_cluster):
            vec = [0.1] * dims
            vec[c] = 10.0
            vec[(c + m) % dims] += 0.01 * (m + 1)  # deterministic jitter
            rows.append((vid, [float(x) for x in vec], c))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT")

    exact = {}
    for r in S.knn_exact(emb, n_queries=3, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    ivf = {}
    for r in S.ivf_topk(emb, n_queries=3, k=5, nprobe=1).collect():
        ivf.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact[q] & ivf.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.9


def test_ivf_runs_on_fixture(spark, sf_dir):
    """On the (non-clustered-label) fixture, IVF must still return k
    well-formed results per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.ivf_topk(emb, n_queries=5, k=5, nprobe=3).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rk)
    assert set(per_q) == {0, 1, 2, 3, 4}
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_approx_distinct_accuracy(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    exact = {r.event_type: r.n for r in events.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()}
    approx = {
        r.event_type: r.a
        for r in events.groupBy("event_type").agg(F.approx_count_distinct("user_id", rsd=0.01).alias("a")).collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.05 * n)


def test_replace_upsert_idempotent(spark):
    """Same key twice -> one row, newest wins; replay-safe (S3 REPLACE
    semantics, SinkToMySQL.java:35)."""
    df = spark.createDataFrame(
        [(1, "a", 100), (1, "b", 200), (2, "c", 50)], "k INT, v STRING, ts LONG"
    )
    out = latest_by_key(df, ["k"], ["ts"])
    assert {(r.k, r.v) for r in out.collect()} == {(1, "b"), (2, "c")}
    twice = latest_by_key(out.unionByName(out), ["k"], ["ts"])
    assert twice.count() == 2


def test_multimodal_unsupported_format_raises(spark):
    """Compressed/unknown formats still need an injected codec: the
    default decoder must refuse them loudly, not fake an answer."""
    docs = spark.createDataFrame([(1, bytearray(b"payload"))], "media_id LONG, payload BINARY")
    with pytest.raises(Exception) as ei:
        M.extract_features(docs).collect()
    assert "codec" in str(ei.value) or "unsupported" in str(ei.value)


def _ppm_p6(w, h, pixels):
    return f"P6\n{w} {h}\n255\n".encode() + bytes(pixels)


def test_decode_ppm_p6_and_p3():
    px = [255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30]  # 2x2 RGB
    w, h, out = M.decode_ppm(_ppm_p6(2, 2, px))
    assert (w, h) == (2, 2) and out == [float(v) for v in px]
    p3 = ("P3\n# comment\n2 2\n255\n" + " ".join(str(v) for v in px)).encode()
    assert M.decode_ppm(p3) == (2, 2, [float(v) for v in px])


def test_decode_bmp_24bit():
    import struct

    # 2x2 bottom-up 24-bit BMP; rows padded to 4 bytes (2*3=6 -> 8)
    top = [(255, 0, 0), (0, 255, 0)]     # row y=0 (stored last)
    bottom = [(0, 0, 255), (10, 20, 30)]  # row y=1 (stored first)
    raster = b""
    for row in (bottom, top):
        for r, g, b in row:
            raster += bytes((b, g, r))
        raster += b"\x00\x00"
    header = b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(raster), 0, 0, 0, 0)
    w, h, px = M.decode_bmp(header + info + raster)
    assert (w, h) == (2, 2)
    assert px == [255.0, 0.0, 0.0, 0.0, 255.0, 0.0, 0.0, 0.0, 255.0, 10.0, 20.0, 30.0]


def test_default_decoder_end_to_end(spark):
    """extract_features with NO injected decoder must decode a real PPM
    payload on the executor — the default path is real, not a stub."""
    px = [100] * 12
    docs = spark.createDataFrame(
        [(1, bytearray(_ppm_p6(2, 2, px)))], "media_id LONG, payload BINARY"
    )
    out = M.extract_features(docs).collect()
    assert len(out) == 1
    feat = out[0].feature
    assert feat[:2] == [2.0, 2.0]          # w, h
    assert feat[2:5] == [100.0, 100.0, 100.0]  # channel means
    assert abs(feat[7] - 100.0) < 1e-9     # mean luminance of a flat image


def test_default_resizer_round_trip(spark):
    """resize_images default path: nearest-neighbor 1x1 -> 2x2 P6 whose
    re-decoded pixels replicate the source pixel."""
    src = _ppm_p6(1, 1, [7, 8, 9])
    media = spark.createDataFrame([(1, bytearray(src))], "media_id long, payload binary")
    rows = M.resize_images(media, 2, 2).collect()
    w, h, px = M.decode_image(bytes(rows[0].payload))
    assert (w, h) == (2, 2)
    assert px == [7.0, 8.0, 9.0] * 4


def test_multimodal_fake_decoder_roundtrip(spark):
    """mapInPandas plumbing with the deterministic fake decoder: schema,
    Arrow batching, and digest stability."""
    import hashlib

    payloads = [(i, bytearray(f"blob-{i}".encode() * (i + 1))) for i in range(10)]
    docs = spark.createDataFrame(payloads, "media_id LONG, payload BINARY")
    out = {r.media_id: r for r in M.extract_features(docs, decoder=M.fake_decoder).collect()}
    assert len(out) == 10
    for i, raw in payloads:
        b = bytes(raw)
        assert out[i].n_bytes == len(b)
        assert out[i].digest == hashlib.md5(b).hexdigest()
        assert len(out[i].feature) == 4


def test_media_has_one_crossing():
    """``multimodal.map_media`` is the media code's one Arrow crossing:
    ``plans/llm.py`` calls no ``mapInPandas``, ``operators/multimodal.py``
    calls it once, inside ``map_media``, and the media operators take no
    column-name options."""
    import ast
    import inspect

    from flinkstreametl_spark.plans import llm

    def crossings(module):
        tree = ast.parse(inspect.getsource(module))
        return [
            getattr(top, "name", None)
            for top in tree.body
            for n in ast.walk(top)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "mapInPandas"
        ]

    assert crossings(llm) == []
    assert crossings(M) == ["map_media"]
    ops = "media_metadata extract_features resize_images audio_features video_frame_features frame_sample"
    for name in ops.split():
        assert not {"id_col", "payload_col"} & set(inspect.signature(getattr(M, name)).parameters), name
    assert not hasattr(M, "MEDIA_SCHEMA")


def test_frame_sample(spark):
    media = spark.createDataFrame(
        [(1, "video", 3500), (2, "image", None), (3, "video", 0)],
        "media_id LONG, media_type STRING, duration_ms LONG",
    )
    rows = M.frame_sample(media, every_ms=1000).collect()
    got = sorted((r.media_id, r.frame_ts_ms) for r in rows)
    assert got == [(1, 0), (1, 1000), (1, 2000), (1, 3000), (3, 0)]


def test_pandas_udf_agrees_with_builtin_quality(spark, sf_dir):
    """The Arrow-batched pandas_udf quality score must agree with the
    pure-column (oracle-gated) is_quality flag on every document."""
    from flinkstreametl_spark.plans.registry import REGISTRY

    builtin = {
        r.doc_id: bool(r.is_quality) for r in REGISTRY["text_quality_stats"].fn(spark, sf_dir).collect()
    }
    udf = {r.doc_id: bool(r.quality) for r in REGISTRY["pandas_udf_quality"].fn(spark, sf_dir).collect()}
    assert builtin == udf


def test_builtin_moments_match_duckdb_tolerance(spark, sf_dir):
    """Engine-specific accumulators (stddev/var/corr) agree with DuckDB
    within float tolerance — the rows-only counterpart of the exact gate."""
    import duckdb

    from flinkstreametl_spark.plans.registry import AUDIT_REGISTRY

    got = {r.l_returnflag: r for r in AUDIT_REGISTRY["stats_builtin_moments"].fn(spark, sf_dir).collect()}
    con = duckdb.connect()
    ref = con.sql(
        f"""SELECT l_returnflag, stddev_samp(l_quantity) sd, var_samp(l_quantity) v,
                   corr(l_quantity, l_extendedprice) c
            FROM '{sf_dir}/lineitem.parquet' GROUP BY 1"""
    ).fetchall()
    con.close()
    for flag, sd, v, c in ref:
        assert abs(got[flag].stddev_qty - sd) < 1e-9 * max(1, abs(sd))
        assert abs(got[flag].var_qty - v) < 1e-9 * max(1, abs(v))
        assert abs(got[flag].corr_qty_price - c) < 1e-6


def test_resize_images_plumbing(spark):
    """Resize via mapInPandas: correct schema, per-row payload of w*h
    bytes, deterministic content from the fake resizer."""
    from flinkstreametl_spark.operators import multimodal as M

    media = spark.createDataFrame(
        [(1, bytearray(b"abcdef")), (2, bytearray(b"x")), (3, None)],
        "media_id long, payload binary",
    )
    out = M.resize_images(media, 4, 2, resizer=M.fake_resizer)
    rows = {r.media_id: bytes(r.payload) for r in out.collect()}
    assert out.columns == ["media_id", "width", "height", "payload"]
    assert rows[1] == b"abcdefab"       # tiled to 8 bytes
    assert rows[2] == b"xxxxxxxx"
    assert rows[3] == b""


def test_resize_unsupported_format_raises(spark):
    from flinkstreametl_spark.operators import multimodal as M

    media = spark.createDataFrame([(1, bytearray(b"abc"))], "media_id long, payload binary")
    import pytest as _pytest

    with _pytest.raises(Exception) as exc:
        M.resize_images(media, 4, 2).collect()
    assert "codec" in str(exc.value) or "unsupported" in str(exc.value)


def test_grouped_agg_udf_matches_builtin(spark, sf_dir):
    """The GROUPED_AGG pandas_udf weighted mean must match the built-in
    column expression sum(p*q)/sum(q) to double precision."""
    from pyspark.sql import functions as F

    from flinkstreametl_spark.plans.registry import REGISTRY
    from flinkstreametl_spark.sources.parquet import load_table

    got = {r.l_returnflag: r.wmean_price for r in REGISTRY["grouped_agg_pandas_udf"].fn(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    ref = {
        r.l_returnflag: r.w
        for r in li.groupBy("l_returnflag")
        .agg((F.sum(F.col("l_extendedprice") * F.col("l_quantity")) / F.sum("l_quantity")).alias("w"))
        .collect()
    }
    assert set(got) == set(ref)
    for k in got:
        assert abs(got[k] - ref[k]) < 1e-6 * abs(ref[k])


def test_freq_items_superset_guarantee(spark, sf_dir):
    """DataFrame.freqItems (the distributed heavy-hitter sketch): every
    key with true frequency >= support must appear in the result (the
    sketch guarantees a superset; false positives allowed)."""
    from pyspark.sql import functions as F

    from flinkstreametl_spark.sources.parquet import load_table

    events = load_table(spark, sf_dir, "events")
    support = 0.05
    sketch = set(events.stat.freqItems(["user_id"], support).first()[0])
    n = events.count()
    exact = {
        r.user_id
        for r in events.groupBy("user_id").count().filter(F.col("count") >= support * n).collect()
    }
    assert exact <= sketch


def test_neardup_clusters_match_union_find(spark, sf_dir):
    """Component labels from iterative min-label propagation must equal
    a driver-side union-find over the same pair list."""
    from flinkstreametl_spark.operators import dedup as D
    from flinkstreametl_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, threshold=0.6).select("doc_a", "doc_b")
    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    assert edges, "fixture should contain near-dup pairs"

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # normalize: label every node with its root's minimum member
    members: dict[int, list[int]] = {}
    for x in parent:
        members.setdefault(find(x), []).append(x)
    expected = {x: min(ms) for root, ms in members.items() for x in ms}

    got = {r.doc_id: r.cluster_id for r in D.neardup_clusters(pairs).collect()}
    assert got == expected


def test_chunk_documents_tiles_all_tokens(spark, sf_dir):
    """Chunks must cover every token: sum of per-chunk sizes equals
    n_tokens + overlap * (n_chunks - 1) for every document."""
    import pyspark.sql.functions as F

    from flinkstreametl_spark.plans import REGISTRY
    from flinkstreametl_spark.operators import text as X
    from flinkstreametl_spark.sources.parquet import load_table

    chunks = REGISTRY["chunk_documents"].fn(spark, sf_dir)
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum("n_chunk_tokens").alias("tok_sum"), F.count("*").alias("nc")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.token_count("text").alias("n")
    )
    bad = (
        per_doc.join(docs, "doc_id")
        .filter(F.col("tok_sum") != F.col("n") + 16 * (F.col("nc") - 1))
        .count()
    )
    assert bad == 0


def test_wav_decode_roundtrip():
    """synth -> decode is lossless: sample rate, channel count, and the
    exact sample sequence survive the RIFF round trip."""
    payload = M.synth_square_wav(8000, 32, 500, period=16)
    sr, nch, samples = M.decode_wav(payload)
    assert (sr, nch, len(samples)) == (8000, 1, 32)
    assert samples[:10] == [500] * 8 + [-500] * 2
    assert min(samples) == -500 and max(samples) == 500


def test_wav_decode_rejects_non_riff_and_wide_samples():
    import io
    import wave

    import pytest

    with pytest.raises(ValueError, match="RIFF"):
        M.decode_wav(b"not audio at all")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(4)  # 32-bit: unsupported
        w.setframerate(8000)
        w.writeframes(b"\x00" * 64)
    with pytest.raises(ValueError, match="16-bit"):
        M.decode_wav(buf.getvalue())


def test_audio_features_square_wave(spark):
    """floor-RMS of a square wave == its amplitude; sign flips once per
    half period; duration from frame count — checked through the full
    mapInPandas path."""
    rows = [(1, M.synth_square_wav(8000, 160, 1200)), (2, M.synth_square_wav(16000, 320, 800))]
    df = spark.createDataFrame(rows, "media_id LONG, payload BINARY")
    out = {r.media_id: r for r in M.audio_features(df).collect()}
    r1, r2 = out[1], out[2]
    assert (r1.sample_rate, r1.n_frames, r1.duration_ms) == (8000, 160, 20)
    assert (r1.rms, r1.peak, r1.n_sign_flips) == (1200, 1200, 19)
    assert (r2.sample_rate, r2.n_frames, r2.duration_ms) == (16000, 320, 20)
    assert (r2.rms, r2.peak, r2.n_sign_flips) == (800, 800, 39)


def test_video_container_roundtrip(spark):
    """encode -> decode of the concatenated-P6 container is lossless,
    and frame sampling respects stride and frame order."""
    frames = [(2, 2, [float(10 * f + c) for _ in range(4) for c in range(3)]) for f in range(5)]
    payload = M.encode_video_ppm(frames)
    back = M.decode_video_ppm(payload)
    assert [(w, h) for w, h, _ in back] == [(2, 2)] * 5
    assert back[3][2] == frames[3][2]
    import pytest

    with pytest.raises(ValueError, match="P6 frame header"):
        M.decode_video_ppm(b"BM" + payload)

    df = spark.createDataFrame([(7, payload)], "media_id LONG, payload BINARY")
    out = M.video_frame_features(df, every_n=2).collect()
    assert [r.frame_idx for r in sorted(out, key=lambda r: r.frame_idx)] == [0, 2, 4]
    r0 = next(r for r in out if r.frame_idx == 2)
    assert (r0.mean_r, r0.mean_g, r0.mean_b) == (20, 21, 22)


def test_range_join_bucket_boundaries(spark):
    """The bucketed interval decomposition must find pairs that cross a
    5-minute bucket edge and must honor the inclusive ±300s bound
    exactly (300s in, 301s out)."""
    import datetime as dt

    from flinkstreametl_spark.plans import REGISTRY

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # click just before a bucket edge; error just after it (cross-bucket, |dt|=2s)
        (1, base + dt.timedelta(seconds=299), 7, "click", 0.0, "{}"),
        (2, base + dt.timedelta(seconds=301), 7, "error", 0.0, "{}"),
        # exactly 300s away -> counted
        (3, base + dt.timedelta(seconds=599), 7, "error", 0.0, "{}"),
        # 301s away -> not counted
        (4, base + dt.timedelta(seconds=600), 7, "error", 0.0, "{}"),
        # different user inside range -> not counted
        (5, base + dt.timedelta(seconds=300), 8, "error", 0.0, "{}"),
        # click with no nearby errors -> survives with count 0
        (6, base + dt.timedelta(days=1), 7, "click", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = {r.event_id: r.n_errors_5min for r in REGISTRY["range_join_error_context"].fn(spark, d).collect()}
    assert out == {1: 2, 6: 0}


def test_text_operators_null_and_empty_robustness(spark):
    """Null text propagates to null (never throws, gate drops it);
    empty and whitespace-only text normalize to the SAME fingerprint
    (they are the same document after normalization); n-grams guard the
    short-doc case instead of erroring under ANSI."""
    from pyspark.sql import functions as F

    from flinkstreametl_spark.operators import text as X
    from flinkstreametl_spark.streaming.doc_ingest import quality_gate

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "the quick brown fox is here and it is a good day here")],
        "doc_id LONG, text STRING",
    )
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            X.fingerprint("text").alias("fp"),
            X.token_count("text").alias("n"),
            X.ngrams("text", 2).alias("g2"),
        ).collect()
    }
    assert rows[1].fp is None and rows[1].n is None and rows[1].g2 == []
    assert rows[2].fp == rows[3].fp
    assert rows[2].g2 == [] and rows[3].g2 == []
    assert rows[4].n == 13 and len(rows[4].g2) == 12

    gated = quality_gate(
        df.withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")).withColumn("event_ts", F.current_timestamp())
    )
    assert [r.doc_id for r in gated.collect()] == [4]


def test_ivf_serving_path_agrees_with_curve(spark, sf_dir):
    """The serving path and the recall audit run on one IVF kernel: for
    each nprobe of ``ivf_recall_curve``, the overlap of ``ivf_topk``'s
    top-10 with knn_fast's top-10 is the curve's ``n_overlap``."""
    from flinkstreametl_spark.plans import REGISTRY

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.query_id, r.neighbor_id) for r in S.knn_fast(emb, 5, 10).collect()}
    curve = REGISTRY["ivf_recall_curve"].fn(spark, sf_dir).collect()
    assert sorted(r.nprobe for r in curve) == [1, 2, 3, 5, 10]
    for row in curve:
        ivf = {(r.query_id, r.neighbor_id) for r in S.ivf_topk(emb, 5, k=10, nprobe=row.nprobe).collect()}
        assert len(ivf & exact) == row.n_overlap, row


def test_ivf_has_one_home():
    """``operators/similarity.py`` is the IVF kernel's one home: only it
    names the probe rank ``"prb"`` and orders a window by the centroid
    score. Only ``operators/clustering.py`` turns a centroid matrix into
    a frame (``createDataFrame`` with a centroid schema). The three
    nprobe recall audits each call the kernel's curve, and none of them
    calls ``knn_fast``: the exact truth comes from the scored set."""
    import ast
    import os

    import flinkstreametl_spark

    pkg = os.path.dirname(flinkstreametl_spark.__file__)
    prb, probe_windows, centroid_frames, curve_users, knn_users = set(), set(), set(), set(), set()
    for root, _dirs, names in os.walk(pkg):
        for f in names:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, pkg)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for n in ast.walk(tree):
                if isinstance(n, ast.Constant) and n.value == "prb":
                    prb.add(rel)
                if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                    continue
                inner = list(ast.walk(n))
                consts = [c.value for c in inner if isinstance(c, ast.Constant) and isinstance(c.value, str)]
                idents = {getattr(c, "id", None) or getattr(c, "attr", None) for c in inner}
                if n.func.attr == "orderBy" and "c_score" in consts:
                    probe_windows.add(rel)
                if n.func.attr == "createDataFrame" and (
                    "CENTROIDS_SCHEMA" in idents or any("centroid" in c for c in consts)
                ):
                    centroid_frames.add(rel)
            for top in tree.body:
                if not isinstance(top, ast.FunctionDef):
                    continue
                calls = {
                    getattr(n.func, "attr", None) or getattr(n.func, "id", None)
                    for n in ast.walk(top)
                    if isinstance(n, ast.Call)
                }
                if "ivf_recall_curve" in calls:
                    curve_users.add((rel, top.name))
                if "knn_fast" in calls:
                    knn_users.add((rel, top.name))
    home = os.path.join("operators", "similarity.py")
    assert prb == {home}
    assert probe_windows == {home}
    assert centroid_frames == {os.path.join("operators", "clustering.py")}
    ml, ann = os.path.join("plans", "ml_ext.py"), os.path.join("plans", "ann_ext.py")
    assert curve_users == {
        (ml, "ivf_recall_curve"),
        (ml, "ivf_kmeans_recall_curve"),
        (ann, "ann_index_staleness_audit"),
    }
    assert not curve_users & knn_users
