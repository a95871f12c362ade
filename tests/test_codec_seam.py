"""The multimodal decoder seam carrying a REAL compressed codec
(VERDICT r10 item 7): pure-Python PNG (stdlib-zlib DEFLATE +
predictive scanline filters) round-trips, flows through
extract_features' mapInPandas seam unchanged, and produces the SAME
fingerprints as the uncompressed PPM path — payload format is
invisible to the downstream chain, which is the seam's whole
contract. Gated on an import-try per house rule, though the codec is
stdlib-only so the gate never fires in this container."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

codecs_ext = pytest.importorskip("flinkstreametl_spark.operators.codecs_ext")

from flinkstreametl_spark.operators.codecs_ext import (  # noqa: E402
    decode_png,
    encode_png,
    png_decoder,
)
from flinkstreametl_spark.operators.multimodal import (  # noqa: E402
    decode_image,
    default_decoder,
    encode_ppm,
)
from flinkstreametl_spark.plans.llm import _PH_N, _ERA as _PH_ERA, _FAM as _PH_FAM, _FLIPS as _PH_FLIPS  # noqa: E402


def _synth_pixels(did: int) -> list[float]:
    # image_phash_neardup's synth law (plans/llm.py) — the fixture the
    # fingerprint chain is pinned against.
    vals = [
        ((did % _PH_FAM) * (i + 3) + i * 13 + (did // _PH_ERA) * ((i * i) % 251)) % 256
        for i in range(_PH_N)
    ]
    flip = ((did // _PH_FAM) % _PH_FLIPS) * 15
    vals[flip] = 255 - vals[flip]
    return [float(v) for v in vals]


def _ahash(samples: list[float]) -> int:
    iv = [int(v) for v in samples[:_PH_N]]
    total = sum(iv)
    return sum(1 << i for i, v in enumerate(iv) if v * _PH_N > total)


def test_png_roundtrip_all_encoder_filters():
    px = _synth_pixels(7)
    for ft in (0, 1, 2):
        payload = encode_png(10, 2, px, filter_type=ft)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        w, h, got = decode_png(payload)
        assert (w, h) == (10, 2) and got == px


def test_png_is_actually_compressed_and_rejected_by_builtin():
    # A boilerplate-heavy image must come out SMALLER than raw pixels
    # (DEFLATE is real), and the built-in decode_image must refuse it —
    # the seam is the only way in, which is the point.
    px = [128.0] * 3000
    payload = encode_png(100, 10, px)
    assert len(payload) < 3000
    with pytest.raises(ValueError):
        decode_image(payload)


def test_fingerprint_chain_is_payload_format_invariant():
    # aHash over PNG-decoded samples == aHash over PPM-decoded samples
    # for partner docs (x, x+240) — the near-dup chain doesn't care
    # which codec fed it.
    for did in (3, 243, 7, 247):
        px = _synth_pixels(did)
        via_png = _ahash(decode_png(encode_png(10, 2, px))[2])
        via_ppm = _ahash(decode_image(encode_ppm(10, 2, px))[2])
        assert via_png == via_ppm == _ahash(px)


def test_seam_carries_png_through_mapinpandas(spark):
    from flinkstreametl_spark.operators.multimodal import extract_features

    rows = [(did, bytearray(encode_png(10, 2, _synth_pixels(did)))) for did in range(6)]
    df = spark.createDataFrame(rows, "media_id LONG, payload BINARY")
    feats = {
        r.media_id: r.feature
        for r in extract_features(df, decoder=png_decoder).collect()
    }
    assert len(feats) == 6
    for did in range(6):
        # identical features to the uncompressed path on the same pixels
        want = default_decoder(encode_ppm(10, 2, _synth_pixels(did)))[2]
        assert feats[did] == pytest.approx(want)


def test_grayscale_and_unsupported_variants():
    # grayscale (color 0) decodes to expanded RGB; exotic variants fail
    # loudly rather than silently misdecoding.
    px = [float(v) for v in (0, 64, 128, 255)]
    import struct as _s
    import zlib as _z

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(t, d):
        return _s.pack(">I", len(d)) + t + d + _s.pack(">I", _z.crc32(t + d) & 0xFFFFFFFF)

    ihdr = _s.pack(">IIBBBBB", 4, 1, 8, 0, 0, 0, 0)  # 4x1 grayscale
    idat = _z.compress(bytes([0, 0, 64, 128, 255]))
    gray = sig + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    w, h, out = decode_png(gray)
    assert (w, h) == (4, 1)
    assert out == [v for p in px for v in (p, p, p)]

    bad_ihdr = _s.pack(">IIBBBBB", 4, 1, 16, 0, 0, 0, 0)  # 16-bit: unsupported
    bad = sig + chunk(b"IHDR", bad_ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(bad)


def test_malformed_png_always_raises_valueerror():
    # The dispatch contract: corrupt input of ANY kind -> ValueError,
    # never a leaked zlib.error/struct.error.
    good = encode_png(10, 2, _synth_pixels(1))
    # flip a byte inside the IDAT body -> CRC mismatch
    bad_crc = bytearray(good)
    bad_crc[50] ^= 0xFF
    # corrupt DEFLATE but fix the CRC so decompression is reached
    import struct as _s
    import zlib as _z

    idat_start = good.index(b"IDAT") - 4
    (idat_len,) = _s.unpack(">I", good[idat_start : idat_start + 4])
    body = bytearray(good[idat_start + 8 : idat_start + 8 + idat_len])
    body[0] ^= 0xFF
    fixed_crc = _s.pack(">I", _z.crc32(b"IDAT" + bytes(body)) & 0xFFFFFFFF)
    bad_deflate = (
        good[: idat_start + 8] + bytes(body) + fixed_crc + good[idat_start + 12 + idat_len :]
    )
    for payload in (good[:20], bytes(bad_crc), bad_deflate, b"\x89PNG\r\n\x1a\n"):
        with pytest.raises(ValueError):
            decode_png(payload)


def test_png_encoder_rejects_malformed_input():
    # ADVICE r11: fail loudly instead of emitting a PNG whose IDAT
    # contradicts its IHDR (which decode_png would then reject anyway).
    px = _synth_pixels(1)
    with pytest.raises(ValueError, match="length"):
        encode_png(10, 2, px[:-3])  # short buffer
    with pytest.raises(ValueError, match="length"):
        encode_png(10, 2, px + [0.0, 0.0, 0.0])  # long buffer
    bad = list(px)
    for v in (300.0, -1.0, 255.9, -0.9, float("inf"), float("nan")):
        bad[0] = v
        # validation runs on the float values BEFORE int() truncation,
        # so fractional out-of-range and non-finite pixels all surface
        # as the documented ValueError (round-12 review)
        with pytest.raises(ValueError, match="outside"):
            encode_png(10, 2, bad)


def test_motion_png_roundtrip_compresses_and_fails_loudly():
    from flinkstreametl_spark.operators.codecs_ext import (
        decode_video_png,
        encode_video_png,
    )
    from flinkstreametl_spark.operators.multimodal import encode_video_ppm

    frames = [(10, 2, _synth_pixels(d)) for d in range(3)]
    payload = encode_video_png(frames, filter_type=1)
    assert decode_video_png(payload) == [
        (w, h, px) for w, h, px in frames
    ]  # lossless per frame
    # boilerplate frames must genuinely compress vs the P6 container
    flat = [(100, 10, [128.0] * 3000)] * 4
    assert len(encode_video_png(flat)) < len(encode_video_ppm(flat)) / 3
    with pytest.raises(ValueError):
        decode_video_png(payload[:-5])  # truncated tail = data loss
    with pytest.raises(ValueError):
        decode_video_png(payload + b"JUNK")  # trailing garbage
    with pytest.raises(ValueError):
        encode_video_png([])


def test_seam_carries_motion_png_through_video_features(spark):
    # Payload-format invariance at the VIDEO seam: the same frames
    # through the motion-PNG decoder and the default P6 container
    # produce bit-equal integer per-frame rows.
    from flinkstreametl_spark.operators.codecs_ext import (
        encode_video_png,
        video_png_decoder,
    )
    from flinkstreametl_spark.operators.multimodal import (
        encode_video_ppm,
        video_frame_features,
    )

    vids = {mid: [(10, 2, _synth_pixels(mid * 3 + k)) for k in range(3)] for mid in range(4)}
    schema = "media_id LONG, payload BINARY"
    mpng = spark.createDataFrame(
        [(m, bytearray(encode_video_png(f))) for m, f in vids.items()], schema
    )
    p6 = spark.createDataFrame(
        [(m, bytearray(encode_video_ppm(f))) for m, f in vids.items()], schema
    )
    key = lambda r: (r["media_id"], r["frame_idx"])  # noqa: E731
    via_mpng = {
        key(r): (r["width"], r["height"], r["mean_r"], r["mean_g"], r["mean_b"])
        for r in video_frame_features(mpng, decoder=video_png_decoder).collect()
    }
    via_p6 = {
        key(r): (r["width"], r["height"], r["mean_r"], r["mean_g"], r["mean_b"])
        for r in video_frame_features(p6).collect()
    }
    assert via_mpng == via_p6 and len(via_mpng) == 12
