"""[EXT] Multimodal column plumbing: image/audio/video as opaque
`binary` columns with typed metadata (north-star requirement).

The decode path is REAL for the codec-free formats: a pure-Python
PPM (P6/P3) and uncompressed 24-bit BMP decoder is the default, and the
default resize is a real nearest-neighbor resample re-encoded as P6.
Compressed formats (JPEG/PNG/...) need a codec library absent from this
container — those payloads raise ValueError, and the decoder seam
(`extract_features(decoder=...)`, `resize_images(resizer=...)`) is where
a PIL/opencv-backed callable plugs in unchanged. Everything Spark-side —
schemas, partitioning, Arrow batch shape, mapInPandas signatures — is
identical either way.

Design for 100 TB of media:
- blobs stay in executor space end-to-end (mapInPandas iterator of Arrow
  batches); nothing is collected to the driver;
- metadata (format/width/height/duration) lives in plain columns so
  filters prune *before* any decode;
- `spark.sql.execution.arrow.maxRecordsPerBatch` bounds batch memory —
  decode cost per batch is rows x decode, blob bytes dominate, so keep
  batches small for media tables.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType(), True),      # opaque encoded bytes
    T.StructField("media_type", T.StringType(), True),   # image | audio | video
    T.StructField("format", T.StringType(), True),       # png/jpeg/wav/mp4/...
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("digest", T.StringType(), True),
    T.StructField("feature", T.ArrayType(T.DoubleType()), True),
])


def media_metadata(df: DataFrame, id_col: str = "media_id", payload_col: str = "payload") -> DataFrame:
    """Cheap metadata over the blob without decoding: byte length + md5
    digest — all JVM builtins, no Python."""
    return df.select(
        F.col(id_col),
        F.octet_length(F.col(payload_col)).cast("long").alias("n_bytes"),
        F.md5(F.col(payload_col)).alias("digest"),
    )


# ---------------------------------------------------------------------------
# Pure-Python decoders (no codec dependency): PPM P6/P3 + 24-bit BMP.
# ---------------------------------------------------------------------------


def _ppm_tokens(data: bytes):
    """Header tokenizer: whitespace-separated tokens, '#' comments to EOL.
    Yields (token, offset_after_token)."""
    i = 0
    n = len(data)
    while i < n:
        c = data[i : i + 1]
        if c == b"#":
            while i < n and data[i : i + 1] not in (b"\n", b"\r"):
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < n and not data[j : j + 1].isspace() and data[j : j + 1] != b"#":
                j += 1
            yield data[i:j], j
            i = j


def decode_ppm(payload: bytes) -> tuple[int, int, list[float]]:
    """PPM (P6 binary / P3 ascii, maxval 255) -> (w, h, flat RGB floats,
    row-major top-down)."""
    toks = _ppm_tokens(payload)
    magic, _ = next(toks)
    if magic not in (b"P6", b"P3"):
        raise ValueError(f"not a PPM payload: magic {magic!r}")
    (w, _), (h, _), (maxval, end) = next(toks), next(toks), next(toks)
    w, h, maxval = int(w), int(h), int(maxval)
    if maxval != 255:
        raise ValueError(f"only maxval=255 PPM supported, got {maxval}")
    need = w * h * 3
    if magic == b"P6":
        raster = payload[end + 1 : end + 1 + need]  # exactly one whitespace after maxval
        if len(raster) < need:
            raise ValueError("truncated P6 raster")
        return w, h, [float(b) for b in raster]
    vals = []
    for tok, _ in toks:
        vals.append(float(int(tok)))
        if len(vals) == need:
            return w, h, vals
    raise ValueError("truncated P3 raster")


def decode_bmp(payload: bytes) -> tuple[int, int, list[float]]:
    """Uncompressed 24-bit bottom-up BMP -> (w, h, flat RGB floats,
    row-major top-down)."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pix_off,) = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported (bpp={bpp}, compression={compression})")
    flipped = h > 0  # positive height = bottom-up storage
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    out: list[float] = []
    for y in range(h):
        src_y = (h - 1 - y) if flipped else y
        base = pix_off + src_y * row_bytes
        row = payload[base : base + w * 3]
        if len(row) < w * 3:
            raise ValueError("truncated BMP raster")
        for x in range(w):
            b, g, r = row[3 * x], row[3 * x + 1], row[3 * x + 2]
            out.extend((float(r), float(g), float(b)))
    return w, h, out


def encode_ppm(w: int, h: int, pixels: list[float]) -> bytes:
    """(w, h, flat RGB floats) -> binary P6 bytes (the inverse of
    decode_ppm for round-trip tests and the default resizer's output)."""
    header = f"P6\n{w} {h}\n255\n".encode()
    return header + bytes(int(p) & 0xFF for p in pixels[: w * h * 3])


def decode_image(payload: bytes) -> tuple[int, int, list[float]]:
    """Dispatch on magic bytes: PPM (P6/P3) and 24-bit BMP decode here;
    compressed formats raise — plug a codec-backed callable into the
    decoder seam for those."""
    if payload is None or len(payload) < 2:
        raise ValueError("empty image payload")
    magic = bytes(payload[:2])
    if magic in (b"P6", b"P3"):
        return decode_ppm(payload)
    if magic == b"BM":
        return decode_bmp(payload)
    raise ValueError(
        f"unsupported image format (magic {magic!r}): only PPM/BMP decode without a codec "
        "library; pass decoder= a callable(payload bytes) -> (width, height, pixels)"
    )


def feature_map(w: int, h: int, px: list[float]) -> tuple[int, int, list[float]]:
    """The default 8-dim feature fold over decoded RGB pixels (w, h,
    per-channel means, luminance min/max/mean) — factored out so any
    codec plugged into the decoder seam (operators/codecs_ext.py's PNG
    path, a PIL/opencv callable) reuses the exact same feature math as
    the built-in PPM/BMP path."""
    n = max(1, w * h)
    chan = [0.0, 0.0, 0.0]
    lum_min, lum_max, lum_sum = 255.0, 0.0, 0.0
    for i in range(0, len(px), 3):
        r, g, b = px[i], px[i + 1], px[i + 2]
        chan[0] += r
        chan[1] += g
        chan[2] += b
        lum = 0.299 * r + 0.587 * g + 0.114 * b
        lum_min = min(lum_min, lum)
        lum_max = max(lum_max, lum)
        lum_sum += lum
    return w, h, [float(w), float(h), chan[0] / n, chan[1] / n, chan[2] / n, lum_min, lum_max, lum_sum / n]


def default_decoder(payload: bytes) -> tuple[int, int, list[float]]:
    """Real default decode + feature map: decode PPM/BMP pixels, then
    the shared ``feature_map`` fold."""
    return feature_map(*decode_image(payload))


def fake_decoder(payload: bytes) -> tuple[int, int, list[float]]:
    """Deterministic fake decode used by tests: 'pixels' derived from the
    byte histogram — stable shape (4 floats), no codec needed."""
    if payload is None:
        return (0, 0, [0.0, 0.0, 0.0, 0.0])
    n = len(payload)
    s = sum(payload)
    return (n % 64, n // 64, [float(n), float(s % 251), float(payload[0] if n else 0), float(payload[-1] if n else 0)])


def extract_features(
    df: DataFrame,
    decoder: Callable[[bytes], tuple[int, int, list[float]]] | None = None,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode + feature-extract via mapInPandas: Arrow-batched, executor-
    side, preserves partitioning. decoder=None uses the real pure-Python
    PPM/BMP default (compressed formats raise ValueError there); inject
    a codec-backed or fake callable through the same seam."""
    import hashlib

    dec = decoder if decoder is not None else default_decoder

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                raw = bytes(payload) if payload is not None else None
                _w, _h, feat = dec(raw)
                rows.append(
                    {
                        "media_id": int(mid),
                        "n_bytes": len(raw) if raw is not None else 0,
                        "digest": hashlib.md5(raw).hexdigest() if raw is not None else None,
                        "feature": feat,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return df.select(id_col, payload_col).mapInPandas(op, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("payload", T.BinaryType(), True),
])


def default_resizer(payload: bytes, w: int, h: int) -> bytes:
    """Real resize for PPM/BMP payloads: decode, nearest-neighbor
    resample to (w, h), re-encode as binary P6."""
    sw, sh, px = decode_image(payload)
    out: list[float] = []
    for ty in range(h):
        sy = min(sh - 1, ty * sh // h) if sh else 0
        for tx in range(w):
            sx = min(sw - 1, tx * sw // w) if sw else 0
            base = 3 * (sy * sw + sx)
            out.extend(px[base : base + 3])
    return encode_ppm(w, h, out)


def fake_resizer(payload: bytes, w: int, h: int) -> bytes:
    """Deterministic fake resize for tests: truncate/tile the byte
    payload to w*h bytes — stands in for a real codec's re-encode."""
    if payload is None or not w or not h:
        return b""
    need = w * h
    reps = -(-need // max(1, len(payload)))
    return (payload * reps)[:need]


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Resize plumbing via mapInPandas: Arrow-batched blob-in/blob-out,
    never touching the driver. resizer=None uses the real nearest-
    neighbor PPM/BMP default (compressed formats raise ValueError);
    tests also exercise the injected fake_resizer seam. At 100 TB the
    things that matter are preserved either way: iterator-of-batches
    (bounded memory), metadata columns updated relationally, and the
    payload staying a single binary cell per row."""
    res = resizer if resizer is not None else default_resizer

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "width": width,
                    "height": height,
                    "payload": [
                        res(bytes(p) if p is not None else None, width, height) for p in pdf[payload_col]
                    ],
                }
            )
            yield out[[f.name for f in RESIZED_SCHEMA.fields]]

    return df.select(id_col, payload_col).mapInPandas(op, schema=RESIZED_SCHEMA)


# ---------------------------------------------------------------------------
# Audio: real PCM WAV decode via the stdlib wave module — no codec needed.
# ---------------------------------------------------------------------------

AUDIO_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("n_channels", T.IntegerType(), True),
    T.StructField("n_frames", T.LongType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("rms", T.LongType(), True),          # floor(sqrt(mean(s²)))
    T.StructField("peak", T.LongType(), True),         # max |sample|
    T.StructField("n_sign_flips", T.LongType(), True),  # zero-crossing count
])


def synth_square_wav(sample_rate: int, n_frames: int, amplitude: int, period: int = 16) -> bytes:
    """Deterministic 16-bit mono PCM square wave, RIFF/WAVE-encoded via
    the stdlib wave writer — the test/fixture payload generator (the
    container ships no audio files; the DECODE side is the real code
    under test)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        half = period // 2
        w.writeframes(
            b"".join(
                struct.pack("<h", amplitude if (i // half) % 2 == 0 else -amplitude)
                for i in range(n_frames)
            )
        )
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """Real PCM WAV decode (stdlib wave + struct): returns (sample_rate,
    n_channels, interleaved int samples). 16-bit PCM only — compressed
    audio (mp3/ogg/aac) needs a codec library; inject a decoder through
    the audio_features seam for those."""
    import io
    import struct
    import wave

    if payload is None or payload[:4] != b"RIFF":
        raise ValueError("not a RIFF/WAVE payload")
    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError(f"only 16-bit PCM supported, got {8 * w.getsampwidth()}-bit")
        nf = w.getnframes()
        raw = w.readframes(nf)
        samples = list(struct.unpack(f"<{nf * w.getnchannels()}h", raw))
        return w.getframerate(), w.getnchannels(), samples


def audio_features(
    df: DataFrame,
    decoder: Callable[[bytes], tuple[int, int, list[int]]] | None = None,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode + audio feature extraction via mapInPandas: integer frame
    stats (count, duration, floor-RMS, peak, zero crossings) — all
    integer arithmetic, so the output is bit-exact and oracle-checkable.
    Same 100 TB shape as extract_features: Arrow-batched, executor-side,
    blobs never reach the driver, metadata filters prune before decode."""
    import math

    dec = decoder if decoder is not None else decode_wav

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                sr, nch, s = dec(bytes(payload))
                n = len(s)
                rows.append(
                    {
                        "media_id": int(mid),
                        "sample_rate": sr,
                        "n_channels": nch,
                        "n_frames": n // max(1, nch),
                        "duration_ms": (n // max(1, nch)) * 1000 // sr if sr else 0,
                        "rms": math.isqrt(sum(v * v for v in s) // n) if n else 0,
                        "peak": max((abs(v) for v in s), default=0),
                        "n_sign_flips": sum(1 for a, b in zip(s, s[1:]) if (a < 0) != (b < 0)),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURE_SCHEMA.fields])

    return df.select(id_col, payload_col).mapInPandas(op, schema=AUDIO_FEATURE_SCHEMA)


def frame_sample(df: DataFrame, every_ms: int = 1000, id_col: str = "media_id") -> DataFrame:
    """Frame-sampling plumbing for video rows: emit (media_id, frame_ts_ms)
    per sampled frame from duration metadata — a pure-relational explode;
    the frame *decode* would plug into extract_features."""
    return df.filter(F.col("media_type") == "video").select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))).alias("frame_ts_ms"),
    )


# ---------------------------------------------------------------------------
# Video: concatenated-P6 container (the MJPEG shape: every frame is an
# independently-decodable image back to back). Real parse, no codec.
# ---------------------------------------------------------------------------

VIDEO_FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mean_r", T.LongType(), True),   # floor mean per channel
    T.StructField("mean_g", T.LongType(), True),
    T.StructField("mean_b", T.LongType(), True),
])


def encode_video_ppm(frames: list[tuple[int, int, list[float]]]) -> bytes:
    """Concatenate P6 frames into the container payload."""
    return b"".join(encode_ppm(w, h, px) for w, h, px in frames)


def decode_video_ppm(payload: bytes) -> list[tuple[int, int, list[float]]]:
    """Parse the concatenated-P6 container back into frames: repeatedly
    decode a P6 header at the cursor, slice its raster, advance. A
    malformed header anywhere raises — a truncated tail is data loss,
    not a silent short video."""
    frames: list[tuple[int, int, list[float]]] = []
    data = bytes(payload)
    off = 0
    while off < len(data):
        if data[off : off + 2] != b"P6":
            raise ValueError(f"not a P6 frame header at offset {off}")
        w, h, px = decode_ppm(data[off:])
        frames.append((w, h, px))
        # header is exactly "P6\n{w} {h}\n255\n" as encode_ppm writes it;
        # re-derive its length from the parsed dims rather than guessing.
        header_len = len(f"P6\n{w} {h}\n255\n")
        off += header_len + w * h * 3
    return frames


def video_frame_features(
    df: DataFrame,
    every_n: int = 1,
    decoder: Callable[[bytes], list[tuple[int, int, list[float]]]] | None = None,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode + per-frame feature extraction for container payloads via
    mapInPandas: sample every `every_n`-th frame, emit integer per-frame
    channel means (floor). Same 100 TB contract as the image/audio
    paths: Arrow batches, executor-side blobs, one output row per
    SAMPLED frame — the frame explosion happens after decode, inside
    the executor, never as a payload copy per frame."""
    dec = decoder if decoder is not None else decode_video_ppm

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                for idx, (w, h, px) in enumerate(dec(bytes(payload))):
                    if idx % every_n:
                        continue
                    n = max(1, w * h)
                    sums = [0, 0, 0]
                    for i in range(0, len(px), 3):
                        sums[0] += int(px[i])
                        sums[1] += int(px[i + 1])
                        sums[2] += int(px[i + 2])
                    rows.append(
                        {
                            "media_id": int(mid),
                            "frame_idx": idx,
                            "width": w,
                            "height": h,
                            "mean_r": sums[0] // n,
                            "mean_g": sums[1] // n,
                            "mean_b": sums[2] // n,
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_FRAME_SCHEMA.fields])

    return df.select(id_col, payload_col).mapInPandas(op, schema=VIDEO_FRAME_SCHEMA)
