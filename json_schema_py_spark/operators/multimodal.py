"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video land as ``binary`` columns with a metadata struct; decode /
feature-extract run as Arrow-batched pandas functions over ``mapInPandas`` —
the ONLY place this engine leaves the JVM, and it does so in columnar
batches, never per-row Python (BASELINE.json input_hint mandate).

Decode modes:

* ``decode="ppm"`` — a REAL decoder: binary PPM/P6 images parse
  with numpy alone (header tokenizer incl. comments, raw RGB plane), and
  feed real feature extraction (dims, channel means, luma stats) plus a
  nearest-neighbor thumbnailer (``ppm_thumbnails``). Undecodable payloads
  yield NULL features, never a task failure.
* ``decode="fake"`` — deterministic md5-derived features, kept because it
  is DuckDB-oracle-expressible (the driver gate's exact-arithmetic check).
* ``decode="real"`` — PIL/torchaudio-class formats (JPEG/PNG/WAV) still
  raise NotImplementedError: those libs aren't in this container. The PPM
  path exercises the identical batch plumbing with a genuine decoder, so
  swapping in PIL remains a one-function change at the marked site.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 8

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def attach_fake_payloads(media: DataFrame) -> DataFrame:
    """Deterministic pseudo-binary payloads for the media dim (md5-expanded
    bytes; stands in for an object-store fetch, which at scale is a
    mapInPandas over a ref-partitioned frame so each task streams one
    object-store prefix)."""
    return media.select(
        "media_ref",
        "mime",
        F.to_binary(F.repeat(F.md5(F.col("media_ref")), 4), F.lit("hex")).alias("payload"),
        (F.pmod(F.xxhash64("media_ref"), F.lit(64)) + 16).cast("int").alias("width"),
        (F.pmod(F.xxhash64("media_ref", F.lit(1)), F.lit(64)) + 16).cast("int").alias("height"),
    )


def _fake_decode_features(payload: bytes) -> list[float]:
    """Deterministic fake 'decoder': md5 of the payload's hex rendering →
    FEATURE_DIM floats in [0,1). Hashing the hex string (not the raw bytes)
    keeps the fake oracle-expressible in DuckDB (whose md5 is VARCHAR-only)
    while the operator still consumes the real binary column.

    REAL-DECODE INTEGRATION POINT: replace this body with e.g.
    ``PIL.Image.open(io.BytesIO(payload))`` + pooling. Signature and the
    mapInPandas plumbing below stay unchanged."""
    h = hashlib.md5(bytes(payload or b"").hex().encode("ascii")).digest()
    return [b / 255.0 for b in h[:FEATURE_DIM]]


def _parse_p6(payload: bytes):
    """Binary PPM (P6) → (height, width, 3) uint8 ndarray, or None for
    anything malformed/truncated. Header grammar per the netpbm spec:
    'P6', then whitespace-separated width/height/maxval with '#' comments
    allowed between tokens, then ONE whitespace byte, then raw RGB."""
    import numpy as np

    b = bytes(payload or b"")
    if not b.startswith(b"P6"):
        return None
    i, n = 2, len(b)
    vals: list[int] = []
    while len(vals) < 3 and i < n:
        while i < n and b[i : i + 1].isspace():
            i += 1
        if i < n and b[i : i + 1] == b"#":  # comment to end of line
            while i < n and b[i : i + 1] not in (b"\n", b"\r"):
                i += 1
            continue
        j = i
        while j < n and b[j : j + 1].isdigit():
            j += 1
        if j == i:
            return None
        vals.append(int(b[i:j]))
        i = j
    if len(vals) < 3 or i >= n:
        return None
    if not b[i : i + 1].isspace():
        # the byte after maxval MUST be a single whitespace — skipping a
        # junk byte here would shift the pixel plane by one and return
        # garbage features instead of the documented NULL
        return None
    i += 1
    w, h, maxval = vals
    if w <= 0 or h <= 0 or not 0 < maxval < 65536:
        return None
    if maxval > 255:  # 2-byte samples: out of scope for this decoder
        return None
    need = w * h * 3
    if n - i < need:
        return None
    return np.frombuffer(b, dtype=np.uint8, count=need, offset=i).reshape(h, w, 3)


def _ppm_decode_features(payload: bytes):
    """REAL feature extraction from a P6 payload: [width, height, mean R,
    mean G, mean B, luma std, luma max, luma min] (channels normalized to
    [0,1], Rec.601 luma). None for undecodable payloads."""
    arr = _parse_p6(payload)
    if arr is None:
        return None
    rgb = arr.astype("float64") / 255.0
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    luma = 0.299 * r + 0.587 * g + 0.114 * b
    return [
        float(arr.shape[1]),
        float(arr.shape[0]),
        float(r.mean()),
        float(g.mean()),
        float(b.mean()),
        float(luma.std()),
        float(luma.max()),
        float(luma.min()),
    ]


def extract_media_features(media_with_payload: DataFrame, decode: str = "fake") -> DataFrame:
    """(media_ref, mime, features: array<double>) via Arrow-batched
    mapInPandas. Batches arrive as pandas DataFrames sized by
    spark.sql.execution.arrow.maxRecordsPerBatch — decode cost is amortized
    per batch, and partition count (not row count) bounds Python overhead.

    ``decode="ppm"`` runs the REAL P6 decoder (NULL features on
    undecodable payloads); ``"fake"`` stays the DuckDB-oracle-expressible
    arithmetic; ``"real"`` (PIL-class formats) remains the documented
    stub."""
    if decode == "real":
        raise NotImplementedError(
            "JPEG/PNG/compressed-audio decode needs libs not present in "
            "this container; decode='ppm' (images) and decode='wav' "
            "(PCM16 audio) are the real-decoder reference implementations "
            "— swap PIL/torchaudio in at their _*_decode_features seams"
        )
    if decode not in ("ppm", "wav", "fake"):
        # never silently fall back to the fake decoder: a typo ('PPM',
        # 'p6') would return plausible md5 pseudo-features with no signal
        raise ValueError(
            f"decode must be 'ppm', 'wav', 'fake', or 'real', got {decode!r}"
        )
    decoder = {
        "ppm": _ppm_decode_features,
        "wav": _wav_decode_features,
        "fake": _fake_decode_features,
    }[decode]

    out_schema = T.StructType(
        [
            T.StructField("media_ref", T.StringType()),
            T.StructField("mime", T.StringType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "mime": pdf["mime"],
                    "features": pdf["payload"].map(decoder),
                }
            )

    return media_with_payload.select("media_ref", "mime", "payload").mapInPandas(
        batches, out_schema
    )


def make_ppm(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic REAL P6 image (gradient + seed phase) — the payload
    generator tests and demos feed through the real decoder."""
    import numpy as np

    y, x = np.mgrid[0:height, 0:width]
    arr = np.stack(
        [
            (x * 3 + seed) % 256,
            (y * 5 + seed * 2) % 256,
            (x + y + seed) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)
    return f"P6\n{width} {height}\n255\n".encode("ascii") + arr.tobytes()


def ppm_thumbnails(
    media_with_payload: DataFrame, size: tuple[int, int] = (4, 4)
) -> DataFrame:
    """(media_ref, thumb: array<double>) — nearest-neighbor luma thumbnail
    (row-major, h*w values in [0,1]) via the same Arrow-batched plumbing;
    the RESIZE step of the decode/feature/resize family.
    NULL for undecodable payloads."""
    import numpy as np

    th, tw = size

    def one(payload: bytes):
        arr = _parse_p6(payload)
        if arr is None:
            return None
        h, w, _ = arr.shape
        ys = (np.arange(th) * h) // th
        xs = (np.arange(tw) * w) // tw
        rgb = arr[ys][:, xs].astype("float64") / 255.0
        luma = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        return [float(v) for v in luma.ravel()]

    out_schema = T.StructType(
        [
            T.StructField("media_ref", T.StringType()),
            T.StructField("thumb", T.ArrayType(T.DoubleType())),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {"media_ref": pdf["media_ref"], "thumb": pdf["payload"].map(one)}
            )

    return media_with_payload.select("media_ref", "payload").mapInPandas(
        batches, out_schema
    )


# --- audio: real WAV/PCM16 decode -----------------------------------------


def _parse_wav(payload: bytes):
    """RIFF/WAVE PCM16 → (sample_rate, mono int16 ndarray), or None for
    anything malformed/truncated/unsupported (only uncompressed PCM,
    16-bit; multi-channel takes channel 0). Chunk-walks the RIFF
    container per the format spec — same doctrine as _parse_p6: a real
    decoder for a real format, numpy-only."""
    import struct

    import numpy as np

    b = bytes(payload or b"")
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (csize,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        body = b[pos + 8 : pos + 8 + csize]
        if len(body) < csize:
            return None  # truncated chunk
        if cid == b"fmt " and csize >= 16:
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_format, channels, sample_rate, _byte_rate, _block_align, bits = fmt
    if audio_format != 1 or bits != 16 or channels < 1 or sample_rate <= 0:
        return None
    n = len(data) // (2 * channels)
    if n == 0:
        return None
    samples = np.frombuffer(data[: n * 2 * channels], dtype="<i2")
    if channels > 1:
        samples = samples[::channels]  # channel 0
    return sample_rate, samples


def _wav_decode_features(payload: bytes):
    """REAL audio features from a PCM16 WAV payload: [sample_rate,
    n_samples, duration_sec, mean, rms, peak, zero_crossing_rate, std]
    over samples normalized to [-1, 1) (÷32768). Zero crossings are
    STRICT sign flips (s_i·s_{i+1} < 0), rate over n-1 adjacent pairs.
    None for undecodable payloads."""
    parsed = _parse_wav(payload)
    if parsed is None:
        return None
    sr, s = parsed
    x = s.astype("float64") / 32768.0
    n = x.size
    zc = float(((x[:-1] * x[1:]) < 0).sum() / (n - 1)) if n > 1 else 0.0
    return [
        float(sr),
        float(n),
        float(n / sr),
        float(x.mean()),
        float((x**2).mean() ** 0.5),
        float(abs(x).max()),
        zc,
        float(x.std()),
    ]


def make_wav(n_samples: int, sample_rate: int = 16000, seed: int = 0) -> bytes:
    """Deterministic REAL PCM16 WAV: an integer sawtooth
    s_i = ((i·(seed+3)) mod 4096) − 2048 — closed-form enough that a SQL
    oracle recomputes every feature from (n, sr, seed) without touching
    the decoder (the q_media_decode ppm-arm independence doctrine)."""
    import struct

    import numpy as np

    i = np.arange(n_samples, dtype=np.int64)
    s = ((i * (seed + 3)) % 4096 - 2048).astype("<i2")
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
