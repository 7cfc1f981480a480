"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side plumbing (schema, partitioning, Arrow-batched UDF signatures,
batch shapes) is real and tested; the actual codec calls are STUBBED behind
``_decode_bytes_stub`` because no image/audio libraries ship in this
container — swap that one function for PIL/ffmpeg at deploy time.

Design for 100 TB of media:
- binary payloads stay in their own column so Parquet column pruning skips
  them unless the operator needs bytes;
- decode/feature-extract run in ``mapInPandas`` (Arrow batches, one Python
  worker per core, no driver involvement);
- outputs are fixed-width (feature vectors, thumbnails) so downstream
  shuffles never carry raw media.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


def _decode_bytes_stub(payload: bytes) -> dict:
    """STUB decode: deterministic pseudo-decode from the byte content.

    Real deployments replace this with PIL.Image.open / torchaudio / ffmpeg.
    The fake is deterministic (sha256-derived) so tests are stable.
    """
    if payload is None:
        return {"width": None, "height": None, "ok": False}
    h = hashlib.sha256(payload).digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "ok": True,
    }


def _decode_bytes_pil(payload: bytes) -> dict:  # pragma: no cover - no PIL here
    """Real image decode via PIL, imported lazily inside the executor so
    the module stays importable (and the stub selectable) without it."""
    if payload is None:
        return {"width": None, "height": None, "ok": False}
    from io import BytesIO

    from PIL import Image

    try:
        with Image.open(BytesIO(bytes(payload))) as im:
            return {"width": int(im.width), "height": int(im.height), "ok": True}
    except Exception:  # any undecodable payload is a row with ok=False, not a failed job
        return {"width": None, "height": None, "ok": False}


def _decode_bytes_auto(payload: bytes) -> dict:
    """Executor-side codec probe: use PIL when the EXECUTOR can import it,
    else the deterministic stub. Probing where the decode actually runs
    (not on the driver) means a deploy with Pillow on the driver only
    still decodes — via the stub — instead of failing at task runtime;
    the import check is a cached-module lookup after the first payload."""
    try:
        import PIL  # noqa: F401
    except ImportError:
        return _decode_bytes_stub(payload)
    return _decode_bytes_pil(payload)


_CODECS = {"stub": _decode_bytes_stub, "pil": _decode_bytes_pil, "auto": _decode_bytes_auto}


def default_codec() -> str:
    """'pil' when PIL is importable ON THE DRIVER, else 'stub'. This is a
    driver-side probe — informational / for explicit codec selection; the
    decode default is the 'auto' codec, which probes inside the executor
    with a per-task fallback to the stub (a cluster where only the driver
    has Pillow would otherwise auto-select 'pil' and fail at task
    runtime)."""
    try:
        import PIL  # noqa: F401

        return "pil"
    except ImportError:
        return "stub"


def decode_media(
    df: DataFrame, payload_col: str = "payload", codec=None
) -> DataFrame:
    """Adds decoded_width / decoded_height / decode_ok via Arrow-batched
    mapInPandas. ``codec`` selects the per-payload decoder: None = 'auto'
    (probe PIL inside the executor, stub fallback), 'stub' / 'pil' / 'auto'
    by name, or any callable ``bytes -> {width, height, ok}`` (the swap
    point for torchaudio/ffmpeg-style decoders)."""
    if codec is None:
        codec = "auto"
    decode = _CODECS[codec] if isinstance(codec, str) else codec
    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("decoded_width", T.IntegerType(), True),
            T.StructField("decoded_height", T.IntegerType(), True),
            T.StructField("decode_ok", T.BooleanType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = pdf[payload_col].map(decode)
            pdf = pdf.assign(
                decoded_width=decoded.map(lambda d: d["width"]).astype("Int32"),
                decoded_height=decoded.map(lambda d: d["height"]).astype("Int32"),
                decode_ok=decoded.map(lambda d: d["ok"]),
            )
            yield pdf

    return df.mapInPandas(batches, out_schema)


def media_features(
    df: DataFrame, payload_col: str = "payload", dim: int = 16
) -> DataFrame:
    """Fixed-width feature vector per payload (deterministic hash-derived
    STUB for an embedding model); output is array<float> of length ``dim``
    so downstream ANN operators (operators/similarity.py) apply directly."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("features", T.ArrayType(T.FloatType()), True)]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            def feat(payload):
                if payload is None:
                    return None
                h = hashlib.sha256(payload).digest()
                return [((h[i % 32] / 255.0) - 0.5) for i in range(dim)]

            yield pdf.assign(features=pdf[payload_col].map(feat))

    return df.mapInPandas(batches, out_schema)


def frame_sample(
    df: DataFrame,
    payload_col: str = "payload",
    every_ms: int = 1000,
    max_frames: int = 8,
) -> DataFrame:
    """Video frame sampling STUB: one output row per sampled frame
    (media_id, frame_idx, frame_payload). Demonstrates the fan-out batch
    shape; the ffmpeg call is the swap point."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame_payload", T.BinaryType(), True),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            payloads = pdf[payload_col]
            # frames per row (the stub's deterministic frame count; the
            # real ffmpeg probe replaces this map)
            n = payloads.map(
                lambda p: 0 if p is None else min(max_frames, 1 + len(p) % max_frames)
            ).to_numpy(dtype="int64")
            # vectorized fan-out: numpy repeat/cumsum instead of the old
            # per-row iterrows() append loop (a real scale cost at media
            # volumes — every other op here is O(batch) numpy)
            row_idx = np.repeat(np.arange(len(pdf)), n)
            ends = n.cumsum()
            frame_idx = np.arange(int(n.sum())) - np.repeat(ends - n, n)
            prefixes = payloads.map(
                lambda p: None if p is None else bytes(p[:16])
            ).to_numpy(dtype=object)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy()[row_idx],
                    "frame_idx": frame_idx.astype("int32"),
                    "frame_payload": prefixes[row_idx],
                }
            )

    return df.mapInPandas(batches, out_schema)


def _phash_pil(payload: bytes):  # pragma: no cover - no PIL in this env
    """8x8 average-hash (aHash): decode, grayscale, downscale, bit i set
    iff pixel i is above the mean. Near-duplicate images differ in a few
    bits — exactly the SimHash pigeonhole contract."""
    if payload is None:
        return None
    from io import BytesIO

    from PIL import Image

    try:
        with Image.open(BytesIO(bytes(payload))) as im:
            px = list(im.convert("L").resize((8, 8)).getdata())
    except Exception:  # any undecodable payload gets a null hash, not a failed job
        return None
    mean = sum(px) / 64.0
    bits = 0
    for i, p in enumerate(px):
        if p > mean:
            bits |= 1 << i
    return bits & 0x7FFFFFFFFFFFFFFF


def _phash_stub(payload: bytes):
    """Deterministic 63-bit stand-in (first 8 sha256 bytes, sign bit
    masked): identical payloads collide at Hamming 0, so exact-dup
    detection and the whole banding pipeline stay testable — and the
    value is reproducible in any engine with sha256."""
    if payload is None:
        return None
    import hashlib

    v = int.from_bytes(hashlib.sha256(bytes(payload)).digest()[:8], "big")
    return v & 0x7FFFFFFFFFFFFFFF


def _phash_auto(payload: bytes):
    try:
        import PIL  # noqa: F401
    except ImportError:
        return _phash_stub(payload)
    return _phash_pil(payload)


_PHASH_CODECS = {"stub": _phash_stub, "pil": _phash_pil, "auto": _phash_auto}


def perceptual_hash(
    df: DataFrame, payload_col: str = "payload", codec=None, out_col: str = "phash"
) -> DataFrame:
    """Adds a 64-bit perceptual hash per media payload (Arrow-batched
    mapInPandas; same executor-probed codec discipline as decode_media).
    Downstream near-dup detection is ``phash_dup_pairs``."""
    if codec is None:
        codec = "auto"
    fn = _PHASH_CODECS[codec] if isinstance(codec, str) else codec
    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.LongType(), True)]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pdf.assign(**{out_col: pdf[payload_col].map(fn).astype("Int64")})

    return df.mapInPandas(batches, out_schema)


def phash_dup_pairs(
    df: DataFrame,
    id_col: str = "media_id",
    phash_col: str = "phash",
    max_distance: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-duplicate media pairs by perceptual-hash Hamming distance:
    the SimHash pigeonhole candidate join (any pair within distance <
    chunks shares one exact 16-bit piece) applied to the phash column —
    banding, not O(n^2), so it scales like text SimHash dedup."""
    from cypher_for_apache_spark_spark.operators.dedup import simhash_pairs

    fp = df.select(F.col(id_col), F.col(phash_col).alias("simhash"))
    return simhash_pairs(fp, id_col=id_col, max_distance=max_distance, chunks=chunks)


def synthetic_media(spark, n: int = 32) -> DataFrame:
    """Deterministic fake media table for tests (payload = seeded bytes)."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(str(i).encode()).digest() * (1 + i % 4)
        rows.append((i, "image/fake", bytearray(payload), (None, None, None)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
