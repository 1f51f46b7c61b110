"""Multimodal-column plumbing: opaque ``binary`` payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages. Two decoders share one plumbing
shape: ``decode_stub_meta`` fabricates deterministic metadata from the
payload's md5 (oracle-reproducible), and ``decode_real_meta`` decodes
ACTUAL image bytes — via PIL where the environment provides it, else
via the pure-stdlib PNG decoder (``functions/pngcodec.py``), so the
real path runs even in this imageless container; only non-PNG formats
without PIL raise ``NotImplementedError``.

At scale: binary payloads dominate bytes — keep them OUT of shuffles
(derive metadata first, shuffle only metadata + keys, rejoin payloads by
key if needed) and size ``spark.sql.files.maxPartitionBytes`` so one Arrow
batch of payloads fits executor memory.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = "doc_id long, width int, height int, n_frames int, fmt string"
CHUNK_BYTES = 256


def binary_meta(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Byte-level metadata over the payload, all JVM-side expressions."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
        F.ceil(F.octet_length(F.col(text_col)) / CHUNK_BYTES).cast("long").alias("n_chunks"),
    )


def _fake_dims(digest_hex: str) -> tuple[int, int, int]:
    """Deterministic fake decode: dimensions from the md5 digest (also
    expressible in SQL for the oracle)."""
    width = 1 + int(digest_hex[0:2], 16) % 64
    height = 1 + int(digest_hex[2:4], 16) % 64
    n_frames = 1 + int(digest_hex[4:6], 16) % 16
    return width, height, n_frames


def decode_stub_meta(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", repartition_to: int | None = None
) -> DataFrame:
    """Arrow-batched decode stage (mapInPandas) with the stub decoder.

    mapInPandas inherits the input partitioning; when a heavyweight real
    decoder (PIL/ffmpeg) sits behind a narrow scan, pass ``repartition_to``
    (e.g. ``sc.defaultParallelism``) to spread the decode across cores. The
    default leaves partitioning alone: at scale the scan already has
    thousands of partitions, and for the cheap stub decoder an extra
    shuffle costs more than it saves (measured at sf0.1)."""
    src = df
    if repartition_to:
        src = src.repartition(repartition_to)
    src = src.select(F.col(id_col), F.encode(F.col(text_col), "UTF-8").alias("payload"))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            digests = [hashlib.md5(bytes(p)).hexdigest() for p in pdf["payload"]]
            dims = [_fake_dims(d) for d in digests]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "n_frames": [d[2] for d in dims],
                    "fmt": ["stub" for _ in dims],
                }
            )

    return src.mapInPandas(decode, schema=DECODED_SCHEMA)


try:  # optional dependency: the real decoder activates where PIL exists
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:  # this container ships no image libraries
    _PILImage = None
    HAS_PIL = False


def decode_image_real(payload: bytes) -> dict:
    """Real image decode: PIL when the environment provides it, else the
    pure-stdlib PNG decoder (``functions/pngcodec.py`` — zlib inflate +
    scanline unfilter, so width/height/format come from actual bytes even
    in a container with no image libraries). Non-PNG payloads without PIL
    raise ``NotImplementedError`` so call sites (and tests) skip rather
    than fail. Returns the same metadata dict shape the stub fabricates:
    width / height / n_frames / fmt."""
    if HAS_PIL:
        import io

        with _PILImage.open(io.BytesIO(payload)) as im:
            return {
                "width": int(im.width),
                "height": int(im.height),
                "n_frames": int(getattr(im, "n_frames", 1)),
                "fmt": (im.format or "unknown").lower(),
            }
    from ..functions.pngcodec import PNG_SIGNATURE, decode_png

    if bytes(payload[:8]) == PNG_SIGNATURE:
        m = decode_png(bytes(payload))
        return {
            "width": m["width"],
            "height": m["height"],
            "n_frames": m["n_frames"],
            "fmt": m["fmt"],
        }
    raise NotImplementedError(
        "non-PNG image decode requires PIL, which this environment lacks; "
        "use decode_stub_meta for plumbing tests"
    )


def decode_real_meta(df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched decode stage wired to the REAL decoder — byte-for-byte
    the same mapInPandas shape (schema, batching, partitioning) as
    ``decode_stub_meta``, so swapping stub→real changes no plumbing.
    ``payload`` must hold actual image bytes. Raises (inside the tasks)
    where PIL is unavailable — gate call sites on ``HAS_PIL``."""
    src = df.select(F.col(id_col), F.col(payload_col))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [decode_image_real(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "width": [r["width"] for r in rows],
                    "height": [r["height"] for r in rows],
                    "n_frames": [r["n_frames"] for r in rows],
                    "fmt": [r["fmt"] for r in rows],
                }
            )

    return src.mapInPandas(decode, schema=DECODED_SCHEMA)


FEATURE_DIM = 8
FEATURE_SCHEMA = f"doc_id long, feature array<double>"


def feature_extract_stub(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched feature extraction (mapInPandas): payload ->
    fixed-dim embedding. The stub derives ``FEATURE_DIM`` floats in [0,1)
    from consecutive md5 bytes (deterministic, SQL-reproducible); a real
    deployment swaps the body for an image/audio encoder and keeps the
    exact schema and batch shape."""
    src = df.select(F.col(id_col), F.encode(F.col(text_col), "UTF-8").alias("payload"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                d = hashlib.md5(bytes(p)).hexdigest()
                feats.append([int(d[2 * j : 2 * j + 2], 16) / 256.0 for j in range(FEATURE_DIM)])
            yield pd.DataFrame({"doc_id": pdf[id_col].astype("int64"), "feature": feats})

    return src.mapInPandas(extract, schema=FEATURE_SCHEMA)


def frame_sample_stub(
    df: DataFrame, every: int = 4, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Frame sampling plumbing: decode metadata -> one row per sampled
    frame index (0, every, 2*every, ... < n_frames). The explode happens
    AFTER decode so only (doc_id, n_frames) fans out, never the payload
    bytes; a real sampler would rejoin the payload by doc_id for just the
    sampled frames."""
    meta = decode_stub_meta(df, text_col, id_col)
    return meta.select(
        "doc_id",
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every)).cast("array<int>")
        ).alias("frame_idx"),
    )


def resize_stub(
    df: DataFrame, max_dim: int = 32, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Resize plumbing: decoded dims -> aspect-preserving bounded dims.
    The arithmetic is integer-only JVM expressions layered on the decode
    stage (a real resizer would also rewrite the payload inside the same
    mapInPandas pass; the dimension math is what downstream schemas see).
    No upscaling: frames already within ``max_dim`` keep their size."""
    meta = decode_stub_meta(df, text_col, id_col)
    m = F.greatest(F.col("width"), F.col("height"))
    scale_w = F.greatest(F.lit(1), F.expr(f"(width * {max_dim}) DIV greatest(width, height)"))
    scale_h = F.greatest(F.lit(1), F.expr(f"(height * {max_dim}) DIV greatest(width, height)"))
    return meta.select(
        "doc_id",
        "width",
        "height",
        F.when(m <= max_dim, F.col("width")).otherwise(scale_w).cast("int").alias("out_width"),
        F.when(m <= max_dim, F.col("height")).otherwise(scale_h).cast("int").alias("out_height"),
    )
