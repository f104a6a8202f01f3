"""Multimodal columns: image/audio/video as opaque binary + typed metadata
(north-star extension; reference's closest analogue is the PDF pipeline S10,
``REIT_metrics.py:293-314`` — bytes in, pandas-UDF extraction out).

Design for 100 TB of media:

- a media row is ``(media_id, kind, content binary, meta struct)`` — the
  binary column is *never* parsed by Catalyst, so scans prune it unless the
  operator actually needs bytes (check ReadSchema in .explain);
- decode and fingerprint run as ``mapInPandas`` stages — Arrow moves the
  bytes column batch-wise, one decoder instance per task;
- the decoder is a clearly-marked deterministic fake (shape/feature math
  from the byte stream itself) that runs inside the executor task.  The
  Spark-side plumbing — schemas, batching, partitioning — is real and
  tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("codec", StringType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("meta", MEDIA_META),
    ]
)


def _fake_decode(content: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in for a real decoder: derives a pixel/sample
    array from the byte stream via a seeded hash.  Marked FAKE: no real
    codec is bundled."""
    seed = int(hashlib.md5(content or b"").hexdigest()[:8], 16)
    rng = np.random.RandomState(seed)
    if kind == "image":
        return rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    if kind == "audio":
        return (rng.rand(1600) * 2 - 1).astype(np.float32)
    if kind == "video":
        return rng.randint(0, 256, size=(4, 8, 8, 3), dtype=np.uint8)
    raise ValueError(f"unknown media kind: {kind}")


def decode_features(df: DataFrame) -> DataFrame:
    """Decode each media row and emit a fixed-length feature vector +
    decoded-shape metadata.

    Output schema: input columns (minus content) + ``feature array<float>``,
    ``decoded_shape array<int>``.  Plumbing contract: the decoder sees Arrow
    batches; feature length is fixed (16) so downstream similarity operators
    (``operators.similarity``) apply unchanged to media embeddings.
    """
    out_fields = [f for f in df.schema.fields if f.name != "content"] + [
        StructField("feature", ArrayType(FloatType())),
        StructField("decoded_shape", ArrayType(IntegerType())),
    ]
    schema = StructType(out_fields)
    keep = [f.name for f in df.schema.fields if f.name != "content"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, shapes = [], []
            for content, kind in zip(pdf["content"], pdf["kind"]):
                arr = _fake_decode(bytes(content) if content is not None else b"", kind)
                flat = arr.astype(np.float64).ravel()
                # 16 coarse moments: chunked means — deterministic, shape-free
                chunks = np.array_split(flat, 16)
                feats.append([float(c.mean()) if len(c) else 0.0 for c in chunks])
                shapes.append(list(arr.shape))
            out = pdf[keep].copy()
            out["feature"] = feats
            out["decoded_shape"] = shapes
            yield out

    return df.mapInPandas(run, schema)


def synthetic_media(spark, n: int = 30) -> DataFrame:
    """Deterministic fixture media table (seed from media_id)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        content = hashlib.md5(f"media-{i}".encode()).digest() * 4
        meta = (8, 8, 4 if kind == "video" else None, 16000 if kind == "audio" else None, "fake")
        rows.append((i, kind, bytearray(content), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _ahash64(arr: np.ndarray) -> int:
    """64-bit average-hash (aHash) of a decoded image array (H, W, 3):
    grayscale → 8×8 block means → bit j set iff cell j > global mean
    (row-major).  Shared by the executor-side batch kernel AND the q191
    oracle builder, so the two sides cannot drift."""
    gray = arr.astype(np.float64).mean(axis=2)
    rows = [r.mean(axis=0) for r in np.array_split(gray, 8, axis=0)]
    cells = np.stack(
        [np.array([c.mean() for c in np.array_split(r, 8)]) for r in rows]
    )
    m = cells.mean()
    v = 0
    for j, x in enumerate(cells.ravel()):
        if x > m:
            v |= 1 << j
    return v


_AHASH_WORD_BITS = 60  # match operators/dedup's multi-word convention


def media_ahash_words(df: DataFrame, out_col: str = "phash_words") -> DataFrame:
    """Perceptual fingerprints for IMAGE rows: decode → 64-bit aHash →
    ``array<bigint>`` in the same ≤60-bits-per-word encoding
    ``operators/dedup`` bands over, so image near-dup search reuses the
    exact text machinery
    (``hamming_radius_pairs_on_words``).  Arrow-batched mapInPandas; only
    the id and fingerprint leave the Python boundary.
    """
    id_fields = [f for f in df.schema.fields if f.name in ("media_id",)]
    schema = StructType(id_fields + [StructField(out_col, ArrayType(LongType()))])
    mask = (1 << _AHASH_WORD_BITS) - 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            words = []
            for content, kind in zip(pdf["content"], pdf["kind"]):
                # None guard like every sibling kernel: MEDIA_SCHEMA.content
                # is nullable and bytes(None) would kill the whole task
                v = _ahash64(_fake_decode(bytes(content) if content is not None else b"", kind))
                words.append([v & mask, v >> _AHASH_WORD_BITS])
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], out_col: words}
            )

    return df.mapInPandas(run, schema)


def media_phash_pairs(
    df: DataFrame,
    radius: int = 2,
    on_degradation: str = "warn",
    cap_pairs_per_doc: int = 64,
) -> DataFrame:
    """Image near-duplicate pairs within Hamming ``radius`` of their
    64-bit perceptual hashes — EXACT over the fingerprints (zero false
    negatives) via the SAME pigeonhole banding core as text SimHash
    (``operators/dedup.hamming_radius_pairs_on_words``): one decode+hash
    pass (persisted while the guard is on — the decode is the expensive
    stage), radius+1 band equi-join, per-word popcount verify, Σ bucket²
    degradation guard.  Returns ``(id_a, id_b, hamming)``.

    64 bits suits perceptual hashes (aHash/pHash are conventionally 64);
    the banding core accepts wider words if a richer descriptor needs
    them — same width-vs-corpus rule as SimHash."""
    from re_data_pipeline_spark.operators.dedup import hamming_radius_pairs_on_words

    imgs = df.where(F.col("kind") == "image")
    fp = media_ahash_words(imgs)
    return hamming_radius_pairs_on_words(
        fp,
        "media_id",
        "phash_words",
        bits=64,
        radius=radius,
        on_degradation=on_degradation,
        cap_pairs_per_doc=cap_pairs_per_doc,
        op_name="media_phash_pairs",
    )
