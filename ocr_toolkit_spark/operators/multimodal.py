"""Multimodal column plumbing: opaque `binary` media + typed metadata.

Images/audio/video ride as `binary` payload columns keyed by (media_ref,
media_type); per-item feature extraction runs as one Arrow-batched `mapInPandas` stage.
No image/audio/video codec library is installed, so the decode call is a
deterministic content-derived stub (`_decode_stub`, stable across runs);
everything Spark-side — schema, batch shape, partitioning, UDF signature —
is real and tested. There is no resize or frame-sampling stage.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)

FEATURE_DIM = 16


def _decode_stub(payload: bytes, media_type: str) -> np.ndarray:
    """STUB: no codec libraries in this container. Produces a deterministic
    content-derived pseudo-feature so the distributed plumbing is testable.
    A real deployment swaps this single function for PIL/torchaudio/ffmpeg.
    """
    digest = hashlib.sha256(payload or b"").digest()
    raw = np.frombuffer((digest * ((FEATURE_DIM * 4) // len(digest) + 1))[: FEATURE_DIM * 4],
                        dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def extract_media_features(df: DataFrame) -> DataFrame:
    """media table → per-item feature rows. One Arrow-batched stage; the
    decode call is per item (codecs are per-buffer by nature) but hashing
    and feature packing stay NumPy-vectorized."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            feats = [
                _decode_stub(p if p is not None else b"", mt)
                for p, mt in zip(payloads, pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(lambda p: len(p) if p is not None else 0)
                    .astype("int64"),
                    "sha256": payloads.map(
                        lambda p: hashlib.sha256(p or b"").hexdigest()
                    ),
                    "feature": [f.tolist() for f in feats],
                }
            )

    return df.select("media_ref", "media_type", "payload").mapInPandas(
        fn, FEATURES_SCHEMA
    )

