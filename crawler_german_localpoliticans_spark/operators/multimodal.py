"""Multimodal columns: opaque binary payloads.

Images/audio/video ride through the engine as `binary` columns; feature
extraction runs as a `mapInPandas` stage so each Arrow batch is processed
vectorized and the (heavy) payload column is pruned everywhere it isn't
needed.

The decoder is a deterministic fake that derives features from payload bytes
(no image/audio decoder is a dependency), so the Spark-side plumbing —
schema, partitioning, UDF signature, Arrow batch shape — is real and tested
end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 8


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic fake 'decoder': bytes -> normalized float features.
    Stands in for a real image/audio model embedding."""
    n_bytes = FEATURE_DIM * 4
    arr = np.frombuffer(payload[:n_bytes].ljust(n_bytes, b"\0"), dtype=np.uint32).astype(np.float64)
    norm = np.linalg.norm(arr)
    return (arr / norm if norm > 0 else arr).astype(np.float32).tolist()


def extract_features(media: DataFrame) -> DataFrame:
    """media table -> (media_id, kind, n_bytes, features) via mapInPandas.

    Column pruning matters here: only (media_id, kind, payload) is read, and
    the payload never leaves the stage.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_fake_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "features": feats,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(run, FEATURES_SCHEMA)
