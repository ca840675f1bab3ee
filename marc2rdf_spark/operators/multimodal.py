"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

The decode kernels are STUBBED (image/audio libraries are not in this
container): ``deterministic_fake_decode`` produces a seed-stable fake
feature vector from the bytes so the Spark-side plumbing — schema,
partitioning, UDF signature, Arrow batch shape — is real and tested.
A real decoder (PIL/torchvision) replaces the
``deterministic_fake_decode_u32`` call in ``extract_features``; it
emits ``feature`` only, since the exact ``feature_u32`` lanes exist for
the stand-in kernel alone."""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        # exact integer lanes (feature = feature_u32 / 2^32): kept so
        # downstream checks can compare features without float fuzz
        T.StructField("feature_u32", T.ArrayType(T.LongType()), True),
    ]
)

FEATURE_DIM = 8


def deterministic_fake_decode_u32(payload: bytes) -> list[int]:
    """Seed-stable stand-in kernel, exact integer form: the first
    FEATURE_DIM big-endian uint32 lanes of sha256(payload)."""
    if payload is None:
        return [0] * FEATURE_DIM
    digest = hashlib.sha256(payload).digest()
    return [
        int.from_bytes(digest[i * 4 : (i + 1) * 4], "big")  # noqa: E203
        for i in range(FEATURE_DIM)
    ]


def deterministic_fake_decode(payload: bytes) -> list[float]:
    """Seed-stable stand-in for a real decode+embed kernel."""
    return [u / 2**32 for u in deterministic_fake_decode_u32(payload)]


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    One mapInPandas pass; batch size bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch so worker memory stays
    flat regardless of payload skew."""
    import pandas as pd

    def worker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            u32 = [deterministic_fake_decode_u32(p) for p in pdf["payload"]]
            feature = [[u / 2**32 for u in row] for row in u32]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        len(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                    "feature": feature,
                    "feature_u32": u32,
                }
            )

    return media.mapInPandas(worker, schema=FEATURE_SCHEMA)
