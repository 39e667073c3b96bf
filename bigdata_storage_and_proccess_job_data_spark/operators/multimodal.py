"""Multimodal (image/audio/video) column plumbing.

Media is carried as opaque BINARY columns plus typed metadata, processed
with Arrow-batched mapInPandas (the right shape for per-item Python
work: batch transfer, no per-row pickling, partition-parallel). The
actual model step is STUBBED -- image/audio encoders are not part of
the engine -- behind ``feature_fn``: the default deterministic fake
hashes the payload bytes, so schema/partitioning/batching are fully
real and tested while the model is swappable (pass a real
encoder-backed feature_fn in production).

Scale notes: mapInPandas streams Arrow batches, so peak memory is
O(batch), not O(partition); media bytes never shuffle (metadata-only
projections drop the binary column before any wide stage).
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("source_uri", StringType()),
    ]
)

MAGIC = b"FAKE"
_HEADER = struct.Struct(">4sHHH")  # magic, width, height, n_frames


def encode_fake_media(width: int, height: int, n_frames: int = 1) -> bytes:
    """Deterministic fixture payload: 10-byte header + zero body."""
    return _HEADER.pack(MAGIC, width, height, n_frames) + b"\x00" * 16


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def fake_features(content: bytes, dim: int) -> list[float]:
    """STUB feature extractor (deterministic): derive ``dim`` floats in
    [-1, 1) by hashing (content, lane). A real implementation would run
    an encoder model here; swap via feature_fn."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.blake2b(content, digest_size=8, salt=i.to_bytes(8, "big"))
        out.append(int.from_bytes(h.digest(), "big") / 2**63 - 1.0)
    return out


def md5_features(content: bytes, dim: int) -> list[float]:
    """STUB feature extractor, oracle-reproducible variant: ``dim``
    floats in [-1, 1) from md5 over (hex(content), lane), truncated to
    float32 like FEATURE_SCHEMA stores them. Unlike fake_features'
    blake2b (Python-only), every step here -- md5, 60-bit prefix,
    scaling, float32 truncation -- has an exact DuckDB twin, which is
    what lets a full multimodal pipeline be value-checked cross-engine
    (plans/scale_queries.py:media_features_exact)."""
    import hashlib

    hx = content.hex()
    out = []
    for i in range(dim):
        v = int(hashlib.md5(f"{hx}-{i}".encode()).hexdigest()[:15], 16)
        # float32 truncation mirrors the Arrow float column; do it here
        # so the Python- and SQL-side values agree bit-for-bit
        out.append(struct.unpack("f", struct.pack("f", v / 2**59 - 1.0))[0])
    return out


def extract_features(
    df: DataFrame,
    dim: int = 64,
    feature_fn: Callable[[bytes, int], list[float]] = fake_features,
) -> DataFrame:
    """BINARY media -> fixed-dim embedding column via Arrow-batched
    mapInPandas: the bridge from media to the similarity operators
    (operators/similarity.py top-k / IVF run unchanged on the output).
    One model invocation per item, batch-amortized; the binary column is
    dropped in the output so downstream shuffles move only vectors."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "embedding": pdf["content"].map(
                        lambda b: feature_fn(b, dim)
                    ),
                }
            )

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)
