"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing (schema, batching, partitioning, UDF signatures) is
real and tested; the actual codec step is STUBBED because the runtime image
has no image/audio libraries — each decoder raises NotImplementedError
unless ``fake=True`` selects the deterministic fake (hash-derived features),
which keeps the pipeline end-to-end testable and exercises the exact batch
shapes a real decoder would see.

Schema (FIXTURES-style):
    media(doc_id:long, kind:string, payload:binary,
          meta:struct<mime:string,width:int,height:int,
                      sample_rate:int,duration_ms:int>)
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F
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

MEDIA_META_TYPE = StructType(
    [
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("meta", MEDIA_META_TYPE, True),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("features", ArrayType(FloatType()), True),  # 16-dim
        StructField("status", StringType(), False),
    ]
)


def _fake_image_features(payload: bytes, dim: int = 16) -> list[float]:
    """Deterministic stand-in featureizer: sha256-chained floats in [0,1)."""
    out: list[float] = []
    h = hashlib.sha256(payload).digest()
    while len(out) < dim:
        for k in range(0, len(h), 4):
            out.append(int.from_bytes(h[k : k + 4], "big") / 2**32)
            if len(out) == dim:
                break
        h = hashlib.sha256(h).digest()
    return out


def decode_image_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """payload → 16-dim feature vector via mapInPandas (Arrow-batched; the
    real decoder would drop in here — PIL/torchvision absent in this image,
    so non-fake mode raises per contract)."""

    def mapper(batches):
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "image decode requires PIL/torchvision — not in runtime image; "
                    "use fake=True for the deterministic stand-in"
                )
            feats = [
                _fake_image_features(bytes(p)) if p is not None else None
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "features": feats,
                    "status": ["ok" if p is not None else "null_payload" for p in pdf["payload"]],
                }
            )

    from cl_readability_spark.functions.parallelism import ensure_parallelism

    # CPU-bound python decode — parallelism floor (no-op mid-chain /
    # at production split counts; see functions/parallelism.py)
    return ensure_parallelism(
        df.select("doc_id", "kind", "payload")
    ).mapInPandas(mapper, IMAGE_FEATURES_SCHEMA)


def media_feature_near_dups(
    media: DataFrame, threshold: float = 0.98, plant_copies_every: int = 3
) -> DataFrame:
    """Multimodal → similarity-stack composition: decode features (stubbed
    codec, real Arrow plumbing) and run banded-LSH near-duplicate detection
    over the feature vectors — the media-dedup path a training pipeline
    runs over image corpora.

    ``plant_copies_every`` unions exact copies of every N-th doc (offset
    ids) so the query verifiably yields pairs on any corpus; at threshold
    0.98 the planted identical-feature pairs (cosine 1.0) are guaranteed
    candidates in every band.

    The decoded-feature frame is pinned (DISK_ONLY) before any branch
    references it: the LSH plan references its input THREE times
    (signature stage + the two exact-cosine vector joins) and the
    planted-copies union adds two more — Spark has no cross-branch
    subplan reuse (PLANS.md), so unpinned, the payload DECODE stage (the
    dominant cost on real image corpora) would re-run once per branch.
    Pinned features are ~70 B/row vs re-decoding binary payloads;
    evaluate-once is accumulator-pinned in tests.  Release via
    ``pins.release_pinned`` on the returned frame."""
    from pyspark import StorageLevel

    from cl_readability_spark.functions.pins import attach_pins
    from cl_readability_spark.functions.similarity import embedding_near_dups

    feats = decode_image_features(media, fake=True).filter(
        F.col("status") == "ok"
    )
    vecs = feats.select(F.col("doc_id").alias("vec_id"), F.col("features"))
    vecs = vecs.persist(StorageLevel.DISK_ONLY)
    corpus = vecs
    if plant_copies_every:
        copies = vecs.filter(F.col("vec_id") % plant_copies_every == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), F.col("features")
        )
        corpus = vecs.unionByName(copies)
    out = embedding_near_dups(
        corpus, threshold=threshold, dim=16, vec_col="features"
    )
    return attach_pins(out, vecs)
