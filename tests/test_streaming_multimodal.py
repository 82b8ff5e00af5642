"""Multimodal column plumbing tests: the media schema, the synthetic
image-feature decode and its banded-LSH near-dup composition."""

import hashlib

import pytest
from pyspark.sql import functions as F

from cl_readability_spark.pipeline.multimodal import (
    MEDIA_SCHEMA,
    decode_image_features,
)

pytestmark = pytest.mark.spark


def synthetic_media(spark, n: int = 64, seed: int = 42):
    """Deterministic opaque payloads (hash-chained bytes) with typed meta."""
    rows = []
    kinds = ("image", "audio", "video")
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (4 + i % 7)
        meta = {
            "mime": {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
            "width": 640 if kind != "audio" else None,
            "height": 480 if kind != "audio" else None,
            "sample_rate": 16000 if kind != "image" else None,
            "duration_ms": 5000 + i * 100 if kind != "image" else None,
        }
        rows.append((i, kind, bytearray(payload), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_media_near_dups_decodes_each_payload_exactly_once(spark):
    """The LSH plan references its input in 3 branches (signature stage +
    two vector joins) and the planted-copies union adds more — with no
    cross-branch subplan reuse, an unpinned feature frame re-runs the
    payload DECODE per branch (the dominant cost on real image corpora).
    The DISK_ONLY pin must hold decode at exactly ONE evaluation, and the
    pin must release through the standard handle."""
    from cl_readability_spark.functions.pins import release_pinned
    from cl_readability_spark.pipeline.multimodal import media_feature_near_dups

    acc = spark.sparkContext.accumulator(0)
    media = synthetic_media(spark, n=30)

    def _count(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = media.mapInPandas(_count, MEDIA_SCHEMA)
    out = media_feature_near_dups(counted)
    n_pairs = out.count()
    assert n_pairs > 0
    assert acc.value == 30, f"decode input evaluated {acc.value}/30 rows"
    assert release_pinned(out) == 1



def test_media_schema_and_fake_features(spark):
    media = synthetic_media(spark, n=30)
    assert media.count() == 30
    feats = decode_image_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert r.status == "ok"
        assert len(r.features) == 16
        assert all(0.0 <= f < 1.0 for f in r.features)
    # determinism
    again = {r.doc_id: tuple(r.features) for r in decode_image_features(media).collect()}
    first = {r.doc_id: tuple(r.features) for r in rows}
    assert again == first



def test_media_real_decode_is_explicit_stub(spark):
    media = synthetic_media(spark, n=3)
    with pytest.raises(Exception) as exc_info:
        decode_image_features(media, fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or "PIL" in str(exc_info.value)



def test_media_feature_join_with_embeddings_shape(spark):
    """Features are joinable/usable downstream like any embedding column."""
    media = synthetic_media(spark, n=12)
    feats = decode_image_features(media)
    sim = feats.select(
        "doc_id",
        F.aggregate(
            F.col("features"), F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
        ).alias("sq_norm"),
    )
    rows = sim.collect()
    assert all(r.sq_norm > 0 for r in rows)



def test_media_feature_near_dups_composition(spark):
    """Multimodal features flow into the banded-LSH dedup stack: planted
    exact copies are found at cosine 1.0; output pairs respect the
    threshold."""
    from cl_readability_spark.pipeline.multimodal import media_feature_near_dups

    media = synthetic_media(spark, n=45)
    pairs = media_feature_near_dups(media, threshold=0.98).collect()
    planted = [r for r in pairs if r.id_b == r.id_a + 1_000_000]
    n_expected = sum(1 for r in media.collect() if r.doc_id % 3 == 0)
    assert len(planted) == n_expected  # identical copies: guaranteed recall
    assert all(r.cosine_sim_x10k >= 9800 for r in pairs)



def test_media_planted_query_pin_lifecycle(spark):
    """The media_planted registry entry must not accrete executor
    storage across repeated harness evaluations (driver/bench run query
    entries many times and never call release_pinned): each invocation
    releases the previous one's decode pin, so outstanding pins stay
    bounded at ONE per session, and releasing the last handle returns
    storage to baseline."""
    from cl_readability_spark.functions.pins import (
        pins_outstanding,
        release_pinned,
    )
    from cl_readability_spark.functions.sqltwins import q_media_planted

    from cl_readability_spark.functions.pins import release_all_pins

    # a prior test in this session may itself have run q_media_planted
    # (the oracle rehearsal does) and left the one rotating pin — start
    # from a clean session so the baseline is unambiguous
    release_all_pins(spark)
    jsc = spark.sparkContext._jsc.sc()
    base_cached = jsc.getPersistentRDDs().size()
    last = None
    for _ in range(3):
        last = q_media_planted(spark, "/root/testdata/sf0.001")
        assert last.count() > 0
        # however many times the harness evaluates, exactly ONE media
        # pin is outstanding
        assert pins_outstanding(spark) == 1
    assert release_pinned(last) == 1
    assert pins_outstanding(spark) == 0
    # storage really returns to baseline: the query's cached RDDs are gone
    assert jsc.getPersistentRDDs().size() <= base_cached

