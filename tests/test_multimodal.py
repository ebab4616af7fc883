"""Multimodal tests: the synthesized media schema and the md5-digest
feature vector (shape, determinism, reference values, JVM-only plan)."""

from __future__ import annotations

import hashlib

import pytest

from mapreduce_kmeans_clustering_spark.operators.multimodal import (
    FEATURE_DIM,
    extract_features,
    synthesize_media,
)


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some text payload", "en", "src", 30 + i) for i in range(12)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    return synthesize_media(docs)


def test_media_schema_and_kinds(media):
    assert [f.name for f in media.schema.fields] == ["media_id", "kind", "payload", "meta"]
    assert media.schema["payload"].dataType.typeName() == "binary"
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_extract_features_shapes(media):
    out = extract_features(media)
    rows = out.collect()
    assert len(rows) == 12
    for r in rows:
        assert len(r["features"]) == FEATURE_DIM
        assert all(0.0 <= v < 1.0 for v in r["features"])
        assert r["n_bytes"] > 0


def test_extract_features_deterministic_and_partitioned(media):
    a = {r["media_id"]: r["features"] for r in extract_features(media).collect()}
    b = {
        r["media_id"]: r["features"]
        for r in extract_features(media.repartition(5)).collect()
    }
    assert a == b  # partitioning must not affect results


def _digest_features(payload: bytes) -> list[float]:
    """Reference features: md5 digest byte ``i % 16`` scaled to [0, 1)."""
    d = hashlib.md5(payload).digest()
    return [d[i % 16] / 256.0 for i in range(FEATURE_DIM)]


def test_extract_features_matches_md5_reference(spark, media):
    """n_bytes and features equal a Python md5 reference over the
    collected payloads; a null payload counts as empty bytes."""
    null_row = spark.createDataFrame(
        [(99, "image", None)], "media_id LONG, kind STRING, payload BINARY"
    )
    both = media.select("media_id", "kind", "payload").unionByName(null_row)
    payloads = {r["media_id"]: bytes(r["payload"] or b"") for r in both.collect()}
    got = {
        r["media_id"]: (r["n_bytes"], r["features"])
        for r in extract_features(both).collect()
    }
    want = {
        mid: (len(p), _digest_features(p)) for mid, p in payloads.items()
    }
    assert len(want) == 13 and want[99][0] == 0
    assert got == want


def test_extract_features_jvm_plan_stays_in_jvm(media):
    """The digest math must not pay a Python/Arrow round-trip."""
    plan = extract_features(media)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "Python" not in plan
