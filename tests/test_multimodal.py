"""Multimodal tests: the media schema, and the digest feature vector
against an md5 reference, its determinism and its JVM-only plan."""

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


def test_extract_features_matches_md5_reference(media):
    """Every row equals the md5 reference the DuckDB oracle also
    computes: feature[i] is digest byte ``i % 16`` over 256."""
    want = {}
    for r in media.collect():
        d = hashlib.md5(bytes(r["payload"])).digest()
        want[r["media_id"]] = (
            r["kind"],
            len(r["payload"]),
            [d[i % 16] / 256.0 for i in range(FEATURE_DIM)],
        )
    got = {
        r["media_id"]: (r["kind"], r["n_bytes"], r["features"])
        for r in extract_features(media).collect()
    }
    assert got == want


def test_extract_features_jvm_plan_stays_in_jvm(media):
    """The digest is column expressions: no Python/Arrow round-trip."""
    jvm_plan = extract_features(media)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in jvm_plan and "Python" not in jvm_plan
