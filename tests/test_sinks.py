"""Sink round-trips (O17/O18): tab-KV centroid files with _SUCCESS
marker parity, packed members format, labeled CSV."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.operators.aggregate import members
from mapreduce_kmeans_clustering_spark.sinks.text_kv import (
    format_centroids_kv,
    read_centroids_kv,
    write_centroids_kv,
    write_labeled,
    write_members_kv,
)
from mapreduce_kmeans_clustering_spark.sources.seeds import Centroid

CENTS = [Centroid(0, 1.5, -2.25, 3.0), Centroid(1, 0.1, 0.2, 0.3)]


def test_centroids_kv_roundtrip_with_success_marker(spark, tmp_path):
    out = str(tmp_path / "it0")
    write_centroids_kv(spark, CENTS, out)
    files = os.listdir(out)
    assert "_SUCCESS" in files  # commit-protocol parity with Hadoop
    part = [f for f in files if f.startswith("part-")]
    assert len(part) == 1
    got = read_centroids_kv(os.path.join(out, part[0]))
    assert [(c.id, c.x, c.y, c.z) for c in got] == [
        (c.id, c.x, c.y, c.z) for c in CENTS
    ]


def test_format_centroids_kv_shape():
    lines = format_centroids_kv(list(reversed(CENTS))).splitlines()
    assert lines[0].startswith("0\t") and lines[1].startswith("1\t")
    assert lines[0].split("\t")[1] == "1.5,-2.25,3.0"


def test_members_kv_packed_format(spark, tmp_path):
    assigned = spark.createDataFrame(
        [(0, 1.0, 2.0, 3.0), (0, 3.0, 4.0, 5.0), (1, 9.0, 9.0, 9.0)],
        "cluster INT, x DOUBLE, y DOUBLE, z DOUBLE",
    )
    out = str(tmp_path / "members")
    write_members_kv(members(assigned), out)
    lines = []
    for f in os.listdir(out):
        if f.startswith("part-"):
            with open(os.path.join(out, f)) as fh:
                lines += [ln.strip() for ln in fh if ln.strip()]
    by_cluster = {ln.split("\t")[0]: ln.split("\t")[1] for ln in lines}
    # centroid first, then "; "-joined members (SilhouetteEvaluation2.java:128 shape)
    assert by_cluster["0"].split("; ")[0] == "2.0,3.0,4.0"
    assert set(by_cluster["0"].split("; ")[1:]) == {"1.0,2.0,3.0", "3.0,4.0,5.0"}
    assert by_cluster["1"] == "9.0,9.0,9.0; 9.0,9.0,9.0"


def test_write_labeled_readable(spark, tmp_path):
    labeled = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 0), (4.0, 5.0, 6.0, 1)],
        "x DOUBLE, y DOUBLE, z DOUBLE, cluster INT",
    )
    out = str(tmp_path / "labeled")
    write_labeled(labeled, out)
    back = spark.read.schema("x DOUBLE, y DOUBLE, z DOUBLE, cluster INT").csv(out)
    assert sorted(tuple(r) for r in back.collect()) == [
        (1.0, 2.0, 3.0, 0),
        (4.0, 5.0, 6.0, 1),
    ]
