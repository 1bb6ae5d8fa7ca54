"""Deterministic farthest-point seeding: matches the plain-Python
Gonzalez traversal, is permutation-invariant, and feeds fit()."""

from __future__ import annotations

import pytest

from mapreduce_kmeans_clustering_spark.plans import fit, init_farthest


def _brute(pts, k):
    pts = sorted(pts)
    chosen = [pts[0]]
    for _ in range(1, k):
        far = max(
            pts,
            key=lambda p: (
                min(
                    (p[0] - c[0]) ** 2 + (p[1] - c[1]) ** 2 + (p[2] - c[2]) ** 2
                    for c in chosen
                ),
                tuple(-v for v in p),
            ),
        )
        chosen.append(far)
    return chosen


@pytest.fixture(scope="module")
def pts_df(spark):
    rows = [
        (0.0, 0.0, 0.0),
        (10.0, 0.0, 0.0),
        (0.0, 10.0, 0.0),
        (5.0, 5.0, 9.0),
        (1.0, 1.0, 1.0),
        (9.0, 9.0, 0.0),
    ]
    return spark.createDataFrame(rows, "x DOUBLE, y DOUBLE, z DOUBLE"), rows


def test_matches_brute_force(pts_df):
    df, rows = pts_df
    got = [(c.x, c.y, c.z) for c in init_farthest(df, 4)]
    assert got == _brute(rows, 4)


def test_ids_and_determinism(pts_df):
    df, _ = pts_df
    a = init_farthest(df, 3)
    b = init_farthest(df.repartition(5), 3)  # partitioning must not matter
    assert [c.id for c in a] == [0, 1, 2]
    assert [(c.x, c.y, c.z) for c in a] == [(c.x, c.y, c.z) for c in b]
    assert len({(c.x, c.y, c.z) for c in a}) == 3  # distinct seeds


def test_feeds_fit(pts_df):
    df, _ = pts_df
    res = fit(df, init_farthest(df, 2), max_iter=5, threshold=0.1)
    assert len(res.centroids) == 2
    assert res.iterations >= 1


def test_k_validation(pts_df):
    df, _ = pts_df
    with pytest.raises(ValueError):
        init_farthest(df, 0)


@pytest.mark.slow  # >=12 s in the idle full run (r13)
def test_nd_matches_brute_and_feeds_fit(spark):
    from mapreduce_kmeans_clustering_spark.plans import fit_nd, init_farthest_nd

    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 0.0]),
        (2, [0.0, 10.0]),
        (3, [10.0, 10.0]),
        (4, [5.0, 5.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = init_farthest_nd(df, 3)

    chosen = [rows[0][1]]
    for _ in range(2):
        far = max(
            rows,
            key=lambda r: (
                min(sum((a - b) ** 2 for a, b in zip(r[1], c)) for c in chosen),
                -r[0],
            ),
        )
        chosen.append(far[1])
    assert got == chosen

    res = fit_nd(df, k=2, max_iter=3, seeds=init_farthest_nd(df, 2))
    assert len(res.centroids) <= 2


def test_farthest_trace_nd_matches_init_and_is_monotone(spark):
    from mapreduce_kmeans_clustering_spark.plans import init_farthest_nd
    from mapreduce_kmeans_clustering_spark.plans.kmeans_nd import (
        farthest_trace_nd,
    )

    rows = [(i, [float(i % 7), float((i * 3) % 5), 0.5]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    trace = farthest_trace_nd(df, 4)
    seeds = init_farthest_nd(df, 4)
    assert [vec for _, _, _, vec in trace] == seeds
    assert [r for r, _, _, _ in trace] == [0, 1, 2, 3]
    assert trace[0][2] is None
    # the winning min-distance sequence is non-increasing (each new
    # seed can only shrink every point's distance-to-set)
    d = [d2 for _, _, d2, _ in trace[1:]]
    assert all(a >= b for a, b in zip(d, d[1:]))
    # chosen ids are distinct rows of the input
    ids = [i for _, i, _, _ in trace]
    assert len(set(ids)) == 4
