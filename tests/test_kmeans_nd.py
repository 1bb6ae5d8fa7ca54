"""n-dimensional K-Means (plans/kmeans_nd.py): pinned against a pure
numpy Lloyd implementation with identical seeding/tie-break rules, plus
structural checks (empty-cluster shrink, convergence on separable
data)."""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.functions.arrow import _vectors
from mapreduce_kmeans_clustering_spark.plans.kmeans_nd import (
    assign_nd,
    fit_nd,
    lloyd_partials_nd,
    seed_centroids_nd,
    update_centroids_nd,
)


def _numpy_lloyd(X, k, iters):
    C = X[:k].astype(np.float64).copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        C = np.stack([X[lab == j].mean(axis=0) for j in sorted(set(lab))])
    return C, lab


def _vectors_df(spark, X):
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        schema="vec_id LONG, embedding ARRAY<DOUBLE>",
    )


@pytest.fixture(scope="module")
def X():
    # deterministic, well-spread 8-dim data (no RNG)
    n, dim = 120, 8
    return np.array(
        [[((i * 37 + d * 11) % 97) / 9.7 + (i % 3) * 50 for d in range(dim)] for i in range(n)]
    )


def test_fit_nd_matches_numpy_lloyd(spark, X):
    k, iters = 4, 3
    df = _vectors_df(spark, X)
    res = fit_nd(df, k=k, max_iter=iters, threshold=None)
    C_ref, _ = _numpy_lloyd(X, k, iters)
    assert res.iterations == iters
    assert len(res.centroids) == len(C_ref)
    for got, exp in zip(res.centroids, C_ref):
        for a, b in zip(got, exp):
            assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def test_assign_nd_lowest_index_tie_break(spark):
    # two identical centroids: every vector must land on index 0
    df = _vectors_df(spark, np.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]))
    out = assign_nd(df, [[0.0, 0.0], [0.0, 0.0]])
    assert {r["cluster"] for r in out.collect()} == {0}


def test_update_drops_empty_clusters(spark, X):
    df = _vectors_df(spark, X[:10])
    far = [[1e9] * X.shape[1]]
    assigned = assign_nd(df, [list(map(float, X[0]))] + far)
    updated = update_centroids_nd(assigned, X.shape[1])
    assert [cid for cid, _ in updated] == [0]


def test_fit_nd_converges_on_separable_data(spark):
    X = np.array([[0.0, 0.0]] * 20 + [[100.0, 100.0]] * 20)
    X = X + np.array([[(i % 7) * 0.1, (i % 5) * 0.1] for i in range(40)])
    res = fit_nd(_vectors_df(spark, X), k=2, max_iter=20, threshold=1e-6)
    assert res.converged
    assert len(res.centroids) == 2
    # centers sit in the two blobs
    assert res.centroids[0][0] < 10 and res.centroids[1][0] > 90


def test_seed_centroids_deterministic(spark, X):
    df = _vectors_df(spark, X)
    s1 = seed_centroids_nd(df, 4)
    s2 = seed_centroids_nd(df.orderBy(F.desc("vec_id")), 4)
    assert s1 == s2 == [list(map(float, X[i])) for i in range(4)]


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_mllib_backend_clusters_reference_data(spark):
    """Alternate MLlib backend: sane clustering on the reference CSV
    (library semantics, not golden parity — documented)."""
    from mapreduce_kmeans_clustering_spark.plans.mllib_backend import (
        fit_mllib,
        label_mllib,
    )
    from mapreduce_kmeans_clustering_spark.sources.points import read_points_csv

    from tests.conftest import REF_POINTS_CSV, require_reference

    require_reference()
    pts = read_points_csv(spark, REF_POINTS_CSV)
    res = fit_mllib(pts, k=5, max_iter=10, seed=7)
    assert len(res.centroids) == 5 and res.cost > 0
    labeled = label_mllib(pts, res)
    counts = {r["cluster"]: r["count"] for r in labeled.groupBy("cluster").count().collect()}
    assert sum(counts.values()) == 5000
    assert set(counts) == {0, 1, 2, 3, 4}


def test_fused_partials_equal_two_phase_update(spark):
    """lloyd_partials_nd (fused Arrow partials) == assign_nd +
    update_centroids_nd at 1e-9 on real embeddings — same clusters,
    same means, only the Python-boundary volume differs."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.plans.kmeans_nd import (
        assign_nd,
        lloyd_partials_nd,
        seed_centroids_nd,
        update_centroids_nd,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    seeds = seed_centroids_nd(emb, 6)
    a = update_centroids_nd(assign_nd(emb, seeds), 64)
    b = lloyd_partials_nd(emb, seeds)
    assert [c for c, _ in a] == [c for c, _ in b]
    for (_, va), (_, vb) in zip(a, b):
        assert max(abs(x - y) for x, y in zip(va, vb)) < 1e-9


def test_vectors_reads_a_sliced_batch():
    arr = pa.array([[float(i), i + 0.5] for i in range(6)], pa.list_(pa.float64()))
    batch = pa.RecordBatch.from_arrays([arr], names=["v"]).slice(2, 3)
    assert batch.column(0).offset == 2
    got = _vectors(batch, "v", 2)
    assert got.dtype == np.float64
    np.testing.assert_array_equal(got, [[2.0, 2.5], [3.0, 3.5], [4.0, 4.5]])
    assert _vectors(batch.slice(3), "v", 2).shape == (0, 2)


def test_vectors_widens_float32_bit_for_bit():
    rows = np.random.default_rng(7).standard_normal((50, 8)).astype(np.float32)
    rows[0, :4] = [np.float32(1 / 3), -0.0, 1e-40, 3.4e38]  # subnormal, extremes
    batch = pa.RecordBatch.from_arrays(
        [pa.array(list(rows), pa.list_(pa.float32()))], names=["emb"]
    )
    got = _vectors(batch, "emb", 8)
    want = np.array([np.asarray(v, np.float64) for v in rows])
    assert got.dtype == np.float64 and got.tobytes() == want.tobytes()


@pytest.mark.parametrize(
    "rows", [[[1.0, 2.0], None], [[1.0, 2.0], [1.0]]], ids=["null", "ragged"]
)
def test_vectors_rejects_null_and_ragged_vectors(rows):
    batch = pa.RecordBatch.from_arrays(
        [pa.array(rows, pa.list_(pa.float64()))], names=["emb"]
    )
    with pytest.raises(ValueError, match="emb"):
        _vectors(batch, "emb", 2)


@pytest.fixture(scope="module")
def three_parts(spark, X):
    """X over 3 input partitions, the middle one empty."""
    rows = [(i, [float(x) for x in r]) for i, r in enumerate(X)]
    half = len(rows) // 2
    rdd = spark.sparkContext.parallelize([rows[:half], [], rows[half:]], 3)
    return spark.createDataFrame(
        rdd.flatMap(lambda part: part), "vec_id LONG, embedding ARRAY<DOUBLE>"
    )


def _numpy_step(X, C):
    C = np.asarray(C, dtype=np.float64)
    lab = ((C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)).argmin(axis=1)
    return [(int(c), X[lab == c].mean(axis=0)) for c in np.unique(lab)]


def test_lloyd_step_is_one_job_and_a_numpy_step(spark, three_parts, X):
    """One step on 3 partitions (one empty) is one Spark job, equals a
    numpy Lloyd step to 1e-9, drops a far-away centroid (K shrinks) and
    returns bit-identical centroids when repeated."""
    sizes = three_parts.rdd.glom().map(len).collect()
    assert sizes[1] == 0 and sum(sizes) == len(X)
    cents = [list(map(float, X[0])), list(map(float, X[1])), [1e9] * X.shape[1]]
    sc = spark.sparkContext
    sc.setJobGroup("nd-step", "nd-step")
    try:
        got = lloyd_partials_nd(three_parts, cents)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("nd-step")) == 1
    want = _numpy_step(X, cents)
    assert [c for c, _ in got] == [c for c, _ in want] == [0, 1]
    for (_, g), (_, w) in zip(got, want):
        np.testing.assert_allclose(g, w, rtol=1e-9, atol=1e-9)
    assert lloyd_partials_nd(three_parts, cents) == got


def test_lloyd_step_destroys_its_broadcast(three_parts, X, broadcasts):
    lloyd_partials_nd(three_parts, [list(map(float, X[0])), list(map(float, X[1]))])
    assert broadcasts
    assert [b._path for b in broadcasts if os.path.exists(b._path)] == []


def test_lazy_vector_frames_leave_no_broadcast(three_parts, X, broadcasts):
    """assign_nd returns a lazy frame, which could never destroy a
    broadcast of its own: its small centroid matrix rides the UDF
    closure, and no broadcast file is left."""
    cents = [list(map(float, X[0])), list(map(float, X[1]))]
    counts = assign_nd(three_parts, cents).groupBy("cluster").count().collect()
    assert sum(r["count"] for r in counts) == len(X)
    assert [b._path for b in broadcasts if os.path.exists(b._path)] == []
