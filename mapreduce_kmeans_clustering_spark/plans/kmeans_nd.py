"""Generalized n-dimensional Lloyd K-Means over array<double> vector
columns — the engine's extension of the reference's 3-D algorithm
(SURVEY §2.1 O4-O10) to embedding-sized data, and the refinement path
for the IVF coarse quantizer (operators/similarity.py ivf_assign).

Semantics mirror the 3-D driver exactly: strict nearest-centroid with
lowest-index tie-break, unweighted per-cluster mean update, empty
clusters drop out, summed-Euclidean-displacement early stop.

Physical design per iteration (``lloyd_partials_nd``): one mapInArrow
job, no shuffle. Each partition reads its batches' vectors from the
Arrow value buffer (functions/arrow.py) and assigns them against a
broadcast centroid matrix — one BLAS block per batch, np.argmin takes
the FIRST minimum, preserving the lowest-index tie-break — keeping one
(k, dim) sum and k counts across all its batches (the O8 combiner, in
the mapper). The driver adds the <= P*k partial rows (P = partitions)
and divides: O(K * dim) state. The 3-D step (plans/kmeans.py
``lloyd_iteration``) has the same shape with ``assign``'s exact
per-axis distance in place of the BLAS expansion, and it beats the
column-expression path it replaced even at dim=3: on a 2M-point
parquet step (local[4], 4-core host) 425 against 796 ms median at
k=16, and level at k=5 (433 against 434 ms). At dim>=32 BLAS wins by
an order of magnitude (see SCALE.md §4).

The step is at the job floor. perfbench ``embed_nd`` (100k x 64
float32, k=16, local[4], 4-core host): 273 ms median per step, ~190 ms
of it stage time for ~265 ms of executor CPU over 4 tasks, while a
no-op mapInArrow job over 4 rows took 270-360 ms median on the same
host. That floor was 550-670 ms, and the step 513 ms, while each Python
task re-read every zip archive on its path (worker.py).

``assign_nd`` and ``_min_dist2_nd`` return lazy frames, so their
centroid matrix rides the pickled UDF closure: a broadcast they made
could never be destroyed (PySpark broadcasts a command over 1 MB by
itself). The step collects inside the call and destroys its own.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.functions.distance import sqdist_hof
from mapreduce_kmeans_clustering_spark.functions.literals import with_consts

DEFAULT_MAX_ITER = 20
DEFAULT_THRESHOLD = 1e-4


@dataclass
class NdFitResult:
    centroids: list[list[float]]  # index == cluster id
    iterations: int
    converged: bool
    displacements: list[float] = field(default_factory=list)


def seed_centroids_nd(
    vectors: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """First k vectors by id — deterministic, RNG-free (the same seeded
    policy as the scale queries; kmeans++ would need RNG the oracle
    cannot replay)."""
    rows = (
        vectors.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r[1]] for r in rows]


def init_farthest_nd(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic farthest-point seeding over array<double> vectors
    (n-dim twin of ``plans.kmeans.init_farthest``): start from the
    lowest-id vector, repeatedly add the vector with the largest
    squared Euclidean distance to its nearest chosen seed, ties to the
    lowest id. RNG-free, so re-runs and engines agree.

    Cost: k jobs, the first-by-id pick and one per round; each round
    is a scan-local ``zip_with`` distance projection against the
    chosen seeds (one constant array column) + a per-partition top-1
    merged on the driver. O(k·n·dim) work, no shuffle, O(k·dim)
    driver state — the spread-out-seed quality of k-means++ without
    its RNG.
    """
    return [vec for _, _, _, vec in farthest_trace_nd(vectors, k, id_col, vec_col)]


def farthest_trace_nd(
    vectors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, float | None, list[float]]]:
    """``init_farthest_nd`` with its selection trace exposed: one
    ``(rank, id, d2_to_previous_set, vector)`` tuple per chosen seed,
    where ``d2_to_previous_set`` is the squared Euclidean distance
    that made the point win round ``rank`` (None for the rank-0 start
    seed — there is no previous set). The trace is what an oracle can
    replay stage-by-stage; same cost/shape as the plain init (k driver
    rounds, each a scan-local projection + a top-1 take)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    first = (
        vectors.select(id_col, vec_col).orderBy(id_col).limit(1).collect()[0]
    )
    trace: list[tuple[int, int, float | None, list[float]]] = [
        (0, int(first[0]), None, [float(x) for x in first[1]])
    ]
    for r in range(1, k):
        [far] = _farthest_round_df(
            vectors, [c for _, _, _, c in trace], id_col, vec_col
        ).collect()
        trace.append((r, int(far["i"]), float(far["d2"]), [float(x) for x in far["vv"]]))
    return trace


def _farthest_round_df(
    vectors: DataFrame,
    seeds: list[list[float]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """One farthest-first round as a 1-row ``(i, vv, d2)`` DataFrame:
    for every vector the min squared distance to the chosen ``seeds``
    (one ``array<array<double>>`` constant column; a nested HOF folds
    the seeds left to right with ``least``, each distance the
    ``sqdist_hof`` sum, so the plan is the same for any number of
    seeds), then the row with the largest ``d2``, ties to the lowest
    id: ``orderBy(d2 desc, id).limit(1)``, a TakeOrderedAndProject
    that keeps the best row per partition and merges them on the
    driver, one job with no Exchange (the 3-D ``kmeans._farthest_round``
    form). Factored out so the plan gate (tests/test_plans.py) can
    assert the per-round shape."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    d2 = F.aggregate(
        F.col("_seeds"),
        F.lit(None).cast("double"),
        lambda m, s: F.least(m, sqdist_hof(v, s)),
    )
    return (
        with_consts(vectors, _seeds=seeds)
        .select(F.col(id_col).alias("i"), v.alias("vv"), d2.alias("d2"))
        .orderBy(F.col("d2").desc(), "i")
        .limit(1)
    )


def assign_nd(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, v, cluster): nearest centroid by squared Euclidean distance
    (monotonic in the Euclidean metric the displacement uses), ties to
    the lowest centroid index via np.argmin's first-minimum rule."""
    import numpy as np

    from mapreduce_kmeans_clustering_spark.functions.arrow import _passthrough, _vectors

    C = np.asarray(centroids, dtype=np.float64)  # rides the closure
    dim = C.shape[1]
    c_sq = (C * C).sum(axis=1)

    def gen(batches):
        for batch in batches:
            A = _vectors(batch, vec_col, dim)
            # ||a-c||^2 = ||a||^2 - 2 a.c + ||c||^2; ||a||^2 constant per row
            cluster = (c_sq[None, :] - 2.0 * (A @ C.T)).argmin(axis=1)
            yield _passthrough(
                batch, id_col, vec_col, cluster=cluster.astype(np.int32)
            )

    schema = f"{id_col} long, {vec_col} array<double>, cluster int"
    return vectors.select(id_col, vec_col).mapInArrow(gen, schema)


def update_centroids_nd(
    assigned: DataFrame, dim: int, vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Per-cluster per-dimension mean via one hash aggregate (dim avg
    columns, partial+final); returns (cluster_id, centroid) sorted by
    id on the driver (K rows; no range-partitioned sort job). Empty
    clusters are absent — K shrinks like the reference."""
    aggs = [
        F.avg(F.element_at(F.col(vec_col), i + 1)).alias(f"_d{i}") for i in range(dim)
    ]
    rows = assigned.groupBy("cluster").agg(*aggs).collect()
    return sorted(
        ((int(r["cluster"]), [float(r[f"_d{i}"]) for i in range(dim)]) for r in rows),
        key=lambda cv: cv[0],
    )


def fit_nd(
    vectors: DataFrame,
    k: int,
    max_iter: int = DEFAULT_MAX_ITER,
    threshold: float | None = DEFAULT_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: list[list[float]] | None = None,
) -> NdFitResult:
    """Lloyd loop with summed-Euclidean-displacement early stop; same
    control flow as the 3-D fit (Task3.java:185-218 pattern).
    ``seeds`` overrides the default first-k-by-id seeding (pass
    ``init_farthest_nd(...)`` for spread-out deterministic seeds)."""
    curr = seeds if seeds is not None else seed_centroids_nd(vectors, k, id_col, vec_col)
    result = NdFitResult(centroids=curr, iterations=0, converged=False)
    for _ in range(max_iter):
        # one fused assign+partial-sum job (lloyd_partials_nd). Updated
        # cluster ids index `curr`; compare positionally against it, then
        # re-index (a dropped cluster shrinks K, like the reference's
        # vanishing reducer keys).
        updated = lloyd_partials_nd(vectors, curr, vec_col)
        result.iterations += 1
        d = sum(
            math.sqrt(sum((a - b) ** 2 for a, b in zip(curr[cid], vec)))
            for cid, vec in updated
        )
        curr = [vec for _, vec in updated]
        if threshold is not None:
            result.displacements.append(d)
            if d < threshold:
                result.converged = True
                break
    result.centroids = curr
    return result


def lloyd_partials_nd(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """One Lloyd step as one ``mapInArrow`` job with no shuffle: each
    partition assigns its vectors and keeps per-cluster (sum, count)
    across all its batches; the driver collects those <= P*k rows
    (P = input partitions), adds them in collect order and divides, so
    repeated calls agree bit for bit. Returns ``(cluster_id, centroid)``
    sorted by id, present clusters only (K shrinks like the reference);
    equal to assign_nd -> update_centroids_nd up to summation order
    (tests pin 1e-9)."""
    import numpy as np

    from mapreduce_kmeans_clustering_spark.functions.arrow import _batch, _vectors

    cmat = np.asarray(centroids, dtype=np.float64)
    k, dim = cmat.shape
    bc = vectors.sparkSession.sparkContext.broadcast(cmat)

    def gen(batches):
        C = bc.value
        c_sq = (C * C).sum(axis=1)
        sums = np.zeros((k, dim))
        counts = np.zeros(k, dtype=np.int64)
        for batch in batches:
            A = _vectors(batch, vec_col, dim)
            a = (c_sq[None, :] - 2.0 * (A @ C.T)).argmin(axis=1)
            for c in np.unique(a):
                m = a == c
                sums[c] += A[m].sum(axis=0)
                counts[c] += int(m.sum())
        p = np.flatnonzero(counts)
        yield _batch(cluster=p.astype(np.int32), n=counts[p], s=sums[p])

    parts = vectors.select(vec_col).mapInArrow(
        gen, "cluster int, n long, s array<double>"
    )
    try:
        rows = parts.collect()
    finally:
        bc.destroy()
    sums = np.zeros((k, dim))
    counts = np.zeros(k, dtype=np.int64)
    for r in rows:
        sums[r["cluster"]] += r["s"]
        counts[r["cluster"]] += r["n"]
    return [(int(c), (sums[c] / counts[c]).tolist()) for c in np.flatnonzero(counts)]
