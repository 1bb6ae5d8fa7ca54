"""Iterative Lloyd K-Means driver (reference operators O9, O10, O11).

The reference chains one Hadoop job per iteration, crossing the
filesystem twice per step (seed file read by every map task, output
read back by the driver — Task5A.java:154-209), and pre-sums each
cluster in a combiner (Task4.java:117-134). Here an iteration is one
``mapInArrow`` job over the (x, y, z) columns (``lloyd_iteration``):
each partition assigns its points and pre-sums per cluster, and the
driver adds the partial rows and divides. The K×3 centroid matrix
rides the kernel's closure, so a step makes no broadcast, and its plan
does not depend on K or the centroid values: after a fit's first step,
codegen compiles nothing. It is the 3-D twin of the n-dim
``lloyd_partials_nd``, with ``assign``'s exact distance in place of the
BLAS expansion. ``assign`` (the points cross-joined with a broadcast
1-row centroid relation) serves ``label``, which must return every
row; fed to ``update_centroids`` it takes 3 jobs to produce K rows (the
row's broadcast, then the aggregate's map and result stages) against
the step's 1. State between iterations is the K-row centroid list on the
driver; no filesystem round-trip.

Scale notes (100 TB target):
- per iteration the points relation is scanned once, with no
  shuffle; the driver collects K rows per upstream partition at most,
  so the network cost per iteration is O(K * partitions), independent
  of data size;
- ``points.persist()`` (caller's choice) keeps the scan in memory/disk
  cache across iterations;
- the centroid state is O(K) on the driver — no driver materialization
  of data rows ever happens.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from mapreduce_kmeans_clustering_spark.functions.literals import with_consts
from mapreduce_kmeans_clustering_spark.operators.aggregate import update_centroids
from mapreduce_kmeans_clustering_spark.operators.assign import assign
from mapreduce_kmeans_clustering_spark.sources.seeds import Centroid

# Re-exported, not called here: perfbench/run.py wraps
# ``kmeans.update_centroids`` by name, so it stays an attribute of this
# module (tests/test_bench_contract.py pins the wrapped names).
_WRAPPED_BY_NAME = (update_centroids,)

DEFAULT_MAX_ITER = 30  # Task3.java:192
DEFAULT_THRESHOLD = 5.0  # Task3.java:193


def displacement(prev: list[Centroid], curr: list[Centroid]) -> float:
    """Convergence metric (Task3.java:116-128): SUM over clusters of
    Euclidean displacement between consecutive centroid lists —
    positional zip over id-sorted lists, valid because ids are stable
    line indices (SURVEY §1.3.5).

    A size mismatch (a cluster emptied out and K shrank) raises
    instead of comparing, as Task5A.java:138-140 does.
    """
    if len(prev) != len(curr):
        raise ValueError(
            f"Centroid count mismatch between iterations: {len(prev)} vs {len(curr)}"
        )
    return sum(
        math.sqrt((a.x - b.x) ** 2 + (a.y - b.y) ** 2 + (a.z - b.z) ** 2)
        for a, b in zip(sorted(prev), sorted(curr))
    )


def lloyd_iteration(points: DataFrame, centroids: list[Centroid]) -> list[Centroid]:
    """One Lloyd step as one ``mapInArrow`` job with no shuffle: each
    partition assigns its points and keeps per-cluster (sum, count)
    across all its batches (the O8 combiner, in the mapper); the driver
    adds the <= P*K partial rows (P = input partitions) in collect order
    and divides. Returns the centroids sorted by id.

    The assignment is ``assign``'s: the exact distance
    ``sqrt(((dx*dx + dy*dy) + dz*dz))`` in float64, centroids scanned in
    ascending id order with a strict ``<`` (a tie goes to the lowest
    id), and a NaN distance larger than any number. A point with a null
    coordinate has no distance and goes to the lowest id, and each
    axis' mean skips its nulls, as Spark's ``avg`` does. Equal to
    ``update_centroids(assign(...))`` up to summation order (bit for bit
    on integer-valued points). Empty clusters drop out, shrinking K
    exactly like the reference (SURVEY §1.3.4); the ids stay the
    centroids' own.
    """
    import numpy as np
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.functions.arrow import _batch

    if not centroids:
        raise ValueError("empty centroid list")
    cents = sorted(centroids, key=lambda c: c.id)
    C = np.array([[c.x, c.y, c.z] for c in cents], dtype=np.float64)  # rides the closure
    k = len(cents)

    def gen(batches):
        n = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, 3))
        counts = np.zeros((k, 3), dtype=np.int64)
        for batch in batches:
            cols = batch.columns
            # a null reads as NaN, so a null point's distances are all NaN
            x, y, z = (c.to_numpy(zero_copy_only=False) for c in cols)
            best = np.full(len(x), np.nan)
            lab = np.zeros(len(x), dtype=np.int64)
            with np.errstate(invalid="ignore"):  # inf - inf is NaN, as in Spark
                for i, (cx, cy, cz) in enumerate(C):
                    dx, dy, dz = x - cx, y - cy, z - cz
                    d = np.sqrt((dx * dx + dy * dy) + dz * dz)
                    win = (d < best) | (np.isnan(best) & ~np.isnan(d))
                    np.copyto(best, d, where=win)
                    np.copyto(lab, i, where=win)
            n += np.bincount(lab, minlength=k)
            for a, (col, v) in enumerate(zip(cols, (x, y, z))):
                ok = col.is_valid().to_numpy(zero_copy_only=False) if col.null_count else slice(None)
                sums[:, a] += np.bincount(lab[ok], weights=v[ok], minlength=k)
                counts[:, a] += np.bincount(lab[ok], minlength=k)
        p = np.flatnonzero(n)
        yield _batch(i=p.astype(np.int32), n=n[p], s=sums[p], c=counts[p])

    rows = (
        points.select(*(F.col(a).cast("double") for a in "xyz"))
        .mapInArrow(gen, "i int, n long, s array<double>, c array<long>")
        .collect()
    )
    n = np.zeros(k, dtype=np.int64)
    sums = np.zeros((k, 3))
    counts = np.zeros((k, 3), dtype=np.int64)
    for r in rows:
        n[r["i"]] += r["n"]
        sums[r["i"]] += r["s"]
        counts[r["i"]] += r["c"]
    return [
        Centroid(cents[i].id, *(float(s / c) if c else None for s, c in zip(sums[i], counts[i])))
        for i in np.flatnonzero(n)
    ]


@dataclass
class FitResult:
    centroids: list[Centroid]
    iterations: int  # number of Lloyd steps executed
    converged: bool
    displacements: list[float] = field(default_factory=list)
    history: list[list[Centroid]] = field(default_factory=list)


def fit(
    points: DataFrame,
    seeds: list[Centroid],
    max_iter: int = DEFAULT_MAX_ITER,
    threshold: float | None = DEFAULT_THRESHOLD,
) -> FitResult:
    """Run Lloyd iterations until the summed displacement drops below
    ``threshold`` or ``max_iter`` is hit.

    - Task1  == fit(max_iter=1, threshold=None)
    - Task2  == fit(max_iter=5, threshold=None)
    - Task3/4/5A/5B == fit(max_iter=30, threshold=5.0)

    Convergence check order matches Task3.java:198-212: run iteration
    i, compare to iteration i-1's centroids, stop AFTER the iteration
    whose displacement is below threshold (the converged centroids are
    included).

    ``history`` is always recorded: the centroids after every step, K
    centroids per step.
    """
    curr = list(seeds)
    result = FitResult(centroids=curr, iterations=0, converged=False)
    for _ in range(max_iter):
        prev, curr = curr, lloyd_iteration(points, curr)
        result.iterations += 1
        result.history.append(curr)
        if threshold is not None:
            d = displacement(prev, curr)
            result.displacements.append(d)
            if d < threshold:
                result.converged = True
                break
    result.centroids = curr
    return result


def init_farthest(points: DataFrame, k: int) -> list[Centroid]:
    """Deterministic farthest-point seeding (the RNG-free cousin of
    k-means++ — Gonzalez's 2-approximation for k-center): start from
    the minimum (x, y, z) row and repeatedly add the point farthest
    from its nearest chosen centroid, ties to the smallest (x, y, z).

    The reference only reads seeds from a file (SURVEY §2.1 O2); this
    is the library's answer for when no seed file exists. Deterministic
    by construction — no RNG, ties totally ordered — so a re-run (or a
    DuckDB replay) picks identical seeds, unlike k-means|| sampling.

    Cost: k driver rounds, each one scan-local distance projection +
    a 1-row max aggregate (the same shuffle-free shape as ``assign``;
    O(k·n) total work, O(k) driver state). For the 100 TB corpus cache
    the points relation first, exactly like ``fit``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    first = points.select("x", "y", "z").orderBy("x", "y", "z").limit(1).collect()[0]
    chosen = [Centroid(0, float(first["x"]), float(first["y"]), float(first["z"]))]
    for i in range(1, k):
        far = _farthest_round(points, chosen).collect()[0]
        chosen.append(Centroid(i, far["x"], far["y"], far["z"]))
    return chosen


def _farthest_round(points: DataFrame, chosen: list[Centroid]) -> DataFrame:
    """One ``init_farthest`` round: the point farthest from its nearest
    ``chosen`` centroid, ties to the smallest (x, y, z), as a 1-row
    DataFrame. The chosen centroids are one ``array<array<double>>``
    constant column (functions/literals.with_consts) and a HOF folds
    them left to right with ``least``, so the plan is the same for
    every round."""
    from pyspark.sql import functions as F

    d2 = F.aggregate(
        F.col("_chosen"),
        F.lit(None).cast("double"),
        lambda m, c: F.least(
            m,
            (F.col("x") - c[0]) ** 2 + (F.col("y") - c[1]) ** 2 + (F.col("z") - c[2]) ** 2,
        ),
    )
    chosen_xyz = [[float(c.x), float(c.y), float(c.z)] for c in chosen]
    return (
        with_consts(points, _chosen=chosen_xyz)
        .select("x", "y", "z", d2.alias("d2"))
        .orderBy(F.col("d2").desc(), "x", "y", "z")
        .limit(1)
    )


def label(points: DataFrame, centroids: list[Centroid]) -> DataFrame:
    """Final-assignment labeling sink (O11): the reference recomputes
    assignments in a driver-side loop after convergence
    (Task5B.java:216-245); here it is the same distributed projection
    as training — (x, y, z, cluster) at full parallelism."""
    return assign(points, centroids, keep_cols=["x", "y", "z"]).select(
        "x", "y", "z", "cluster"
    )
