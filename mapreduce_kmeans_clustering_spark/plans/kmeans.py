"""Iterative Lloyd K-Means driver (reference operators O9, O10, O11).

The reference chains one Hadoop job per iteration, crossing the
filesystem twice per step (seed file read by every map task, output
read back by the driver — Task5A.java:154-209). Here an iteration is
``assign`` (the points cross-joined with a broadcast 1-row centroid
relation) + ``update_centroids`` (partial-agg groupBy) + a K-row
``collect``, sorted by id on the driver: a 1-task broadcast job plus
the two jobs of the aggregate (map stage, then the K-row result).
State between iterations is the K-row centroid list on the driver; no
filesystem round-trip. Since the centroid values travel as data, a
step's generated code depends only on K and the centroid ids, so every
step after a fit's first is a codegen-cache hit until K shrinks.

Scale notes (100 TB target):
- per iteration the points relation is scanned once; the only shuffle
  moves K rows per upstream partition (partial aggregation), so the
  network cost per iteration is O(K * partitions), independent of data
  size;
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
    """One Lloyd step: assign + per-cluster mean, K rows collected and
    returned sorted by id.

    Empty clusters drop out (no groupBy key), shrinking K exactly like
    the reference (SURVEY §1.3.4).
    """
    assigned = assign(points, centroids, keep_cols=["x", "y", "z"])
    rows = update_centroids(assigned).collect()
    return sorted(Centroid(int(r["id"]), r["x"], r["y"], r["z"]) for r in rows)


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
