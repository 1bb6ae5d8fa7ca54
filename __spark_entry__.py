"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``mapreduce_kmeans_clustering_spark``; this
file only wires the registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full convergent K-Means on the sf0.001 scale
    relation, returning the labeled dataset (SURVEY §2.3 Q-label over
    the fitted centroids)."""
    from mapreduce_kmeans_clustering_spark.plans.kmeans import fit, label
    from mapreduce_kmeans_clustering_spark.queries.kmeans import (
        scale_points,
        scale_seeds,
    )

    sf_dir = "/root/testdata/sf0.001"
    pts = scale_points(spark, sf_dir).cache()
    res = fit(pts, scale_seeds(spark, sf_dir), max_iter=15, threshold=5.0)
    return label(pts, res.centroids)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mapreduce_kmeans_clustering_spark.queries import ALL_QUERIES

    return dict(ALL_QUERIES)


def oracle_sql() -> dict[str, str]:
    from mapreduce_kmeans_clustering_spark.queries import ALL_ORACLES

    return dict(ALL_ORACLES)
