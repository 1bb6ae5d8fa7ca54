"""Per-cluster aggregations (reference operators O6, O7, O8, O12).

- ``update_centroids``: the reduce phase (Task1.java:82-99) — per
  cluster mean of x,y,z. Spark's HashAggregateExec always runs a
  partial (sum,count) phase before the shuffle and a final merge after
  it, which is the reference's Task4 combiner (Task4.java:117-134) done
  *correctly*: the reference combiner emits unweighted per-split means
  (mean-of-means skew under multi-mapper input); Spark's partial agg
  carries counts, so the result is the true weighted mean at any
  parallelism. Only K rows cross the shuffle per partition.
- ``members``: SilhouetteEvaluation2.java:99-133 — centroid plus the
  full member list, the string-packed "; "-joined list becoming a
  first-class array<struct<x,y,z>>.

Empty clusters vanish naturally (groupBy emits no row for an absent
key), matching the reference's K-shrink semantic (SURVEY §1.3.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def update_centroids(assigned: DataFrame) -> DataFrame:
    """assigned(cluster,x,y,z) -> centroids(id, x, y, z), unweighted
    arithmetic mean per cluster (Task1.java:85-97).

    Rows come back in no particular order: a sort of K rows would add a
    range-partitioning job and an exchange to every Lloyd step, so the
    callers that collect the K rows sort them by id on the driver
    (positional parity with the reference's shuffle-sorted output,
    SURVEY §1.3.5)."""
    return assigned.groupBy(F.col("cluster").alias("id")).agg(
        F.avg("x").alias("x"), F.avg("y").alias("y"), F.avg("z").alias("z")
    )


def members(assigned: DataFrame) -> DataFrame:
    """assigned -> (cluster, cx, cy, cz, points array) in one pass —
    mean + collect_list in the same hash aggregate, exactly the fused
    reducer of SilhouetteEvaluation2.java:99-133.

    The array is sorted for deterministic comparison; the reference's
    list order is mapper arrival order (not stable), so golden tests
    compare as sets.
    """
    out = assigned.groupBy("cluster").agg(
        F.avg("x").alias("cx"),
        F.avg("y").alias("cy"),
        F.avg("z").alias("cz"),
        F.array_sort(F.collect_list(F.struct("x", "y", "z"))).alias("points"),
    )
    return out.orderBy("cluster")
