"""Points-relation sources (reference operator O1).

The reference reads headerless ``x,y,z`` CSV through Hadoop
``TextInputFormat`` (Task1.java:120, parse Task1.java:27-30) and
crashes on malformed data rows (no guard around ``parseDouble``).
Here: an explicit-schema CSV reader in FAILFAST mode (same
crash-on-bad-data semantics, but declarative so Catalyst prunes
columns), plus a lineitem-derived variant for scale runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark import schemas


def read_points_csv(spark: SparkSession, path: str) -> DataFrame:
    """Headerless x,y,z CSV -> points DataFrame (FAILFAST like the
    reference's unguarded ``Double.parseDouble``)."""
    return spark.read.schema(schemas.POINTS).option("mode", "FAILFAST").csv(path)


def points_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a 3-D points relation from the lineitem scale table
    (FIXTURES.md §5): x=l_quantity, y=l_extendedprice/100, z=l_discount*1000.

    rid must be deterministic AND oracle-reproducible, but
    (l_orderkey, l_linenumber) is not unique in the synthetic data, so:
    rid = (l_orderkey*10 + l_linenumber)*10 + seq, where seq is a
    row_number WITHIN each (orderkey, linenumber) group ordered by the
    coordinates (group size <= 6). The window is partitioned, so this
    stays parallel at scale — no global sort; identical full rows are
    interchangeable, so the output multiset is deterministic either way.

    Only 5 columns are read from parquet — Catalyst prunes the rest.
    """
    from pyspark.sql.window import Window

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    return li.select(
        (
            (F.col("l_orderkey") * F.lit(10) + F.col("l_linenumber")) * F.lit(10)
            + F.row_number().over(w)
        )
        .cast("long")
        .alias("rid"),
        F.col("l_quantity").cast("double").alias("x"),
        (F.col("l_extendedprice") / F.lit(100.0)).alias("y"),
        (F.col("l_discount") * F.lit(1000.0)).alias("z"),
    )


def with_rid(points: DataFrame) -> DataFrame:
    """Attach a stable synthetic row id for self-join operators.

    ``monotonically_increasing_id`` is partition-stable and needs no
    shuffle; the rid must never affect query results (FIXTURES.md §1).
    """
    if "rid" in points.columns:
        return points
    return points.withColumn("rid", F.monotonically_increasing_id())
