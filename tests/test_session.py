"""Session defaults, and the AQE skew-join handling the session turns on."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.session import default_cpus


def test_default_cpus_prefers_the_environment(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_default_cpus_follows_the_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2}, raising=False)
    assert default_cpus() == 2


def test_default_cpus_falls_back_to_cpu_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delattr(os, "sched_getaffinity", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 5)
    assert default_cpus() == 5


def test_aqe_skew_join_engages_on_hot_key(spark):
    """SCALE.md trusts AQE to split skewed join partitions; prove the
    mechanism actually fires: with skew thresholds lowered, a join
    whose one key holds ~90% of rows shows skew=true in the final
    adaptive plan, and results stay correct."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
            (F.col("id") * 2).alias("payload"),
        )
        right = spark.range(0, 100_000, 1).select(
            F.col("id").alias("k"), F.lit("dim").alias("tag")
        )
        j = left.join(right, "k")
        n = len(j.collect())  # collect: the SAME QueryExecution finalizes
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        # correctness unaffected: hot key 7 matches once per left row
        assert n == left.join(right.where("k = 7"), "k").count() + left.where(
            "k != 7"
        ).join(right, "k").count()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
