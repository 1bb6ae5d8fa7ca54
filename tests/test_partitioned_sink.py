"""Partitioned parquet sink: round-trip fidelity, one file per
partition value (small-files control), and planner-level partition
pruning on the read side."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.sinks.partitioned import upsert_partitions

SF = "/root/testdata/sf0.001"


def test_round_trip_and_single_file_per_value(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    out = str(tmp_path / "docs_by_source")
    upsert_partitions(docs, out, ["source"])

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert {r["source"] for r in back.select("source").distinct().collect()} == {
        r["source"] for r in docs.select("source").distinct().collect()
    }
    for d in glob.glob(f"{out}/source=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1


def test_read_filter_prunes_partitions(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    out = str(tmp_path / "docs_pruned")
    upsert_partitions(docs, out, ["source"])

    one = spark.read.parquet(out).where(F.col("source") == "src1")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the equality predicate must land in PartitionFilters (planning-time
    # directory pruning), not in the row-level data filters
    pf = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "= src1" in pf
    expected = docs.where(F.col("source") == "src1").count()
    assert one.count() == expected > 0


def test_upsert_replaces_only_carried_partitions(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    out = str(tmp_path / "docs_upsert")
    upsert_partitions(docs, out, ["source"])
    before = {
        r["source"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    # "re-run" src1's batch with half the rows: only src1 may change
    batch = docs.where((F.col("source") == "src1") & (F.col("doc_id") % 3 == 1))
    n_batch = batch.count()
    assert 0 < n_batch < before["src1"]
    upsert_partitions(batch, out, ["source"])

    after = {
        r["source"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert after["src1"] == n_batch
    assert {k: v for k, v in after.items() if k != "src1"} == {
        k: v for k, v in before.items() if k != "src1"
    }

    # idempotent on retry
    upsert_partitions(batch, out, ["source"])
    again = spark.read.parquet(out).where(F.col("source") == "src1").count()
    assert again == n_batch
    # session conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        != "dynamic"
    )


def test_range_sorted_files_are_disjoint_and_sorted(spark, tmp_path):
    """write_range_sorted: every parquet file covers a disjoint range
    of the sort key (airtight min/max stats => row-group skipping) and
    rows inside each file are sorted."""
    import glob

    import pyarrow.parquet as pq

    from mapreduce_kmeans_clustering_spark.sinks.partitioned import (
        write_range_sorted,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = str(tmp_path / "orders_ranged")
    write_range_sorted(df, out, ["o_orderkey"], num_files=8)

    ranges = []
    for f in glob.glob(f"{out}/*.parquet"):
        t = pq.read_table(f, columns=["o_orderkey"])
        ks = t["o_orderkey"].to_pylist()
        if not ks:
            continue
        assert ks == sorted(ks), f"{f} not sorted"
        ranges.append((min(ks), max(ks)))
    ranges.sort()
    assert len(ranges) >= 4  # actually split into multiple files
    for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
        assert ahi < blo, "file ranges overlap"

    # read-time half: the filter reaches the scan as a pushed filter
    back = spark.read.parquet(out).where("o_orderkey = 17")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,17)]" in plan
    assert back.count() == df.where("o_orderkey = 17").count()


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """Z-ordered files bound their extent in EVERY dimension — a
    filter on x OR y prunes files. The 1-D range sort is thin: tight
    in x, but each file spans y's whole range, so y-filters scan
    everything. Quantified per dimension: the z-layout's mean y-extent
    is a fraction of the x-sorted layout's, while its x-extent stays
    far below the full range."""
    import glob

    import pyarrow.parquet as pq

    from mapreduce_kmeans_clustering_spark.sinks.partitioned import (
        write_range_sorted,
        write_zordered,
    )

    df = (
        spark.range(20_000)
        .selectExpr(
            "CAST(id % 141 AS DOUBLE) AS x",
            "CAST((id * 7919) % 139 AS DOUBLE) AS y",
        )
    )

    def mean_extents(path):
        ex, ey, n = 0.0, 0.0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            t = pq.read_table(f, columns=["x", "y"])
            xs, ys = t["x"].to_pylist(), t["y"].to_pylist()
            if xs:
                ex += max(xs) - min(xs)
                ey += max(ys) - min(ys)
                n += 1
        assert n >= 8
        return ex / n, ey / n

    zpath, xpath = str(tmp_path / "z"), str(tmp_path / "x")
    write_zordered(df, zpath, [("x", 0.0, 141.0), ("y", 0.0, 139.0)], num_files=16)
    write_range_sorted(df, xpath, ["x"], num_files=16)
    zx, zy = mean_extents(zpath)
    xx, xy = mean_extents(xpath)
    assert xy > 0.9 * 139  # the thin layout cannot prune on y ...
    assert zy < 0.6 * xy, (zy, xy)  # ... the z layout can
    assert zx < 0.6 * 141, (zx,)  # while staying selective on x too
    # round trip intact
    assert spark.read.parquet(zpath).count() == 20_000


def test_zorder_validates_inputs(spark):
    import pytest

    from mapreduce_kmeans_clustering_spark.sinks.partitioned import zorder_key

    with pytest.raises(ValueError):
        zorder_key([("x", 0.0, 1.0)])
    with pytest.raises(ValueError):
        zorder_key([("x", 0.0, 1.0), ("y", 0.0, 1.0), ("z", 0.0, 1.0)], bits=21)


def test_compact_partitions_collapses_files_and_keeps_rows(spark, tmp_path):
    """After a many-small-files ingest, compaction leaves one file per
    partition value, identical rows, and untouched partitions keep
    their files when a predicate scopes the rewrite."""
    import glob

    from mapreduce_kmeans_clustering_spark.sinks.partitioned import (
        compact_partitions,
    )

    out = str(tmp_path / "t")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    # simulate a micro-batch ingest: many files per partition value
    ev.repartition(8).write.partitionBy("event_type").parquet(out)
    before = ev.orderBy("event_id").collect()
    some_type = sorted(
        r["event_type"] for r in ev.select("event_type").distinct().collect()
    )[0]
    n_files = lambda v: len(glob.glob(f"{out}/event_type={v}/*.parquet"))
    assert n_files(some_type) > 1

    compact_partitions(
        spark, out, ["event_type"], predicate=f"event_type = '{some_type}'"
    )
    assert n_files(some_type) == 1  # compacted
    back = spark.read.parquet(out).select("event_id", "user_id", "event_type")
    assert back.orderBy("event_id").collect() == before  # values intact
