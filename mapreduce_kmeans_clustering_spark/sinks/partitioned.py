"""Hive-partitioned parquet sink: the standard 100 TB dataset layout.

Partitioning by a low-cardinality column (date, source shard) makes
every query that filters on it skip whole directories — Catalyst turns
the filter into a PartitionFilter, so a day's query over years of data
scans one day's files (the pruning plan is pinned by test).

Two file-size hazards are handled at write time:

* **Small files.** A write with P upstream partitions × V partition
  values creates up to P×V files; thousands of tiny files throttle any
  later scan on open/seek overhead. Repartitioning by the partition
  columns first routes each value's rows to one task → one file per
  value (plus AQE coalescing).
* **Giant files.** One task per value means a hot value produces one
  huge file; ``max_records_per_file`` re-splits those so downstream
  scan parallelism survives skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def upsert_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    max_records_per_file: int = 5_000_000,
) -> None:
    """Idempotent partition-level upsert: replace exactly the
    partitions present in ``df``, leave every other partition's files
    untouched (dynamic partition overwrite — ``mode("overwrite")``
    alone would delete the whole table root).

    This is the merge primitive a daily/streaming ingest needs without
    a transactional table format: re-running a day's batch rewrites
    that day's directory and nothing else, so retries and backfills
    are safe as long as a batch carries whole partitions (the unit of
    replacement IS the partition — per-ROW merge needs a format with a
    transaction log, which is out of scope for a plain-parquet lake).
    Used from ``foreachBatch`` this gives streaming jobs exactly-once
    per-partition output on replay.

    The session-level ``partitionOverwriteMode`` conf is set to
    ``dynamic`` only for the duration of the write and restored after,
    so other writers in the same session keep static semantics.
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        (
            df.repartition(*partition_by)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .partitionBy(*partition_by)
            .parquet(path)
        )
    finally:
        spark.conf.set(key, prev)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int = 16,
    max_records_per_file: int = 5_000_000,
) -> None:
    """Range-clustered parquet layout ("z-order lite" for one key):
    rows are range-partitioned on ``sort_cols`` and sorted within each
    file, so every file covers a DISJOINT value range and parquet
    row-group min/max statistics become airtight — a reader filtering
    on the leading sort column skips every non-overlapping file/row
    group instead of scanning and discarding.

    This is the write-time half of data skipping; the read-time half
    (predicate → PushedFilters → row-group skip) is free in any
    parquet reader. Worth one sort-shuffle at ingest for any column
    the workload filters on constantly (time, tenant, shard).

    ``repartitionByRange`` samples the data to pick balanced split
    points, so skew in ``sort_cols`` yields balanced files anyway.
    """
    (
        df.repartitionByRange(num_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def zorder_key(
    col_specs: "list[tuple[str, float, float]]", bits: int = 16
) -> "Column":
    """Morton (z-order) key over 2+ numeric columns: each column is
    scaled into ``bits`` levels over its [lo, hi) range, then the bit
    planes interleave — points close in EVERY dimension get close
    keys, so sorting by the key clusters files in all dimensions at
    once (the Delta/Iceberg OPTIMIZE ZORDER idea, as a plain column
    expression in whole-stage codegen).

    col_specs: (column, lo, hi) per dimension; ranges come from stats
    the caller already has (a profile pass or partition metadata).
    Pure integer bit math — deterministic everywhere.
    """
    from pyspark.sql import functions as F

    n = len(col_specs)
    if n < 2:
        raise ValueError("z-order needs >= 2 columns; use range sort for 1")
    if bits * n > 62:
        raise ValueError(f"bits * n_cols must fit a long (<= 62), got {bits * n}")
    levels = (1 << bits) - 1
    key = F.lit(0).cast("long")
    for d, (c, lo, hi) in enumerate(col_specs):
        scaled = F.least(
            F.lit(levels),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(c).cast("double") - F.lit(float(lo)))
                    / F.lit(float(hi - lo))
                    * F.lit(float(levels + 1))
                ),
            ),
        ).cast("long")
        for b in range(bits):
            # bit b of dim d lands at interleaved position b*n + d
            key = key + F.shiftleft(
                F.shiftright(scaled, b).bitwiseAND(F.lit(1)), b * n + d
            ).cast("long")
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    col_specs: "list[tuple[str, float, float]]",
    num_files: int = 16,
    bits: int = 16,
    max_records_per_file: int = 5_000_000,
) -> None:
    """Multi-dimensional clustered layout: range-partition + sort on
    the Morton key, drop the key before writing. Each file then covers
    a small hyper-rectangle in every z-ordered dimension, so min/max
    row-group stats prune scans filtering on ANY of them — where the
    1-D range sort only serves its leading column."""
    from pyspark.sql import functions as F

    keyed = df.withColumn("__zkey", zorder_key(col_specs, bits))
    (
        keyed.repartitionByRange(num_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_by: list[str],
    predicate: str | None = None,
    max_records_per_file: int = 5_000_000,
) -> None:
    """Small-file compaction — the maintenance job every streaming or
    micro-batch ingest owes its table: rewrite the selected partitions
    (``predicate`` like "day = '2024-01-02'", default all) so each
    partition value collapses back to one file per value (plus the
    giant-file re-split). Values are untouched; only layout changes.

    Built on the same dynamic-partition-overwrite upsert as
    ``upsert_partitions``: the rewrite replaces exactly the partitions
    it read, is retry-safe, and leaves concurrent readers a consistent
    directory (parquet replaces files atomically per task commit).
    Run it off the ingest path; at 100 TB compaction is bandwidth-
    bound and embarrassingly parallel across partition values.
    """
    df = spark.read.parquet(path)
    if predicate:
        df = df.where(predicate)
    upsert_partitions(df, path, partition_by, max_records_per_file)
