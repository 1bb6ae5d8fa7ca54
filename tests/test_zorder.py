"""Z-order layout tests: interleave correctness vs a Python replay,
bucket locality, and the write-side payoff measured on real parquet
file footers (per-file min/max spans under Z vs linear clustering)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.functions.zorder import (
    write_zordered,
    zorder_key,
    zorder_key_sql,
)


def _morton_py(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zorder_key_matches_python_replay(spark):
    rows = [(x, y) for x in (0, 1, 2, 3, 17, 511, 1023) for y in (0, 5, 255, 1023)]
    df = spark.createDataFrame(rows, "x LONG, y LONG")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", zorder_key("x", "y", 10).alias("z")).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _morton_py(x, y, 10)


def test_zorder_sql_twin_is_identical(spark):
    import duckdb

    con = duckdb.connect()
    expr = zorder_key_sql("x", "y", 10)
    for x, y in ((0, 0), (1023, 1023), (37, 900), (512, 1)):
        (v,) = con.execute(f"SELECT {expr} FROM (SELECT {x} AS x, {y} AS y)").fetchone()
        assert v == _morton_py(x, y, 10)


def test_zorder_buckets_are_compact_rectangles(spark):
    """All 2^20 grid points would be exact; a uniform sample shows the
    same structure: every 64th-of-the-curve bucket spans at most a
    256x128 rectangle, while linear buckets span the FULL y range."""
    pts = (
        spark.range(0, 4096)
        .select(
            ((F.col("id") * 37) % 1024).alias("x"),
            ((F.col("id") * 101) % 1024).alias("y"),
        )
        .distinct()
    )
    z = (
        pts.select(zorder_key("x", "y", 10).alias("k"), "x", "y")
        .groupBy(F.shiftright("k", 14).alias("b"))
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
        .collect()
    )
    # one 64th of the 10-bit Morton curve covers a 256(x) x 128(y) tile
    assert all(r["xs"] <= 255 and r["ys"] <= 127 for r in z)
    lin = (
        pts.groupBy(F.shiftright(F.col("x") * 1024 + F.col("y"), 14).alias("b"))
        .agg((F.max("y") - F.min("y")).alias("ys"))
        .collect()
    )
    assert max(r["ys"] for r in lin) > 900  # linear: leading column only


def test_write_zordered_files_prune_both_columns(spark, tmp_path):
    """The real payoff: per-FILE min/max footer spans. Z-clustered
    files bound BOTH columns; the same data written in linear x-order
    leaves y unbounded per file."""
    pts = (
        spark.range(0, 8192)
        .select(
            ((F.col("id") * 37) % 1024).alias("x"),
            ((F.col("id") * 101) % 1024).alias("y"),
        )
        .distinct()
    )
    zdir = str(tmp_path / "z")
    ldir = str(tmp_path / "linear")
    write_zordered(pts, zdir, "x", "y", num_files=16)
    (
        pts.repartitionByRange(16, "x", "y")
        .sortWithinPartitions("x", "y")
        .write.mode("overwrite")
        .parquet(ldir)
    )

    def file_spans(path):
        df = spark.read.parquet(path).withColumn(
            "f", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        return (
            df.groupBy("f")
            .agg(
                (F.max("x") - F.min("x")).alias("xs"),
                (F.max("y") - F.min("y")).alias("ys"),
            )
            .collect()
        )

    zs = file_spans(zdir)
    ls = file_spans(ldir)
    # every z file bounds both dimensions; linear files bound only x
    assert max(r["ys"] for r in zs) <= 300
    assert max(r["xs"] for r in zs) <= 300
    assert max(r["ys"] for r in ls) > 900
    assert sum(r["xs"] for r in ls) / len(ls) < 100  # x tight under linear


def test_write_zordered_normalizes_out_of_grid_domains(spark, tmp_path):
    """Coordinates ≥ 2^bits and negative coordinates must keep their
    locality: range normalization maps any numeric domain monotonically
    onto the grid, where the old ``% 2^bits`` wrap aliased distant
    values onto the same cells and scattered neighbors."""
    # x in [1_000_000, 1_004_095] (>> 2^10), y in [-2048, 2047]
    pts = (
        spark.range(0, 4096)
        .select(
            (F.lit(1_000_000) + (F.col("id") * 37) % 4096).alias("x"),
            (((F.col("id") * 101) % 4096) - F.lit(2048)).alias("y"),
        )
        .distinct()
    )
    zdir = str(tmp_path / "z")
    write_zordered(pts, zdir, "x", "y", num_files=16)
    df = spark.read.parquet(zdir).withColumn(
        "f", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    spans = (
        df.groupBy("f")
        .agg(
            (F.max("x") - F.min("x")).alias("xs"),
            (F.max("y") - F.min("y")).alias("ys"),
        )
        .collect()
    )
    # domain span is 4096 per axis; compact rectangles stay well under
    # the full span on BOTH axes (old wrap left y unbounded per file)
    assert max(r["xs"] for r in spans) <= 1200
    assert max(r["ys"] for r in spans) <= 1200
    # round-trip preserves the data exactly
    assert spark.read.parquet(zdir).count() == pts.count()


def test_write_zordered_constant_column_degenerates_cleanly(spark, tmp_path):
    """A zero-span dimension maps to cell 0 everywhere instead of
    dividing by zero; the layout degrades to a 1-D sort on the other
    axis."""
    pts = spark.range(0, 512).select(
        F.lit(7).alias("x"), ((F.col("id") * 13) % 512).alias("y")
    )
    zdir = str(tmp_path / "z")
    write_zordered(pts, zdir, "x", "y", num_files=4)
    assert spark.read.parquet(zdir).count() == 512
