"""Interchange-format coverage: every Spark-native format a pipeline
needs to ingest from or export to round-trips with schema fidelity.

Parquet is the primary store (everything else in the repo); these pin
the secondary formats — ORC (columnar interchange), JSONL (log/export
interchange), CSV (the reference's own input format, already covered
for points/seeds in sources/)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def sample(spark):
    return spark.read.parquet("/root/testdata/sf0.001/orders.parquet")


def _assert_same(a, b, key="o_orderkey"):
    assert a.schema == b.schema, f"{a.schema} != {b.schema}"
    assert a.count() == b.count()
    diff = a.join(b, key, "full_outer").where(
        sum(
            (~a[c].eqNullSafe(b[c])).cast("int")
            for c in a.columns
            if c != key
        )
        > 0
    )
    assert diff.count() == 0


def test_orc_round_trip(spark, sample, tmp_path):
    out = str(tmp_path / "orders_orc")
    sample.write.mode("overwrite").option("compression", "zstd").orc(out)
    back = spark.read.orc(out)
    _assert_same(sample, back)


def test_jsonl_round_trip(spark, sample, tmp_path):
    out = str(tmp_path / "orders_json")
    sample.write.mode("overwrite").json(out)
    # JSON carries no types: read back with the writer's schema (the
    # contract any JSONL ingest at scale should follow — inference
    # costs an extra pass and can mistype empty partitions)
    back = spark.read.schema(sample.schema).json(out)
    _assert_same(sample, back)


def test_csv_round_trip_with_header(spark, sample, tmp_path):
    out = str(tmp_path / "orders_csv")
    sample.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(sample.schema).option("header", True).csv(out)
    _assert_same(sample, back)


def test_csv_malformed_failfast(spark, tmp_path):
    """FAILFAST is the posture the reference's point reader uses
    (sources/points.py); it must hold for arbitrary tabular reads."""
    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\nnot_a_number,xyz\n")
    df = (
        spark.read.schema("a INT, b INT")
        .option("header", True)
        .option("mode", "FAILFAST")
        .csv(str(p))
    )
    with pytest.raises(Exception, match="Malformed|FAILFAST"):
        df.collect()


def test_schema_evolution_merge(spark, tmp_path):
    """Lake reality: a writer adds a column mid-stream. mergeSchema
    unifies; old files read NULL for the new column."""
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id LONG, v STRING").write.parquet(out)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id LONG, v STRING, score DOUBLE"
    ).write.mode("append").parquet(out)
    back = spark.read.option("mergeSchema", True).parquet(out)
    assert set(back.columns) == {"id", "v", "score"}
    rows = {r["id"]: r for r in back.collect()}
    assert rows[1]["score"] is None
    assert rows[2]["score"] == 9.5


def test_corrupt_file_handling_both_postures(spark, tmp_path):
    """A truncated/garbage parquet file: default read raises (fail
    loudly), ignoreCorruptFiles=true skips it (keep the pipeline
    alive) — both postures must be available and predictable."""
    out = str(tmp_path / "mixed")
    spark.createDataFrame([(1,), (2,)], "id LONG").write.parquet(out)
    with open(f"{out}/part-corrupt.parquet", "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")
    strict = spark.read.parquet(out)
    with pytest.raises(Exception):
        strict.count()
    lax = (
        spark.read.option("ignoreCorruptFiles", True).parquet(out)
    )
    assert lax.count() == 2
