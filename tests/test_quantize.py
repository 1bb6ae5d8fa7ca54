"""int8 embedding quantization: reconstruction bound, code range,
zero-vector guard."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.operators.quantize import (
    quantization_error,
    quantize_expr,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


def _codes(df):
    """(vec_id, scale, q): the int8 codes per vector."""
    scale, q = quantize_expr(F.col("embedding"))
    return df.select("vec_id", scale.alias("scale"), q.alias("q"))


def test_codes_in_int8_range_and_bounded_error(spark):
    df = _df(
        spark,
        [
            (1, [1.0, -2.5, 3.75, -127.0]),
            (2, [0.001, 0.002, -0.003, 0.0005]),
        ],
    )
    out = {r["vec_id"]: r for r in _codes(df).collect()}
    src = {r["vec_id"]: r["embedding"] for r in df.collect()}
    for vid, r in out.items():
        assert all(-127 <= c <= 127 for c in r["q"])
        # symmetric quantization reconstruction bound: |x - q*s| <= s/2
        for x, c in zip(src[vid], r["q"]):
            assert abs(x - c * r["scale"]) <= r["scale"] / 2 + 1e-12


def test_zero_vector_guard(spark):
    out = _codes(_df(spark, [(1, [0.0, 0.0, 0.0])])).collect()[0]
    assert out["scale"] == 0.0
    assert out["q"] == [0, 0, 0]
    err = quantization_error(_df(spark, [(1, [0.0, 0.0, 0.0])])).collect()[0]
    assert err["mse"] == 0.0 and err["q_sum"] == 0


def test_max_element_maps_to_127(spark):
    out = _codes(_df(spark, [(1, [10.0, -5.0, 2.0])])).collect()[0]
    assert max(abs(c) for c in out["q"]) == 127
