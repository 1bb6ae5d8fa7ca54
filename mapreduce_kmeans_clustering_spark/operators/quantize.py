"""Embedding quantization: symmetric per-vector int8 compression of
array<float> embedding columns — the storage-reduction stage of a
training-data pipeline (4x smaller vectors; ANN recall typically
unchanged at int8).

Column-expression-only (codegen; per-row work is O(dim), no shuffle),
with the arithmetic shaped to be replayable in any SQL engine:
scale = max(|x|)/127, q_i = round(x_i / scale) (half away from zero in
both Spark and DuckDB), reconstruction x̂_i = q_i * scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Q_MAX = 127.0


def _as_double(vec_col: Column) -> Column:
    return F.transform(vec_col, lambda x: x.cast("double"))


def quantize_expr(v: Column) -> tuple[Column, Column]:
    """(scale, q array<int>) for a double-array column. Zero vectors
    get scale 0 and all-zero codes (guarded division)."""
    amax = F.array_max(F.transform(v, F.abs))
    scale = amax / F.lit(Q_MAX)
    safe = F.when(scale == 0.0, F.lit(1.0)).otherwise(scale)
    q = F.transform(v, lambda x: F.round(x / safe, 0).cast("int"))
    return scale, q


def quantization_error(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, scale, q_sum, mse): codes plus reconstruction error — the
    quality gate a pipeline runs before committing to the compressed
    representation. mse = mean((x - q*scale)^2) over dimensions."""
    v = _as_double(F.col(vec_col))
    scale, q = quantize_expr(v)
    df = embeddings.select(F.col(id_col), v.alias("_v"), scale.alias("scale"), q.alias("q"))
    recon_err = F.aggregate(
        F.zip_with(
            F.col("_v"),
            F.col("q"),
            lambda x, qq: (x - qq * F.col("scale")) * (x - qq * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    ) / F.size("_v")
    q_sum = F.aggregate(F.col("q"), F.lit(0), lambda acc, t: acc + t)
    return df.select(
        F.col(id_col),
        "scale",
        q_sum.cast("long").alias("q_sum"),
        recon_err.alias("mse"),
    )
