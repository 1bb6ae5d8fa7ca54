"""Reference silhouette against a numpy replay of the reference formulas
(SilhouetteEvaluation 1/2/3): ordered-pair intra mean, the |C|·(k−1)
inter divisor, NaN for a singleton in "nan" mode and a dropped
singleton in "skip" mode. The data needs nothing outside the repo:
seeded points with a singleton cluster, duplicated points and
non-contiguous cluster ids."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from mapreduce_kmeans_clustering_spark.operators.silhouette import silhouette_ref

REL = 1e-12
SCHEMA = StructType(
    [
        StructField("rid", LongType()),
        StructField("cluster", IntegerType()),
        StructField("x", DoubleType()),
        StructField("y", DoubleType()),
        StructField("z", DoubleType()),
    ]
)


def _points() -> tuple[np.ndarray, np.ndarray]:
    """Four clusters (ids 0, 2, 5, 7) of sizes 40, 25, 1 and 30; the
    first five points of cluster 2 and one of cluster 7 are repeated,
    so some intra pairs have distance 0 off the diagonal."""
    rng = np.random.default_rng(20261017)
    sizes = {0: 40, 2: 25, 5: 1, 7: 30}
    xyz, lab = [], []
    for c, n in sizes.items():
        xyz.append(rng.normal(loc=40.0 * c, scale=6.0, size=(n, 3)).round(3))
        lab += [c] * n
    xyz = np.vstack(xyz)
    lab = np.array(lab)
    dup = np.r_[np.flatnonzero(lab == 2)[:5], np.flatnonzero(lab == 7)[:1]]
    order = rng.permutation(len(lab) + len(dup))
    return np.vstack([xyz, xyz[dup]])[order], np.r_[lab, lab[dup]][order]


def _replay(xyz: np.ndarray, lab: np.ndarray, singleton: str) -> dict:
    """The reference's per-cluster loop, with exactly rounded sums."""
    dist = np.sqrt(((xyz[:, None, :] - xyz[None, :, :]) ** 2).sum(axis=-1))
    clusters = sorted(set(lab.tolist()))
    k = len(clusters)
    out = {}
    for c in clusters:
        mine = lab == c
        n = int(mine.sum())
        if n == 1 and singleton == "skip":
            continue
        intra = math.fsum(dist[np.ix_(mine, mine)].ravel()) / (n * (n - 1)) if n > 1 else math.nan
        inter = math.fsum(dist[np.ix_(mine, ~mine)].ravel()) / (n * (k - 1))
        sil = math.nan if math.isnan(intra) else (inter - intra) / max(intra, inter)
        out[c] = (intra, inter, sil)
    return out


def _frame(spark, xyz, lab, partitions: int):
    rows = [(i, int(c), *map(float, p)) for i, (p, c) in enumerate(zip(xyz, lab))]
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), SCHEMA)


def _close(a: float, b: float) -> bool:
    return (math.isnan(a) and math.isnan(b)) or a == pytest.approx(b, rel=REL)


def _assert_matches(got: list, want: dict) -> None:
    assert [r["cluster"] for r in got] == sorted(want)
    for r in got:
        for field, w in zip(("avg_intra", "avg_inter", "silhouette"), want[r["cluster"]]):
            assert _close(r[field], w), (r["cluster"], field, r[field], w)


@pytest.mark.parametrize("singleton", ["nan", "skip"])
def test_silhouette_ref_matches_numpy_replay(spark, singleton):
    xyz, lab = _points()
    want = _replay(xyz, lab, singleton)
    runs = [
        silhouette_ref(_frame(spark, xyz, lab, parts), singleton=singleton).collect()
        for parts in (1, 3)
    ]
    for got in runs:
        _assert_matches(got, want)
    # 1 and 3 input splits agree with each other, not only with numpy
    for a, b in zip(*runs):
        assert all(_close(a[f], b[f]) for f in ("avg_intra", "avg_inter", "silhouette"))


def test_silhouette_ref_limit_rids(spark):
    xyz, lab = _points()
    limit = 60
    keep = np.arange(len(lab)) < limit
    want = _replay(xyz[keep], lab[keep], "nan")
    for parts in (1, 3):
        subset = _frame(spark, xyz, lab, parts).where(F.col("rid") < limit)
        got = silhouette_ref(subset).collect()
        _assert_matches(got, want)


def test_silhouette_ref_schema_and_guards(spark):
    xyz, lab = _points()
    df = _frame(spark, xyz, lab, 1)
    out = silhouette_ref(df)
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        ("cluster", IntegerType()),
        ("avg_intra", DoubleType()),
        ("avg_inter", DoubleType()),
        ("silhouette", DoubleType()),
    ]
    with pytest.raises(ValueError, match="singleton"):
        silhouette_ref(df, singleton="drop")
    with pytest.raises(ValueError, match="rid"):
        silhouette_ref(df.drop("rid"))
