"""Distributed PCA over embedding columns — the dimensionality
reduction step a vector pipeline runs before ANN indexing or
whitening (reference has no analog; this is part of the engine's
LLM-data extension surface, same family as operators/similarity.py).

Physical shape (the only one that works at 100 TB):
- MOMENTS: one ``mapInArrow``/BLAS pass keeps each partition's
  moments (count, sum vector, Gram matrix X^T X) across its batches
  and packs them into a single array row; posexplode + one hash
  aggregate sums them — the shuffle carries (1 + dim + dim^2) keys per
  partition, never rows. For dim=64 that is 4,161 doubles per map
  task; a dim^2 partial per partition is too wide to collect on the
  driver, so this keeps its shuffle where the Lloyd step does not.
- DRIVER: covariance = G/n - mu mu^T is dim x dim (driver-tiny);
  np.linalg.eigh gives components. Eigen-decomposition of a 64x64
  matrix is microseconds — distributing it would be theater.
- PROJECT: scan-local mapInArrow, (A - mu) @ W^T per Arrow batch.

Numerical note: the moments pass sums doubles in partition order, so
low bits of the covariance can differ between partitionings — tests
compare with tolerances, and the eigenvector sign is canonicalized
(largest-|component| coordinate made positive) so downstream outputs
are stable.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class PcaModel:
    mean: list[float]  # dim
    components: list[list[float]]  # p rows x dim (rows are PCs)
    explained_variance: list[float]  # p eigenvalues, descending
    n_rows: int


def moments_nd(
    vectors: DataFrame, dim: int, vec_col: str = "embedding"
) -> tuple[int, "object", "object"]:
    """(n, sum[dim], gram[dim, dim]) in one pass: per-partition BLAS
    partials packed as one (1 + dim + dim^2) array, summed by a single
    position-keyed hash aggregate (partial->final map-side combine)."""
    import numpy as np

    from mapreduce_kmeans_clustering_spark.functions.arrow import _batch, _vectors

    width = 1 + dim + dim * dim

    def gen(batches):
        n, s, g = 0, np.zeros(dim), np.zeros((dim, dim))
        for batch in batches:
            A = _vectors(batch, vec_col, dim)
            n, s, g = n + len(A), s + A.sum(axis=0), g + A.T @ A
        yield _batch(m=np.concatenate(([float(n)], s, g.ravel()))[None, :])

    parts = vectors.select(vec_col).mapInArrow(gen, "m array<double>")
    summed = (
        parts.select(F.posexplode("m").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.sum("val").alias("s"))
        .collect()
    )
    flat = np.zeros(width)
    for r in summed:
        flat[r["pos"]] = r["s"]
    n = int(round(flat[0]))
    s = flat[1 : 1 + dim]
    g = flat[1 + dim :].reshape(dim, dim)
    return n, s, g


def pca_nd(
    vectors: DataFrame, dim: int, p: int, vec_col: str = "embedding"
) -> PcaModel:
    """Fit top-``p`` principal components from one distributed moments
    pass + a driver eigh on the dim x dim covariance."""
    import numpy as np

    if not 1 <= p <= dim:
        raise ValueError(f"p must be in [1, {dim}]")
    n, s, g = moments_nd(vectors, dim, vec_col)
    if n < 2:
        raise ValueError("PCA needs at least 2 rows")
    mu = s / n
    cov = g / n - np.outer(mu, mu)  # population covariance
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:p]
    comps = vecs[:, order].T  # p x dim
    # canonical sign: the largest-|x| coordinate of each PC is positive
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    return PcaModel(
        mean=[float(x) for x in mu],
        components=[[float(x) for x in r] for r in comps],
        explained_variance=[float(vals[i]) for i in order],
        n_rows=n,
    )


def project_nd(
    vectors: DataFrame,
    model: PcaModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Scan-local projection onto the fitted components:
    (A - mean) @ W^T per Arrow batch. Output dim = len(components)."""
    import numpy as np

    from mapreduce_kmeans_clustering_spark.functions.arrow import _batch, _vectors

    # W and mu ride the closure: a lazy frame could never destroy a broadcast
    W = np.asarray(model.components, dtype=np.float64)
    mu = np.asarray(model.mean, dtype=np.float64)

    def gen(batches):
        for batch in batches:
            P = (_vectors(batch, vec_col, len(mu)) - mu) @ W.T
            ids = np.asarray(batch.column(id_col), np.int64)
            yield _batch(**{id_col: ids, out_col: P})

    schema = f"{id_col} long, {out_col} array<double>"
    return vectors.select(id_col, vec_col).mapInArrow(gen, schema)
