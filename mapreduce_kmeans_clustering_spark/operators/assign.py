"""Nearest-centroid assignment (reference operators O4 + O5) and the
broadcast that feeds it (O3).

Reference semantics (Task1.java:36-54, cloned in 8 other files):
linear scan over K centroids, strict ``<`` comparison — on an exact
distance tie the LOWEST-INDEX centroid wins. A naive unordered argmin
(or MLlib's ``KMeansModel.transform``) does not pin that.

Spark-first design: one argmin expression over K candidates,

    array_min(array(named_struct('dist', dist_0, 'id', id_0), ...)).id

Struct comparison is lexicographic (dist first, then id), so
``array_min`` is exactly "min distance, ties to lowest id". Distances
are ``sqrt(((dx*dx + dy*dy) + dz*dz))``, the same arithmetic order as
the SQL oracles.

``assign`` ships the centroid coordinates as DATA: one
``functions/literals.const_row`` holding all K×(x, y, z) values,
cross-joined to the points under a broadcast hint
(BroadcastNestedLoopJoin with no condition, no shuffle). Only the K
centroid ids are plan literals, so the generated code of a Lloyd step
depends on K and the ids alone and whole-stage codegen compiles once
per fit instead of once per step. The per-step broadcast is one 1-task
job of a few hundred bytes. This replaces the reference's
side-file-in-mapper-setup channel (Task1.java:20-23): at 100 TB the
assignment stage stays an embarrassingly-parallel scan. A streaming
relation takes the same path as a stream-static cross join
(``streaming/kmeans_stream.py``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from mapreduce_kmeans_clustering_spark.functions.literals import const_row
from mapreduce_kmeans_clustering_spark.sources.seeds import Centroid


def _argmin_sql(ids: Sequence[int], coords: Sequence[str], axes: Sequence[str]) -> str:
    """SQL text of the lowest-id argmin over K candidates. ``coords``
    holds 3K column names, the (x, y, z) of each centroid in ``ids``
    order; ``axes`` names the point columns."""
    if not ids:
        raise ValueError("empty centroid list")

    def dist(i: int) -> str:
        d = [f"(`{col}` - {coords[3 * i + a]})" for a, col in enumerate(axes)]
        return f"sqrt((({d[0]} * {d[0]} + {d[1]} * {d[1]}) + {d[2]} * {d[2]}))"

    cands = ", ".join(
        f"named_struct('dist', {dist(i)}, 'id', {int(cid)})" for i, cid in enumerate(ids)
    )
    return f"array_min(array({cands})).id"


def assign(
    points: DataFrame,
    centroids: Sequence[Centroid],
    keep_cols: Sequence[str] | None = None,
) -> DataFrame:
    """points(x,y,z,...) -> assigned(cluster, x, y, z[, extras]).

    Mirrors the map phase Task1.java:26-34: the points cross-joined
    with the broadcast 1-row centroid relation, then one projection.
    """
    keep = list(keep_cols) if keep_cols is not None else list(points.columns)
    names = [f"__c{i}_{a}" for i in range(len(centroids)) for a in "xyz"]
    argmin = _argmin_sql([c.id for c in centroids], names, ("x", "y", "z"))
    coords = [float(v) for c in centroids for v in (c.x, c.y, c.z)]
    row = const_row(points.sparkSession, **dict(zip(names, coords)))
    return points.crossJoin(row).selectExpr(f"{argmin} AS cluster", *[f"`{c}`" for c in keep])
