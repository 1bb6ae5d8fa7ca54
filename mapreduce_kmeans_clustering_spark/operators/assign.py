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

``assign`` ships the centroid coordinates as DATA: one 1-row
``LocalRelation`` holding all K×(x, y, z) values, cross-joined to the
points under a broadcast hint (BroadcastNestedLoopJoin with no
condition, no shuffle). Only the K centroid ids are plan literals, so
the generated code of a Lloyd step depends on K and the ids alone and
whole-stage codegen compiles once per fit instead of once per step.
The per-step broadcast is one 1-task job of a few hundred bytes. This
replaces the reference's side-file-in-mapper-setup channel
(Task1.java:20-23): at 100 TB the assignment stage stays an
embarrassingly-parallel scan.

``assignment_expr`` renders the same argmin with the coordinates as
literals, for callers without a join (streaming micro-batches).

``assign_join`` is the dynamic-K variant (broadcast-hash-join +
min_by) for when centroids are a DataFrame, e.g. produced upstream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.functions.distance import euclidean
from mapreduce_kmeans_clustering_spark.functions.literals import sql_double
from mapreduce_kmeans_clustering_spark.sources.seeds import Centroid


def _argmin_sql(
    ids: Sequence[int], coords: Sequence[str], axes: Sequence[str], use_sqrt: bool
) -> str:
    """SQL text of the lowest-id argmin over K candidates. ``coords``
    holds 3K SQL terms, the (x, y, z) of each centroid in ``ids``
    order; ``axes`` names the point columns."""
    if not ids:
        raise ValueError("empty centroid list")

    def dist(i: int) -> str:
        d = [f"(`{col}` - {coords[3 * i + a]})" for a, col in enumerate(axes)]
        sq = f"(({d[0]} * {d[0]} + {d[1]} * {d[1]}) + {d[2]} * {d[2]})"
        return f"sqrt({sq})" if use_sqrt else sq

    cands = ", ".join(
        f"named_struct('dist', {dist(i)}, 'id', {int(cid)})" for i, cid in enumerate(ids)
    )
    return f"array_min(array({cands})).id"


def _coord_literals(centroids: Sequence[Centroid]) -> list[str]:
    return [sql_double(v) for c in centroids for v in (c.x, c.y, c.z)]


def assignment_expr(
    centroids: Sequence[Centroid],
    x: str = "x",
    y: str = "y",
    z: str = "z",
    use_sqrt: bool = True,
) -> Column:
    """Column expression: cluster id of the nearest centroid,
    first-index-wins on ties (Task1.java:46-49), with the coordinates
    as ``-0.0``-safe literals.

    ``use_sqrt=False`` uses squared distance — same argmin (sqrt is
    monotonic) and same tie behavior, one fewer sqrt per (row,
    centroid). Kept as an option; defaults to the reference's exact
    arithmetic.
    """
    ids = [c.id for c in centroids]
    return F.expr(_argmin_sql(ids, _coord_literals(centroids), (x, y, z), use_sqrt))


def assign(
    points: DataFrame,
    centroids: Sequence[Centroid],
    keep_cols: Sequence[str] | None = None,
    use_sqrt: bool = True,
) -> DataFrame:
    """points(x,y,z,...) -> assigned(cluster, x, y, z[, extras]).

    Mirrors the map phase Task1.java:26-34: the points cross-joined
    with the broadcast 1-row centroid relation, then one projection.
    """
    keep = list(keep_cols) if keep_cols is not None else list(points.columns)
    names = [f"__c{i}_{a}" for i in range(len(centroids)) for a in "xyz"]
    argmin = _argmin_sql([c.id for c in centroids], names, ("x", "y", "z"), use_sqrt)
    row = points.sparkSession.sql(
        f"SELECT /*+ BROADCAST(c) */ * FROM VALUES ({', '.join(_coord_literals(centroids))})"
        f" AS c({', '.join(names)})"
    )
    return points.crossJoin(row).selectExpr(f"{argmin} AS cluster", *[f"`{c}`" for c in keep])


def assign_join(points: DataFrame, seeds: DataFrame) -> DataFrame:
    """Dynamic-K assignment via explicit broadcast-hash-join + min_by.

    ``min_by(id, struct(dist, id))`` pins the same lowest-index
    tie-break. One shuffle-free broadcast join + partial-aggregated
    groupBy on the (unique) row key.
    """
    if "rid" not in points.columns:
        raise ValueError("assign_join requires a rid column (use with_rid)")
    p = points.alias("p")
    s = F.broadcast(seeds.alias("s"))
    d = euclidean(
        F.col("p.x"), F.col("p.y"), F.col("p.z"), F.col("s.x"), F.col("s.y"), F.col("s.z")
    )
    joined = p.crossJoin(s).select(
        F.col("p.rid").alias("rid"),
        F.col("p.x").alias("x"),
        F.col("p.y").alias("y"),
        F.col("p.z").alias("z"),
        F.struct(d.alias("dist"), F.col("s.id").alias("id")).alias("cand"),
    )
    return (
        joined.groupBy("rid")
        .agg(
            F.min("cand")["id"].alias("cluster"),
            F.first("x").alias("x"),
            F.first("y").alias("y"),
            F.first("z").alias("z"),
        )
        .select("cluster", "x", "y", "z", "rid")
    )
