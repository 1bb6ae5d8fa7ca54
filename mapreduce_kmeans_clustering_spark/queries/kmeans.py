"""K-Means / silhouette parity queries (SURVEY §2.3 Q-assign..Q-disp)
and the memoized scale relation, seeds and Lloyd chain they share.

The K-Means scale relation derives from lineitem (FIXTURES.md §5):
x=l_quantity, y=l_extendedprice/100, z=l_discount*1000,
rid=l_orderkey*10+l_linenumber. Seeds are the first K distinct
coordinate triples in ``(rid % 997, rid)`` order — a fixed
pseudo-spread, no RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.memo import memo
from mapreduce_kmeans_clustering_spark.operators.aggregate import (
    members,
    update_centroids,
)
from mapreduce_kmeans_clustering_spark.operators.assign import assign
from mapreduce_kmeans_clustering_spark.operators.silhouette import silhouette_ref
from mapreduce_kmeans_clustering_spark.queries._shared import query
from mapreduce_kmeans_clustering_spark.sources.points import points_from_lineitem
from mapreduce_kmeans_clustering_spark.sources.seeds import Centroid

K = 5
SIL_RID_LIMIT = 50_000  # deterministic ~2k-row subset for the O(n^2) silhouette ops

SQL_PTS = """
pts AS (
  SELECT (l_orderkey * 10 + l_linenumber) * 10
           + row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                                ORDER BY l_quantity, l_extendedprice, l_discount)
           AS rid,
         CAST(l_quantity AS DOUBLE) AS x,
         l_extendedprice / 100.0 AS y,
         l_discount * 1000.0 AS z
  FROM lineitem
)"""

SQL_SEEDS = """
sd AS (
  SELECT x, y, z, min((rid % 997) * 1000000000000 + rid) AS mk
  FROM pts GROUP BY x, y, z
),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY mk) - 1 AS INT) AS id, x, y, z
  FROM sd ORDER BY mk LIMIT 5
)"""


def _sql_assign(points_rel: str, seeds_rel: str, out: str, mat: bool = False) -> str:
    """SQL block assigning each row of ``points_rel`` to the nearest
    centroid of ``seeds_rel`` with (dist, id) tie-break.

    ``mat`` emits AS MATERIALIZED: required when the chain is deep AND
    multiply-referenced (q_chain_converge references every c_i from the
    next assign, two displacement CTEs, and the final pick — inlining
    would duplicate the whole upstream chain per reference, exponential
    in depth; measured as a 63 GB DuckDB spill at cap 8 before this)."""
    kw = "MATERIALIZED " if mat else ""
    return f"""
{out}_cand AS {kw}(
  SELECT p.rid, p.x, p.y, p.z, s.id,
         sqrt((p.x - s.x) * (p.x - s.x)
            + (p.y - s.y) * (p.y - s.y)
            + (p.z - s.z) * (p.z - s.z)) AS dist
  FROM {points_rel} p CROSS JOIN {seeds_rel} s
),
{out} AS {kw}(
  SELECT rid, x, y, z, id AS cluster
  FROM (
    SELECT *, row_number() OVER (PARTITION BY rid ORDER BY dist, id) AS rn
    FROM {out}_cand
  ) WHERE rn = 1
)"""


def _sql_update(assigned_rel: str, out: str, mat: bool = False) -> str:
    kw = "MATERIALIZED " if mat else ""
    return f"""
{out} AS {kw}(
  SELECT cluster AS id,
         round(avg(x), 6) AS x,
         round(avg(y), 6) AS y,
         round(avg(z), 6) AS z
  FROM {assigned_rel} GROUP BY cluster
)"""


SQL_PRELUDE = f"WITH {SQL_PTS},{SQL_SEEDS},{_sql_assign('pts', 'seeds', 'asg1')},{_sql_update('asg1', 'c1')}"


@memo
def scale_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lineitem-derived points relation, persisted (buffer-pool
    caching of a hot derived table: the rid window costs a full
    shuffle, and most registered queries start from this exact
    relation). MEMORY_AND_DISK, so larger SFs degrade gracefully."""
    from pyspark.storagelevel import StorageLevel

    return points_from_lineitem(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)


# Collected seed lists / iteration chains are tiny (K rows) but cost a
# full points-scan job to derive and several registered queries share
# them. Values are plain Python lists: memoizing them changes job
# count, never results.
@memo
def scale_seeds(spark: SparkSession, sf_dir: str) -> list[Centroid]:
    """First K distinct coordinate triples by min((rid%997)*1e12+rid).
    One tiny aggregation job; collects exactly K rows."""
    pts = scale_points(spark, sf_dir)
    mk = (F.col("rid") % 997) * F.lit(1_000_000_000_000) + F.col("rid")
    rows = (
        pts.select("x", "y", "z", mk.alias("mk"))
        .groupBy("x", "y", "z")
        .agg(F.min("mk").alias("mk"))
        .orderBy("mk")
        .limit(K)
        .collect()
    )
    return [Centroid(i, r["x"], r["y"], r["z"]) for i, r in enumerate(rows)]


@memo
def chain_centroids(spark: SparkSession, sf_dir: str, r: int) -> list[Centroid]:
    """r Lloyd iterations from the seeds with 6-decimal centroid
    rounding between steps (the rounding is part of the declared query
    so Spark and the SQL oracle stay on bit-identical centroids). One
    step on top of the memoized r-1 chain: iteration i+1 is a pure
    function of iteration i, so prefix reuse is exact."""
    if r == 0:
        return scale_seeds(spark, sf_dir)
    assigned = assign(
        scale_points(spark, sf_dir),
        chain_centroids(spark, sf_dir, r - 1),
        keep_cols=["x", "y", "z"],
    )
    rows = (
        update_centroids(assigned)
        .select(
            "id",
            F.round("x", 6).alias("x"),
            F.round("y", 6).alias("y"),
            F.round("z", 6).alias("z"),
        )
        .collect()
    )
    return sorted(Centroid(int(w["id"]), w["x"], w["y"], w["z"]) for w in rows)


def _assigned1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration assignment (seed centroids), keeping rid."""
    pts = scale_points(spark, sf_dir)
    return assign(pts, scale_seeds(spark, sf_dir), keep_cols=["rid", "x", "y", "z"])


@query(oracle=f"{SQL_PRELUDE} SELECT rid, x, y, z, cluster FROM asg1")
def q_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _assigned1(spark, sf_dir).select("rid", "x", "y", "z", "cluster")


@query(oracle=f"{SQL_PRELUDE} SELECT id, x, y, z FROM c1")
def q_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    upd = update_centroids(_assigned1(spark, sf_dir).select("cluster", "x", "y", "z"))
    return upd.select(
        "id",
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("z", 6).alias("z"),
    )


@query(oracle=(
    f"{SQL_PRELUDE},{_sql_assign('pts', 'c1', 'asg2')},{_sql_update('asg2', 'c2')}"
    " SELECT id, x, y, z FROM c2"
))
def q_chain2(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = chain_centroids(spark, sf_dir, 2)
    return spark.createDataFrame(
        [(c.id, c.x, c.y, c.z) for c in cents], schema="id INT, x DOUBLE, y DOUBLE, z DOUBLE"
    )


@query(oracle=(
    SQL_PRELUDE
    + "".join(
        f",{_sql_assign('pts', f'c{i}', f'asg{i + 1}')},{_sql_update(f'asg{i + 1}', f'c{i + 1}')}"
        for i in range(1, 5)
    )
    + " SELECT id, x, y, z FROM c5"
))
def q_chain5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroids after 5 fixed Lloyd iterations — the scale twin of the
    reference's Task2 (numIterations = 5, Task2.java:144)."""
    cents = chain_centroids(spark, sf_dir, 5)
    return spark.createDataFrame(
        [(c.id, c.x, c.y, c.z) for c in cents], schema="id INT, x DOUBLE, y DOUBLE, z DOUBLE"
    )


CONVERGE_THRESHOLD = 45.0  # stops at iter 7 (sf0.001) / 4 (sf0.01)
CONVERGE_CAP = 8


def _sql_chain_converge(threshold: float = CONVERGE_THRESHOLD) -> str:
    """Unrolled early-stop chain: CONVERGE_CAP assign/update rounds,
    per-round displacement CTEs, first-below-threshold stop pick, and
    the centroids of the stop round tagged with its index. Identical
    rounding/arithmetic contract to q_chain5's oracle. threshold=0.0
    is the cap-binds twin (strict `<` never fires, ELSE cap)."""
    cap = CONVERGE_CAP
    # every chain node is multiply-referenced here, so materialize the
    # whole prelude + chain (see _sql_assign's mat note)
    sql = f"WITH {SQL_PTS},{SQL_SEEDS},{_sql_assign('pts', 'seeds', 'asg1', mat=True)},{_sql_update('asg1', 'c1', mat=True)}"
    for name in ("pts", "sd", "seeds"):
        sql = sql.replace(f"{name} AS (", f"{name} AS MATERIALIZED (")
    for i in range(1, cap):
        sql += f",{_sql_assign('pts', f'c{i}', f'asg{i + 1}', mat=True)},{_sql_update(f'asg{i + 1}', f'c{i + 1}', mat=True)}"
    dist = (
        "sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)"
        " + (a.z - b.z) * (a.z - b.z))"
    )
    for i in range(1, cap + 1):
        prev_rel = "seeds" if i == 1 else f"c{i - 1}"
        sql += (
            f",d{i} AS (SELECT sum({dist}) AS d"
            f" FROM {prev_rel} a JOIN c{i} b USING (id))"
        )
    stop_case = (
        "CASE "
        + " ".join(
            f"WHEN (SELECT d FROM d{i}) < {threshold} THEN {i}"
            for i in range(1, cap + 1)
        )
        + f" ELSE {cap} END"
    )
    finals = " UNION ALL ".join(
        f"SELECT id, x, y, z FROM c{i} WHERE (SELECT it FROM stop) = {i}"
        for i in range(1, cap + 1)
    )
    return (
        f"{sql},stop AS (SELECT {stop_case} AS it)"
        f" SELECT id, x, y, z, CAST((SELECT it FROM stop) AS INT) AS stop_iter"
        f" FROM ({finals})"
    )


@query(oracle=_sql_chain_converge())
def q_chain_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early-termination Lloyd chain at scale (Task3.java:185-218's
    convergence loop as an oracle-checked query): iterate
    assign→update with 6-decimal inter-iteration rounding, stop at the
    first iteration whose total centroid displacement (sum of Euclidean
    norms, reference metric Task3.java:121-126) drops below
    CONVERGE_THRESHOLD, cap at CONVERGE_CAP. Returns the K final
    centroids tagged with stop_iter.

    The threshold compare happens on a driver-side sum of K=5 sqrt
    terms over the ROUNDED centroid doubles — the same doubles the
    DuckDB oracle sums, so the stop decision agrees across engines
    (a disagreement would need the sum within one ulp of the
    threshold). chain_centroids memoizes prefixes, so the loop extends
    one iteration at a time, never recomputing."""
    return _chain_converge(spark, sf_dir, CONVERGE_THRESHOLD)


@query(oracle=_sql_chain_converge(0.0))
def q_chain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cap-binds twin of q_chain_converge: threshold 0.0, and the
    displacement test is strict `<`, so no iteration can early-stop
    and the loop must run all CONVERGE_CAP rounds with
    stop_iter == CONVERGE_CAP. This oracle-checks the reference's
    cap-without-convergence exit (Task3.java:192: the iteration loop's
    bound firing before the convergence break) — q_chain_converge only
    ever exercises the early-break path at both driver SFs."""
    return _chain_converge(spark, sf_dir, 0.0)


def _chain_converge(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    import math

    prev = sorted(scale_seeds(spark, sf_dir), key=lambda c: c.id)
    stop = CONVERGE_CAP
    cur = prev
    for i in range(1, CONVERGE_CAP + 1):
        cur = sorted(chain_centroids(spark, sf_dir, i), key=lambda c: c.id)
        disp = sum(
            math.sqrt(
                (a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y)
                + (a.z - b.z) * (a.z - b.z)
            )
            for a, b in zip(prev, cur)
        )
        if disp < threshold:
            stop = i
            break
        prev = cur
    return spark.createDataFrame(
        [(c.id, c.x, c.y, c.z, stop) for c in cur],
        schema="id INT, x DOUBLE, y DOUBLE, z DOUBLE, stop_iter INT",
    )


@query(oracle=(
    f"{SQL_PRELUDE},{_sql_assign('pts', 'c1', 'lab')}"
    " SELECT rid, x, y, z, cluster FROM lab"
))
def q_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11: full dataset labeled with the after-one-iteration centroids."""
    cents = chain_centroids(spark, sf_dir, 1)
    pts = scale_points(spark, sf_dir)
    return assign(pts, cents, keep_cols=["rid", "x", "y", "z"]).select(
        "rid", "x", "y", "z", "cluster"
    )


@query(oracle=f"""{SQL_PRELUDE}
SELECT cluster,
       round(avg(x), 6) AS cx,
       round(avg(y), 6) AS cy,
       round(avg(z), 6) AS cz,
       count(*) AS n,
       round(sum(x) + sum(y) + sum(z), 4) AS member_sum
FROM asg1 GROUP BY cluster""")
def q_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O12 through the real collect_list operator; compared via size +
    coordinate checksums derived from the member array."""
    m = members(_assigned1(spark, sf_dir).select("cluster", "x", "y", "z"))
    arr_sum = lambda field: F.aggregate(  # noqa: E731
        F.col("points"), F.lit(0.0), lambda acc, p: acc + p[field]
    )
    return m.select(
        "cluster",
        F.round("cx", 6).alias("cx"),
        F.round("cy", 6).alias("cy"),
        F.round("cz", 6).alias("cz"),
        F.size("points").cast("long").alias("n"),
        F.round(arr_sum("x") + arr_sum("y") + arr_sum("z"), 4).alias("member_sum"),
    )


@memo
def _sil_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-row silhouette stats table; q_intra/q_inter/q_sil are three
    projections of it, so the collected rows are memoized like the seed
    lists (materialized-view reuse — K rows, never the data)."""
    sub = _assigned1(spark, sf_dir).where(F.col("rid") < SIL_RID_LIMIT)
    stats = silhouette_ref(sub, singleton="skip")
    return spark.createDataFrame(stats.collect(), schema=stats.schema)


_SQL_SUB = f"sub AS (SELECT * FROM asg1 WHERE rid < {SIL_RID_LIMIT})"
_SQL_SIZES = "sizes AS (SELECT cluster, count(*) AS n FROM sub GROUP BY cluster)"
_SQL_DIST_AB = (
    "sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)"
    " + (a.z - b.z) * (a.z - b.z))"
)
_SQL_INTRA = f"""
intra AS (
  SELECT a.cluster, sum({_SQL_DIST_AB}) AS s
  FROM sub a JOIN sub b ON a.cluster = b.cluster AND a.rid <> b.rid
  GROUP BY a.cluster
)"""
_SQL_INTER = f"""
inter AS (
  SELECT a.cluster, sum({_SQL_DIST_AB}) AS s
  FROM sub a JOIN sub b ON a.cluster <> b.cluster
  GROUP BY a.cluster
)"""
_SQL_KCOUNT = "kc AS (SELECT count(*) AS k FROM sizes)"
_SQL_SIL_STATS = f"""
{_SQL_SUB},
{_SQL_SIZES},
{_SQL_KCOUNT},
{_SQL_INTRA},
{_SQL_INTER},
sil_stats AS (
  SELECT z.cluster,
         coalesce(i.s, 0) / (z.n * (z.n - 1)) AS avg_intra,
         coalesce(e.s, 0) / (z.n * (kc.k - 1)) AS avg_inter
  FROM sizes z
  LEFT JOIN intra i USING (cluster)
  LEFT JOIN inter e USING (cluster)
  CROSS JOIN kc
  WHERE z.n > 1
)"""


@query(oracle=f"{SQL_PRELUDE},{_SQL_SIL_STATS} SELECT cluster, round(avg_intra, 4) AS avg_intra FROM sil_stats")
def q_intra(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sil_stats(spark, sf_dir).select(
        "cluster", F.round("avg_intra", 4).alias("avg_intra")
    )


@query(oracle=f"{SQL_PRELUDE},{_SQL_SIL_STATS} SELECT cluster, round(avg_inter, 4) AS avg_inter FROM sil_stats")
def q_inter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sil_stats(spark, sf_dir).select(
        "cluster", F.round("avg_inter", 4).alias("avg_inter")
    )


@query(oracle=f"""{SQL_PRELUDE},{_SQL_SIL_STATS}
SELECT cluster,
       round((avg_inter - avg_intra) / greatest(avg_intra, avg_inter), 6) AS silhouette
FROM sil_stats""")
def q_sil(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sil_stats(spark, sf_dir).select(
        "cluster", F.round("silhouette", 6).alias("silhouette")
    )


@query(oracle=f"""{SQL_PRELUDE}
SELECT round(sum(sqrt((s.x - c.x) * (s.x - c.x)
                    + (s.y - c.y) * (s.y - c.y)
                    + (s.z - c.z) * (s.z - c.z))), 4) AS displacement
FROM seeds s JOIN c1 c USING (id)""")
def q_disp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 metric engine-side: seeds vs after-one-iteration centroids."""
    seeds = scale_seeds(spark, sf_dir)
    c1 = chain_centroids(spark, sf_dir, 1)
    a = spark.createDataFrame(
        [(c.id, c.x, c.y, c.z) for c in seeds], schema="id INT, x DOUBLE, y DOUBLE, z DOUBLE"
    )
    b = spark.createDataFrame(
        [(c.id, c.x, c.y, c.z) for c in c1], schema="id INT, x DOUBLE, y DOUBLE, z DOUBLE"
    )
    d = F.sqrt(
        (a["x"] - b["x"]) * (a["x"] - b["x"])
        + (a["y"] - b["y"]) * (a["y"] - b["y"])
        + (a["z"] - b["z"]) * (a["z"] - b["z"])
    )
    return (
        a.join(b, a["id"] == b["id"])
        .select(d.alias("d"))
        .agg(F.round(F.sum("d"), 4).alias("displacement"))
    )
