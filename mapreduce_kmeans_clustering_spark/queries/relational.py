"""Relational queries over the TPC-H tables: pricing and revenue
rollups, multi-way joins, anti- and semi-joins, grouping sets and
cubes, per-group top-k, baskets and co-purchase graphs, nation reach,
skylines, allocation, FIFO matching, snapshot diffs and record linkage.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_kmeans_clustering_spark.operators import allocation as AL
from mapreduce_kmeans_clustering_spark.operators import dedup as D
from mapreduce_kmeans_clustering_spark.operators import diff as DF
from mapreduce_kmeans_clustering_spark.operators import incremental as INC
from mapreduce_kmeans_clustering_spark.operators import joins as J
from mapreduce_kmeans_clustering_spark.operators import skyline as SKY
from mapreduce_kmeans_clustering_spark.operators.graph import bfs_levels
from mapreduce_kmeans_clustering_spark.queries._shared import _t, query

# q_idle_rich_customers "no recent orders" cutoff (see its docstring).
IDLE_CUTOFF = "1999-01-01"


@query(oracle="""
SELECT a.s_suppkey AS a, b.s_suppkey AS b,
       a.s_name AS name_a, b.s_name AS name_b,
       levenshtein(a.s_name, b.s_name)::INT AS dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1""")
def q_fuzzy_suppliers(spark, sf_dir):
    """Fuzzy record linkage: supplier-name pairs within Levenshtein
    distance 1 via deletion-neighborhood blocking (operators/joins.
    fuzzy_self_join_ed1 — exact: blocking is provably complete for
    ed<=1, verify filter drops shared-deletion distance-2 pairs). The
    oracle is the BRUTE pairwise join, so the driver equality check is
    the completeness proof on real data."""
    supp = _t(spark, sf_dir, "supplier")
    return J.fuzzy_self_join_ed1(
        supp.select(F.col("s_suppkey"), F.col("s_name")),
        name_col="s_name",
        id_col="s_suppkey",
    )


@query(oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*)::BIGINT AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")
def q_sales_cube(spark, sf_dir):
    """CUBE over (returnflag, linestatus) — all grouping-set
    combinations in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


@query(oracle="""
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
FROM orders""")
def q_customer_cumulative(spark, sf_dir):
    """Running revenue per customer over order date — a cumulative
    ROWS frame (deterministic: date ties broken by order key, so the
    in-frame summation order is pinned on both engines)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("cum_revenue"),
    )


@query(oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus""")
def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


@query(oracle="""
WITH rev AS (
  SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY l_orderkey),
j AS (
  SELECT o_orderkey, c_custkey, c_mktsegment, revenue
  FROM rev JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey),
r AS (SELECT *, row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS rank FROM j)
SELECT o_orderkey, c_custkey, c_mktsegment, revenue, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10""")
def q_top_orders(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    joined = rev.join(
        orders, rev["l_orderkey"] == orders["o_orderkey"]
    ).join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
    return (
        joined.select("o_orderkey", "c_custkey", "c_mktsegment", "revenue")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 10)
    )


@query(oracle="""
SELECT p_brand, n_name AS supp_nation,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE l_shipdate >= TIMESTAMP '1999-01-01'
GROUP BY p_brand, n_name""")
def q_brand_revenue(spark, sf_dir):
    """Revenue per (part brand, supplier nation) for recent shipments:
    the fact table joins three broadcast dims, with the date predicate
    pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("p_brand", F.col("n_name").alias("supp_nation"))
        .agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
    )


@query(oracle="""
SELECT p_partkey, p_brand FROM part
WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_discount > 0.08)""")
def q_parts_no_discount(spark, sf_dir):
    """Anti-join breadth (absent from the reference, SURVEY §2.2):
    parts that never shipped with a deep discount. LEFT ANTI against
    the filtered fact table — Catalyst builds the filtered key set
    once, no materialized distinct needed."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    deep = li.where(F.col("l_discount") > 0.08).select("l_partkey")
    return part.join(
        deep, F.col("p_partkey") == F.col("l_partkey"), "left_anti"
    ).select("p_partkey", "p_brand")


@query(oracle="""
SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
       count(*)::BIGINT AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)""")
def q_region_rollup(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    ).join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
    )


@query(oracle="""
SELECT n_name,
       count(DISTINCT o_custkey)::BIGINT AS active_customers,
       count(DISTINCT o_orderpriority)::BIGINT AS n_priorities,
       count(*)::BIGINT AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name""")
def q_priority_distinct(spark, sf_dir):
    """Multi-distinct aggregation per nation over the orders fact:
    Catalyst plans this as a single Expand + two-phase aggregate, so
    it stays one shuffle despite two DISTINCT columns."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("active_customers"),
            F.count_distinct("o_orderpriority").cast("long").alias("n_priorities"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )


@query(oracle="""
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""")
def q_order_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the generalization CUBE/ROLLUP queries
    specialize): per-priority and per-status order totals plus a grand
    total in one pass — Catalyst plans a single Expand, one shuffle."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView(
        "__orders_gs"
    )
    return spark.sql(
        """
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@query(oracle="""
WITH buyers AS (
  SELECT c_mktsegment, 'big_order' AS via FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)),
rich AS (
  SELECT c_mktsegment, 'high_balance' AS via FROM customer WHERE c_acctbal > 5000)
SELECT c_mktsegment, via, count(*)::BIGINT AS n_customers
FROM (SELECT * FROM buyers UNION ALL SELECT * FROM rich)
GROUP BY c_mktsegment, via""")
def q_engaged_customers(spark, sf_dir):
    """Semi-join + UNION ALL (the two §2.2 shapes not yet named in the
    registry): customers that placed a high-value order, unioned with
    customers holding a high account balance, counted per segment with
    their provenance."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 150000).select("o_custkey")
    buyers = cust.join(
        big, cust["c_custkey"] == big["o_custkey"], "left_semi"
    ).select("c_mktsegment", F.lit("big_order").alias("via"))
    rich = cust.where(F.col("c_acctbal") > 5000).select(
        "c_mktsegment", F.lit("high_balance").alias("via")
    )
    return (
        buyers.unionAll(rich)
        .groupBy("c_mktsegment", "via")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def _nation_trade_edges(spark, sf_dir):
    """Directed nation-level trade graph: supplier nation -> customer
    nation for every lineitem shipment (self-loops dropped) — a small
    dense graph whose authority ranking is deterministic and
    SQL-replayable. Shape: fact-table equi-joins + two broadcast
    nation joins; the distinct() inside pagerank collapses it to at
    most 25x24 edges regardless of corpus size."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))),
            F.col("c_nationkey") == F.col("ck"),
        )
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def _pagerank_sql(iters: int, d: float) -> str:
    """Unrolled PageRank oracle: the same damped power iteration
    operators/graph.pagerank runs (uniform init, dangling mass shared
    uniformly, rank = (1-d)/n + d*dang/n + d*inflow), one CTE block
    per iteration — iterative algorithms stay oracle-checkable when
    the iteration count is a fixed plan constant."""
    head = f"""
WITH e AS (SELECT DISTINCT sn.n_name AS src, cn.n_name AS dst
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation sn ON s.s_nationkey = sn.n_nationkey
           JOIN nation cn ON c.c_nationkey = cn.n_nationkey
           WHERE sn.n_name <> cn.n_name),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn)"""
    blocks = []
    for i in range(iters):
        blocks.append(
            f"""
d{i} AS (SELECT coalesce(sum(rank), 0.0) AS dang
         FROM r{i} LEFT JOIN deg ON node = src WHERE deg IS NULL),
c{i} AS (SELECT e.dst, sum(r.rank / deg.deg) AS inflow
         FROM r{i} r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
         GROUP BY e.dst),
r{i + 1} AS (SELECT node,
             (1 - {d}) / n + {d} * dang / n + {d} * coalesce(inflow, 0.0) AS rank
             FROM nodes CROSS JOIN nn CROSS JOIN d{i}
             LEFT JOIN c{i} ON node = c{i}.dst)"""
        )
    return (
        head
        + ","
        + ",".join(blocks)
        + f"""
SELECT node AS nation, round(rank, 6) AS rank FROM r{iters} ORDER BY nation"""
    )


@query(oracle=_pagerank_sql(PAGERANK_ITERS, PAGERANK_DAMPING))
def q_pagerank_nations(spark, sf_dir):
    """Damped PageRank over the nation-level trade graph
    (operators/graph.pagerank, 3 iterations, d=0.85) — the
    domain-authority signal a web-curation pipeline computes over the
    host link graph, exercised end-to-end on a deterministic
    relational graph so the iterative join-aggregate loop is
    oracle-checkable (the DuckDB oracle unrolls the same three
    iterations, dangling-mass correction included). Rank state is
    (node, rank); edges collapse to <= 25x24 rows."""
    from mapreduce_kmeans_clustering_spark.operators.graph import pagerank

    r = pagerank(
        _nation_trade_edges(spark, sf_dir),
        iters=PAGERANK_ITERS,
        damping=PAGERANK_DAMPING,
    )
    return r.select(
        F.col("node").alias("nation"), F.round("rank", 6).alias("rank")
    ).orderBy("nation")


TRIANGLE_ORDER_MOD = 7


# Triangle oracle: same degree-oriented wedge join, declaratively.
@query(oracle=f"""
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem
            WHERE l_orderkey % {TRIANGLE_ORDER_MOD} = 0),
e0 AS (SELECT DISTINCT a.s AS a, b.s AS b
       FROM li a JOIN li b ON a.o = b.o AND a.s < b.s),
deg AS (SELECT node, count(*)::BIGINT AS deg
        FROM (SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
        GROUP BY 1),
o AS (SELECT CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND e0.a < e0.b)
                  THEN e0.a ELSE e0.b END AS u,
             CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND e0.a < e0.b)
                  THEN e0.b ELSE e0.a END AS v,
             CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND e0.a < e0.b)
                  THEN db.deg ELSE da.deg END AS dv
      FROM e0 JOIN deg da ON e0.a = da.node JOIN deg db ON e0.b = db.node),
w AS (SELECT o1.u AS u, o1.v AS v1, o2.v AS v2
      FROM o o1 JOIN o o2 ON o1.u = o2.u
      WHERE (o1.dv < o2.dv) OR (o1.dv = o2.dv AND o1.v < o2.v)),
tri AS (SELECT w.u, w.v1, w.v2
        FROM w JOIN o ON w.v1 = o.u AND w.v2 = o.v),
tn AS (SELECT node, count(*)::BIGINT AS n_triangles
       FROM (SELECT u AS node FROM tri
             UNION ALL SELECT v1 AS node FROM tri
             UNION ALL SELECT v2 AS node FROM tri)
       GROUP BY 1)
SELECT deg.node AS p_partkey, deg.deg AS degree,
       coalesce(tn.n_triangles, 0)::BIGINT AS n_triangles,
       CASE WHEN deg.deg >= 2
            THEN round(coalesce(tn.n_triangles, 0) * 2.0
                       / (deg.deg * (deg.deg - 1)), 6)
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN tn ON deg.node = tn.node
ORDER BY p_partkey""")
def q_copurchase_triangles(spark, sf_dir):
    """Per-part triangle participation and clustering coefficient over
    the co-purchase graph — parts are adjacent when one order buys
    both (operators/graph.triangle_counts). Triangle density is the
    community-structure probe of a basket/recommendation graph.
    Degree-oriented wedge join: each triangle is found in exactly one
    orientation, hub skew is capped by the orientation itself, and
    nothing all-pairs exists in the plan. Runs on the deterministic
    ``l_orderkey % 7 == 0`` order slice — co-purchase density per part
    is SF-stable (~120 neighbors on the full slice mix), and the slice
    keeps the wedge space inside the 1 GiB test JVM the same way
    q_inter bounds the reference's O(n²) silhouette join; the operator
    itself is the cluster-scale shape."""
    from mapreduce_kmeans_clustering_spark.operators.graph import (
        triangle_counts,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .where((F.col("l_orderkey") % TRIANGLE_ORDER_MOD) == 0)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = li.select(F.col("o"), F.col("p").alias("src"))
    b = li.select(F.col("o"), F.col("p").alias("dst"))
    edges = a.join(b, "o").where(F.col("src") < F.col("dst"))
    return (
        triangle_counts(edges)
        .select(
            F.col("node").alias("p_partkey"),
            F.col("degree").cast("long").alias("degree"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            "clustering",
        )
        .orderBy("p_partkey")
    )


RULE_MIN_PAIR = 3
RULE_TOP = 20


# Association-rules oracle: same counts, same exact-integer ratios.
@query(oracle=f"""
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
nt AS (SELECT count(DISTINCT o)::BIGINT AS n_tot FROM li),
item AS (SELECT p, count(*)::BIGINT AS n_item FROM li GROUP BY 1),
pairs AS (SELECT a.p AS pa, b.p AS pb, count(*)::BIGINT AS n_ab
          FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          GROUP BY 1, 2 HAVING count(*) >= {RULE_MIN_PAIR}),
dirs AS (SELECT pa AS antecedent, pb AS consequent, n_ab FROM pairs
         UNION ALL
         SELECT pb AS antecedent, pa AS consequent, n_ab FROM pairs),
j AS (SELECT antecedent, consequent, n_ab, ia.n_item AS n_a,
             ic.n_item AS n_c, n_tot
      FROM dirs JOIN item ia ON dirs.antecedent = ia.p
                JOIN item ic ON dirs.consequent = ic.p
                CROSS JOIN nt)
SELECT antecedent, consequent, n_ab AS n_both,
       round(n_ab / n_a::DOUBLE, 6) AS confidence,
       round((n_ab * n_tot)::DOUBLE / (n_a * n_c)::DOUBLE, 6) AS lift
FROM j ORDER BY lift DESC, antecedent, consequent LIMIT {RULE_TOP}""")
def q_basket_rules(spark, sf_dir):
    """Association rules from the co-purchase pairs: both directions
    of every pair with support >= RULE_MIN_PAIR orders, scored by
    confidence n(A,B)/n(A) and lift n(A,B)·N / (n(A)·n(B)), top-20 by
    (lift desc, antecedent, consequent). All counts are integers and
    both ratios divide exact integer products (< 2^53), so engines
    agree bit-for-bit. One pair aggregate + an item-count broadcast +
    the 1-row N anchor; TakeOrdered head."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_tot")
    )
    item = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").alias("n_item")
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= RULE_MIN_PAIR)
    )
    both = pairs.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "n_ab"
    ).unionAll(
        pairs.select(
            F.col("pb").alias("antecedent"), F.col("pa").alias("consequent"), "n_ab"
        )
    )
    ia = item.select(F.col("p").alias("antecedent"), F.col("n_item").alias("n_a"))
    ic = item.select(F.col("p").alias("consequent"), F.col("n_item").alias("n_c"))
    j = (
        both.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n_orders))
    )
    out = j.select(
        "antecedent",
        "consequent",
        F.col("n_ab").cast("long").alias("n_both"),
        F.round(F.col("n_ab") / F.col("n_a").cast("double"), 6).alias(
            "confidence"
        ),
        F.round(
            (F.col("n_ab") * F.col("n_tot")).cast("double")
            / (F.col("n_a") * F.col("n_c")).cast("double"),
            6,
        ).alias("lift"),
    )
    return out.orderBy(
        F.col("lift").desc(), "antecedent", "consequent"
    ).limit(RULE_TOP)


FS_M = 0.9  # assumed per-field agreement probability among true matches
FS_TOP = 100


# Fellegi-Sunter oracle: BRUTE pairwise candidates (the blocking
# completeness proof, like q_fuzzy_suppliers) + identical integer u
# estimation. (1.0 - 0.9), never 0.1: the literal must be the same
# DOUBLE Spark computes.
@query(oracle=f"""
WITH cust AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment
              FROM customer),
nn AS (SELECT count(*)::BIGINT AS n FROM cust),
un AS (SELECT sum(c * (c - 1))::BIGINT AS an
       FROM (SELECT count(*)::BIGINT AS c FROM cust GROUP BY c_nationkey)),
us AS (SELECT sum(c * (c - 1))::BIGINT AS asg
       FROM (SELECT count(*)::BIGINT AS c FROM cust GROUP BY c_mktsegment)),
consts AS (SELECT an::DOUBLE / (n * (n - 1))::DOUBLE AS u_nat,
                  asg::DOUBLE / (n * (n - 1))::DOUBLE AS u_seg
           FROM nn, un, us),
pairs AS (SELECT x.c_custkey AS a, y.c_custkey AS b,
                 levenshtein(x.c_name, y.c_name)::INT AS dist,
                 x.c_nationkey = y.c_nationkey AS nation_agree,
                 x.c_mktsegment = y.c_mktsegment AS segment_agree
          FROM cust x JOIN cust y ON x.c_custkey < y.c_custkey
          WHERE levenshtein(x.c_name, y.c_name) <= 1)
SELECT a, b, dist, nation_agree, segment_agree,
       round(CASE WHEN nation_agree THEN log2({FS_M} / u_nat)
                  ELSE log2((1.0 - {FS_M}) / (1.0 - u_nat)) END
           + CASE WHEN segment_agree THEN log2({FS_M} / u_seg)
                  ELSE log2((1.0 - {FS_M}) / (1.0 - u_seg)) END, 6) AS score
FROM pairs CROSS JOIN consts
ORDER BY score DESC, a, b LIMIT {FS_TOP}""")
def q_linkage_scores(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage over the ed<=1
    candidate pairs (operators/joins.fuzzy_self_join_ed1 blocking):
    each pair scores sum_f log2(m/u_f) when field f agrees and
    log2((1-m)/(1-u_f)) when it disagrees — the classic match weight.
    The u-probabilities (chance agreement among NON-matches) are
    estimated from the data exactly: u_f = sum_v c_v(c_v-1) / n(n-1),
    integer arithmetic until one identical double division, so both
    engines compute identical weights. m is the conventional 0.9
    assumption. Top-100 by (score desc, a, b) via TakeOrdered.
    Scale: blocking is O(sum name lengths) keys; u estimation is one
    tiny aggregate per field; attribute attachment is two keyed
    joins."""
    # split=True: the deletion-neighborhood explode is heavy per-row
    # scan-local work before the first join (see _SCAN_SPLIT_DEFAULT)
    cust = _t(spark, sf_dir, "customer", split=True).select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    pairs = J.fuzzy_self_join_ed1(
        cust.select("c_custkey", "c_name"), name_col="c_name", id_col="c_custkey"
    )
    n_row = cust.agg(F.count("*").alias("n"))

    def agree_sum(col, alias):
        return (
            cust.groupBy(col)
            .agg(F.count("*").alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1)).alias(alias))
        )

    consts = (
        n_row.crossJoin(agree_sum("c_nationkey", "an"))
        .crossJoin(agree_sum("c_mktsegment", "asg"))
        .select(
            (F.col("an") / (F.col("n") * (F.col("n") - 1))).alias("u_nat"),
            (F.col("asg") / (F.col("n") * (F.col("n") - 1))).alias("u_seg"),
        )
    )
    attrs_a = cust.select(
        F.col("c_custkey").alias("a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )
    attrs_b = cust.select(
        F.col("c_custkey").alias("b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
    )
    j = (
        pairs.join(attrs_a, "a")
        .join(attrs_b, "b")
        .crossJoin(F.broadcast(consts))
    )
    nat_agree = F.col("nat_a") == F.col("nat_b")
    seg_agree = F.col("seg_a") == F.col("seg_b")
    m = F.lit(FS_M)
    score = F.when(nat_agree, F.log2(m / F.col("u_nat"))).otherwise(
        F.log2((F.lit(1.0) - m) / (F.lit(1.0) - F.col("u_nat")))
    ) + F.when(seg_agree, F.log2(m / F.col("u_seg"))).otherwise(
        F.log2((F.lit(1.0) - m) / (F.lit(1.0) - F.col("u_seg")))
    )
    return (
        j.select(
            "a",
            "b",
            F.col("dist"),
            nat_agree.alias("nation_agree"),
            seg_agree.alias("segment_agree"),
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), "a", "b")
        .limit(FS_TOP)
    )


ZORDER_MASK = (1 << 10) - 1
ZORDER_BUCKET_SHIFT = 14  # 2^20 key space -> 64 buckets


# Z-order oracle: the identical shift/mask interleave as SQL text.
def _zorder_locality_oracle() -> str:
    from mapreduce_kmeans_clustering_spark.functions.zorder import (
        zorder_key_sql,
    )

    zexpr = zorder_key_sql("x", "y", 10)
    n = ZORDER_MASK + 1

    def spans(key: str, scheme: str) -> str:
        return f"""
SELECT '{scheme}' AS scheme, ({key}) >> {ZORDER_BUCKET_SHIFT} AS bucket,
       count(*)::BIGINT AS n,
       (max(x) - min(x))::BIGINT AS x_span,
       (max(y) - min(y))::BIGINT AS y_span
FROM pts GROUP BY 2"""

    return f"""
WITH pts AS (SELECT DISTINCT (l_partkey % {n})::BIGINT AS x,
                             (l_suppkey % {n})::BIGINT AS y
             FROM lineitem)
SELECT * FROM ({spans(zexpr, "zorder")}
UNION ALL {spans(f"x * {n} + y", "linear")})
ORDER BY scheme, bucket"""


@query(oracle=_zorder_locality_oracle())
def q_zorder_locality(spark, sf_dir):
    """Z-order layout locality, MEASURED not asserted
    (functions/zorder.zorder_key): bucket the (l_partkey, l_suppkey)
    key space 64 ways under (a) the Morton-interleaved key and (b) the
    linear lexicographic key, and report each bucket's x/y bounding
    box. Z buckets cover compact rectangles (both spans bounded ~2^7),
    linear buckets cover 16 x-values × ALL y — which is exactly why
    per-file min/max stats prune two-column predicates only under the
    Z layout. Pure bit arithmetic end-to-end; one distinct + two
    grouped aggregates."""
    from mapreduce_kmeans_clustering_spark.functions.zorder import zorder_key

    li = (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") % (ZORDER_MASK + 1)).alias("x"),
            (F.col("l_suppkey") % (ZORDER_MASK + 1)).alias("y"),
        )
        .distinct()
    )

    def spans(df, key, scheme):
        return df.groupBy(
            F.shiftright(key, ZORDER_BUCKET_SHIFT).cast("long").alias("bucket")
        ).agg(
            F.count("*").alias("n"),
            F.min("x").cast("long").alias("min_x"),
            F.max("x").cast("long").alias("max_x"),
            F.min("y").cast("long").alias("min_y"),
            F.max("y").cast("long").alias("max_y"),
        ).select(
            F.lit(scheme).alias("scheme"),
            "bucket",
            "n",
            (F.col("max_x") - F.col("min_x")).alias("x_span"),
            (F.col("max_y") - F.col("min_y")).alias("y_span"),
        )

    z = spans(li, zorder_key("x", "y", 10), "zorder")
    lin = spans(li, F.col("x") * (ZORDER_MASK + 1) + F.col("y"), "linear")
    return z.unionAll(lin).orderBy("scheme", "bucket")


@query(oracle="""
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pr AS (SELECT a.p AS pa, b.p AS pb, count(*)::BIGINT AS n_orders
       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
       GROUP BY 1, 2)
SELECT pa, pb, n_orders FROM pr
ORDER BY n_orders DESC, pa, pb LIMIT 10""")
def q_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence: the 10 part pairs most often
    ordered together. Pair generation is a self-join WITHIN each
    order (equi on l_orderkey, a < b over distinct parts) — fanout
    bounded by the per-order line count squared, never parts², the
    same inverted-index discipline as q_token_pmi on the relational
    side; top-k via TakeOrderedAndProject."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    return pairs.orderBy(
        F.col("n_orders").desc(), F.col("pa"), F.col("pb")
    ).limit(10)


BASKET_TRIPLE_TOP = 50


# Basket-triples oracle: the same 3-way within-order join.
@query(oracle=f"""
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
SELECT a.p AS pa, b.p AS pb, c.p AS pc, count(*)::BIGINT AS n_orders
FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          JOIN li c ON b.o = c.o AND b.p < c.p
GROUP BY 1, 2, 3
ORDER BY n_orders DESC, pa, pb, pc LIMIT {BASKET_TRIPLE_TOP}""")
def q_basket_triples(spark, sf_dir):
    """Frequent 3-itemsets: the 50 part triples most often ordered
    together — one more Apriori level above q_basket_pairs. Triple
    generation is a 3-way self-join WITHIN each order (a < b < c over
    distinct parts), fanout bounded by the per-order line count CUBED
    — tiny, since baskets are small; never parts³. At heavier basket
    sizes the documented Apriori hatch applies: generate candidates
    only from frequent-pair joins and broadcast them as a filter
    before counting (downward closure). Top-k via
    TakeOrderedAndProject; full tie-break (count desc, pa, pb, pc)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    c = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pc"))
    triples = (
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .join(c, "o")
        .where(F.col("pb") < F.col("pc"))
        .groupBy("pa", "pb", "pc")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    return triples.orderBy(
        F.col("n_orders").desc(), F.col("pa"), F.col("pb"), F.col("pc")
    ).limit(BASKET_TRIPLE_TOP)


@query(oracle="""
WITH r AS (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rank
  FROM part)
SELECT p_brand, p_partkey, p_retailprice, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3""")
def q_brand_top_parts(spark, sf_dir):
    """Per-group top-k (rank within partition — q_top_orders is the
    global variant): 3 priciest parts per brand."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        part.select("p_brand", "p_partkey", "p_retailprice")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
    )


@query(oracle="""
WITH agg AS (
  SELECT c_custkey, c_name, n_name AS nation,
         round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))),
               2)::DOUBLE AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY 1, 2, 3),
r AS (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank
  FROM agg)
SELECT c_custkey, c_name, nation, revenue, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 20""")
def q_returned_customers(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by revenue on returned items.
    Fact filtered at the scan (l_returnflag = 'R'), customer join left
    to AQE (grows with SF — no forced broadcast), nation broadcast,
    rank over the pre-rounded measure (the q_top_orders determinism
    contract)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    # decimal sum: order-independent across partitionings and engines
    # (the double sum can land a half-cent from a rounding boundary)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    agg = (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return agg.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= 20
    )


@query(oracle="""
WITH ab AS (SELECT round(avg(c_acctbal), 2) AS ab
            FROM customer WHERE c_acctbal > 0)
SELECT c_mktsegment, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer CROSS JOIN ab
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
GROUP BY 1""")
def q_customers_no_orders(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average positive balance
    and no orders in 1995 — scalar-subquery threshold (rounded to
    cents so both engines agree) + LEFT ANTI against the time-windowed
    fact, rolled up by segment. (The window matters: this synthetic
    corpus gives every customer at least one lifetime order, so the
    unwindowed Q22 anti-join is empty at every SF.) The threshold
    rides a 1-row broadcast anchor (crossJoin(broadcast)) instead of a
    driver collect — one job, lazily composable, same plan shape as
    the rest of the registry."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    ab = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.round(F.avg("c_acctbal"), 2).alias("_ab"))
    )
    return (
        cust.crossJoin(F.broadcast(ab))
        .where(F.col("c_acctbal") > F.col("_ab"))
        .join(
            orders.where(F.year("o_orderdate") == 1995).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       count(*) AS n_items,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))),
             2)::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE year(l_shipdate) = 1995
GROUP BY 1, 2""")
def q_supplier_volume(spark, sf_dir):
    """TPC-H Q7 shape: 1995 revenue by (supplier nation, customer
    nation) pair — the two-armed join graph (fact → orders → customer
    → nation, fact → supplier → nation) with the year filter pushed to
    the lineitem scan and both 25-row nation dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    # sum in DECIMAL: a double sum's value depends on partition order,
    # and at this group size it can land a half-cent from a rounding
    # boundary (observed at sf0.01); per-row revenue has <= 4 decimal
    # digits so decimal(18,4) holds it exactly and the sum is
    # order-independent in both engines
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.where(F.year("l_shipdate") == 1995)
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        )
    )


@query(oracle="""
WITH d AS (
  SELECT c_mktsegment, c_acctbal,
         ntile(10) OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal DESC, c_custkey) AS decile
  FROM customer)
SELECT c_mktsegment, CAST(decile AS INT) AS decile,
       count(*) AS n_customers,
       round(avg(c_acctbal), 2) AS avg_bal,
       round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal
FROM d GROUP BY 1, 2""")
def q_customer_ntile(spark, sf_dir):
    """Decile analytics: customers cut into balance deciles within
    each market segment (ntile window), rolled up to per-(segment,
    decile) stats."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


@query(oracle="""
WITH ca AS (SELECT o_custkey, round(avg(o_totalprice), 2) AS cavg
            FROM orders GROUP BY 1)
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS total
FROM orders JOIN ca USING (o_custkey)
WHERE o_totalprice > 1.5 * cavg
GROUP BY 1""")
def q_above_avg_orders(spark, sf_dir):
    """Correlated-aggregate shape: orders priced above 1.5× their own
    customer's average (average pre-rounded to cents so both engines
    compare the same threshold), rolled up by priority."""
    orders = _t(spark, sf_dir, "orders")
    ca = orders.groupBy("o_custkey").agg(
        F.round(F.avg("o_totalprice"), 2).alias("cavg")
    )
    return (
        orders.join(ca, "o_custkey")
        .where(F.col("o_totalprice") > 1.5 * F.col("cavg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total"),
        )
    )


LARGE_ORDER_QTY = 250
TOP_SUPPLIER_YEAR = 1996


@query(oracle=f"""
WITH big AS (SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem
             GROUP BY 1 HAVING sum(l_quantity) > {LARGE_ORDER_QTY})
SELECT c_custkey, c_name, o_orderkey, o_totalprice, qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""")
def q_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds a
    threshold, joined back to orders+customer, global top-20 by price.
    The HAVING filter runs on the aggregate BEFORE the joins (partial
    agg collapses each orderkey map-side), and the top-k is
    TakeOrderedAndProject — no global sort ever materializes."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > LARGE_ORDER_QTY)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(oracle="""
WITH j AS (
  SELECT year(l_shipdate)::INT AS ship_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey),
a AS (
  SELECT ship_year,
         round(sum(CASE WHEN p_type = 'PROMO' THEN rev
                        ELSE CAST(0 AS DECIMAL(18,4)) END), 2)::DOUBLE
           AS promo_rev,
         round(sum(rev), 2)::DOUBLE AS total_rev
  FROM j GROUP BY 1)
SELECT ship_year, promo_rev, total_rev,
       round(100 * promo_rev / total_rev, 4) AS promo_share
FROM a""")
def q_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: share of revenue from PROMO parts per ship
    year — conditional aggregation over the fact↔part join. Revenue in
    DECIMAL(18,4) so sums are partition-order-independent; the share
    divides the two already-rounded doubles, so both engines divide
    identical inputs."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    agg = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)), 2)
            .cast("double")
            .alias("promo_rev"),
            F.round(F.sum(rev), 2).cast("double").alias("total_rev"),
        )
    )
    return agg.select(
        "ship_year",
        "promo_rev",
        "total_rev",
        F.round(F.lit(100) * F.col("promo_rev") / F.col("total_rev"), 4).alias(
            "promo_share"
        ),
    )


@query(oracle="""
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS total
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
GROUP BY 1""")
def q_returned_priority(spark, sf_dir):
    """TPC-H Q4 shape: orders with at least one returned lineitem
    (EXISTS → LEFT SEMI join on the filtered fact), counted and
    totaled by order priority. The semi join never duplicates an order
    no matter how many lineitems matched."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    ret = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(ret, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total"),
        )
    )


@query(oracle=f"""
WITH sr AS (
  SELECT l_suppkey,
         round(sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4))), 2)::DOUBLE AS total_rev
  FROM lineitem WHERE year(l_shipdate) = {TOP_SUPPLIER_YEAR} GROUP BY 1)
SELECT s_suppkey, s_name, total_rev
FROM sr JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM sr)""")
def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) with maximum discounted
    revenue in a ship year — scalar-max subquery joined back against
    the per-supplier aggregate (1-row broadcast, so no second scan of
    the fact). Comparing rounded DECIMAL-sourced doubles keeps the
    equality exact in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    srev = (
        li.where(F.year("l_shipdate") == TOP_SUPPLIER_YEAR)
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("total_rev"))
    )
    mx = srev.agg(F.max("total_rev").alias("__mx"))
    return (
        srev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("__mx"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(oracle="""
WITH g AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap
  FROM orders),
f AS (SELECT o_custkey, CAST(gap AS BIGINT) AS gap FROM g
      WHERE gap IS NOT NULL)
SELECT c_mktsegment, count(*) AS n_gaps,
       round(avg(gap), 2) AS avg_gap_days,
       CAST(max(gap) AS BIGINT) AS max_gap_days
FROM f JOIN customer ON o_custkey = c_custkey GROUP BY 1""")
def q_customer_order_gaps(spark, sf_dir):
    """Inter-order gap analytics: days between consecutive orders per
    customer (lag window — one shuffle on custkey), rolled up by
    market segment. The repeat-purchase cadence query every retention
    dashboard runs."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.withColumn(
            "gap", F.datediff("o_orderdate", F.lag("o_orderdate").over(w))
        )
        .where(F.col("gap").isNotNull())
        .select("o_custkey", F.col("gap").cast("long").alias("gap"))
    )
    return (
        gaps.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.round(F.avg("gap"), 2).alias("avg_gap_days"),
            F.max("gap").alias("max_gap_days"),
        )
    )


NATION_BAL_MIN = 9000.0


@query(oracle=f"""
WITH cb AS (SELECT c_nationkey AS nk, count(*) AS n_rich_cust
            FROM customer WHERE c_acctbal > {NATION_BAL_MIN} GROUP BY 1),
sb AS (SELECT s_nationkey AS nk, count(*) AS n_rich_supp
       FROM supplier WHERE s_acctbal > {NATION_BAL_MIN} GROUP BY 1),
j AS (SELECT coalesce(cb.nk, sb.nk) AS nk, n_rich_cust, n_rich_supp
      FROM cb FULL OUTER JOIN sb ON cb.nk = sb.nk)
SELECT n_name AS nation,
       CAST(coalesce(n_rich_cust, 0) AS BIGINT) AS n_rich_cust,
       CAST(coalesce(n_rich_supp, 0) AS BIGINT) AS n_rich_supp
FROM j JOIN nation ON nk = n_nationkey""")
def q_nation_flow(spark, sf_dir):
    """FULL OUTER join shape: per-nation high-balance customer vs
    supplier aggregates stitched into one row per nation — either side
    may be absent (the filter empties small nations on the 100-row
    supplier side), so inner/left joins would silently drop rows.
    Aggregate-then-join keeps the outer join at nation grain (25
    keys), never row grain."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cb = (
        cust.where(F.col("c_acctbal") > NATION_BAL_MIN)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").cast("long").alias("n_rich_cust"))
    )
    sb = (
        supp.where(F.col("s_acctbal") > NATION_BAL_MIN)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").cast("long").alias("n_rich_supp"))
    )
    j = cb.join(sb, "nk", "full_outer")
    return (
        j.join(F.broadcast(nation), j["nk"] == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce("n_rich_cust", F.lit(0)).cast("long").alias("n_rich_cust"),
            F.coalesce("n_rich_supp", F.lit(0)).cast("long").alias("n_rich_supp"),
        )
    )


@query(oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(avg(o_totalprice), 2) AS avg_price
FROM orders GROUP BY o_orderstatus, o_orderpriority""")
def q_sql_interface(spark, sf_dir):
    """The SQL front door: the same engine driven by ANSI SQL text
    over registered views (spark.sql) instead of the DataFrame API —
    a reference user who writes plain SQL needs nothing else. The
    text below runs verbatim-shaped on the oracle too."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_orders"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(avg(o_totalprice), 2) AS avg_price
        FROM v_orders
        GROUP BY o_orderstatus, o_orderpriority
        """
    )


@query(oracle="""
SELECT p_brand, count(*) AS n_items,
       round(sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#7' AND p_size <= 20
       AND l_quantity BETWEEN 5 AND 35)
   OR (p_brand = 'Brand#13' AND p_size <= 30
       AND l_quantity BETWEEN 10 AND 50)
GROUP BY 1""")
def q_shipping_modes(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive (brand, size,
    quantity) windows evaluated after the part equi-join — the OR
    branches cannot all push to one scan, but the join stays a single
    hash join with the residual predicate on top (never one join per
    branch)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    branch = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#7") & (F.col("p_size") <= 20)
           & (F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 35))
        | ((F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 30)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 50))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return j.where(branch).groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(F.sum(rev), 2).cast("double").alias("revenue"),
    )


PART_SHARE_BPS = 5.0  # keep parts above 5 basis points of total revenue


@query(oracle=f"""
WITH pp AS (
  SELECT l_partkey,
         round(sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4))), 2)::DOUBLE AS part_rev
  FROM lineitem GROUP BY 1),
t AS (SELECT round(sum(CAST(part_rev AS DECIMAL(18,2))), 2)::DOUBLE AS tot
      FROM pp)
SELECT l_partkey, part_rev,
       round(10000.0 * part_rev / tot, 4) AS share_bps
FROM pp CROSS JOIN t
WHERE part_rev > tot * ({PART_SHARE_BPS} / 10000.0)""")
def q_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: per-part revenue kept only when it exceeds a
    fraction of the GLOBAL total — group-HAVING against a scalar
    subquery. The scalar re-aggregates the grouped table (no second
    fact scan) and broadcasts as one row."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    per_part = li.groupBy("l_partkey").agg(
        F.round(F.sum(rev), 2).cast("double").alias("part_rev")
    )
    total = per_part.agg(
        F.round(F.sum(F.col("part_rev").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("__tot")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_rev") > F.col("__tot") * (PART_SHARE_BPS / 10000.0))
        .select(
            "l_partkey",
            "part_rev",
            F.round(F.lit(10000.0) * F.col("part_rev") / F.col("__tot"), 4).alias(
                "share_bps"
            ),
        )
    )


# SCD2-style versioned rate table: (valid_from, rate) — each order
# takes the latest rate at or before its order date. Literal and
# identical in both engines.
FX_VERSIONS = [
    (f"{1995 + i // 2}-{'01' if i % 2 == 0 else '07'}-01 00:00:00", round(1.0 + 0.02 * i, 4))
    for i in range(14)
]


@query(oracle=f"""
WITH r(vf, rate) AS (VALUES {", ".join(f"(TIMESTAMP '{t}', {r}::DOUBLE)" for t, r in FX_VERSIONS)}),
j AS (
  SELECT o.o_orderdate, o.o_totalprice, r.rate
  FROM orders o ASOF LEFT JOIN r ON o.o_orderdate >= r.vf)
SELECT year(o_orderdate)::INT AS order_year, count(*) AS n_orders,
       round(sum(CAST(o_totalprice * coalesce(rate, 1.0)
                      AS DECIMAL(18,4))), 2)::DOUBLE AS restated_revenue
FROM j GROUP BY 1""")
def q_orders_fx(spark, sf_dir):
    """Temporal dimension lookup (SCD2 / currency-rate shape): every
    order joined AS-OF to the latest version of a rates table valid at
    its order date, revenue restated under that rate. Same one-
    sort-shuffle asof_join machinery as event attribution — a
    versioned dimension is just an as-of join where the right side is
    tiny. Yearly rollup of restated revenue."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_totalprice",
        F.lit("usd").alias("ccy"),
    )
    rates = spark.createDataFrame(
        [(t, r) for t, r in FX_VERSIONS], "valid_from string, rate double"
    ).select(
        F.lit("usd").alias("ccy"),
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        "rate",
    )
    j = J.asof_join(
        orders,
        rates,
        on="ccy",
        left_ts="o_orderdate",
        right_ts="valid_from",
        payload=["rate"],
    )
    restated = (
        F.col("o_totalprice") * F.coalesce(F.col("rate"), F.lit(1.0))
    ).cast("decimal(18,4)")
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(restated), 2).cast("double").alias("restated_revenue"),
        )
    )


@query(oracle="""
WITH g AS (
  SELECT p_type, p_brand,
         round(sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4))), 2)::DOUBLE AS brand_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2)
SELECT p_type, p_brand, brand_rev,
       round(100.0 * brand_rev
             / (sum(CAST(brand_rev AS DECIMAL(18,2)))
                  OVER (PARTITION BY p_type))::DOUBLE, 4)
         AS type_share_pct
FROM g""")
def q_brand_type_share(spark, sf_dir):
    """Share-of-group via window ratio: each brand's revenue as a
    percent of its part type's total — the within-category share
    pattern (window sum over the grouped table, no second scan or
    self-join). DECIMAL totals rounded before the division."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    g = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("brand_rev"))
    )
    w = Window.partitionBy("p_type")
    return g.select(
        "p_type",
        "p_brand",
        "brand_rev",
        # the window total goes through DECIMAL so the divisor is
        # partition-order-independent (same rule as every money sum)
        F.round(
            F.lit(100.0)
            * F.col("brand_rev")
            / F.sum(F.col("brand_rev").cast("decimal(18,2)"))
            .over(w)
            .cast("double"),
            4,
        ).alias("type_share_pct"),
    )


@query(oracle="""
WITH mx AS (SELECT max(o_orderdate) AS m FROM orders)
SELECT o_orderstatus AS status,
       CAST(least(4, date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(m AS DATE)) // 180) AS INT)
         AS age_band,
       count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE
         AS backlog_value
FROM orders CROSS JOIN mx
WHERE o_orderstatus <> 'F'
GROUP BY 1, 2""")
def q_order_backlog(spark, sf_dir):
    """Backlog aging: non-final orders bucketed by age (180-day bands
    against the corpus max date), counts and value per (status, band)
    — the operations view of unfinished work. One broadcast anchor
    row, one aggregate."""
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("__mx"))
    age = F.expr("datediff(__mx, o_orderdate)")
    band = F.least(F.lit(4), F.floor(age / 180)).cast("int")
    return (
        orders.where(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(anchor))
        .groupBy(F.col("o_orderstatus").alias("status"), band.alias("age_band"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("backlog_value"),
        )
    )


@query(oracle="""
SELECT c_count, count(*)::BIGINT AS custdist
FROM (SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
GROUP BY c_count""")
def q_custdist(spark, sf_dir):
    """TPC-H Q13 shape: distribution of customers by order count,
    INCLUDING zero-order customers — the outer-join-then-double-
    aggregate pattern (left outer join, per-customer count where NULL
    keys count 0, then a second aggregate over the counts). Two
    shuffles: custkey, then c_count; both partial->final."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per = (
        cust.join(
            orders.select("o_custkey", "o_orderkey"),
            cust["c_custkey"] == orders["o_custkey"],
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(oracle="""
WITH rets AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
              WHERE l_returnflag = 'R'),
     multi AS (SELECT l_orderkey FROM lineitem
               GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) > 1),
     sole AS (SELECT l_orderkey, min(l_suppkey) AS the_supp FROM rets
              GROUP BY l_orderkey HAVING count(*) = 1)
SELECT s_name, count(*)::BIGINT AS numwait
FROM sole JOIN multi USING (l_orderkey)
          JOIN supplier ON the_supp = s_suppkey
GROUP BY s_name""")
def q_sole_return_supplier(spark, sf_dir):
    """TPC-H Q21 shape on our schema: suppliers who shipped a returned
    line (flag 'R') on a multi-supplier order where NO OTHER supplier
    had a return on that order — the EXISTS + NOT EXISTS pair over the
    same fact, planned as one semi and one anti equi-join on orderkey
    (never a per-row subquery). The two derived sides are built from
    one groupBy pass over the returns subset."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rets = (
        li.where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("ns"))
        .where(F.col("ns") > 1)
        .select("l_orderkey")
    )
    sole = (
        rets.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("nret"),
            F.min("l_suppkey").alias("the_supp"),
        )
        .where(F.col("nret") == 1)
        .join(multi, "l_orderkey", "left_semi")
    )
    return (
        sole.groupBy("the_supp")
        .agg(F.count("*").cast("long").alias("numwait"))
        .join(F.broadcast(supp), sole["the_supp"] == supp["s_suppkey"])
        .select(
            "s_name",
            "numwait",
        )
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
    )


@query(oracle="""
WITH u AS (SELECT l_partkey, l_suppkey,
                  l_extendedprice / l_quantity AS uprice FROM lineitem),
     b AS (SELECT l_partkey, min(uprice) AS mu FROM u GROUP BY l_partkey),
     c AS (SELECT u.l_partkey, b.mu, min(u.l_suppkey) AS the_supp
           FROM u JOIN b ON u.l_partkey = b.l_partkey AND u.uprice = b.mu
           GROUP BY u.l_partkey, b.mu)
SELECT p_partkey, p_brand, s_name,
       floor(mu * 10000.0 + 0.5) / 10000.0 AS min_unit_price
FROM c JOIN part ON l_partkey = p_partkey
       JOIN supplier ON the_supp = s_suppkey
WHERE p_size < 10""")
def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape without a partsupp table: for each small part
    (p_size < 10), the supplier that shipped it at the minimum unit
    price — per-group argmin via one min(struct(price, suppkey))
    aggregate (deterministic suppkey tie-break), never a correlated
    per-part subquery or a window sort. The part/supplier dims
    broadcast into the fact aggregate's result."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    best = (
        li.groupBy("l_partkey")
        .agg(F.min(F.struct(unit.alias("u"), F.col("l_suppkey").alias("sk"))).alias("b"))
        .select(
            "l_partkey",
            (F.floor(F.col("b.u") * 1e4 + F.lit(0.5)) / 1e4).alias(
                "min_unit_price"
            ),
            F.col("b.sk").alias("l_suppkey"),
        )
    )
    return (
        best.join(
            F.broadcast(part.where(F.col("p_size") < 10)),
            best["l_partkey"] == part["p_partkey"],
        )
        .join(F.broadcast(supp), best["l_suppkey"] == supp["s_suppkey"])
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "min_unit_price",
        )
    )


@query(oracle=f"""
WITH pos AS (SELECT c_custkey, c_nationkey,
                    CAST(round(c_acctbal * 100) AS BIGINT) AS c
             FROM customer WHERE c_acctbal > 0),
     thr AS (SELECT sum(c) AS s, count(*)::BIGINT AS n FROM pos)
SELECT c_nationkey, count(*)::BIGINT AS n_cust,
       round(sum(c) / 100.0, 2) AS total_bal
FROM pos CROSS JOIN thr
WHERE c * n > s
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{IDLE_CUTOFF}')
GROUP BY c_nationkey""")
def q_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average positive balance
    and no RECENT orders (none on/after IDLE_CUTOFF), per nation — the
    scalar-aggregate threshold (computed once, broadcast) plus an anti
    join against the date-filtered order set. The above-average test is
    done in integer cents cross-multiplied against (sum, n) —
    ``cents * n > sum_cents`` — so no engine ever compares a fractional
    average (a double-vs-decimal threshold could flip a customer
    sitting exactly on the mean).

    Round 6 de-vacuation: the original "no orders at all" anti join was
    EMPTY at sf0.001/sf0.01 (every synthetic customer has >= 1 order)
    and 1 row at sf0.1 — a 0-row hash match verified nothing. The
    recency cutoff keeps the Q22 shape (scalar threshold + anti join)
    while qualifying 2/14/148 customers at the three test SFs, and the
    date predicate is pushed into the anti join's build side scan."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = cust.where(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_nationkey", cents.alias("__c")
    )
    thr = pos.agg(
        F.sum("__c").alias("__s"), F.count("*").cast("long").alias("__n")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit(IDLE_CUTOFF).cast("timestamp")
    ).select("o_custkey")
    return (
        pos.crossJoin(F.broadcast(thr))
        .where(F.col("__c") * F.col("__n") > F.col("__s"))
        .join(
            recent,
            pos["c_custkey"] == recent["o_custkey"],
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.round(F.sum("__c") / 100.0, 2).alias("total_bal"),
        )
    )


@query(oracle="""
SELECT o_custkey, count(*)::BIGINT AS n_lines,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))),
             2)::DOUBLE AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_custkey""")
def q_incremental_join_view(spark, sf_dir):
    """Incremental maintenance of a JOIN view: per-customer lineitem
    revenue (orders ⋈ lineitem, grouped by o_custkey) maintained as
    base (orders before 1997) + delta (1997 onward) summaries merged
    with operators/incremental.merge_aggregates — the materialized-
    view pattern where appending a day of orders costs O(delta join) +
    O(aggregate), never a rescan of the joined history. Each order's
    lines ride with their order through the split (the join key is
    o_orderkey), so the two part-joins partition the fact exactly.
    The oracle recomputes the view from the FULL join; equality is the
    merge-law proof. DECIMAL revenue so the split can't drift a bit."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    spec = {"n_lines": ("count", ""), "revenue_sum": ("sum", "rev")}

    def part(orders_part):
        j = li.join(
            orders_part, F.col("l_orderkey") == F.col("o_orderkey")
        ).select("o_custkey", rev.alias("rev"))
        return INC.aggregate_batch(j, ["o_custkey"], spec)

    base = part(orders.where(F.year("o_orderdate") < 1997))
    delta = part(orders.where(F.year("o_orderdate") >= 1997))
    merged = INC.merge_aggregates([base, delta], ["o_custkey"], spec)
    return merged.select(
        "o_custkey",
        "n_lines",
        F.round("revenue_sum", 2).cast("double").alias("revenue"),
    )


@query(oracle="""
SELECT l_orderkey, o_orderdate,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))),
             2)::DOUBLE AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND l_shipdate > TIMESTAMP '1996-07-01'
GROUP BY 1, 2
ORDER BY revenue DESC, l_orderkey
LIMIT 10""")
def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: unshipped-revenue top-10 for one market segment
    — segment filter pushed into the (broadcastable) customer dim,
    date filters pushed to both the orders and lineitem scans, one
    hash aggregate on (orderkey, orderdate), top-10 via
    TakeOrderedAndProject (never a global sort). Deterministic
    orderkey tie-break so LIMIT is stable cross-engine."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cut = F.to_timestamp(F.lit("1996-07-01"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.where(F.col("l_shipdate") > cut)
        .join(
            orders.where(F.col("o_orderdate") < cut),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(oracle="""
SELECT n_name,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))),
             2)::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
GROUP BY 1""")
def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 1996 revenue per nation where the customer and
    the supplier share a nation, market scoped to one region — the
    colocated-commerce join graph. The year filter is pushed to the
    orders scan; nation and the 1-row filtered region broadcast; the
    c_nationkey = s_nationkey equality rides the supplier hash join as
    an extra condition (no extra shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(
            orders.where(F.year("o_orderdate") == 1996),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


@query(oracle="""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
                           THEN CAST(l_extendedprice * (1 - l_discount)
                                     AS DECIMAL(18,4))
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE),
             6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY 1""")
def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_7's share of the ASIA ECONOMY-part
    market per order year — conditional aggregation (two DECIMAL sums
    from one pass) over the two-armed join graph, part/nation/region
    dims broadcast. The share divides the two sums as doubles at the
    very end; nothing iterates, nothing scans twice."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(
            F.broadcast(part.where(F.col("p_type") == "ECONOMY").select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(zero))
            .alias("__num"),
            F.sum(rev).alias("__den"),
        )
        .select(
            "o_year",
            F.round(
                F.col("__num").cast("double") / F.col("__den").cast("double"), 6
            ).alias("mkt_share"),
        )
    )


@query(oracle="""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
               - CAST(p_retailprice * l_quantity * 0.6 AS DECIMAL(18,4))),
             2)::DOUBLE AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2""")
def q_product_profit(spark, sf_dir):
    """TPC-H Q9 shape without a partsupp table: per (supplier nation,
    order year) profit on 'red' parts, where unit supply cost is
    proxied as 60% of p_retailprice — revenue and cost each cast to
    DECIMAL(18,4) per row so the group sums are order-independent.
    The name filter prunes the broadcast part dim before the fact
    join; one hash aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    cost = (F.col("p_retailprice") * F.col("l_quantity") * 0.6).cast(
        "decimal(18,4)"
    )
    return (
        li.join(
            F.broadcast(
                part.where(F.col("p_name").contains("red")).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(rev - cost), 2).cast("double").alias("profit"))
    )


@query(oracle="""
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN '0-30d'
            WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN '31-90d'
            ELSE '90d+' END AS lag_band,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1""")
def q_ship_lag_priority(spark, sf_dir):
    """TPC-H Q12 shape on our schema (no shipmode/commitdate columns):
    order-to-ship lag bands × order-priority class — the
    derived-band + conditional-count pattern. One equi-join on
    orderkey, the CASE band computed in codegen, two conditional sums
    in a single hash aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    band = (
        F.when(lag <= 30, "0-30d")
        .when(lag <= 90, "31-90d")
        .otherwise("90d+")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.select("l_orderkey", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(band.alias("lag_band"))
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


@query(oracle="""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM supplier s
                        WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 0))
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#15' AND p_size <= 10
GROUP BY 1, 2, 3""")
def q_part_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape with lineitem as the part-supplier bridge: how
    many distinct suppliers ever shipped each (brand, type, size)
    among small parts, excluding suppliers in arrears — the
    anti-join-then-count-distinct pattern. The 6-row exclusion list
    broadcasts into a LEFT ANTI before the distinct pairs are formed;
    NULL-safe by construction (keys are non-null, and the anti join —
    unlike NOT IN — would stay correct if they weren't)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    bad = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .distinct()
    )
    return (
        pairs.join(
            F.broadcast(
                part.where(
                    (F.col("p_brand") != "Brand#15") & (F.col("p_size") <= 10)
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@query(oracle="""
WITH pa AS (SELECT l_partkey AS pk,
                   CAST(sum(l_quantity) AS BIGINT) AS sq,
                   count(*) AS nq
            FROM lineitem GROUP BY 1)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN pa ON l_partkey = pk
WHERE p_size <= 5
  AND CAST(l_quantity AS BIGINT) * 5 * nq < sq""")
def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: yearly revenue locked in small-quantity lines
    — lines under 20% of their part's average quantity, for small
    parts. The per-part average is carried as exact integer (sum, n)
    partials and the threshold test cross-multiplies
    (5·qty·n < sum), so no engine ever compares against a fractional
    average. One per-part aggregate joined back to the fact — the
    decorrelated form of Q17's correlated subquery."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    qty = F.col("l_quantity").cast("long")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qty).alias("sq"), F.count("*").alias("nq")
    )
    return (
        li.join(
            F.broadcast(part.where(F.col("p_size") <= 5).select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(pa, F.col("l_partkey") == F.col("pk"))
        .where(qty * F.lit(5) * F.col("nq") < F.col("sq"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


@query(oracle="""
WITH pq AS (SELECT l_partkey, l_suppkey,
                   CAST(sum(l_quantity) AS BIGINT) AS sq
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red %' AND year(l_shipdate) = 1996
            GROUP BY 1, 2),
     tot AS (SELECT l_partkey AS pk, sum(sq) AS tq FROM pq GROUP BY 1)
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM pq JOIN tot ON l_partkey = pk
                    WHERE sq * 2 > tq)
ORDER BY s_name""")
def q_promotable_suppliers(spark, sf_dir):
    """TPC-H Q20 shape with lineitem as the availability signal:
    suppliers who shipped more than half of some 'red' part's 1996
    volume — the nested-semi-join chain (part filter → per-(part,
    supplier) volume → per-part total → majority test → supplier
    semi join). The per-part total reuses the per-pair aggregate
    (no second fact scan); integer quantity sums cross-multiply so
    the majority test is exact."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    red = part.where(F.col("p_name").startswith("red ")).select("p_partkey")
    pq = (
        li.where(F.year("l_shipdate") == 1996)
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sq"))
    )
    tot = pq.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("sq").alias("tq")
    )
    cand = (
        pq.join(tot, F.col("l_partkey") == F.col("pk"))
        .where(F.col("sq") * 2 > F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(cand, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


PROMO_UNITS = 10_000
DIFF_BUCKETS = 64


# Skyline oracle: brute-force dominance NOT EXISTS — the quadratic
# form the operator's sort-order formulation replaces.
@query(oracle="""
WITH pts AS (
  SELECT p_retailprice AS price, p_size AS size,
         count(*)::BIGINT AS n_parts, min(p_partkey) AS min_partkey
  FROM part GROUP BY 1, 2)
SELECT price, size, n_parts, min_partkey
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.price <= a.price AND b.size >= a.size
    AND (b.price < a.price OR b.size > a.size))
ORDER BY price""")
def q_skyline_parts(spark, sf_dir):
    """Pareto frontier of parts under (minimize price, maximize
    size): the multi-objective shortlist — no returned part has
    another both cheaper and at least as large. Distributed skyline
    (operators/skyline.py): distinct (price, size) aggregate, a
    bucketed local-frontier window, then one global window over the
    per-bucket survivors — dominance by sort order, never a pairwise
    join (the brute NOT EXISTS form is only the oracle)."""
    p = _t(spark, sf_dir, "part")
    sky = SKY.skyline_2d(
        p.select(
            F.col("p_retailprice").alias("price"),
            F.col("p_size").alias("size"),
            "p_partkey",
        ),
        "price",
        "size",
        aggs=[
            F.count("*").cast("long").alias("n_parts"),
            F.min("p_partkey").alias("min_partkey"),
        ],
    )
    return sky.select("price", "size", "n_parts", "min_partkey")


# Largest-remainder oracle: same integer floor/remainder math; the
# extra-unit rank breaks ties (rem DESC, nationkey ASC) identically.
@query(oracle=f"""
WITH w AS (
  SELECT c_nationkey,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS wgt
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1),
t AS (SELECT sum(wgt)::BIGINT AS wt FROM w),
s AS (SELECT c_nationkey, ({PROMO_UNITS} * wgt) // wt AS fl,
             ({PROMO_UNITS} * wgt) % wt AS rem
      FROM w CROSS JOIN t),
r AS (SELECT c_nationkey, fl,
             row_number() OVER (ORDER BY rem DESC, c_nationkey)::BIGINT AS rk,
             ({PROMO_UNITS} - (SELECT sum(fl) FROM s))::BIGINT AS short
      FROM s)
SELECT n_name AS nation, c_nationkey::INT AS nationkey,
       fl::BIGINT AS floor_units,
       (CASE WHEN rk <= short THEN 1 ELSE 0 END)::INT AS got_extra,
       (fl + CASE WHEN rk <= short THEN 1 ELSE 0 END)::BIGINT AS units
FROM r JOIN nation ON n_nationkey = c_nationkey""")
def q_budget_allocation(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment: split a 10,000-unit
    promo budget across nations proportional to order revenue, summing
    EXACTLY to the budget — floor shares + one extra unit to the
    largest remainders (operators/allocation.py largest_remainder).
    Integer cents end-to-end; the rank window runs over 25 nation
    rows, never the fact table."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("rev_cents")
        )
    )
    alloc = AL.largest_remainder(rev, "c_nationkey", "rev_cents", PROMO_UNITS)
    return (
        alloc.join(
            F.broadcast(n), alloc["c_nationkey"] == n["n_nationkey"]
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_nationkey").cast("int").alias("nationkey"),
            "floor_units",
            "got_extra",
            "units",
        )
    )


# FIFO oracle: identical cumulative-interval construction in SQL
# windows; HUGEINT intermediates cast back at the output boundary.
@query(oracle="""
WITH lots AS (
  SELECT l_partkey,
         sum(CAST(l_quantity AS BIGINT)) OVER w AS hi,
         sum(CAST(l_quantity AS BIGINT)) OVER w
           - CAST(l_quantity AS BIGINT) AS lo
  FROM lineitem WHERE l_returnflag = 'N' AND l_quantity > 0
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
dems AS (
  SELECT l_partkey,
         sum(CAST(l_quantity AS BIGINT)) OVER w AS hi,
         sum(CAST(l_quantity AS BIGINT)) OVER w
           - CAST(l_quantity AS BIGINT) AS lo
  FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 0
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
m AS (
  SELECT l.l_partkey,
         least(l.hi, d.hi) - greatest(l.lo, d.lo) AS mq
  FROM lots l JOIN dems d ON l.l_partkey = d.l_partkey
  WHERE d.lo < l.hi AND l.lo < d.hi),
ms AS (SELECT l_partkey, count(*)::BIGINT AS n_pairs,
              sum(mq)::BIGINT AS matched_qty
       FROM m GROUP BY 1),
dd AS (SELECT l_partkey,
              sum(CAST(l_quantity AS BIGINT))::BIGINT AS demand_qty
       FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 0
       GROUP BY 1)
SELECT dd.l_partkey AS partkey,
       coalesce(ms.n_pairs, 0)::BIGINT AS n_pairs,
       coalesce(ms.matched_qty, 0)::BIGINT AS matched_qty,
       dd.demand_qty,
       (dd.demand_qty - coalesce(ms.matched_qty, 0))::BIGINT AS unfilled_qty
FROM dd LEFT JOIN ms ON dd.l_partkey = ms.l_partkey""")
def q_fifo_match(spark, sf_dir):
    """FIFO lot attribution: per part, returned quantities (R flag)
    consume shipped lots (N flag) strictly in shipdate order —
    matched pairs come from cumulative-sum interval overlap, an
    equi-join on partkey with a range residual, never a nested-loop
    scan (operators/allocation.py fifo_match). Integer quantities;
    per-part summary keeps the output one row per returned part."""
    li = _t(spark, sf_dir, "lineitem")
    seq = ["l_shipdate", "l_orderkey", "l_linenumber"]
    # mirror fifo_match's qty>0 drop on the demand-total side so the
    # summary stays consistent if a non-positive quantity ever appears
    lots = li.where((F.col("l_returnflag") == "N") & (F.col("l_quantity") > 0))
    dems = li.where((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 0))
    m = AL.fifo_match(lots, dems, "l_partkey", seq, "l_quantity")
    matched = m.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("matched_qty").alias("matched_qty"),
    )
    demand = dems.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("demand_qty")
    )
    return (
        demand.join(matched, "l_partkey", "left")
        .select(
            F.col("l_partkey").alias("partkey"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("matched_qty", F.lit(0))
            .cast("long")
            .alias("matched_qty"),
            "demand_qty",
            (
                F.col("demand_qty")
                - F.coalesce("matched_qty", F.lit(0))
            ).cast("long").alias("unfilled_qty"),
        )
    )


# Snapshot-diff oracle: md5 fingerprints and 48-bit digest sums
# replayed in SQL ('0x'||substr trick — the portable hash family).
@query(oracle=f"""
WITH o AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
         o_orderstatus, o_orderpriority
  FROM orders),
a AS (SELECT * FROM o WHERE o_orderkey % 101 != 0),
b AS (SELECT o_orderkey,
             pc + CASE WHEN o_orderkey % 97 = 0 THEN 100 ELSE 0 END AS pc,
             o_orderstatus, o_orderpriority
      FROM o WHERE o_orderkey % 89 != 0),
fa AS (SELECT o_orderkey,
              md5(pc::VARCHAR || '|' || o_orderstatus || '|'
                  || o_orderpriority) AS fp FROM a),
fb AS (SELECT o_orderkey,
              md5(pc::VARCHAR || '|' || o_orderstatus || '|'
                  || o_orderpriority) AS fp FROM b),
cls AS (
  SELECT CASE WHEN fa.fp IS NULL THEN 'added'
              WHEN fb.fp IS NULL THEN 'removed'
              WHEN fa.fp != fb.fp THEN 'changed' END AS change
  FROM fa FULL OUTER JOIN fb ON fa.o_orderkey = fb.o_orderkey),
cnt AS (
  SELECT sum(CASE WHEN change = 'added' THEN 1 ELSE 0 END)::BIGINT
           AS n_added,
         sum(CASE WHEN change = 'removed' THEN 1 ELSE 0 END)::BIGINT
           AS n_removed,
         sum(CASE WHEN change = 'changed' THEN 1 ELSE 0 END)::BIGINT
           AS n_changed
  FROM cls),
ga AS (
  SELECT ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 12))::BIGINT % {DIFF_BUCKETS}
           AS bucket,
         count(*)::BIGINT AS n_rows,
         (sum(('0x' || substr(md5(o_orderkey::VARCHAR || '|' || pc::VARCHAR
               || '|' || o_orderstatus || '|' || o_orderpriority), 1, 12)
             )::BIGINT) % 281474976710656)::BIGINT AS digest
  FROM a GROUP BY 1),
gb AS (
  SELECT ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 12))::BIGINT % {DIFF_BUCKETS}
           AS bucket,
         count(*)::BIGINT AS n_rows,
         (sum(('0x' || substr(md5(o_orderkey::VARCHAR || '|' || pc::VARCHAR
               || '|' || o_orderstatus || '|' || o_orderpriority), 1, 12)
             )::BIGINT) % 281474976710656)::BIGINT AS digest
  FROM b GROUP BY 1),
bd AS (
  SELECT count(*)::BIGINT AS n_buckets_differ
  FROM ga FULL OUTER JOIN gb ON ga.bucket = gb.bucket
  WHERE ga.n_rows IS NULL OR gb.n_rows IS NULL
     OR ga.n_rows != gb.n_rows OR ga.digest != gb.digest)
SELECT n_added, n_removed, n_changed, n_buckets_differ
FROM cnt CROSS JOIN bd""")
def q_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation: two deterministic versions of orders
    (B adds the keys A lacks, drops every 89th, bumps every 97th
    price) classified added/removed/changed by fingerprint full-outer
    join, plus Merkle-leaf bucket digests that localize the damage
    without shipping rows (operators/diff.py). Single summary row —
    the anti-entropy gate a 100 TB mirror runs before a sync."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
        "o_orderstatus",
        "o_orderpriority",
    )
    snap_a = o.where(F.col("o_orderkey") % 101 != 0)
    snap_b = o.where(F.col("o_orderkey") % 89 != 0).withColumn(
        "price_cents",
        F.col("price_cents")
        + F.when(F.col("o_orderkey") % 97 == 0, F.lit(100)).otherwise(
            F.lit(0)
        ),
    )
    keys, vals = ["o_orderkey"], [
        "price_cents",
        "o_orderstatus",
        "o_orderpriority",
    ]
    d = DF.snapshot_diff(snap_a, snap_b, keys, vals)
    counts = d.agg(
        F.coalesce(
            F.sum((F.col("change") == "added").cast("long")), F.lit(0)
        ).alias("n_added"),
        F.coalesce(
            F.sum((F.col("change") == "removed").cast("long")), F.lit(0)
        ).alias("n_removed"),
        F.coalesce(
            F.sum((F.col("change") == "changed").cast("long")), F.lit(0)
        ).alias("n_changed"),
    )
    da = DF.bucket_digests(snap_a, keys, vals, DIFF_BUCKETS)
    db = DF.bucket_digests(snap_b, keys, vals, DIFF_BUCKETS)
    bd = (
        da.withColumnRenamed("n_rows", "na")
        .withColumnRenamed("digest", "ga")
        .join(
            db.withColumnRenamed("n_rows", "nb").withColumnRenamed(
                "digest", "gb"
            ),
            "bucket",
            "full_outer",
        )
        .where(
            F.col("na").isNull()
            | F.col("nb").isNull()
            | (F.col("na") != F.col("nb"))
            | (F.col("ga") != F.col("gb"))
        )
        .agg(F.count("*").cast("long").alias("n_buckets_differ"))
    )
    return counts.crossJoin(F.broadcast(bd))


HOPS_TOP_EDGES = 3
HOPS_MAX = 3
HOPS_SOURCE = 0
HOPS_YEAR = 2000


def _trade_edges(spark, sf_dir):
    """Top-HOPS_TOP_EDGES revenue destinations per supplier nation
    over the HOPS_YEAR trade season: the SF-stable sparsifier
    (absolute/relative revenue thresholds flip between empty and
    complete graphs as SF grows — measured). The year filter reaches
    the parquet scan, so the 4-way fact join reads one season, not
    the history."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.year("l_shipdate") == HOPS_YEAR)
        .select("l_orderkey", "l_suppkey", "l_extendedprice")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cents").desc(), F.col("dst").asc()
    )
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= HOPS_TOP_EDGES)
        .select("src", "dst")
    )


def _nation_hops_oracle() -> str:
    """Unrolled min-plus BFS in SQL: the same HOPS_MAX rounds the
    Spark loop runs, as chained CTEs (no recursive CTE — identical
    fixed-depth semantics both engines by construction)."""
    prev = "d0"
    rounds = []
    for i in range(1, HOPS_MAX + 1):
        rounds.append(
            f"d{i} AS (SELECT nk, min(hops)::INT AS hops FROM (\n"
            f"  SELECT nk, hops FROM {prev}\n"
            f"  UNION ALL\n"
            f"  SELECT e.dst AS nk, {prev}.hops + 1 AS hops\n"
            f"  FROM {prev} JOIN e ON {prev}.nk = e.src) GROUP BY nk)"
        )
        prev = f"d{i}"
    return f"""
WITH rev AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))::BIGINT AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE year(l.l_shipdate) = {HOPS_YEAR}
  GROUP BY 1, 2),
e AS (SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cents DESC, dst) AS rk
        FROM rev)
      WHERE rk <= {HOPS_TOP_EDGES}),
d0(nk, hops) AS (SELECT {HOPS_SOURCE}, 0),
{",".join(rounds)}
SELECT n_name AS nation, nk::INT AS nationkey, hops
FROM {prev} JOIN nation ON n_nationkey = nk"""


@query(oracle=_nation_hops_oracle())
def q_nation_hops(spark, sf_dir):
    """Trade-reach BFS: hop levels from nation 0 over the top-3
    revenue-destination graph (operators/graph.py bfs_levels — fixed
    3-round min-plus unroll, frontier ⋈ edges equi-join + min
    aggregate per round; edges are a 75-row broadcast). The graph
    sparsifier is rank-based so the query means the same thing at
    every SF. Unreached nations are absent, not sentineled."""
    nation = _t(spark, sf_dir, "nation")
    # the 75-row edge relation is referenced once per BFS round:
    # without the pin each round replays the 4-way fact join (the
    # PageRank edge-list lesson — deferred checkpoint materializes
    # the DAG once on first action)
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    # out-degree is pinned at HOPS_TOP_EDGES, so path-enumeration mode
    # (<= 1+3+9+27 frontier rows, ONE min shuffle) beats 3 rounds of
    # dedup shuffles
    d = bfs_levels(edges, [HOPS_SOURCE], HOPS_MAX, frontier_dedup=False)
    return d.join(
        F.broadcast(nation), d["nk"] == nation["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        F.col("nk").cast("int").alias("nationkey"),
        "hops",
    )


@query(oracle="""
WITH RECURSIVE
cust AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment
         FROM customer),
cand AS (SELECT x.c_custkey AS a, y.c_custkey AS b
         FROM cust x JOIN cust y ON x.c_custkey < y.c_custkey
         WHERE levenshtein(x.c_name, y.c_name) <= 1
           AND x.c_nationkey = y.c_nationkey
           AND x.c_mktsegment = y.c_mktsegment),
edges AS (SELECT a AS u, b AS v FROM cand
          UNION SELECT b AS u, a AS v FROM cand),
reach(node, r) AS (
  SELECT u, v FROM edges
  UNION
  SELECT rr.node, e.v FROM reach rr JOIN edges e ON rr.r = e.u
),
lab AS (SELECT node, least(node, min(r)) AS group_id
        FROM reach GROUP BY node)
SELECT group_id::BIGINT AS entity_id, count(*)::BIGINT AS n_members,
       max(node)::BIGINT AS max_member
FROM lab GROUP BY group_id ORDER BY entity_id""")
def q_linkage_entities(spark, sf_dir):
    """Entity resolution on top of the record-linkage candidates: the
    ed<=1 name pairs (operators/joins.fuzzy_self_join_ed1 — deletion-
    neighborhood blocking, never a pairwise loop) that ALSO agree on
    both nation and market segment are treated as same-entity links
    and promoted to connected components via the dedup family's
    min-label propagation (operators/dedup.dup_groups). Per entity:
    canonical id (minimum member key), member count, max member key.
    The match rule is pure boolean agreement — no float score
    threshold, so no transcendental can flip a membership between
    engines; the brute levenshtein oracle doubles as the blocking
    completeness proof (the q_linkage_scores precedent), and the
    recursive-CTE closure replays the propagation exactly (the
    q_dedup_groups precedent). Only linked entities appear
    (singletons are the identity clusters)."""
    # split=True: deletion-neighborhood explode before the first join
    cust = _t(spark, sf_dir, "customer", split=True).select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    pairs = J.fuzzy_self_join_ed1(
        cust.select("c_custkey", "c_name"),
        name_col="c_name",
        id_col="c_custkey",
    )
    attrs_a = cust.select(
        F.col("c_custkey").alias("a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )
    attrs_b = cust.select(
        F.col("c_custkey").alias("b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
    )
    links = (
        pairs.join(attrs_a, "a")
        .join(attrs_b, "b")
        .where(
            (F.col("nat_a") == F.col("nat_b"))
            & (F.col("seg_a") == F.col("seg_b"))
        )
        .select("a", "b")
    )
    g = D.dup_groups(links)
    return (
        g.groupBy("group_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.max("node").cast("long").alias("max_member"),
        )
        .select(
            F.col("group_id").cast("long").alias("entity_id"),
            "n_members",
            "max_member",
        )
        .orderBy("entity_id")
    )
