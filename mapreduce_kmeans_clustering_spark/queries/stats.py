"""Statistics and experiments: survival curves and the log-rank test,
A/B lift and difference-in-differences, trends, isotonic calibration,
drift (PSI), Benford and Gini checks, scorecard binning, sketches,
sampling designs, column profiles and expectations.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_kmeans_clustering_spark.functions import sketch as SK
from mapreduce_kmeans_clustering_spark.operators import profile as PROF
from mapreduce_kmeans_clustering_spark.operators import sampling as S
from mapreduce_kmeans_clustering_spark.operators.calibrate import isotonic_fit
from mapreduce_kmeans_clustering_spark.queries._shared import (
    _docs,
    _events,
    _h6,
    _t,
    query,
)

@query(oracle="""
WITH d AS (SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem),
h AS (SELECT l_returnflag,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 13))::BIGINT
               / 4503599627370496.0 AS hv
      FROM d),
r AS (SELECT l_returnflag, hv,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rk
      FROM h),
est AS (SELECT l_returnflag, count(*)::INT AS n_kept,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                          ELSE 63.0 / max(hv) END, 4) AS est_distinct
        FROM r WHERE rk <= 64 GROUP BY l_returnflag),
ex AS (SELECT l_returnflag, count(DISTINCT l_orderkey)::BIGINT AS exact_distinct
       FROM lineitem GROUP BY l_returnflag)
SELECT est.l_returnflag, n_kept, est_distinct, exact_distinct
FROM est JOIN ex USING (l_returnflag)""")
def q_approx_distinct(spark, sf_dir):
    """KMV distinct-count sketch (functions/sketch.py) next to the
    exact count: deterministic cross-engine approximate-distinct,
    unlike HLL whose estimates are engine-specific. Estimates distinct
    orders per return flag from the lineitem fact."""
    li = _t(spark, sf_dir, "lineitem")
    est = SK.kmv_distinct(li, ["l_returnflag"], "l_orderkey", k=64)
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "l_returnflag").select(
        "l_returnflag", "n_kept", "est_distinct", "exact_distinct"
    )


@query(oracle="""
WITH per AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             FROM orders GROUP BY 1),
d AS (SELECT o_custkey, rev,
             ntile(10) OVER (ORDER BY rev DESC, o_custkey)::INT AS decile
      FROM per),
pd AS (SELECT decile, count(*)::BIGINT AS n_customers, sum(rev) AS drev
       FROM d GROUP BY 1),
t AS (SELECT sum(drev) AS tot FROM pd),
c AS (SELECT decile, n_customers, drev,
             sum(drev) OVER (ORDER BY decile) AS cum
      FROM pd)
SELECT decile, n_customers, round(drev, 2)::DOUBLE AS decile_revenue,
       round(cum::DOUBLE / tot::DOUBLE, 6) AS cum_share
FROM c CROSS JOIN t ORDER BY decile""")
def q_revenue_pareto(spark, sf_dir):
    """Revenue concentration curve (Pareto check): customers ranked by
    lifetime spend into deciles, with each decile's revenue and the
    cumulative share — "do 20% of customers drive 80% of revenue".
    The rank window sorts (revenue, custkey) PAIRS only (two values
    per customer, the length_buckets discipline); money stays DECIMAL
    until the final rounded projections so partition order can't
    perturb cents."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy(F.col("rev").desc(), "o_custkey")
    d = per.withColumn("decile", F.ntile(10).over(w).cast("int"))
    pd_ = d.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("rev").alias("drev"),
    )
    tot = pd_.agg(F.sum("drev").alias("tot"))
    cw = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        pd_.withColumn("cum", F.sum("drev").over(cw))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.round(F.col("drev"), 2).cast("double").alias("decile_revenue"),
            F.round(
                F.col("cum").cast("double") / F.col("tot").cast("double"), 6
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


KM_CHURN_DAYS = 90
KM_MONTH_DAYS = 30


# Kaplan-Meier oracle: identical integer day/month arithmetic, same
# ordered ln-cumsum with the extinction flag.
@query(oracle=f"""
WITH span AS (SELECT o_custkey, min(o_orderdate) AS first_o,
                     max(o_orderdate) AS last_o
              FROM orders GROUP BY 1),
ref AS (SELECT max(o_orderdate) AS max_d FROM orders),
life AS (SELECT c.c_mktsegment AS segment,
                (date_diff('day', first_o, last_o) // {KM_MONTH_DAYS})::INT
                  AS t,
                CASE WHEN date_diff('day', last_o, max_d) > {KM_CHURN_DAYS}
                     THEN 1 ELSE 0 END AS churned
         FROM span CROSS JOIN ref
              JOIN customer c ON span.o_custkey = c.c_custkey),
per_t AS (SELECT segment, t, sum(churned)::BIGINT AS d,
                 count(*)::BIGINT AS ended
          FROM life GROUP BY 1, 2),
staged AS (SELECT segment, t, d AS n_events,
                  (sum(ended) OVER (PARTITION BY segment)
                   - coalesce(sum(ended) OVER (
                        PARTITION BY segment ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0))::BIGINT AS n_risk
           FROM per_t),
sc AS (SELECT segment, t, n_risk, n_events,
              sum(CASE WHEN n_events < n_risk
                       THEN ln(1.0 - n_events / n_risk::DOUBLE)
                       ELSE 0.0 END) OVER w AS lns,
              max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END) OVER w AS x
       FROM staged
       WINDOW w AS (PARTITION BY segment ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT segment, t, n_risk, n_events,
       CASE WHEN x = 1 THEN 0.0 ELSE round(exp(lns), 6) END AS survival
FROM sc ORDER BY segment, t""")
def q_survival_km(spark, sf_dir):
    """Kaplan-Meier survival curves of customer activity per market
    segment — the churn-analysis staple: a customer's observed
    lifetime is the months between first and last order, an EVENT
    (churn) if the last order predates the corpus max date by more
    than KM_CHURN_DAYS, otherwise right-censored:

        S(t) = Π_{s<=t} (1 − d_s / n_s)

    with d_s churn events at month s and n_s the at-risk count
    (lifetime >= s). The product rides exp(Σ ln(1 − d/n)) over an
    ORDERED cumulative window — the same fixed-summation-order
    argument as the KS running sum — with the d == n extinction case
    handled by an explicit cumulative flag (Spark's ln(0) is NULL,
    DuckDB's is -inf; neither may reach the sum). Integer day/month
    arithmetic everywhere else. One orders aggregate, one tiny
    (segment, month) aggregate, two ordered windows."""
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    span = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_o"), F.max("o_orderdate").alias("last_o")
    )
    ref = o.agg(F.max("o_orderdate").alias("max_d"))
    life = (
        span.crossJoin(F.broadcast(ref))
        .join(cust, span["o_custkey"] == cust["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.expr(f"datediff(last_o, first_o) div {KM_MONTH_DAYS}")
            .cast("int")
            .alias("t"),
            (
                F.datediff(F.col("max_d"), F.col("last_o")) > KM_CHURN_DAYS
            )
            .cast("int")
            .alias("churned"),
        )
    )
    per_t = life.groupBy("segment", "t").agg(
        F.sum("churned").alias("d"), F.count("*").alias("ended")
    )
    worder = Window.partitionBy("segment").orderBy("t")
    cum_prev = (
        Window.partitionBy("segment")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot = Window.partitionBy("segment")
    at_risk = F.sum("ended").over(tot) - F.coalesce(
        F.sum("ended").over(cum_prev), F.lit(0)
    )
    staged = per_t.select(
        "segment",
        "t",
        F.col("d").cast("long").alias("n_events"),
        at_risk.cast("long").alias("n_risk"),
    )
    term = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.log(
            F.lit(1.0)
            - F.col("n_events") / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    extinct = F.when(F.col("n_events") == F.col("n_risk"), 1).otherwise(0)
    cume = Window.partitionBy("segment").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    scored = staged.select(
        "segment",
        "t",
        "n_risk",
        "n_events",
        F.sum(term).over(cume).alias("_ln"),
        F.max(extinct).over(cume).alias("_x"),
    )
    return scored.select(
        "segment",
        "t",
        "n_risk",
        "n_events",
        F.when(F.col("_x") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("_ln"), 6))
        .alias("survival"),
    ).orderBy("segment", "t")


FD_CANDIDATES = (
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderpriority", "o_orderstatus"),
    ("customer", "c_custkey", "c_nationkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
)


# FD-profile oracle: one integer aggregate pair per candidate.
def _fd_oracle() -> str:
    parts = []
    for table, lhs, rhs in FD_CANDIDATES:
        parts.append(
            f"""SELECT '{lhs}->{rhs}' AS fd, count(*)::BIGINT AS n_groups,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT
         AS violating_groups,
       sum(nrows - mx)::BIGINT AS violation_rows
FROM (SELECT {lhs}, sum(c) AS nrows, max(c) AS mx, count(*) AS n_rhs
      FROM (SELECT {lhs}, {rhs}, count(*)::BIGINT AS c
            FROM {table} GROUP BY 1, 2)
      GROUP BY 1)"""
        )
    return (
        "SELECT * FROM (\n" + "\nUNION ALL ".join(parts) + "\n) ORDER BY fd"
    )


@query(oracle=_fd_oracle())
def q_fd_profile(spark, sf_dir):
    """Functional-dependency profiling — the data-quality discovery
    pass: for each candidate A→B, how many A-groups exist, how many
    carry >1 distinct B (violating groups), and the minimum rows to
    delete for the FD to hold (Σ per group of rows − the largest
    single-B block; the g3 error of Kivinen-Mannila). Pure integer
    arithmetic; per candidate one (A, B) aggregate + one A aggregate,
    each with map-side partials."""
    outs = []
    for table, lhs, rhs in FD_CANDIDATES:
        t = _t(spark, sf_dir, table)
        g = t.groupBy(F.col(lhs), F.col(rhs)).agg(F.count("*").alias("c"))
        per_lhs = g.groupBy(lhs).agg(
            F.sum("c").alias("rows"),
            F.max("c").alias("mx"),
            F.count("*").alias("n_rhs"),
        )
        outs.append(
            per_lhs.agg(
                F.lit(f"{lhs}->{rhs}").alias("fd"),
                F.count("*").cast("long").alias("n_groups"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
                .cast("long")
                .alias("violating_groups"),
                F.sum(F.col("rows") - F.col("mx"))
                .cast("long")
                .alias("violation_rows"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("fd")


# Benford oracle: first digit from the cents string, same ln ratio,
# chi2 total over the rounded terms.
@query(oracle="""
WITH d AS (
  SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                1, 1)::INT AS digit
  FROM orders),
c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
t AS (SELECT sum(n)::BIGINT AS total FROM c),
s AS (
  SELECT digit, n,
         round(n / total::DOUBLE, 6) AS share,
         round((n - total * (ln(1.0 + 1.0 / digit) / ln(10.0)))
               * (n - total * (ln(1.0 + 1.0 / digit) / ln(10.0)))
               / (total * (ln(1.0 + 1.0 / digit) / ln(10.0))), 6)
           AS chi2_term
  FROM c CROSS JOIN t)
SELECT digit, n, share, chi2_term,
       round(sum(chi2_term) OVER (), 6) AS chi2
FROM s ORDER BY digit""")
def q_benford(spark, sf_dir):
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-numbers screen: observed first-significant-digit
    counts vs log10(1 + 1/d), with per-digit chi-square terms and the
    statistic as their sum. First digit is taken from the CENTS
    integer's decimal string (no float log can misclassify a
    boundary); the chi-square total sums the 6-dp-rounded terms, so
    it is order-independent and equals the printed parts (the PSI
    posture)."""
    o = _t(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    j = counts.crossJoin(F.broadcast(tot))
    exp = F.col("total") * (
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    )
    scored = j.select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("total").cast("double"), 6).alias("share"),
        F.round(
            (F.col("n") - exp) * (F.col("n") - exp) / exp, 6
        ).alias("chi2_term"),
    )
    w = Window.partitionBy()
    return scored.select(
        "digit",
        "n",
        "share",
        "chi2_term",
        F.round(F.sum("chi2_term").over(w), 6).alias("chi2"),
    ).orderBy("digit")


# Gini oracle: identical integer numerators (HUGEINT = DECIMAL(38,0)).
@query(oracle="""
WITH c AS (SELECT c_nationkey, c_custkey,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
           FROM customer WHERE c_acctbal > 0),
r AS (SELECT c_nationkey, cents::HUGEINT AS x,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY cents, c_custkey)::BIGINT AS i
      FROM c),
a AS (SELECT c_nationkey, count(*)::BIGINT AS n,
             sum(x) AS sx, sum((2 * i - 1) * x) AS swx
      FROM r GROUP BY 1)
SELECT c_nationkey, n,
       round((swx - n * sx)::DOUBLE / (n * sx)::DOUBLE, 6) AS gini
FROM a ORDER BY c_nationkey""")
def q_balance_gini(spark, sf_dir):
    """Per-nation Gini coefficient of positive customer balances —
    the inequality profile of a value distribution:

        G = Σ_i (2i − n − 1)·x_(i) / (n · Σx),  x sorted ascending.

    Exact until the final division: balances are cents integers, the
    rank coefficients are integers, and ties contribute the same
    total under any within-tie order (the coefficient block sums are
    order-free), so both engines divide identical exact numerators.
    One rank window per nation; the aggregate is integer DECIMAL."""
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .select(
            "c_nationkey",
            "c_custkey",
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "c_custkey")
    ranked = c.select(
        "c_nationkey",
        F.col("cents").cast("decimal(38,0)").alias("x"),
        F.row_number().over(w).cast("long").alias("i"),
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(
            (F.lit(2) * F.col("i") - F.lit(1)).cast("decimal(38,0)") * F.col("x")
        ).alias("swx"),
    )
    # G = (Σ(2i−1)x − (n+1)Σx + ... ) — use Σ(2i−n−1)x = Σ(2i−1)x − n·Σx
    gini = (
        (F.col("swx") - F.col("n").cast("decimal(38,0)") * F.col("sx")).cast(
            "double"
        )
        / (F.col("n") * F.col("sx")).cast("double")
    )
    return agg.select(
        "c_nationkey",
        "n",
        F.round(gini, 6).alias("gini"),
    ).orderBy("c_nationkey")


PSI_BINS = 10


# PSI oracle: identical integer binning + smoothed-share arithmetic.
@query(oracle=f"""
WITH base AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         date_trunc('day', ts::TIMESTAMP) AS day
  FROM events),
ext AS (
  SELECT event_type, min(cents) AS lo, max(cents) AS hi,
         min(day) AS d0, max(day) AS d1
  FROM base GROUP BY 1),
binned AS (
  SELECT b.event_type,
         least({PSI_BINS - 1},
               ((cents - lo) * {PSI_BINS}) // (hi - lo + 1))::INT AS bin,
         date_diff('day', d0, day) * 2 < date_diff('day', d0, d1) AS is_a
  FROM base b JOIN ext USING (event_type)),
counts AS (
  SELECT event_type, bin,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS n_b
  FROM binned GROUP BY 1, 2),
tots AS (SELECT event_type, sum(n_a) AS ta, sum(n_b) AS tb
         FROM counts GROUP BY 1),
scored AS (
  SELECT event_type, bin, n_a, n_b,
         round((
             (n_a + 1)::DOUBLE / (ta + {PSI_BINS})::DOUBLE
           - (n_b + 1)::DOUBLE / (tb + {PSI_BINS})::DOUBLE
         ) * ln(((n_a + 1)::DOUBLE / (ta + {PSI_BINS})::DOUBLE)
              / ((n_b + 1)::DOUBLE / (tb + {PSI_BINS})::DOUBLE)), 6)
           AS contrib
  FROM counts JOIN tots USING (event_type))
SELECT event_type, bin, n_a, n_b, contrib,
       round(sum(contrib) OVER (PARTITION BY event_type), 6) AS psi
FROM scored ORDER BY event_type, bin""")
def q_psi_drift(spark, sf_dir):
    """Population Stability Index per event type — the standard
    model-monitoring drift metric, here between the first and second
    half of the corpus's time range:

        PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)

    (<0.1 stable, 0.1–0.25 drifting, >0.25 shifted — the usual
    reading). Per-bin contributions are returned alongside the total
    so the drifted bins are attributable. Engine-exact structure:
    values are cents integers, bin assignment is pure integer
    arithmetic (no float edge can flip a boundary), the A/B split is
    an integer day-index comparison, and shares use add-one smoothing
    (c+1)/(n+BINS) — identical double divisions everywhere. One
    events aggregate + T-row broadcast extents; work past the scan is
    bins × types."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    ext = base.groupBy("event_type").agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    j = base.join(F.broadcast(ext), "event_type")
    binned = j.select(
        "event_type",
        F.least(
            F.lit(PSI_BINS - 1),
            F.expr(f"((cents - lo) * {PSI_BINS}) div (hi - lo + 1)"),
        )
        .cast("int")
        .alias("bin"),
        (
            F.datediff(F.col("day"), F.col("d0")) * 2
            < F.datediff(F.col("d1"), F.col("d0"))
        ).alias("is_a"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("n_b"),
    )
    tots = counts.groupBy("event_type").agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    scored = counts.join(F.broadcast(tots), "event_type").select(
        "event_type",
        "bin",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (
            (
                (F.col("n_a") + 1) / (F.col("ta") + PSI_BINS)
                - (F.col("n_b") + 1) / (F.col("tb") + PSI_BINS)
            )
            * F.log(
                ((F.col("n_a") + 1) / (F.col("ta") + PSI_BINS))
                / ((F.col("n_b") + 1) / (F.col("tb") + PSI_BINS))
            )
        ).alias("_c"),
    )
    # psi sums the ROUNDED contribs: 6-dp values are exact at 1e-6
    # granularity, so the window sum is order-independent doubles —
    # summing the raw terms would be engine-order-dependent (and the
    # printed total then provably equals the printed parts)
    w = Window.partitionBy("event_type")
    return (
        scored.withColumn("contrib", F.round("_c", 6))
        .select(
            "event_type",
            "bin",
            "n_a",
            "n_b",
            "contrib",
            F.round(F.sum("contrib").over(w), 6).alias("psi"),
        )
        .orderBy("event_type", "bin")
    )


NEYMAN_N = 200


# Neyman oracle: identical cents-integer moments (HUGEINT is exact,
# like Spark's DECIMAL(38,0)), identical sqrt/round/floor doubles,
# identical md5 rank order.
@query(oracle=f"""
WITH c AS (SELECT o_orderkey, o_orderpriority,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
m AS (SELECT o_orderpriority AS stratum, count(*)::BIGINT AS nh,
             sum(cents) AS s1, sum(cents * cents) AS s2
      FROM c GROUP BY 1),
wt AS (SELECT stratum, nh,
              round(sqrt((nh * s2 - s1 * s1)::DOUBLE), 2) AS w
       FROM m),
tot AS (SELECT sum(w) AS sw FROM wt),
alloc AS (SELECT stratum, nh AS n_stratum,
                 CAST(floor({NEYMAN_N}.0 * w / sw) AS BIGINT) AS n_alloc
          FROM wt CROSS JOIN tot
          WHERE floor({NEYMAN_N}.0 * w / sw) > 0),
r AS (SELECT o_orderkey, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY ('0x' || substr(md5('ns:' || o_orderkey), 1, 13))::BIGINT,
                        o_orderkey)::BIGINT AS rank
      FROM c)
SELECT o_orderkey, o_orderpriority, rank, n_alloc, n_stratum
FROM r JOIN alloc ON o_orderpriority = stratum
WHERE rank <= n_alloc
ORDER BY o_orderpriority, rank""")
def q_sample_neyman(spark, sf_dir):
    """Neyman-optimal stratified sampling of orders by priority class
    (operators/sampling.sample_neyman): quotas proportional to
    N_h·σ_h of o_totalprice — the allocation that minimizes the
    stratified-mean variance — then deterministic md5-priority
    selection within each stratum. Allocation arithmetic is
    cents-scaled integer (N_h·Σx² − (Σx)² exact), so both engines
    floor identical doubles into identical quotas; the sample itself
    is a rank-per-stratum window WindowGroupLimit prunes to local
    heads."""
    from mapreduce_kmeans_clustering_spark.operators.sampling import (
        sample_neyman,
    )

    return sample_neyman(
        _t(spark, sf_dir, "orders"),
        n_total=NEYMAN_N,
        strata_col="o_orderpriority",
        value_col="o_totalprice",
        id_col="o_orderkey",
    ).orderBy("o_orderpriority", "rank")


PROFILE_COLS = [
    "l_orderkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_returnflag",
    "l_shipdate",
]
WEIGHTED_SAMPLE_K = 50

# numeric columns get min/max; others NULL (mirrors profile.column_profile)
_PROFILE_NUMERIC = {"l_orderkey", "l_quantity", "l_extendedprice", "l_discount"}
_SQL_PROFILE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, count(*) AS n_rows,"
    f" count(*) - count({c}) AS n_null,"
    f" count(DISTINCT {c}) AS n_distinct,"
    + (
        f" min({c})::DOUBLE AS min_val, max({c})::DOUBLE AS max_val"
        if c in _PROFILE_NUMERIC
        else " CAST(NULL AS DOUBLE) AS min_val, CAST(NULL AS DOUBLE) AS max_val"
    )
    + " FROM lineitem"
    for c in PROFILE_COLS
)


@query(oracle=_SQL_PROFILE)
def q_profile_lineitem(spark, sf_dir):
    """Data-quality profile of the fact table: per-column null /
    distinct counts and numeric ranges in one scan
    (operators/profile.py — wide aggregate + stack unpivot)."""
    from mapreduce_kmeans_clustering_spark.operators.profile import column_profile

    li = _t(spark, sf_dir, "lineitem")
    return column_profile(li, PROFILE_COLS)


@query(oracle=f"""
WITH p AS (
  SELECT doc_id, source, n_chars,
         ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13))
           ::BIGINT::DOUBLE / n_chars AS pri
  FROM documents)
SELECT doc_id, source, n_chars, round(pri, 6) AS priority
FROM p ORDER BY pri, doc_id LIMIT {WEIGHTED_SAMPLE_K}""")
def q_sample_weighted(spark, sf_dir):
    """Deterministic weighted sampling: 50 docs drawn with inclusion
    odds proportional to n_chars (hash-priority reservoir,
    operators/sampling.py sample_weighted) — the importance-sampling
    step that fills a token budget. Priorities are bit-identical
    cross-engine (52-bit hash, IEEE division)."""
    docs = _docs(spark, sf_dir)
    s = S.sample_weighted(
        docs, k=WEIGHTED_SAMPLE_K, weight_col="n_chars", id_col="doc_id"
    )
    return s.select(
        "doc_id", "source", "n_chars", F.round("priority", 6).alias("priority")
    )


@query(oracle="""
SELECT count(*) AS n_items,
       round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 2)
         ::DOUBLE AS revenue
FROM lineitem
WHERE year(l_shipdate) = 1995 AND l_discount >= 0.05
  AND l_discount <= 0.07 AND l_quantity < 24""")
def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: one tight conjunctive filter + a single global
    aggregate — the query whose entire cost is the scan, so every
    predicate must reach the parquet reader (PushedFilters pinned in
    test_plans). Revenue in DECIMAL for order-independence."""
    li = _t(spark, sf_dir, "lineitem")
    amt = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")
    return (
        li.where(
            (F.year("l_shipdate") == 1995)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum(amt), 2).cast("double").alias("revenue"),
        )
    )


@query(oracle="""
WITH m AS (
  SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
         round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE
           AS revenue
  FROM orders GROUP BY 1)
SELECT month, revenue,
       coalesce(round(revenue - lag(revenue) OVER (ORDER BY month), 2),
                0.0) AS delta,
       coalesce(round((revenue - lag(revenue) OVER (ORDER BY month))
                      / lag(revenue) OVER (ORDER BY month) * 100.0, 4),
                0.0) AS pct_change
FROM m""")
def q_revenue_mom(spark, sf_dir):
    """Month-over-month revenue: monthly totals (DECIMAL, rounded)
    with absolute and percent change via lag — the delta query every
    finance dashboard opens with. Percent divides two already-rounded
    doubles, so both engines divide identical inputs."""
    orders = _t(spark, sf_dir, "orders")
    m = (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    # first month: lag is NULL -> 0.0 (keeps result columns non-NULL,
    # which sort-based cross-engine compares need)
    return m.select(
        "month",
        "revenue",
        F.coalesce(F.round(F.col("revenue") - prev, 2), F.lit(0.0)).alias("delta"),
        F.coalesce(
            F.round((F.col("revenue") - prev) / prev * 100.0, 4), F.lit(0.0)
        ).alias("pct_change"),
    )


@query(oracle="""
SELECT 'not_null:l_orderkey' AS rule,
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations FROM lineitem
UNION ALL
SELECT 'between:l_quantity',
       CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
                       OR l_quantity > 50.0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'between:l_discount',
       CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0
                       OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'in_set:l_returnflag',
       CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'regex:l_linestatus',
       CAST(sum(CASE WHEN NOT regexp_matches(coalesce(l_linestatus, ''),
                                             '^[FO]$')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'unique:line_uid',
       CAST(count(*) - count(DISTINCT l_orderkey || '-' || l_linenumber)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'fk:l_orderkey',
       CAST(count(*) AS BIGINT)
FROM lineitem l WHERE l_orderkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey)""")
def q_lineitem_expectations(spark, sf_dir):
    """Data-contract gate over the fact table: declared rules →
    violation counts (operators/expectations.py) — nulls, ranges,
    domains, uniqueness of the line id, and referential integrity
    against orders. Row rules share ONE scan; the FK check is one
    anti-join."""
    from mapreduce_kmeans_clustering_spark.operators.expectations import expect

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    li2 = li.withColumn(
        "line_uid",
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")),
    )
    return expect(
        li2,
        [
            ("not_null", "l_orderkey"),
            ("between", "l_quantity", 1.0, 50.0),
            ("between", "l_discount", 0.0, 0.1),
            ("in_set", "l_returnflag", ["A", "N", "R"]),
            ("regex", "l_linestatus", "^[FO]$"),
            ("unique", "line_uid"),
            ("fk", "l_orderkey", orders, "o_orderkey"),
        ],
    )


@query(oracle="""
WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
pc AS (
  SELECT o_custkey,
         CAST(min(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(m AS DATE))) AS INT) AS recency_days,
         count(*) AS frequency,
         round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE
           AS monetary
  FROM orders CROSS JOIN mx GROUP BY 1),
sc AS (
  SELECT o_custkey, monetary,
         'R' || ntile(4) OVER (ORDER BY recency_days, o_custkey)
         || 'F' || ntile(4) OVER (ORDER BY frequency DESC, o_custkey)
         || 'M' || ntile(4) OVER (ORDER BY monetary DESC, o_custkey)
           AS segment
  FROM pc)
SELECT segment, count(*) AS n_customers,
       round(sum(CAST(monetary AS DECIMAL(18,2))), 2)::DOUBLE
         AS segment_value
FROM sc GROUP BY 1""")
def q_customer_rfm(spark, sf_dir):
    """RFM segmentation: every customer scored into quartiles of
    Recency (days since last order, vs the corpus max date), Frequency
    (order count) and Monetary (total spend), rolled up per R-F-M
    segment code — the classic marketing cut, all ntile windows with
    custkey tie-breaks so the cut is deterministic."""
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("__mx"))
    per_cust = (
        orders.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.min(F.expr("datediff(__mx, o_orderdate)"))
            .cast("int")
            .alias("recency_days"),
            F.count("*").cast("long").alias("frequency"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("monetary"),
        )
    )
    r = F.ntile(4).over(
        Window.orderBy(F.col("recency_days"), F.col("o_custkey"))
    )
    f_ = F.ntile(4).over(
        Window.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    )
    m = F.ntile(4).over(
        Window.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    )
    scored = per_cust.select(
        "o_custkey",
        "monetary",
        F.concat(F.lit("R"), r, F.lit("F"), f_, F.lit("M"), m).alias("segment"),
    )
    return scored.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.round(F.sum(F.col("monetary").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("segment_value"),
    )


# conversion = any purchase above this value: splits users ~45-55%
# at every SF (purchase-count thresholds don't separate — every
# synthetic user buys; the per-user max purchase value has its
# median near 145)
AB_CONV_VALUE = 150.0


# A/B oracle: identical division chains; half-up 6-dp via
# floor(x*1e6 + 0.5)/1e6 both sides (round() ties differ cross-engine).
@query(oracle=f"""
WITH u AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > {AB_CONV_VALUE}
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1),
a AS (
  SELECT sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)::BIGINT
           AS conv_a,
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END)::BIGINT
           AS conv_b
  FROM u)
SELECT n_a, conv_a, n_b, conv_b,
  floor((conv_a / n_a) * 1000000.0 + 0.5) / 1000000.0 AS rate_a,
  floor((conv_b / n_b) * 1000000.0 + 0.5) / 1000000.0 AS rate_b,
  floor(((conv_b / n_b) - (conv_a / n_a)) * 1000000.0 + 0.5) / 1000000.0
    AS lift,
  floor((((conv_b / n_b) - (conv_a / n_a))
         / sqrt(((conv_a + conv_b) / (n_a + n_b))
                * (1.0 - ((conv_a + conv_b) / (n_a + n_b)))
                * ((1.0 / n_a) + (1.0 / n_b))))
        * 1000000.0 + 0.5) / 1000000.0 AS z_score
FROM a""")
def q_ab_lift(spark, sf_dir):
    """Two-arm conversion experiment read-out: users split by
    user_id parity, conversion = any purchase event; per-arm rates,
    absolute lift, and the pooled two-proportion z statistic. Counts
    are exact integers; every double is ONE division chain written
    identically in the oracle, rounded half-up in integer arithmetic
    (the Neyman/Gini recipe — Spark and DuckDB round(double) disagree
    near .5 ties, SCALE.md §5)."""
    e = _events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONV_VALUE)
            ).cast("int")
        ).alias("converted")
    )
    arms = per_user.select(
        (F.col("user_id") % 2).cast("int").alias("arm"), "converted"
    )
    agg = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )

    pa = F.col("conv_a") / F.col("n_a")
    pb = F.col("conv_b") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    z = (pb - pa) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        _h6(pa).alias("rate_a"),
        _h6(pb).alias("rate_b"),
        _h6(pb - pa).alias("lift"),
        _h6(z).alias("z_score"),
    )


TREND_BASE_YEAR = 1995


# Grouped-OLS oracle: identical integer moments (HUGEINT = the Spark
# DECIMAL(38,0) channel), identical double division chains.
@query(oracle=f"""
WITH monthly AS (
  SELECT c_nationkey,
         ((year(o_orderdate) - {TREND_BASE_YEAR}) * 12
          + (month(o_orderdate) - 1))::BIGINT AS x,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
mom AS (
  SELECT c_nationkey, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
         sum(x * x)::BIGINT AS sxx,
         sum(y::HUGEINT * y::HUGEINT) AS syy
  FROM monthly GROUP BY 1),
st AS (
  SELECT c_nationkey, n, sx, sy,
         (n::HUGEINT * sxy::HUGEINT - sx::HUGEINT * sy::HUGEINT) AS num,
         (n::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sx::HUGEINT) AS denx,
         (n::HUGEINT * syy - sy::HUGEINT * sy::HUGEINT) AS deny
  FROM mom WHERE n >= 3),
f AS (SELECT * FROM st WHERE denx != 0 AND deny != 0)
SELECT n_name AS nation, c_nationkey::INT AS nationkey, n AS n_months,
  floor((num::DOUBLE / denx::DOUBLE) * 1000000.0 + 0.5) / 1000000.0
    AS slope_q6,
  floor(((sy::DOUBLE - (num::DOUBLE / denx::DOUBLE) * sx::DOUBLE) / n)
        * 1000000.0 + 0.5) / 1000000.0 AS intercept_q6,
  floor(((num::DOUBLE * num::DOUBLE) / (denx::DOUBLE * deny::DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS r2_q6
FROM f JOIN nation ON n_nationkey = c_nationkey""")
def q_revenue_trend(spark, sf_dir):
    """Per-nation OLS trend of monthly order revenue: slope,
    intercept, R² from EXACT integer moments (cents, global month
    index) — the grouped-regression primitive behind every
    drift/forecast dashboard. Sums ride DECIMAL(38,0) (Σy² overflows
    long past ~sf1); each output is one double division chain
    written identically in the oracle, half-up 6 dp. Degenerate
    groups (constant x or y) are filtered symmetrically, not
    divided."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation")
    dec = "decimal(38,0)"
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "c_nationkey",
            (
                (F.year("o_orderdate") - TREND_BASE_YEAR) * 12
                + (F.month("o_orderdate") - 1)
            )
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("y")
        )
    )
    mom = monthly.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("syy"),
    )
    num = F.col("n").cast(dec) * F.col("sxy").cast(dec) - F.col(
        "sx"
    ).cast(dec) * F.col("sy").cast(dec)
    denx = F.col("n").cast(dec) * F.col("sxx").cast(dec) - F.col(
        "sx"
    ).cast(dec) * F.col("sx").cast(dec)
    deny = F.col("n").cast(dec) * F.col("syy") - F.col("sy").cast(
        dec
    ) * F.col("sy").cast(dec)
    staged = mom.select(
        "c_nationkey",
        "n",
        "sx",
        "sy",
        num.alias("num"),
        denx.alias("denx"),
        deny.alias("deny"),
    ).where(
        (F.col("n") >= 3) & (F.col("denx") != 0) & (F.col("deny") != 0)
    )
    slope = F.col("num").cast("double") / F.col("denx").cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n")
    r2 = (F.col("num").cast("double") * F.col("num").cast("double")) / (
        F.col("denx").cast("double") * F.col("deny").cast("double")
    )

    out = staged.select(
        "c_nationkey",
        F.col("n").alias("n_months"),
        _h6(slope).alias("slope_q6"),
        _h6(intercept).alias("intercept_q6"),
        _h6(r2).alias("r2_q6"),
    )
    return out.join(
        F.broadcast(n), out["c_nationkey"] == n["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        F.col("c_nationkey").cast("int").alias("nationkey"),
        "n_months",
        "slope_q6",
        "intercept_q6",
        "r2_q6",
    )


KMV_SETOPS_K = 64
KMV_YEAR_A = 1997
KMV_YEAR_B = 1998
ISO_BUCKET_WIDTH = 50
ISO_BUCKET_CAP = 9


@query(oracle=f"""
WITH va AS (SELECT DISTINCT o_custkey AS v FROM orders
            WHERE year(o_orderdate) = {KMV_YEAR_A}),
vb AS (SELECT DISTINCT o_custkey AS v FROM orders
       WHERE year(o_orderdate) = {KMV_YEAR_B}),
ha AS (SELECT v, ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 13))::BIGINT
                 / 4503599627370496.0 AS h FROM va),
hb AS (SELECT v, ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 13))::BIGINT
                 / 4503599627370496.0 AS h FROM vb),
ma AS (SELECT v, h FROM (SELECT v, h, row_number() OVER (ORDER BY h) AS r
                         FROM ha) WHERE r <= {KMV_SETOPS_K}),
mb AS (SELECT v, h FROM (SELECT v, h, row_number() OVER (ORDER BY h) AS r
                         FROM hb) WHERE r <= {KMV_SETOPS_K}),
merged AS (
  SELECT coalesce(ma.v, mb.v) AS v, coalesce(ma.h, mb.h) AS h,
         CASE WHEN ma.v IS NOT NULL THEN 1 ELSE 0 END AS ia,
         CASE WHEN mb.v IS NOT NULL THEN 1 ELSE 0 END AS ib
  FROM ma FULL OUTER JOIN mb ON ma.v = mb.v),
topu AS (SELECT * FROM (SELECT *, row_number() OVER (ORDER BY h) AS r
                        FROM merged) WHERE r <= {KMV_SETOPS_K}),
ea AS (SELECT round(CASE WHEN count(*) < {KMV_SETOPS_K}
                         THEN count(*)::DOUBLE
                         ELSE {KMV_SETOPS_K - 1}.0 / max(h) END, 4)
                AS est_a FROM ma),
eb AS (SELECT round(CASE WHEN count(*) < {KMV_SETOPS_K}
                         THEN count(*)::DOUBLE
                         ELSE {KMV_SETOPS_K - 1}.0 / max(h) END, 4)
                AS est_b FROM mb),
eu AS (SELECT count(*)::INT AS n_kept, sum(ia * ib)::INT AS n_both,
              round(CASE WHEN count(*) < {KMV_SETOPS_K}
                         THEN count(*)::DOUBLE
                         ELSE {KMV_SETOPS_K - 1}.0 / max(h) END, 4)
                AS est_union
       FROM topu),
eu2 AS (SELECT n_kept, n_both, est_union,
               round(CASE WHEN n_kept < {KMV_SETOPS_K}
                          THEN n_both::DOUBLE
                          ELSE n_both::DOUBLE / {KMV_SETOPS_K}.0
                               * est_union END, 4) AS est_inter
        FROM eu),
ex AS (
  SELECT sum(CASE WHEN va.v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS exact_a,
         sum(CASE WHEN vb.v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS exact_b,
         count(*)::BIGINT AS exact_union,
         sum(CASE WHEN va.v IS NOT NULL AND vb.v IS NOT NULL
                  THEN 1 ELSE 0 END)::BIGINT AS exact_inter
  FROM va FULL OUTER JOIN vb ON va.v = vb.v)
SELECT est_a, est_b, n_kept, n_both, est_union, est_inter,
       exact_a, exact_b, exact_union, exact_inter
FROM ea CROSS JOIN eb CROSS JOIN eu2 CROSS JOIN ex""")
def q_kmv_setops(spark, sf_dir):
    """Set-operation cardinality gate: repeat-customer overlap between
    the 1997 and 1998 order cohorts, estimated from two 64-row KMV
    sketches (functions/sketch.kmv_set_ops — union minima ⊆ the two
    sides' minima, so the merge is ≤2k rows at any corpus size;
    intersection via union-sketch membership ratio, Beyer et al.)
    next to the exact distinct-merge counts. Deterministic md5
    hashing keeps every estimate a pure function of the key sets, so
    the oracle replays estimates AND truth."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.year("o_orderdate") == KMV_YEAR_A).select("o_custkey")
    b = o.where(F.year("o_orderdate") == KMV_YEAR_B).select("o_custkey")
    return SK.kmv_set_ops(a, b, "o_custkey", KMV_SETOPS_K)


# Isotonic oracle: the minimax characterization evaluated over
# prefix sums — pure SQL, no recursion; the PAV block mean is the
# (j=block start, k=block end) candidate, and monotone IEEE rounding
# makes the double-valued max-min pick exactly that division.
@query(oracle=f"""
WITH u AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > {AB_CONV_VALUE}
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1),
g AS (
  SELECT e.event_type,
         least(floor(e.value / {ISO_BUCKET_WIDTH}), {ISO_BUCKET_CAP})::INT
           AS bucket,
         sum(u.conv)::BIGINT AS n_conv, count(*)::BIGINT AS n_events
  FROM events e JOIN u USING (user_id)
  GROUP BY 1, 2),
p AS (
  SELECT event_type, bucket, n_conv, n_events,
         sum(n_conv) OVER w AS sn, sum(n_events) OVER w AS sd
  FROM g
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
mn AS (
  SELECT i.event_type, i.bucket,
         j.sn - j.n_conv AS snj, j.sd - j.n_events AS sdj,
         min((k.sn - (j.sn - j.n_conv))::DOUBLE
             / (k.sd - (j.sd - j.n_events))) AS m
  FROM p i
  JOIN p j ON j.event_type = i.event_type AND j.bucket <= i.bucket
  JOIN p k ON k.event_type = i.event_type AND k.bucket >= i.bucket
  GROUP BY 1, 2, 3, 4),
f AS (SELECT event_type, bucket, max(m) AS y FROM mn GROUP BY 1, 2)
SELECT g.event_type, g.bucket, g.n_events, g.n_conv,
       floor((g.n_conv::DOUBLE / g.n_events) * 1000000.0 + 0.5)
         / 1000000.0 AS rate_q6,
       floor(f.y * 1000000.0 + 0.5) / 1000000.0 AS iso_q6
FROM g JOIN f USING (event_type, bucket)""")
def q_conversion_isotonic(spark, sf_dir):
    """Monotone conversion calibration: the empirical conversion rate
    per (event_type, value bucket) fitted by grouped isotonic
    regression (operators/calibrate.py — PAV in applyInPandas,
    integer cross-multiplication pooling). The oracle evaluates the
    minimax characterization ŷ = max_{j<=i} min_{k>=i} mean[j..k]
    declaratively, so the Arrow path is value-pinned against pure
    SQL — the strongest check a Python-side operator can get."""
    e = _events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONV_VALUE)
            ).cast("int")
        ).alias("conv")
    )
    pts = (
        e.join(per_user, "user_id")
        .groupBy(
            "event_type",
            F.least(
                F.floor(F.col("value") / ISO_BUCKET_WIDTH),
                F.lit(ISO_BUCKET_CAP),
            )
            .cast("int")
            .alias("bucket"),
        )
        .agg(
            F.sum("conv").cast("long").alias("n_conv"),
            F.count("*").cast("long").alias("n_events"),
        )
    )
    fit = isotonic_fit(
        pts, ["event_type"], "bucket", "n_conv", "n_events"
    )

    return fit.select(
        "event_type",
        "bucket",
        "n_events",
        "n_conv",
        _h6(F.col("n_conv") / F.col("n_events")).alias("rate_q6"),
        _h6(F.col("y_hat")).alias("iso_q6"),
    )


LTV_BASE_YEAR = 1995


@query(oracle=f"""
WITH o AS (
  SELECT o_custkey,
         (year(o_orderdate) - {LTV_BASE_YEAR}) * 12
           + (month(o_orderdate) - 1) AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
first AS (SELECT o_custkey, min(m) AS cohort FROM o GROUP BY 1),
sized AS (SELECT cohort, count(*)::BIGINT AS n_customers
          FROM first GROUP BY 1),
aged AS (
  SELECT f.cohort, o.m - f.cohort AS age, sum(o.cents)::BIGINT AS rev_cents
  FROM o JOIN first f USING (o_custkey)
  GROUP BY 1, 2),
cum AS (
  SELECT cohort, age, rev_cents,
         sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)::BIGINT AS cum_rev_cents
  FROM aged)
SELECT c.cohort::INT AS cohort, c.age::INT AS age, s.n_customers,
       c.rev_cents, c.cum_rev_cents,
       ((2 * c.cum_rev_cents + s.n_customers)
        // (2 * s.n_customers))::BIGINT AS ltv_cents
FROM cum c JOIN sized s USING (cohort)""")
def q_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value triangle: customers cohorted by first
    order month; per (cohort, months-since-first) the cohort's
    cumulative revenue per customer — the retention economics chart.
    Integer cents cumsum over an ordered window; the per-customer
    LTV is the exact-integer half-up '(2x + n) div 2n' division, so
    no float ever accumulates."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            (F.year("o_orderdate") - LTV_BASE_YEAR) * 12
            + (F.month("o_orderdate") - 1)
        ).alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    sized = first.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n_customers")
    )
    aged = (
        o.join(first, "o_custkey")
        .groupBy("cohort", (F.col("m") - F.col("cohort")).alias("age"))
        .agg(F.sum("cents").alias("rev_cents"))
    )
    wc = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = aged.withColumn("cum_rev_cents", F.sum("rev_cents").over(wc))
    return (
        cum.join(F.broadcast(sized), "cohort")
        .select(
            F.col("cohort").cast("int").alias("cohort"),
            F.col("age").cast("int").alias("age"),
            "n_customers",
            F.col("rev_cents").cast("long").alias("rev_cents"),
            F.col("cum_rev_cents").cast("long").alias("cum_rev_cents"),
            F.expr(
                "(2 * cum_rev_cents + n_customers) div (2 * n_customers)"
            )
            .cast("long")
            .alias("ltv_cents"),
        )
    )


@query(oracle=f"""
WITH monthly AS (
  SELECT c_nationkey,
         ((year(o_orderdate) - {TREND_BASE_YEAR}) * 12
          + (month(o_orderdate) - 1))::BIGINT AS x,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
pairs AS (
  SELECT a.c_nationkey AS nk, a.x AS xi, b.x AS xj,
         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END
           AS sgn,
         (b.y - a.y)::DOUBLE / (b.x - a.x) AS slope
  FROM monthly a JOIN monthly b
    ON a.c_nationkey = b.c_nationkey AND a.x < b.x),
ranked AS (
  SELECT nk, sgn, slope,
         row_number() OVER (PARTITION BY nk
                            ORDER BY slope, xi, xj) AS rk,
         count(*) OVER (PARTITION BY nk) AS m
  FROM pairs),
med AS (
  SELECT nk, avg(slope) AS slope_ts
  FROM ranked
  WHERE rk = (m + 1) // 2 OR rk = (m + 2) // 2
  GROUP BY nk),
s AS (SELECT nk, sum(sgn)::BIGINT AS s_stat, count(*)::BIGINT AS n_pairs
      FROM ranked GROUP BY nk),
sizes AS (SELECT c_nationkey, count(*)::BIGINT AS nm
          FROM monthly GROUP BY 1),
ties AS (
  SELECT c_nationkey,
         sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term
  FROM (SELECT c_nationkey, y, count(*)::BIGINT AS t
        FROM monthly GROUP BY 1, 2)
  GROUP BY 1),
staged AS (
  SELECT s.nk, sz.nm, s.n_pairs, s.s_stat, med.slope_ts,
         (sz.nm * (sz.nm - 1) * (2 * sz.nm + 5) - ties.tie_term)::DOUBLE
           / 18.0 AS var_s
  FROM s JOIN med USING (nk)
         JOIN sizes sz ON s.nk = sz.c_nationkey
         JOIN ties ON s.nk = ties.c_nationkey)
SELECT n_name AS nation, nk::INT AS nationkey, nm AS n_months,
       n_pairs, s_stat,
       floor(slope_ts * 1000000.0 + 0.5) / 1000000.0 AS ts_slope_q6,
       floor((CASE WHEN var_s > 0 AND s_stat > 0
                   THEN (s_stat - 1) / sqrt(var_s)
                   WHEN var_s > 0 AND s_stat < 0
                   THEN (s_stat + 1) / sqrt(var_s)
                   ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0
         AS mk_z_q6
FROM staged JOIN nation ON n_nationkey = nk""")
def q_trend_robust(spark, sf_dir):
    """Robust per-nation revenue trend: Theil-Sen median slope and the
    Mann-Kendall monotone-trend test over monthly revenue — the
    outlier-proof twin of q_revenue_trend's OLS (one wild month moves
    OLS, not the pairwise median). Everything flows from integer pair
    statistics: MK S is a sum of signs, its tie-corrected variance is
    pure integer until one /18.0, the median slope is a per-nation
    rank selection over exact int/int divisions with (slope, xi, xj)
    total order, and the even-count middle pair rides commutative
    two-term addition. Pair space is C(months, 2) per nation (~3.2k
    rows) — an equi-join on nation with an x< residual, never
    corpus-scale."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "c_nationkey",
            (
                (F.year("o_orderdate") - TREND_BASE_YEAR) * 12
                + (F.month("o_orderdate") - 1)
            )
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("y")
        )
    )
    a = monthly.select(
        F.col("c_nationkey").alias("nk"),
        F.col("x").alias("xi"),
        F.col("y").alias("yi"),
    )
    b = monthly.select(
        F.col("c_nationkey").alias("nk2"),
        F.col("x").alias("xj"),
        F.col("y").alias("yj"),
    )
    pairs = a.join(
        b, (F.col("nk") == F.col("nk2")) & (F.col("xi") < F.col("xj"))
    ).select(
        "nk",
        "xi",
        "xj",
        F.when(F.col("yj") > F.col("yi"), 1)
        .when(F.col("yj") < F.col("yi"), -1)
        .otherwise(0)
        .alias("sgn"),
        (
            (F.col("yj") - F.col("yi")).cast("double")
            / (F.col("xj") - F.col("xi"))
        ).alias("slope"),
    )
    w_rk = Window.partitionBy("nk").orderBy("slope", "xi", "xj")
    w_m = Window.partitionBy("nk")
    ranked = pairs.select(
        "nk",
        "sgn",
        "slope",
        F.row_number().over(w_rk).alias("rk"),
        F.count("*").over(w_m).alias("m"),
    )
    med = (
        ranked.where(
            (F.col("rk") == F.expr("(m + 1) div 2"))
            | (F.col("rk") == F.expr("(m + 2) div 2"))
        )
        .groupBy("nk")
        .agg(F.avg("slope").alias("slope_ts"))
    )
    s_stat = ranked.groupBy("nk").agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    sizes = monthly.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("nm")
    )
    ties = (
        monthly.groupBy("c_nationkey", "y")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("c_nationkey")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    staged = (
        s_stat.join(med, "nk")
        .join(sizes, s_stat["nk"] == sizes["c_nationkey"])
        .drop(sizes["c_nationkey"])
        .join(ties, s_stat["nk"] == ties["c_nationkey"])
        .drop(ties["c_nationkey"])
        .select(
            "nk",
            "nm",
            "n_pairs",
            "s_stat",
            "slope_ts",
            (
                (
                    F.col("nm")
                    * (F.col("nm") - 1)
                    * (2 * F.col("nm") + 5)
                    - F.col("tie_term")
                ).cast("double")
                / F.lit(18.0)
            ).alias("var_s"),
        )
    )
    z = (
        F.when(
            (F.col("var_s") > 0) & (F.col("s_stat") > 0),
            (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            (F.col("var_s") > 0) & (F.col("s_stat") < 0),
            (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    out = staged.select(
        "nk",
        F.col("nm").alias("n_months"),
        "n_pairs",
        "s_stat",
        _h6(F.col("slope_ts")).alias("ts_slope_q6"),
        _h6(z).alias("mk_z_q6"),
    )
    return out.join(
        F.broadcast(n), out["nk"] == n["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        F.col("nk").cast("int").alias("nationkey"),
        "n_months",
        "n_pairs",
        "s_stat",
        "ts_slope_q6",
        "mk_z_q6",
    )


DID_POST_YEAR = 1998


@query(oracle=f"""
WITH j AS (
  SELECT (c_nationkey % 2 = 0) AS treated,
         (year(o_orderdate) >= {DID_POST_YEAR}) AS post,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey),
a AS (
  SELECT
    {", ".join(
        f"sum(CASE WHEN treated = {bool(t)} AND post = {bool(p)} THEN 1 ELSE 0 END)::BIGINT AS n_{n}, "
        f"sum(CASE WHEN treated = {bool(t)} AND post = {bool(p)} THEN cents ELSE 0 END)::BIGINT AS s_{n}, "
        f"sum(CASE WHEN treated = {bool(t)} AND post = {bool(p)} THEN cents::HUGEINT * cents::HUGEINT ELSE 0::HUGEINT END) AS ss_{n}"
        for t, p, n in [(0, 0, "c_pre"), (0, 1, "c_post"),
                        (1, 0, "t_pre"), (1, 1, "t_post")]
    )}
  FROM j)
SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
  {", ".join(
      f"floor((s_{n} / n_{n}) * 1000000.0 + 0.5) / 1000000.0 AS mean_{n}"
      for n in ("c_pre", "c_post", "t_pre", "t_post")
  )},
  floor((((s_t_post / n_t_post) - (s_t_pre / n_t_pre))
         - ((s_c_post / n_c_post) - (s_c_pre / n_c_pre)))
        * 1000000.0 + 0.5) / 1000000.0 AS did_q6,
  floor(((((s_t_post / n_t_post) - (s_t_pre / n_t_pre))
          - ((s_c_post / n_c_post) - (s_c_pre / n_c_pre)))
         / sqrt(
             ((n_t_post::HUGEINT * ss_t_post
               - s_t_post::HUGEINT * s_t_post::HUGEINT)::DOUBLE
              / n_t_post / (n_t_post - 1)) / n_t_post
           + ((n_t_pre::HUGEINT * ss_t_pre
               - s_t_pre::HUGEINT * s_t_pre::HUGEINT)::DOUBLE
              / n_t_pre / (n_t_pre - 1)) / n_t_pre
           + ((n_c_post::HUGEINT * ss_c_post
               - s_c_post::HUGEINT * s_c_post::HUGEINT)::DOUBLE
              / n_c_post / (n_c_post - 1)) / n_c_post
           + ((n_c_pre::HUGEINT * ss_c_pre
               - s_c_pre::HUGEINT * s_c_pre::HUGEINT)::DOUBLE
              / n_c_pre / (n_c_pre - 1)) / n_c_pre))
        * 1000000.0 + 0.5) / 1000000.0 AS z_q6
FROM a""")
def q_did(spark, sf_dir):
    """Difference-in-differences on order revenue: treated nations
    (even keys) vs control, pre/post 1998 — the quasi-experimental
    read-out when there is no randomized arm. All four cell moments
    (n, Σcents, Σcents²) are exact integers (the square sums ride
    DECIMAL(38,0) — cents² sums pass 2^63 around sf0.1); cell means,
    the DiD estimate, per-cell sample variances and the Welch-style
    z are each ONE double division chain written identically in the
    oracle, half-up 6 dp. Single scan, one conditional aggregate —
    the ab_lift shape with a second factor."""
    dec = "decimal(38,0)"
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") >= DID_POST_YEAR).alias("post"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", (F.col("c_nationkey") % 2 == 0).alias("treated")
    )
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    aggs = []
    for t in (0, 1):
        for p in (0, 1):
            cond = (F.col("treated") == bool(t)) & (
                F.col("post") == bool(p)
            )
            name = f"{'t' if t else 'c'}_{'post' if p else 'pre'}"
            aggs += [
                F.sum(F.when(cond, 1).otherwise(0))
                .cast("long")
                .alias(f"n_{name}"),
                F.sum(F.when(cond, F.col("cents")).otherwise(0))
                .cast("long")
                .alias(f"s_{name}"),
                F.sum(
                    F.when(
                        cond,
                        F.col("cents").cast(dec) * F.col("cents").cast(dec),
                    ).otherwise(F.lit(0).cast(dec))
                ).alias(f"ss_{name}"),
            ]
    row = j.agg(*aggs)

    def mean(name):
        return F.col(f"s_{name}") / F.col(f"n_{name}")

    def var(name):
        num = F.col(f"n_{name}").cast(dec) * F.col(f"ss_{name}") - F.col(
            f"s_{name}"
        ).cast(dec) * F.col(f"s_{name}").cast(dec)
        return (
            num.cast("double")
            / F.col(f"n_{name}")
            / (F.col(f"n_{name}") - 1)
        )

    did = (mean("t_post") - mean("t_pre")) - (
        mean("c_post") - mean("c_pre")
    )
    se = F.sqrt(
        var("t_post") / F.col("n_t_post")
        + var("t_pre") / F.col("n_t_pre")
        + var("c_post") / F.col("n_c_post")
        + var("c_pre") / F.col("n_c_pre")
    )
    out = [F.col(f"n_{n}") for n in ("c_pre", "c_post", "t_pre", "t_post")]
    out += [
        _h6(mean(n)).alias(f"mean_{n}")
        for n in ("c_pre", "c_post", "t_pre", "t_post")
    ]
    out += [_h6(did).alias("did_q6"), _h6(did / se).alias("z_q6")]
    return row.select(*out)


LOGRANK_SEGMENT = "BUILDING"


@query(oracle=f"""
WITH span AS (
  SELECT o_custkey, min(o_orderdate) AS first_o, max(o_orderdate) AS last_o
  FROM orders GROUP BY 1),
ref AS (SELECT max(o_orderdate) AS max_d FROM orders),
life AS (
  SELECT (CASE WHEN c_mktsegment = '{LOGRANK_SEGMENT}' THEN 1 ELSE 0 END)
           AS grp,
         (datediff('day', first_o, last_o) // {KM_MONTH_DAYS})::INT AS t,
         CASE WHEN datediff('day', last_o, max_d) > {KM_CHURN_DAYS}
              THEN 1 ELSE 0 END AS churned
  FROM span CROSS JOIN ref
  JOIN customer ON o_custkey = c_custkey),
per AS (SELECT grp, t, count(*)::BIGINT AS ended,
               sum(churned)::BIGINT AS d
        FROM life GROUP BY 1, 2),
tmax AS (SELECT max(t) AS tmax FROM life),
grid AS (SELECT grp, unnest(generate_series(0, tmax))::INT AS t
         FROM (VALUES (0), (1)) g(grp) CROSS JOIN tmax),
cells AS (
  SELECT grid.grp, grid.t,
         coalesce(per.ended, 0) AS ended, coalesce(per.d, 0) AS d
  FROM grid LEFT JOIN per ON grid.grp = per.grp AND grid.t = per.t),
risky AS (
  SELECT grp, t, d,
         sum(ended) OVER (PARTITION BY grp)
           - coalesce(sum(ended) OVER (PARTITION BY grp ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS n_risk
  FROM cells),
byt AS (
  SELECT t,
         sum(CASE WHEN grp = 1 THEN n_risk ELSE 0 END)::BIGINT AS n1,
         sum(CASE WHEN grp = 0 THEN n_risk ELSE 0 END)::BIGINT AS n0,
         sum(CASE WHEN grp = 1 THEN d ELSE 0 END)::BIGINT AS d1,
         sum(CASE WHEN grp = 0 THEN d ELSE 0 END)::BIGINT AS d0
  FROM risky GROUP BY 1),
ev AS (
  SELECT t, n1 + n0 AS n, d1 + d0 AS d, n1, n0, d1
  FROM byt WHERE d1 + d0 > 0 AND n1 + n0 >= 2),
terms AS (
  SELECT t,
         (d1::HUGEINT * n::HUGEINT - d::HUGEINT * n1::HUGEINT)::DOUBLE
           / n AS o_term,
         (d::HUGEINT * n1::HUGEINT * n0::HUGEINT
          * (n - d)::HUGEINT)::DOUBLE / n / n / (n - 1) AS v_term
  FROM ev),
cum AS (
  SELECT t,
         sum(o_term) OVER w AS cum_o, sum(v_term) OVER w AS cum_v,
         count(*) OVER w AS n_times
  FROM terms
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)),
fin AS (SELECT * FROM cum ORDER BY t DESC LIMIT 1)
SELECT n_times::BIGINT AS n_event_months,
       floor(cum_o * 1000000.0 + 0.5) / 1000000.0 AS o_minus_e_q6,
       floor(cum_v * 1000000.0 + 0.5) / 1000000.0 AS var_q6,
       floor((cum_o / sqrt(cum_v)) * 1000000.0 + 0.5) / 1000000.0 AS z_q6
FROM fin""")
def q_survival_logrank(spark, sf_dir):
    """Two-group log-rank test on customer churn (BUILDING segment vs
    the rest) — the hypothesis test that belongs next to
    q_survival_km's curves: at every event month, observed group-1
    events against the at-risk-proportional expectation,

        Z = Σ_t (d1 − d·n1/n) / sqrt(Σ_t d·n1·n0·(n−d) / (n²(n−1)))

    Per-month numerators are EXACT integers (d1·n − d·n1 and the
    variance product ride DECIMAL(38,0) past ~sf1); each per-month
    ratio is one double division, and both sums run over an ORDERED
    cumulative window so the summation order is pinned cross-engine
    (the KM/KS fixed-order argument). The month grid densifies via a
    1-row max anchor + sequence explode, so each group's at-risk
    count exists at every event time even when that group has no row
    there."""
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    span = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_o"),
        F.max("o_orderdate").alias("last_o"),
    )
    ref = o.agg(F.max("o_orderdate").alias("max_d"))
    life = (
        span.crossJoin(F.broadcast(ref))
        .join(cust, span["o_custkey"] == cust["c_custkey"])
        .select(
            (F.col("c_mktsegment") == LOGRANK_SEGMENT)
            .cast("int")
            .alias("grp"),
            F.expr(f"datediff(last_o, first_o) div {KM_MONTH_DAYS}")
            .cast("int")
            .alias("t"),
            (F.datediff(F.col("max_d"), F.col("last_o")) > KM_CHURN_DAYS)
            .cast("int")
            .alias("churned"),
        )
    )
    per = life.groupBy("grp", "t").agg(
        F.count("*").cast("long").alias("ended"),
        F.sum("churned").cast("long").alias("d"),
    )
    tmax = life.agg(F.max("t").alias("tmax"))
    grid = (
        spark.createDataFrame([(0,), (1,)], "grp int")
        .crossJoin(F.broadcast(tmax))
        .select(
            "grp",
            F.explode(F.sequence(F.lit(0), F.col("tmax"))).alias("t"),
        )
    )
    cells = grid.join(per, ["grp", "t"], "left").select(
        "grp",
        "t",
        F.coalesce("ended", F.lit(0)).alias("ended"),
        F.coalesce("d", F.lit(0)).alias("d"),
    )
    tot = Window.partitionBy("grp")
    cum_prev = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risky = cells.select(
        "grp",
        "t",
        "d",
        (
            F.sum("ended").over(tot)
            - F.coalesce(F.sum("ended").over(cum_prev), F.lit(0))
        ).alias("n_risk"),
    )
    byt = risky.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("n_risk")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("n_risk")).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("grp") == 1, F.col("d")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 0, F.col("d")).otherwise(0))
        .cast("long")
        .alias("d0"),
    )
    dec = "decimal(38,0)"
    ev = byt.select(
        "t",
        (F.col("n1") + F.col("n0")).alias("n"),
        (F.col("d1") + F.col("d0")).alias("d"),
        "n1",
        "n0",
        "d1",
    ).where((F.col("d1") + F.col("d0") > 0) & (F.col("n1") + F.col("n0") >= 2))
    o_term = (
        F.col("d1").cast(dec) * F.col("n").cast(dec)
        - F.col("d").cast(dec) * F.col("n1").cast(dec)
    ).cast("double") / F.col("n")
    v_term = (
        F.col("d").cast(dec)
        * F.col("n1").cast(dec)
        * F.col("n0").cast(dec)
        * (F.col("n") - F.col("d")).cast(dec)
    ).cast("double") / F.col("n") / F.col("n") / (F.col("n") - 1)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = ev.select(
        "t",
        F.sum(o_term).over(wcum).alias("cum_o"),
        F.sum(v_term).over(wcum).alias("cum_v"),
        F.count("*").over(wcum).alias("n_times"),
    )
    fin = cum.agg(
        F.max(F.struct("t", "n_times", "cum_o", "cum_v")).alias("f")
    )
    return fin.select(
        F.col("f.n_times").cast("long").alias("n_event_months"),
        _h6(F.col("f.cum_o")).alias("o_minus_e_q6"),
        _h6(F.col("f.cum_v")).alias("var_q6"),
        _h6(F.col("f.cum_o") / F.sqrt(F.col("f.cum_v"))).alias("z_q6"),
    )


@query(oracle="""
WITH b AS (SELECT CAST(floor(l_discount * 100.0 + 0.5) AS INT) AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
           FROM lineitem),
per AS (SELECT bin, sum(1 - bad)::BIGINT AS n_good,
               sum(bad)::BIGINT AS n_bad
        FROM b GROUP BY 1),
tot AS (SELECT sum(n_good)::BIGINT AS gt, sum(n_bad)::BIGINT AS bt
        FROM per),
w AS (SELECT bin, n_good, n_bad,
             CASE WHEN n_good > 0 AND n_bad > 0 THEN
               floor(ln((n_bad * gt)::DOUBLE / (n_good * bt)::DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0
             END AS woe_q6,
             gt, bt
      FROM per, tot)
SELECT bin AS discount_pct, n_good, n_bad, woe_q6,
       floor(((n_bad::DOUBLE / bt) - (n_good::DOUBLE / gt)) * woe_q6
             * 1000000.0 + 0.5) / 1000000.0 AS iv_q6
FROM w""")
def q_woe_binning(spark, sf_dir):
    """Weight-of-evidence / information-value scorecard profile of the
    discount percentage against the return flag
    (operators/profile.woe_iv): per discount bin, exact class counts
    plus woe = ln((bad/bad_tot)/(good/good_tot)) and its IV
    contribution — the classic does-this-feature-separate diagnostic.
    One hash aggregate + broadcast-anchor totals; ln applied once per
    bin to a ratio of exact integer products, snapped to the 1e-6
    grid."""
    li = _t(spark, sf_dir, "lineitem")
    out = PROF.woe_iv(
        li,
        F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5)).cast("int"),
        (F.col("l_returnflag") == "R").cast("int"),
    )
    return out.select(
        F.col("bin").alias("discount_pct"),
        "n_good",
        "n_bad",
        "woe_q6",
        "iv_q6",
    )
