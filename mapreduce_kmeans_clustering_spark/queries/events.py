"""Events analytics over the events table: sessions and paths, funnels,
attribution, sliding and trailing windows, rollups (batch and
incremental), change-data-capture state, anomalies, trending and
cross-correlation.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_kmeans_clustering_spark.functions import sketch as SK
from mapreduce_kmeans_clustering_spark.operators import cdc as CDC
from mapreduce_kmeans_clustering_spark.operators import incremental as INC
from mapreduce_kmeans_clustering_spark.operators import joins as J
from mapreduce_kmeans_clustering_spark.queries._shared import _events, query

SESSION_GAP_US = 1800 * 1_000_000


@query(oracle="""
WITH e AS (SELECT ts::TIMESTAMP AS ts, event_type, value FROM events)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS total_value
FROM e GROUP BY 1, 2""")
def q_events_hourly(spark, sf_dir):
    e = _events(spark, sf_dir)
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    return (
        e.groupBy(hour.alias("hour"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@query(oracle=f"""
WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events),
l AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, count(*)::BIGINT AS n_events, sum(new_s)::BIGINT AS n_sessions
FROM l GROUP BY user_id""")
def q_events_sessions(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    return (
        e.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("new_s").cast("long").alias("n_sessions"),
        )
    )


@query(oracle="""
WITH t AS (SELECT user_id, round(sum(value), 4) AS total FROM events GROUP BY user_id),
r AS (SELECT user_id, total,
             row_number() OVER (ORDER BY total DESC, user_id) AS rank FROM t)
SELECT user_id, total, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10""")
def q_events_top_users(spark, sf_dir):
    e = _events(spark, sf_dir)
    totals = e.groupBy("user_id").agg(F.round(F.sum("value"), 4).alias("total"))
    w = Window.orderBy(F.col("total").desc(), F.col("user_id"))
    return (
        totals.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 10)
        .select("user_id", "total", "rank")
    )


@query(oracle="""
SELECT event_type, count(*)::BIGINT AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
FROM events GROUP BY event_type""")
def q_events_json(spark, sf_dir):
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


@query(oracle="""
WITH e AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
tv AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS tv
       FROM e GROUP BY user_id),
tc AS (SELECT e.user_id, any_value(tv.tv) AS tv,
              min(CASE WHEN event_type = 'click' AND ts >= tv.tv THEN ts END) AS tc
       FROM e JOIN tv ON e.user_id = tv.user_id GROUP BY e.user_id),
tp AS (SELECT e.user_id, any_value(tc.tv) AS tv, any_value(tc.tc) AS tc,
              min(CASE WHEN event_type = 'purchase' AND ts >= tc.tc THEN ts END) AS tp
       FROM e JOIN tc ON e.user_id = tc.user_id GROUP BY e.user_id)
SELECT CASE WHEN tp IS NOT NULL THEN 'purchase'
            WHEN tc IS NOT NULL THEN 'click'
            WHEN tv IS NOT NULL THEN 'view'
            ELSE 'none' END AS funnel_stage,
       count(*)::BIGINT AS n_users
FROM tp GROUP BY 1""")
def q_events_funnel(spark, sf_dir):
    """Ordered conversion funnel per user (view -> click -> purchase):
    each stage's timestamp must not precede the previous stage's first
    occurrence. Three chained aggregations; every join key is user_id."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    tv = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("tv")
    )
    tc = (
        e.join(tv, "user_id")
        .groupBy("user_id", "tv")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("tv")),
                    F.col("ts"),
                )
            ).alias("tc")
        )
    )
    tp = (
        e.join(tc, "user_id")
        .groupBy("user_id", "tv", "tc")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("tc")),
                    F.col("ts"),
                )
            ).alias("tp")
        )
    )
    stage = (
        F.when(F.col("tp").isNotNull(), "purchase")
        .when(F.col("tc").isNotNull(), "click")
        .when(F.col("tv").isNotNull(), "view")
        .otherwise("none")
    )
    return (
        tp.select(stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@query(oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type""")
def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles of event value per type (p50,
    p90, p99) — the percentile_cont/quantile_cont pair is linear
    interpolation in both engines."""
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 4).alias("p50"),
        F.round(F.percentile("value", 0.9), 4).alias("p90"),
        F.round(F.percentile("value", 0.99), 4).alias("p99"),
    )


# Six fixed 2-day campaign windows over the events month; literal and
# identical on both engines so the interval join is deterministic.
CAMPAIGNS = [
    (i, f"2024-01-{2 + 4 * i:02d} 00:00:00", f"2024-01-{4 + 4 * i:02d} 00:00:00")
    for i in range(6)
]
PIVOT_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(oracle="""
WITH p AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
           WHERE event_type = 'purchase'),
     v AS (SELECT event_id AS view_event_id, user_id, ts::TIMESTAMP AS view_ts
           FROM events WHERE event_type = 'view')
SELECT p.event_id, p.user_id, v.view_event_id,
       (epoch_us(p.ts) - epoch_us(v.view_ts)) // 1000 AS ms_since_view
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.view_ts""")
def q_events_attrib(spark, sf_dir):
    """Purchase attribution: each purchase joined AS-OF to the same
    user's latest prior 'view' (ms_since_view and the view's id; null
    when the purchase precedes every view). One sort-shuffle on
    user_id — no range join, no per-key quadratic work.

    Oracle tie assumption: DuckDB's ASOF JOIN has no tie-break clause,
    so the oracle relies on (user_id, ts) being unique among views —
    true of the generated events table (event_id is unique per ts
    draw). The Spark side passes right_order=view_event_id, which is
    the deterministic superset of that assumption; if the fixture ever
    gained duplicate (user_id, ts) views the oracle, not this query,
    would need a dedup-to-max-event_id pre-step."""
    e = _events(spark, sf_dir)
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    out = J.asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="view_ts",
        payload=["view_ts", "view_event_id"],
        right_order="view_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "view_event_id",
        F.expr("(unix_micros(ts) - unix_micros(view_ts)) div 1000").alias(
            "ms_since_view"
        ),
    )


@query(oracle=f"""
WITH c AS (SELECT * FROM (VALUES {", ".join(f"({i}, TIMESTAMP '{s}', TIMESTAMP '{e}')" for i, s, e in CAMPAIGNS)})
           t(campaign_id, start_ts, end_ts)),
     e AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events)
SELECT campaign_id::INT AS campaign_id, count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       round(sum(value), 4) AS total_value
FROM e JOIN c ON e.ts BETWEEN c.start_ts AND c.end_ts
GROUP BY campaign_id""")
def q_events_campaign(spark, sf_dir):
    """Per-campaign reach: events interval-joined to literal campaign
    windows via day-bucket equi-join (see operators/joins.py), then
    count / distinct-user / value rollup per campaign."""
    e = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    iv = spark.createDataFrame(
        CAMPAIGNS, "campaign_id INT, start_s STRING, end_s STRING"
    ).select(
        "campaign_id",
        F.col("start_s").cast("timestamp").alias("start_ts"),
        F.col("end_s").cast("timestamp").alias("end_ts"),
    )
    joined = J.interval_join(e, iv, "ts", "start_ts", "end_ts", 86400)
    return joined.groupBy("campaign_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


@query(oracle="""
(SELECT user_id FROM events WHERE event_type = 'purchase'
 INTERSECT
 SELECT user_id FROM events WHERE event_type = 'view')
EXCEPT
SELECT user_id FROM events
WHERE event_type = 'error' AND ts::TIMESTAMP < TIMESTAMP '2024-01-03'""")
def q_user_segments(spark, sf_dir):
    """Set operations (INTERSECT / EXCEPT, distinct semantics): users
    who both viewed and purchased, minus those who hit an error in the
    first two days (over a full month every user errors eventually, so
    the subtrahend is windowed to keep the result non-vacuous)."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    of_type = lambda t: e.where(F.col("event_type") == t).select("user_id")
    early_err = e.where(
        (F.col("event_type") == "error")
        & (F.col("ts") < F.lit("2024-01-03").cast("timestamp"))
    ).select("user_id")
    return of_type("purchase").intersect(of_type("view")).subtract(early_err)


@query(oracle=f"""
SELECT user_id,
       {", ".join(f"round(sum(value) FILTER (event_type = '{t}'), 4) AS {t}" for t in PIVOT_EVENT_TYPES)}
FROM events GROUP BY user_id""")
def q_events_pivot(spark, sf_dir):
    """Pivot (long→wide) with an explicit column list — never inferred
    from data, so the output schema is stable across scale factors and
    the pivot needs no extra distinct-values job."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id")
        .pivot("event_type", PIVOT_EVENT_TYPES)
        .agg(F.round(F.sum("value"), 4))
    )


@query(oracle="""
WITH s AS (SELECT event_type AS prev_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS next_type
           FROM events),
t AS (SELECT prev_type, next_type, count(*)::BIGINT AS n
      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT prev_type, sum(n) AS tn FROM t GROUP BY 1)
SELECT prev_type, next_type, n, round(n * 1.0 / tn, 6) AS p
FROM t JOIN tot USING (prev_type)""")
def q_event_transitions(spark, sf_dir):
    """Per-user event-type transition matrix — the behavior bigram
    model (counts + row-normalized probability) a session-modeling or
    next-event-prediction pipeline trains on. One lead window per
    user's time-ordered stream (the event-stream twin of
    doc_bigrams), then a T x T aggregate over the tiny type
    vocabulary; probabilities are one division per cell against the
    broadcast per-prev totals."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("prev_type"),
            "next_type",
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = s.groupBy("prev_type").agg(F.sum("n").alias("tn"))
    return s.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") * F.lit(1.0) / F.col("tn"), 6).alias("p"),
    )


PATH_STEPS = 5
PATH_TOP = 20


# Session-paths oracle: same gap rule, same (ts, event_id) total
# order, list sliced to the same step budget.
@query(oracle=f"""
WITH e AS (SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts
           FROM events),
l AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id, event_type, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM l),
p AS (
  SELECT user_id, sid,
         array_to_string(
           (list(event_type ORDER BY ts, event_id))[1:{PATH_STEPS}], '>')
           AS path
  FROM s GROUP BY 1, 2)
SELECT path, count(*)::BIGINT AS n_sessions
FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT {PATH_TOP}""")
def q_session_paths(spark, sf_dir):
    """Frequent session paths: the 20 most common event-type sequences
    (first PATH_STEPS steps) across gap-sessionized user streams —
    the behavior-flow mining behind funnel design. Sessions use the
    same 30-min gap rule as q_events_sessions; within a session the
    path is totally ordered by (ts, event_id), built as one
    array_sort + transform over the collected structs (per-session
    lists are bounded by session length — the 100 TB memory argument
    is per-key, same as sessionization itself). Top-k via
    TakeOrderedAndProject with the (count desc, path) tie-break."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    sid = F.sum(new_s).over(
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    paths = (
        e.select("user_id", "ts", "event_id", "event_type", sid.alias("sid"))
        .groupBy("user_id", "sid")
        .agg(
            F.expr(
                "array_join(slice(transform(array_sort("
                "collect_list(struct(ts, event_id, event_type))),"
                f" s -> s.event_type), 1, {PATH_STEPS}), '>')"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(PATH_TOP)
    )


# HLL oracle: identical 52-bit md5 split, string-length bit_length,
# exact power-of-two harmonic sum, same alpha expression text.
def _hll_hash_sql(group: str, src: str) -> str:
    """CTEs h, r, regs: the engine-exact HLL register build (md5 ->
    2^46 bucket/rho split) parameterized by grouping column — ONE
    copy of the constants for every oracle replaying
    functions/sketch.hll_registers."""
    return f"""h AS (SELECT {group},
             ('0x' || substr(md5('hll:' || user_id), 1, 13))::BIGINT AS h
      FROM {src}),
r AS (SELECT {group}, (h // 70368744177664)::INT AS bucket,
             (CASE WHEN h % 70368744177664 = 0 THEN 47
                   ELSE 47 - length(bin(h % 70368744177664)) END)::INT
               AS rho
      FROM h),
regs AS (SELECT {group}, bucket, max(rho) AS rho FROM r GROUP BY 1, 2)"""


def _hll_est_sql(group: str, regs_rel: str) -> str:
    """CTEs t, e, est: harmonic sum + linear-counting-corrected
    estimate over any (group, bucket, rho) register relation — the
    oracle twin of functions/sketch.hll_estimate; est exposes
    ({group}, v, raw)."""
    return f"""t AS (SELECT {group},
             sum(1::BIGINT << greatest(0, 46 - rho))::BIGINT AS s,
             count(*)::BIGINT AS nb
      FROM {regs_rel} GROUP BY 1),
e AS (SELECT {group}, (64 - nb)::INT AS v,
             (s + (64 - nb) * 70368744177664)::DOUBLE AS sfull
      FROM t),
est AS (SELECT {group}, v,
               CASE WHEN (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                         * 70368744177664.0 / sfull <= 160.0 AND v > 0
                    THEN 64.0 * ln(64.0 / v)
                    ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                         * 70368744177664.0 / sfull END AS raw
        FROM e)"""


@query(oracle=f"""
WITH {_hll_hash_sql("event_type", "events")},
{_hll_est_sql("event_type", "regs")},
x AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
      FROM events GROUP BY 1)
SELECT event_type, v AS n_zero_registers,
       floor(raw * 10000.0 + 0.5) / 10000.0 AS est_distinct,
       exact_distinct,
       floor(((floor(raw * 10000.0 + 0.5) / 10000.0 - exact_distinct)
              / exact_distinct::DOUBLE) * 10000.0 + 0.5) / 10000.0
         AS rel_err
FROM est JOIN x USING (event_type) ORDER BY event_type""")
def q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct-user estimate per event type
    (functions/sketch.hll_registers/hll_estimate), reported against
    the exact count with its relative error — the engine-portable twin
    of approx_count_distinct, bit-exact under the DuckDB oracle where
    the built-in HLL++ is engine-specific. The register table is the
    MERGEABLE summary (shards union by max(rho) per bucket — the
    100 TB property); the harmonic sum is exact long arithmetic
    (powers of two, total < 2^53) so no summation order can perturb
    the estimate."""
    ev = _events(spark, sf_dir)
    regs = SK.hll_registers(ev, ["event_type"], "user_id")
    est = SK.hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_zero_registers",
            "est_distinct",
            "exact_distinct",
            (
                F.floor(
                    (F.col("est_distinct") - F.col("exact_distinct"))
                    / F.col("exact_distinct").cast("double")
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


# Seasonal oracle: identical x7 decimal trick; Spark dayofweek is
# 1=Sunday..7 while DuckDB's is 0=Sunday..6, hence the +1.
@query(oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
         sum(CAST(value AS DECIMAL(18,4))) AS x
  FROM events GROUP BY 1, 2),
full_w AS (
  SELECT event_type, day, x,
         sum(x) OVER w AS t7, count(*) OVER w AS nw
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
base AS (
  SELECT event_type, day, x, t7,
         (dayofweek(day) + 1)::INT AS dow,
         7 * x - t7 AS dev7
  FROM full_w WHERE nw = 7),
seas AS (
  SELECT event_type, dow, sum(dev7) AS sdev7, count(*)::BIGINT AS nd
  FROM base GROUP BY 1, 2)
SELECT event_type, day, round(x::DOUBLE, 4) AS total,
       round(t7::DOUBLE / 7.0, 4) AS trend,
       round(sdev7::DOUBLE / (7.0 * nd), 4) AS seasonal,
       round(x::DOUBLE - t7::DOUBLE / 7.0
             - sdev7::DOUBLE / (7.0 * nd), 4) AS residual
FROM base JOIN seas USING (event_type, dow)
ORDER BY event_type, day""")
def q_events_seasonal(spark, sf_dir):
    """Classical seasonal decomposition of per-type daily totals:
    total = trend + seasonal + residual, with trend a centered 7-day
    moving average and seasonal the per-day-of-week mean deviation
    from trend (the moving-average method behind STL's initial pass).
    Edge days without a full 7-day window drop out, matching the
    textbook construction.

    Engine-exact by the ×7 trick: daily totals are DECIMAL, the trend
    window is an exact decimal SUM (t7), deviations stay exact as
    7·x − t7, and the seasonal aggregate sums those exact decimals —
    division happens only in the output projection, as identical
    double ops on identical exact operands. Key-partitioned window +
    one DOW aggregate; nothing global."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("x"))
    wt = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    full = (
        daily.select(
            "event_type",
            "day",
            "x",
            F.sum("x").over(wt).alias("t7"),
            F.count("*").over(wt).alias("nw"),
        )
        .where(F.col("nw") == 7)
    )
    base = full.select(
        "event_type",
        "day",
        "x",
        "t7",
        F.dayofweek("day").alias("dow"),
        (F.lit(7).cast("decimal(2,0)") * F.col("x") - F.col("t7")).alias("dev7"),
    )
    seas = base.groupBy("event_type", "dow").agg(
        F.sum("dev7").alias("sdev7"), F.count("*").alias("nd")
    )
    j = base.join(F.broadcast(seas), ["event_type", "dow"])
    trend = F.col("t7").cast("double") / F.lit(7.0)
    seasonal = F.col("sdev7").cast("double") / (F.lit(7.0) * F.col("nd"))
    return j.select(
        "event_type",
        "day",
        F.round(F.col("x").cast("double"), 4).alias("total"),
        F.round(trend, 4).alias("trend"),
        F.round(seasonal, 4).alias("seasonal"),
        F.round(F.col("x").cast("double") - trend - seasonal, 4).alias(
            "residual"
        ),
    ).orderBy("event_type", "day")


TREND_MAX_WEEKS = 8
TREND_TOP = 10


# Trending oracle: identical scaled-integer step decay.
@query(oracle=f"""
WITH daily AS (
  SELECT event_type, user_id, date_trunc('day', ts::TIMESTAMP) AS day,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2, 3),
ref AS (SELECT max(day) AS ref_day FROM daily),
sc AS (
  SELECT event_type, user_id,
         sum(cents * (1::BIGINT << ({TREND_MAX_WEEKS} - least(
             CAST(floor(date_diff('day', day, ref_day) / 7.0) AS INT),
             {TREND_MAX_WEEKS})))) AS sv,
         sum(n * (1::BIGINT << ({TREND_MAX_WEEKS} - least(
             CAST(floor(date_diff('day', day, ref_day) / 7.0) AS INT),
             {TREND_MAX_WEEKS})))) AS sc
  FROM daily CROSS JOIN ref GROUP BY 1, 2),
o AS (
  SELECT event_type, user_id,
         ((sv * 625 + 800) // 1600)::DOUBLE / 10000.0 AS decayed_value,
         ((sc * 625 + 8) // 16)::DOUBLE / 10000.0 AS decayed_events
  FROM sc),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY decayed_value DESC, user_id)::INT AS rank
  FROM o)
SELECT event_type, user_id, decayed_value, decayed_events, rank
FROM r WHERE rank <= {TREND_TOP} ORDER BY event_type, rank""")
def q_events_trending(spark, sf_dir):
    """Decayed heavy hitters: top-10 users per event type by
    half-life-decayed activity — the 'trending now' ranking, where
    yesterday counts double last week. Decay is a STEP half-life
    (weight 2^-weeks, clamped at 8 weeks), so every weighted term is
    an exact SCALED INTEGER (cents << (8 - weeks)) and the aggregate
    is order-independent long arithmetic in both engines — no pow(),
    whose last-ulp behavior is not portable. The reference day is the
    corpus max, riding a 1-row broadcast anchor; one daily aggregate,
    one user aggregate, one WindowGroupLimit-pruned rank window."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        F.count("*").alias("n"),
    )
    ref = daily.agg(F.max("day").alias("ref_day"))
    w = F.least(
        F.floor(F.datediff(F.col("ref_day"), F.col("day")) / F.lit(7.0)),
        F.lit(TREND_MAX_WEEKS),
    ).cast("int")
    scored = (
        daily.crossJoin(F.broadcast(ref))
        .select("event_type", "user_id", "cents", "n", w.alias("w"))
        .select(
            "event_type",
            "user_id",
            (
                F.col("cents")
                * F.expr(f"shiftleft(1L, {TREND_MAX_WEEKS} - w)")
            ).alias("sv"),
            (F.col("n") * F.expr(f"shiftleft(1L, {TREND_MAX_WEEKS} - w)")).alias(
                "sc"
            ),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("sv").alias("sv"), F.sum("sc").alias("sc"))
        # 4-decimal HALF-UP rounding done in exact integer arithmetic
        # (sv/25600 → ·10⁴ = sv·625/1600): engines disagree on
        # double round() exactly at .5 ties, integer div never does
        .select(
            "event_type",
            "user_id",
            (F.expr("(sv * 625 + 800) div 1600") / F.lit(10000.0)).alias(
                "decayed_value"
            ),
            (F.expr("(sc * 625 + 8) div 16") / F.lit(10000.0)).alias(
                "decayed_events"
            ),
        )
    )
    rw = Window.partitionBy("event_type").orderBy(
        F.col("decayed_value").desc(), F.col("user_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rw).cast("int"))
        .where(F.col("rank") <= TREND_TOP)
        .orderBy("event_type", "rank")
    )


# CUSUM oracle: the same closed form (prefix sum minus clamped prefix
# min) in pure DECIMAL — 1.02/0.98/0.10 are exactly (1±α) and β.
@query(oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
         sum(CAST(value AS DECIMAL(18,4))) AS x
  FROM events GROUP BY 1, 2),
b AS (
  SELECT event_type, day, x,
         count(*) OVER (PARTITION BY event_type)::DECIMAL(10,0) AS n,
         sum(x) OVER (PARTITION BY event_type) AS s
  FROM daily),
y AS (
  SELECT event_type, day, x, s,
         n * x - 1.02 * s AS yp,
         0.98 * s - n * x AS yn,
         0.10 * n::DOUBLE * s::DOUBLE AS h
  FROM b),
c AS (
  SELECT event_type, day, x, s, h,
         sum(yp) OVER w AS cp, sum(yn) OVER w AS cn
  FROM y
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
f AS (
  SELECT event_type, day, x, s, h,
         cp - least(0, min(cp) OVER w) AS sp,
         cn - least(0, min(cn) OVER w) AS sn
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, day, round(x::DOUBLE, 4) AS total,
       round(sp::DOUBLE / s::DOUBLE, 6) AS cusum_pos,
       round(sn::DOUBLE / s::DOUBLE, 6) AS cusum_neg,
       sp::DOUBLE > h AS alarm_pos, sn::DOUBLE > h AS alarm_neg
FROM f ORDER BY event_type, day""")
def q_events_cusum(spark, sf_dir):
    """Two-sided CUSUM changepoint monitor on per-type daily totals
    (operators/profile.cusum_daily) — accumulates small sustained
    mean drifts the per-day z-score (q_events_anomaly) never trips.
    The max-reset recursion is solved closed-form as prefix-sum minus
    prefix-min (two key-partitioned windows, no iteration), and every
    intermediate is DECIMAL with the recursion multiplied through by
    the day count, so both engines compute bit-identical statistics
    in any window evaluation order."""
    from mapreduce_kmeans_clustering_spark.operators.profile import cusum_daily

    return cusum_daily(_events(spark, sf_dir)).orderBy("event_type", "day")


@query(oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY 1, 2)
SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events,
       round(avg(n_events) OVER (PARTITION BY user_id ORDER BY day
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
             6) AS avg_7d
FROM daily""")
def q_user_moving_avg(spark, sf_dir):
    """Per-user trailing mean of daily event counts over the 7 most
    recent active days (rows-frame window — time-series smoothing
    shape). One aggregate + one window, both keyed by user."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "user_id",
        "day",
        "n_events",
        F.round(F.avg("n_events").over(w), 6).alias("avg_7d"),
    )


@query(oracle="""
WITH x AS (
  SELECT unnest([date_trunc('hour', ts),
                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
         value
  FROM events)
SELECT win_start, win_start + INTERVAL 2 HOUR AS win_end,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM x GROUP BY 1""")
def q_events_sliding(spark, sf_dir):
    """Overlapping 2-hour windows sliding by 1 hour (each event lands
    in exactly two windows) — the sliding-window aggregation shape,
    batch twin of the streaming version."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "n_events",
            "total_value",
        )
    )


@query(oracle="""
WITH c AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
t AS (SELECT sum(n_events) AS total FROM c),
r AS (SELECT user_id, n_events,
             row_number() OVER (ORDER BY n_events DESC, user_id) AS rank
      FROM c)
SELECT CAST(rank AS INT) AS rank, user_id,
       CAST(n_events AS BIGINT) AS n_events,
       round(n_events * 1.0 / total, 6) AS share
FROM r CROSS JOIN t WHERE rank <= 10""")
def q_key_skew(spark, sf_dir):
    """Key-distribution profiler: the 10 hottest user_ids with their
    share of all events — the diagnostic that decides whether a join or
    window needs the salting hatch (operators/joins.py). One aggregate + a broadcast of the 1-row
    total; the ranking runs over the already-reduced per-key counts."""
    ev = _events(spark, sf_dir)
    counts = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n_events"))
    total = counts.agg(F.sum("n_events").alias("total"))
    w = Window.orderBy(F.col("n_events").desc(), F.col("user_id"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 10)
        .select(
            "rank",
            "user_id",
            "n_events",
            F.round(F.col("n_events") / F.col("total"), 6).alias("share"),
        )
    )


@query(oracle="""
SELECT event_id, user_id, ts,
       count(*) OVER w AS n_24h,
       round(sum(value) OVER w, 2) AS value_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)""")
def q_events_trailing24h(spark, sf_dir):
    """RANGE-frame window: for every event, how many events (and how
    much value) the same user produced in the trailing 24 hours —
    a value-based frame over epoch seconds, not a row count, so sparse
    and bursty users get the same time horizon. One shuffle on
    user_id; the frame is evaluated inside the per-user sort."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-86400, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).cast("long").alias("n_24h"),
        F.round(F.sum("value").over(w), 2).alias("value_24h"),
    )


@query(oracle="""
WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts)::TIMESTAMP AS week
            FROM events),
f AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) // 7 AS INT) AS week_n,
       count(DISTINCT user_id) AS n_users
FROM uw JOIN f USING (user_id)
GROUP BY 1, 2""")
def q_events_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-seen week, how
    many are still active N weeks later — the table behind every
    retention curve. Two aggregates (first-seen per user; distinct
    user-weeks) joined on user_id; the user grain keeps both sides
    partition-parallel and the result is cohort×week tiny."""
    ev = _events(spark, sf_dir)
    weeks = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    first = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weeks.join(first, "user_id")
        .select(
            "cohort_week",
            F.expr("datediff(week, cohort_week) div 7").cast("int").alias("week_n"),
            "user_id",
        )
        .groupBy("cohort_week", "week_n")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


@query(oracle="""
SELECT day,
       coalesce(CAST(hr AS VARCHAR), 'ALL') AS hr,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS total_value
FROM (SELECT date_trunc('day', ts)::TIMESTAMP AS day,
             date_trunc('hour', ts)::TIMESTAMP AS hr, value
      FROM events)
GROUP BY ROLLUP (day, hr)
HAVING day IS NOT NULL""")
def q_events_rollup(spark, sf_dir):
    """Hypertable-style time rollup: one scan producing day AND
    (day, hour) grains via ROLLUP — the continuous-aggregate shape a
    time-series store materializes. Coarser grains come free from the
    same partial aggregates; no second pass over the events."""
    ev = _events(spark, sf_dir)
    g = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "value",
    )
    return (
        g.rollup("day", "hr")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .where(F.col("day").isNotNull())  # keep day and day×hour grains
        .select(
            "day",
            F.coalesce(F.col("hr").cast("string"), F.lit("ALL")).alias("hr"),
            "n_events",
            "total_value",
        )
    )


HISTQ_LO, HISTQ_HI, HISTQ_BUCKETS = 0.0, 500.0, 100
HISTQ_QS = [0.5, 0.95]


@query(oracle="""
WITH c AS (
  SELECT event_type,
         CAST(least(99, greatest(0, floor((value - 0.0) / 5.0))) AS INT)
           AS bucket,
         count(*) AS n
  FROM events GROUP BY 1, 2),
w AS (SELECT event_type, bucket, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS total
      FROM c),
q(q) AS (VALUES (0.5::DOUBLE), (0.95::DOUBLE)),
j AS (SELECT event_type, q, bucket, n, cum, total, q * total AS qt
      FROM w CROSS JOIN q)
SELECT event_type, q,
       round(0.0 + 5.0 * (bucket + (qt - (cum - n)) / n), 6) AS est
FROM j WHERE cum >= qt AND (cum - n) < qt""")
def q_value_quantile_sketch(spark, sf_dir):
    """Histogram-sketch quantiles of event value per type (p50/p95):
    the deterministic single-pass alternative to percentile_approx —
    exact bucket counts + in-bucket linear interpolation, mergeable
    across shards (functions/sketch.py histogram_quantiles)."""
    ev = _events(spark, sf_dir)
    return SK.histogram_quantiles(
        ev,
        "value",
        qs=HISTQ_QS,
        lo=HISTQ_LO,
        hi=HISTQ_HI,
        buckets=HISTQ_BUCKETS,
        groups=["event_type"],
    )


@query(oracle="""
WITH ex AS (SELECT user_id, count(*) AS true_n FROM events GROUP BY 1
            ORDER BY true_n DESC, user_id LIMIT 10),
cms AS (
  SELECT d,
         ('0x' || substr(md5('cms' || CAST(d AS VARCHAR) || ':'
                              || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % 256 AS b,
         count(*) AS cnt
  FROM events, range(4) r(d) GROUP BY 1, 2),
probes AS (
  SELECT user_id, d,
         ('0x' || substr(md5('cms' || CAST(d AS VARCHAR) || ':'
                              || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % 256 AS b
  FROM ex, range(4) r(d)),
est AS (SELECT user_id, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_n
        FROM probes LEFT JOIN cms USING (d, b) GROUP BY 1)
SELECT ex.user_id, CAST(true_n AS BIGINT) AS true_n, est_n
FROM ex JOIN est USING (user_id)""")
def q_user_heavy_hitters(spark, sf_dir):
    """Heavy hitters with a count-min sketch audit: the exact top-10
    users by event count next to their CMS estimates (depth 4 x width
    256 counters — bounded memory regardless of key cardinality,
    mergeable across shards). est_n >= true_n always (CMS never
    undercounts); the gap is the collision mass the sketch config
    trades for its 1 KB footprint."""
    ev = _events(spark, sf_dir)
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("true_n"))
        .orderBy(F.col("true_n").desc(), "user_id")
        .limit(10)
    )
    cms = SK.cms_counts(ev, "user_id")
    est = SK.cms_estimate(exact.select("user_id"), cms, "user_id")
    return exact.join(est, "user_id").select("user_id", "true_n", "est_n")


@query(oracle="""
WITH b AS (SELECT min(date_trunc('hour', ts))::TIMESTAMP AS lo,
                  max(date_trunc('hour', ts))::TIMESTAMP AS hi
           FROM events),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM (SELECT DISTINCT event_type FROM events), b),
c AS (SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS hr,
             count(*) AS n
      FROM events GROUP BY 1, 2)
SELECT g.event_type, g.hr,
       CAST(coalesce(n, 0) AS BIGINT) AS n_events
FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.hr = c.hr""")
def q_events_dense_hours(spark, sf_dir):
    """Time-series densification: every (event_type, hour) cell over
    the observed range, zero-filled where nothing happened — the gap
    fill a chart or downstream window needs before it can trust
    'no row = zero'. Grid = tiny dims (types x sequence of hours)
    built from a 1-row bounds aggregate, LEFT JOIN against the hourly
    counts; events shuffle once for their own aggregate, never for
    the grid."""
    ev = _events(spark, sf_dir)
    hr = F.date_trunc("hour", F.col("ts"))
    bounds = ev.agg(
        F.min(hr).alias("lo"), F.max(hr).alias("hi")
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    counts = ev.groupBy("event_type", hr.alias("hr")).agg(
        F.count("*").cast("long").alias("n")
    )
    return grid.join(counts, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


@query(oracle="""
SELECT user_id, event_id, ts, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1""")
def q_latest_event_per_user(spark, sf_dir):
    """CDC-style compaction read: each user's latest event (row_number
    over ts desc, event_id desc = 1) — the keep-last-version query
    every changelog consumer runs. Planned with WindowGroupLimit, so
    each partition discards non-latest rows before the full sort."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


@query(oracle="""
WITH e AS (SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  value FROM events),
daily AS (SELECT event_type, day,
                 sum(CAST(value AS DECIMAL(18,4)))::DOUBLE AS total
          FROM e GROUP BY 1, 2),
s AS (SELECT event_type, day, total,
        avg(total) OVER w AS mu,
        stddev_samp(total) OVER w AS sd,
        count(total) OVER w AS n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT event_type, day, round(total, 4) AS total,
       round((total - mu) / sd, 4) AS z,
       abs((total - mu) / sd) > 2 AS is_anomaly
FROM s WHERE n >= 3 AND sd > 0""")
def q_events_anomaly(spark, sf_dir):
    """Rolling z-score anomaly detection per event type: each day's
    total value against the trailing 7-day window (current day
    excluded), flagged at |z| > 2 — the alerting query every metrics
    pipeline runs. Daily totals are DECIMAL (exact, so both engines
    window over identical doubles); the first 3 warm-up days and
    zero-variance windows are excluded. Key-partitioned windows only —
    no global sort."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("_t"))
        .select("event_type", "day", F.col("_t").cast("double").alias("total"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    scored = daily.select(
        "event_type",
        "day",
        "total",
        F.avg("total").over(w).alias("_mu"),
        F.stddev_samp("total").over(w).alias("_sd"),
        F.count("total").over(w).alias("_n"),
    )
    z = (F.col("total") - F.col("_mu")) / F.col("_sd")
    return scored.where((F.col("_n") >= 3) & (F.col("_sd") > 0)).select(
        "event_type",
        "day",
        F.round("total", 4).alias("total"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > 2).alias("is_anomaly"),
    )


@query(oracle="""
WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
                  date_trunc('day', ts::TIMESTAMP) AS d FROM events),
daily AS (SELECT user_id, d, value AS obs FROM (
    SELECT user_id, d, value,
           row_number() OVER (PARTITION BY user_id, d
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM e) WHERE rn = 1),
b AS (SELECT min(d) AS lo, max(d) AS hi FROM e),
grid AS (SELECT u.user_id,
                unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY))::TIMESTAMP AS d
         FROM (SELECT DISTINCT user_id FROM e) u CROSS JOIN b)
SELECT g.user_id, g.d AS day,
       last_value(daily.obs IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       daily.obs IS NOT NULL AS is_observed
FROM grid g LEFT JOIN daily ON daily.user_id = g.user_id AND daily.d = g.d""")
def q_events_ffill(spark, sf_dir):
    """Panel forward-fill: each user's last observed event value
    carried across the daily grid (NULL before the user's first
    observation) — the state-interpolation step a feature pipeline
    runs before training on per-user-day panels. Grid from a 1-row
    bounds broadcast (the dense-hours pattern), per-day last
    observation via the keep-last window, then one
    last(ignorenulls) window over the key-partitioned day order —
    everything keyed on user_id, no corpus-wide sort."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts"))
    w1 = Window.partitionBy("user_id", "_day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        ev.select("user_id", day.alias("_day"), "ts", "event_id", "value")
        .withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") == 1)
        .select("user_id", "_day", F.col("value").alias("_obs"))
    )
    bounds = ev.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    grid = (
        ev.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias(
                "_day"
            ),
        )
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = grid.join(daily, ["user_id", "_day"], "left")
    return j.select(
        "user_id",
        F.col("_day").alias("day"),
        F.last("_obs", ignorenulls=True).over(w2).alias("value_filled"),
        F.col("_obs").isNotNull().alias("is_observed"),
    )


@query(oracle="""
SELECT user_id, event_id, ts, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1 AND event_type <> 'error'""")
def q_cdc_user_state(spark, sf_dir):
    """Changelog replay (SCD1): events as a keyed change stream —
    'error' is a delete tombstone, everything else upserts the user's
    state; each user's last change by (ts, event_id) wins
    (operators/cdc.changelog_state — same WindowGroupLimit plan as the
    keep-last-version compaction read)."""
    ev = _events(spark, sf_dir).withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("delete")).otherwise(
            F.lit("upsert")
        ),
    )
    st = CDC.changelog_state(ev, ["user_id"], ["ts", "event_id"], op_col="op")
    return st.select("user_id", "event_id", "ts", "event_type", "value")


@query(oracle="""
WITH e AS (SELECT user_id, event_id, ts, event_type FROM events),
m AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                     THEN 1 ELSE 0 END AS nr
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (SELECT *, sum(nr) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS run
      FROM m),
g AS (SELECT user_id, run, min(event_type) AS event_type,
             min(ts) AS valid_from, count(*)::BIGINT AS n_changes
      FROM r GROUP BY user_id, run)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       run::INT AS version,
       lead(valid_from) OVER w2 IS NULL AS is_current,
       n_changes
FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY run)""")
def q_user_state_periods(spark, sf_dir):
    """SCD2 validity intervals: collapse each user's consecutive runs
    of equal event_type into (valid_from, valid_to, version,
    is_current, n_changes) rows — gaps-and-islands, two key-partitioned
    windows + one aggregate (operators/cdc.state_periods)."""
    p = CDC.state_periods(
        _events(spark, sf_dir),
        ["user_id"],
        seq_col="ts",
        state_col="event_type",
        tie_col="event_id",
    )
    return p.select(
        "user_id",
        "event_type",
        "valid_from",
        "valid_to",
        "version",
        "is_current",
        "n_changes",
    )


@query(oracle="""
WITH st AS (SELECT event_type, round(avg(value), 6) AS mu,
                   round(stddev_pop(value), 6) AS sigma
            FROM events GROUP BY 1)
SELECT event_type, count(*) AS n_events, max(mu) AS mu,
       max(sigma) AS sigma,
       CAST(sum(CASE WHEN abs(value - mu) > 3.0 * sigma
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events JOIN st USING (event_type)
GROUP BY 1""")
def q_value_outliers(spark, sf_dir):
    """Per-type anomaly gate: how many events sit more than 3 rounded
    standard deviations from their type's rounded mean — the data-
    quality tripwire before values feed training. Two-phase: stats
    aggregate (1 shuffle), rounded stats broadcast back over the scan
    (no second shuffle of events). Rounding the stats BEFORE the
    comparison keeps the cut deterministic cross-engine."""
    ev = _events(spark, sf_dir)
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sigma"),
    )
    j = ev.join(F.broadcast(stats), "event_type")
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("mu").alias("mu"),
            F.max("sigma").alias("sigma"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("mu"))
                    > F.lit(3.0) * F.col("sigma")
                ).cast("int")
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


ATTRIB_WINDOW_S = 7 * 86400


@query(oracle="""
WITH x AS (
  SELECT ts, user_id, event_type, value,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
           RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS n_views
  FROM events),
p AS (SELECT date_trunc('day', ts)::TIMESTAMP AS day, value,
             CAST(n_views AS BIGINT) AS n_views
      FROM x WHERE event_type = 'purchase')
SELECT day, count(*) AS n_purchases,
       round(sum(CASE WHEN n_views > 0 THEN value ELSE 0.0 END), 2)
         AS attributed_value,
       round(sum(CASE WHEN n_views = 0 THEN value ELSE 0.0 END), 2)
         AS unattributed_value,
       round(avg(n_views::DOUBLE), 4) AS avg_touches
FROM p GROUP BY 1""")
def q_events_multitouch(spark, sf_dir):
    """Linear multi-touch attribution: each purchase's value splits
    evenly across the same user's views in the trailing 7 days (the
    fair-share counterpart of q_events_attrib's last-touch AS-OF).
    One RANGE-frame window per user counts trailing views — no
    self-join, one shuffle on user_id — then per-day attributed
    revenue. Purchases with no prior view keep their value under
    'unattributed'."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-ATTRIB_WINDOW_S, 0)
    )
    n_views = F.sum(
        F.when(F.col("event_type") == "view", 1).otherwise(0)
    ).over(w)
    p = (
        ev.withColumn("n_views", n_views)
        .where(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("value"),
            F.col("n_views").cast("long").alias("n_views"),
        )
    )
    return p.groupBy("day").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.round(
            F.sum(F.when(F.col("n_views") > 0, F.col("value")).otherwise(0.0)), 2
        ).alias("attributed_value"),
        F.round(
            F.sum(F.when(F.col("n_views") == 0, F.col("value")).otherwise(0.0)), 2
        ).alias("unattributed_value"),
        F.round(F.avg(F.col("n_views").cast("double")), 4).alias("avg_touches"),
    )


@query(oracle="""
WITH caps AS (SELECT event_type, round(quantile_cont(value, 0.99), 4)
                       AS cap
              FROM events GROUP BY 1)
SELECT event_type, count(*) AS n_events, max(cap) AS cap,
       CAST(sum(CASE WHEN value > cap THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped,
       round(sum(value - least(value, cap)), 2) AS mass_removed
FROM events JOIN caps USING (event_type)
GROUP BY 1""")
def q_value_winsorized(spark, sf_dir):
    """Winsorization gate: clip event value at its type's rounded p99
    (outlier capping before values feed a model). Two-phase like the
    outlier query: exact percentile per type (rounded → deterministic
    threshold), broadcast back, clip with least() — one events
    shuffle total. Reports per type: rows clipped and the mass the
    cap removed."""
    ev = _events(spark, sf_dir)
    caps = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.99), 4).alias("cap")
    )
    j = ev.join(F.broadcast(caps), "event_type")
    clipped = F.least(F.col("value"), F.col("cap"))
    return j.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("cap").alias("cap"),
        F.sum((F.col("value") > F.col("cap")).cast("int"))
        .cast("long")
        .alias("n_clipped"),
        F.round(F.sum(F.col("value") - clipped), 2).alias("mass_removed"),
    )


@query(oracle="""
WITH u AS (SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
                  count(*) AS n_events
           FROM events GROUP BY 1)
SELECT CAST(date_diff('day', CAST(first_ts AS DATE),
                      CAST(last_ts AS DATE)) // 7 AS INT) AS tenure_weeks,
       count(*) AS n_users,
       round(avg(n_events::DOUBLE), 4) AS avg_events
FROM u GROUP BY 1""")
def q_user_lifetime(spark, sf_dir):
    """Engagement-tenure histogram: per-user first→last event span
    bucketed into weeks, with user counts and average activity per
    bucket — the lifetime table cohort/LTV analyses start from. One
    aggregate to user grain, one to bucket grain; integer week math
    so the bucket cut is exact."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count("*").cast("long").alias("n_events"),
    )
    weeks = F.expr("datediff(last_ts, first_ts) div 7").cast("int")
    return (
        per_user.select(weeks.alias("tenure_weeks"), "n_events")
        .groupBy("tenure_weeks")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.round(F.avg(F.col("n_events").cast("double")), 4).alias(
                "avg_events"
            ),
        )
    )


@query(oracle="""
SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hr,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2""")
def q_events_dow_hour(spark, sf_dir):
    """Activity heatmap: events by (day-of-week 1=Sunday, hour) — the
    load-pattern matrix behind capacity planning and bot detection.
    One hash aggregate on a 7x24 key domain."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(oracle=f"""
WITH e AS (SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts
           FROM events),
l AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_type, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM l),
ps AS (
  SELECT user_id, sid, date_trunc('day', min(ts))::TIMESTAMP AS day,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM s GROUP BY 1, 2)
SELECT day, count(*) AS n_sessions,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(sum(converted) / CAST(count(*) AS DOUBLE) * 100.0, 4)
         AS conversion_pct
FROM ps GROUP BY 1""")
def q_session_conversion(spark, sf_dir):
    """Per-day session conversion: sessions (30-min inactivity cut)
    grouped by their start day, with the share that contained a
    purchase — the KPI sitting on top of sessionization + funnel.
    Session ids come from a running sum of the new-session flag (one
    user_id shuffle); conversion is a per-session any-purchase flag
    rolled up to day grain."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = e.withColumn("sid", F.sum(new_s).over(run))
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted"),
    )
    return per_sess.groupBy("day").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.round(
            F.sum("converted") / F.count("*").cast("double") * 100.0, 4
        ).alias("conversion_pct"),
    )


@query(oracle="""
SELECT date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day, event_type,
       count(*)::BIGINT AS n_events,
       round(sum(CAST(value AS DECIMAL(18,4))), 4)::DOUBLE AS sum_value,
       round(min(CAST(value AS DECIMAL(18,4))), 4)::DOUBLE AS min_value,
       round(max(CAST(value AS DECIMAL(18,4))), 4)::DOUBLE AS max_value
FROM events GROUP BY 1, 2""")
def q_events_rollup_incremental(spark, sf_dir):
    """Continuous-rollup maintenance proved exact: the per-(day, type)
    aggregate computed as TWO batch summaries (facts split by event_id
    parity, so every group genuinely straddles both) merged with
    operators/incremental.merge_aggregates — O(batch)+O(aggregate)
    maintenance, never a history rescan. The oracle recomputes the
    aggregate from scratch; equality IS the mergeability claim.
    DECIMAL sums so the split/merge can't drift a low bit."""
    e = _events(spark, sf_dir)
    facts = e.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
        "event_id",
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    spec = {
        "n_events": ("count", ""),
        "sum_value": ("sum", "v"),
        "min_value": ("min", "v"),
        "max_value": ("max", "v"),
    }
    keys = ["day", "event_type"]
    base = INC.aggregate_batch(
        facts.where(F.col("event_id") % 2 == 0), keys, spec
    )
    delta = INC.aggregate_batch(
        facts.where(F.col("event_id") % 2 == 1), keys, spec
    )
    merged = INC.merge_aggregates([base, delta], keys, spec)
    return merged.select(
        "day",
        "event_type",
        "n_events",
        F.round("sum_value", 4).cast("double").alias("sum_value"),
        F.round("min_value", 4).cast("double").alias("min_value"),
        F.round("max_value", 4).cast("double").alias("max_value"),
    )


STREAK_EPOCH = "2024-01-01"


@query(oracle=f"""
WITH days AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '{STREAK_EPOCH}', ts::DATE)::INT AS d
  FROM events),
runs AS (
  SELECT user_id,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS anchor
  FROM days),
r AS (SELECT user_id, anchor, count(*)::BIGINT AS run_len
      FROM runs GROUP BY 1, 2)
SELECT user_id, sum(run_len)::BIGINT AS n_active_days,
       count(*)::BIGINT AS n_runs, max(run_len)::BIGINT AS longest_streak
FROM r GROUP BY user_id""")
def q_user_streaks(spark, sf_dir):
    """Consecutive-day activity streaks per user — the
    gaps-and-islands classic (day − dense row number is constant
    within a run): longest streak, current number of runs, active-day
    count. One distinct-reduce on (user, day), one partitioned
    window, two aggregates; everything integer day arithmetic."""
    e = _events(spark, sf_dir)
    days = (
        e.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit(STREAK_EPOCH)).alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    runs = days.withColumn(
        "anchor", F.col("d") - F.row_number().over(w)
    ).groupBy("user_id", "anchor").agg(
        F.count("*").cast("long").alias("run_len")
    )
    return runs.groupBy("user_id").agg(
        F.sum("run_len").cast("long").alias("n_active_days"),
        F.count("*").cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("longest_streak"),
    )


SLIDE_DAYS = 3


# Sliding-HLL oracle: per-day registers from the shared hash
# fragment; the densified grid, RANGE-window merge and estimate tail
# (shared fragment again, over the merged relation) mirror Spark.
@query(oracle=f"""
WITH ev AS (SELECT datediff('day', DATE '{STREAK_EPOCH}', ts::DATE)::INT
              AS d, user_id
            FROM events),
{_hll_hash_sql("d", "ev")},
days AS (SELECT DISTINCT d FROM ev),
grid AS (SELECT d, unnest(range(0, 64))::INT AS bucket FROM days),
cells AS (SELECT g.d, g.bucket, regs.rho
          FROM grid g LEFT JOIN regs
            ON g.d = regs.d AND g.bucket = regs.bucket),
merged AS (
  SELECT d, bucket,
         max(rho) OVER (PARTITION BY bucket ORDER BY d
                        RANGE BETWEEN {SLIDE_DAYS - 1} PRECEDING
                        AND CURRENT ROW) AS rho
  FROM cells),
m2 AS (SELECT d, bucket, rho FROM merged WHERE rho IS NOT NULL),
{_hll_est_sql("d", "m2")},
du AS (SELECT DISTINCT d, user_id FROM ev),
tgt AS (SELECT unnest(generate_series(d, d + {SLIDE_DAYS - 1}))::INT
          AS d0, user_id
        FROM du),
x AS (SELECT t.d0 AS d, count(DISTINCT t.user_id)::BIGINT
        AS exact_distinct
      FROM tgt t JOIN days ON t.d0 = days.d GROUP BY 1)
SELECT est.d, v AS n_zero_registers,
       floor(raw * 10000.0 + 0.5) / 10000.0 AS est_distinct,
       exact_distinct,
       floor(((floor(raw * 10000.0 + 0.5) / 10000.0 - exact_distinct)
              / exact_distinct) * 10000.0 + 0.5) / 10000.0 AS rel_err
FROM est JOIN x USING (d)""")
def q_uniques_sliding(spark, sf_dir):
    """Trailing 3-day distinct users per day WITHOUT re-scanning 3
    days of events per output row: daily HLL register tables merge
    across the window by max(rho) per bucket — the mergeable-sketch x
    window-frame composition that makes sliding distinct counts
    affordable at 100 TB (state per day is 64 registers, not a user
    set). The bucket grid densifies by scan-local explode (no join),
    the merge is one RANGE window per bucket, and the estimate reuses
    hll_estimate's exact-long harmonic sum. The exact twin explodes
    each (day, user) to the <= 3 windows it serves — an equi join,
    never a range scan."""
    ev = _events(spark, sf_dir)
    day = F.datediff(F.to_date("ts"), F.lit(STREAK_EPOCH)).alias("d")
    regs = SK.hll_registers(ev.select(day, "user_id"), ["d"], "user_id")
    day_dim = ev.select(day).distinct()
    grid = day_dim.select(
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bucket"),
    )
    cells = grid.join(regs, ["d", "bucket"], "left")
    wm = (
        Window.partitionBy("bucket")
        .orderBy("d")
        .rangeBetween(-(SLIDE_DAYS - 1), 0)
    )
    merged = cells.select(
        "d", "bucket", F.max("rho").over(wm).alias("rho")
    ).where(F.col("rho").isNotNull())
    est = SK.hll_estimate(merged, ["d"])
    du = ev.select(day, "user_id").distinct()
    tgt = du.select(
        F.explode(
            F.sequence(F.col("d"), F.col("d") + (SLIDE_DAYS - 1))
        ).alias("d0"),
        "user_id",
    )
    exact = (
        tgt.join(day_dim.withColumnRenamed("d", "d0"), "d0")
        .groupBy("d0")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
        .withColumnRenamed("d0", "d")
    )
    rel = (F.col("est_distinct") - F.col("exact_distinct")) / F.col(
        "exact_distinct"
    ).cast("double")
    return est.join(exact, "d").select(
        "d",
        "n_zero_registers",
        "est_distinct",
        "exact_distinct",
        (F.floor(rel * 1e4 + F.lit(0.5)) / 1e4).alias("rel_err"),
    )


CCF_MAX_LAG = 2
CCF_X_TYPE = "view"
CCF_Y_TYPE = "purchase"


def _ccf_oracle(max_lag: int) -> str:
    arms = "\nUNION ALL ".join(
        f"SELECT {L}::INT AS lag, x, "
        + (f"lag(y, {-L})" if L < 0 else f"lead(y, {L})")
        + " OVER (ORDER BY day) AS yl FROM dense"
        for L in range(-max_lag, max_lag + 1)
    )
    return f"""
WITH ev AS (SELECT ts, event_type FROM events),
daily AS (
  SELECT ts::DATE AS day,
         sum(CASE WHEN event_type = '{CCF_X_TYPE}' THEN 1 ELSE 0 END)::BIGINT AS x,
         sum(CASE WHEN event_type = '{CCF_Y_TYPE}' THEN 1 ELSE 0 END)::BIGINT AS y
  FROM ev WHERE event_type IN ('{CCF_X_TYPE}', '{CCF_Y_TYPE}')
  GROUP BY 1),
span AS (SELECT min(ts)::DATE AS d0, max(ts)::DATE AS d1 FROM ev),
grid AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
         FROM span),
dense AS (
  SELECT grid.day, coalesce(x, 0)::BIGINT AS x, coalesce(y, 0)::BIGINT AS y
  FROM grid LEFT JOIN daily ON grid.day = daily.day),
stacked AS ({arms}),
m AS (
  SELECT lag, count(*)::BIGINT AS n_days,
         sum(x)::BIGINT AS sx, sum(yl)::BIGINT AS sy,
         sum(x * yl)::BIGINT AS sxy,
         sum(x * x)::BIGINT AS sxx, sum(yl * yl)::BIGINT AS syy
  FROM stacked WHERE yl IS NOT NULL GROUP BY 1)
SELECT lag, n_days,
       CASE WHEN (n_days * sxx - sx * sx) > 0
             AND (n_days * syy - sy * sy) > 0 THEN
         floor((n_days * sxy - sx * sy)::DOUBLE
               / (sqrt((n_days * sxx - sx * sx)::DOUBLE)
                  * sqrt((n_days * syy - sy * sy)::DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0
       END AS r_q6
FROM m ORDER BY lag"""


@query(oracle=_ccf_oracle(CCF_MAX_LAG))
def q_events_ccf(spark, sf_dir):
    """Lagged cross-correlation between the daily view and purchase
    series: Pearson r of (views_t, purchases_{t+L}) for L in
    [-CCF_MAX_LAG, +CCF_MAX_LAG] — the does-traffic-lead-revenue
    diagnostic. The calendar grid is densified from a 1-row min/max
    anchor (missing days count 0, so lags align on real days, not on
    whatever days happened to have rows); one ordered window builds
    all five lag columns in a single pass, stack() longs them to
    (lag, x, yl) rows, and one aggregate per lag produces exact
    integer moments (counts are BIGINTs). r is assembled as
    n·Σxy−ΣxΣy over sqrt(nΣx²−(Σx)²)·sqrt(nΣy²−(Σy)²) — two IEEE
    sqrts and one division on identical exact operands both engines —
    and snapped to the 1e-6 grid. Degenerate zero-variance lags yield
    NULL, not a fake 0. The daily series is calendar-bounded, so the
    single-partition ordered window is a non-issue at any corpus
    size."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.where(F.col("event_type").isin(CCF_X_TYPE, CCF_Y_TYPE))
        .groupBy(F.to_date(F.col("ts")).alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == CCF_X_TYPE, 1).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == CCF_Y_TYPE, 1).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    span = ev.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    grid = span.select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("day")
    )
    dense = grid.join(daily, "day", "left").select(
        "day",
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    w = Window.orderBy("day")
    lag_cols = []
    for L in range(-CCF_MAX_LAG, CCF_MAX_LAG + 1):
        c = (
            F.lag("y", -L).over(w)
            if L < 0
            else F.lead("y", L).over(w)
        )
        lag_cols.append(c.alias(f"yl_{L + CCF_MAX_LAG}"))
    stacked = dense.select("day", "x", *lag_cols).select(
        "x",
        F.expr(
            "stack("
            + str(2 * CCF_MAX_LAG + 1)
            + ", "
            + ", ".join(
                f"{L}, yl_{L + CCF_MAX_LAG}"
                for L in range(-CCF_MAX_LAG, CCF_MAX_LAG + 1)
            )
            + ") as (lag, yl)"
        ),
    ).where(F.col("yl").isNotNull())
    m = stacked.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("yl").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("yl")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("yl") * F.col("yl")).cast("long").alias("syy"),
    )
    num = (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    denx = (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    r = F.when(
        (denx > 0) & (deny > 0),
        F.floor(
            num / (F.sqrt(denx) * F.sqrt(deny)) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0),
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"), "n_days", r.alias("r_q6")
    ).orderBy("lag")
