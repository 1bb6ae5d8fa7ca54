"""Grouped OLS (q_revenue_trend): the quantized integer-moment
formula must agree with a float least-squares fit — the oracle only
proves Spark==DuckDB of the same expression; this pins that the
expression IS ordinary least squares."""

from __future__ import annotations

from collections import defaultdict

import duckdb
import numpy as np

from tests.conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"


def test_trend_matches_numpy_polyfit(spark):
    from mapreduce_kmeans_clustering_spark.queries.stats import q_revenue_trend

    got = {r["nationkey"]: r for r in q_revenue_trend(spark, SF).collect()}
    assert len(got) >= 20
    monthly = duckdb.sql(
        f"""
        SELECT c_nationkey,
               ((year(o_orderdate)-1995)*12 + (month(o_orderdate)-1)) AS x,
               sum(CAST(round(o_totalprice*100) AS BIGINT)) AS y
        FROM '{SF}/orders.parquet'
        JOIN '{SF}/customer.parquet' ON o_custkey = c_custkey
        GROUP BY 1, 2"""
    ).fetchall()
    pts = defaultdict(list)
    for nk, x, y in monthly:
        pts[nk].append((float(x), float(y)))
    for nk, row in got.items():
        xs = np.array([p[0] for p in pts[nk]])
        ys = np.array([p[1] for p in pts[nk]])
        slope, intercept = np.polyfit(xs, ys, 1)
        r = np.corrcoef(xs, ys)[0, 1]
        assert abs(row["slope_q6"] - slope) < 1e-3 * max(1.0, abs(slope)), nk
        assert abs(row["intercept_q6"] - intercept) < 1e-3 * max(
            1.0, abs(intercept)
        ), nk
        assert abs(row["r2_q6"] - r * r) < 1e-6, nk
        assert 0.0 <= row["r2_q6"] <= 1.0 + 1e-9


def test_trend_robust_known_series(spark):
    """Theil-Sen/Mann-Kendall formula pins on constructed series: the
    oracle only proves Spark==DuckDB; this proves the statistics."""
    import math
    from collections import Counter

    import duckdb

    from mapreduce_kmeans_clustering_spark.queries.stats import q_trend_robust

    sf = SF
    rows = duckdb.sql(
        f"""
        SELECT c_nationkey,
               (year(o_orderdate)-1995)*12 + (month(o_orderdate)-1) AS x,
               sum(CAST(round(o_totalprice*100) AS BIGINT)) AS y
        FROM '{sf}/orders.parquet'
        JOIN '{sf}/customer.parquet' ON o_custkey = c_custkey
        GROUP BY 1, 2"""
    ).fetchall()
    series: dict[int, list[tuple[int, int]]] = {}
    for nk, x, y in rows:
        series.setdefault(nk, []).append((int(x), int(y)))
    got = {r["nationkey"]: r for r in q_trend_robust(spark, sf).collect()}
    for nk, pts in series.items():
        pts.sort()
        n = len(pts)
        slopes, S = [], 0
        for i in range(n):
            for j in range(i + 1, n):
                dy = pts[j][1] - pts[i][1]
                S += (dy > 0) - (dy < 0)
                slopes.append(dy / (pts[j][0] - pts[i][0]))
        slopes.sort()
        m = len(slopes)
        med = (
            slopes[(m - 1) // 2]
            if m % 2
            else (slopes[m // 2 - 1] + slopes[m // 2]) / 2
        )
        tie_term = sum(
            t * (t - 1) * (2 * t + 5)
            for t in Counter(y for _, y in pts).values()
        )
        var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
        if var_s > 0 and S > 0:
            z = (S - 1) / math.sqrt(var_s)
        elif var_s > 0 and S < 0:
            z = (S + 1) / math.sqrt(var_s)
        else:
            z = 0.0
        r = got[nk]
        assert r["s_stat"] == S, nk
        assert r["n_pairs"] == m, nk
        assert abs(r["ts_slope_q6"] - med) < 1e-5 * max(1, abs(med)), nk
        assert abs(r["mk_z_q6"] - z) < 1e-5, nk


def test_survival_logrank_matches_python_replay(spark):
    """The log-rank statistic replayed from raw lifetimes in plain
    Python (textbook formula) — proves the windowed construction IS
    the log-rank test, not merely Spark==DuckDB of one expression."""
    import math

    import duckdb

    from mapreduce_kmeans_clustering_spark.queries.stats import (
        KM_CHURN_DAYS,
        KM_MONTH_DAYS,
        LOGRANK_SEGMENT,
        q_survival_logrank,
    )

    sf = SF
    rows = duckdb.sql(
        f"""
        WITH span AS (SELECT o_custkey, min(o_orderdate) AS f,
                             max(o_orderdate) AS l
                      FROM '{sf}/orders.parquet' GROUP BY 1),
        ref AS (SELECT max(o_orderdate) AS m FROM '{sf}/orders.parquet')
        SELECT (c_mktsegment = '{LOGRANK_SEGMENT}')::INT AS grp,
               (datediff('day', f, l) // {KM_MONTH_DAYS})::INT AS t,
               (datediff('day', l, m) > {KM_CHURN_DAYS})::INT AS churned
        FROM span CROSS JOIN ref
        JOIN '{sf}/customer.parquet' ON o_custkey = c_custkey"""
    ).fetchall()
    # textbook log-rank over event times
    times = sorted({t for _, t, c in rows if c == 1})
    O = V = 0.0
    k = 0
    for t in times:
        n1 = sum(1 for g, tt, _ in rows if g == 1 and tt >= t)
        n0 = sum(1 for g, tt, _ in rows if g == 0 and tt >= t)
        d1 = sum(1 for g, tt, c in rows if g == 1 and tt == t and c == 1)
        d0 = sum(1 for g, tt, c in rows if g == 0 and tt == t and c == 1)
        n, d = n1 + n0, d1 + d0
        if d == 0 or n < 2:
            continue
        k += 1
        O += d1 - d * n1 / n
        V += d * n1 * n0 * (n - d) / (n * n * (n - 1))
    z = O / math.sqrt(V)
    got = q_survival_logrank(spark, sf).collect()[0]
    assert got["n_event_months"] == k
    assert abs(got["o_minus_e_q6"] - O) < 1e-4 * max(1, abs(O))
    assert abs(got["var_q6"] - V) < 1e-4 * max(1, abs(V))
    assert abs(got["z_q6"] - z) < 1e-5


def test_events_ccf_perfect_shift_pin(spark, tmp_path):
    """Synthetic corpus where purchases replay yesterday's views
    exactly: r must be 1.0 at lag +1 and weaker everywhere else; the
    lag-0 arm must use the full dense grid (n_days = span)."""
    import datetime as dt

    from mapreduce_kmeans_clustering_spark.queries.events import (
        CCF_MAX_LAG,
        q_events_ccf,
    )

    rows = []
    base = dt.datetime(2024, 1, 1)
    views = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]
    eid = 0
    for d, v in enumerate(views):
        for _ in range(v):  # views on day d
            rows.append((eid, base + dt.timedelta(days=d, hours=1), 1, "view", 0.0, "{}"))
            eid += 1
        for _ in range(views[d - 1] if d > 0 else 0):  # purchases replay d-1
            rows.append((eid, base + dt.timedelta(days=d, hours=2), 1, "purchase", 0.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = {r["lag"]: r for r in q_events_ccf(spark, sf).collect()}
    assert set(out) == set(range(-CCF_MAX_LAG, CCF_MAX_LAG + 1))
    assert out[1]["r_q6"] == 1.0
    assert out[0]["n_days"] == len(views)
    assert out[1]["n_days"] == len(views) - 1
    for L in out:
        if L != 1 and out[L]["r_q6"] is not None:
            assert out[L]["r_q6"] < 1.0
