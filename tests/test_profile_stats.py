"""Distribution-drift profiling operators (operators/profile.py):
per-source unigram KL divergence and the pairwise two-sample KS
statistic, pinned on crafted corpora with hand-computed values."""

from __future__ import annotations

import pytest

from mapreduce_kmeans_clustering_spark.operators.profile import (
    length_ks_pairs,
    source_unigram_kl,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")


def test_kl_zero_for_identical_distributions(spark):
    """Two sources with the same token distribution both sit at the
    corpus distribution, so KL is exactly 0 (every p_s/p_c ratio is
    exactly 1.0 and ln(1.0) == 0.0 in IEEE — no tolerance needed)."""
    rows = [
        (0, "a", "x x y"),
        (1, "a", "y z z"),
        (2, "b", "x x y"),
        (3, "b", "y z z"),
    ]
    got = {r["source"]: r for r in source_unigram_kl(_docs(spark, rows)).collect()}
    assert got["a"]["kl"] == 0.0 and got["b"]["kl"] == 0.0
    assert got["a"]["n_tokens"] == got["b"]["n_tokens"] == 6


def test_kl_positive_for_skewed_source_and_finite(spark):
    """A source whose vocabulary diverges from the corpus mix gets a
    strictly positive, finite KL (its tokens are part of the corpus
    distribution by construction, so no smoothing is needed even for
    source-exclusive tokens)."""
    rows = [
        (0, "a", "x x x x"),
        (1, "b", "q q q q"),  # q appears ONLY in b
    ]
    got = {r["source"]: r for r in source_unigram_kl(_docs(spark, rows)).collect()}
    import math

    # p_b(q)=1, p_c(q)=0.5 -> KL(b) = ln(2); symmetric for a
    assert got["a"]["kl"] == got["b"]["kl"] == round(math.log(2), 6)


def test_ks_zero_identical_one_disjoint(spark):
    """Identical length distributions give KS 0; fully separated ones
    give KS 1 (the ECDF gap reaches 1 between the supports)."""
    rows = (
        [(i, "a", "w " * 5) for i in range(4)]
        + [(10 + i, "b", "w " * 5) for i in range(4)]
        + [(20 + i, "c", "w " * 50) for i in range(4)]
    )
    got = {
        (r["source_a"], r["source_b"]): r["ks"]
        for r in length_ks_pairs(_docs(spark, rows)).collect()
    }
    assert got[("a", "b")] == 0.0
    assert got[("a", "c")] == got[("b", "c")] == 1.0


def test_ks_hand_computed_overlap(spark):
    """A=[1,2,3], B=[2,3,4] tokens: ECDFs differ by exactly 1/3 at
    every observed point, so KS = 1/3 — and the output carries the
    sample sizes."""
    rows = [
        (0, "a", "w"),
        (1, "a", "w w"),
        (2, "a", "w w w"),
        (3, "b", "w w"),
        (4, "b", "w w w"),
        (5, "b", "w w w w"),
    ]
    [r] = length_ks_pairs(_docs(spark, rows)).collect()
    assert (r["source_a"], r["source_b"]) == ("a", "b")
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["ks"] == pytest.approx(1 / 3, abs=1e-6)


# ---------------------------------------------------------------------------
# Algebraic properties over hypothesis-generated corpora (the
# test_properties.py posture applied to the drift statistics):
# Gibbs' inequality for KL, the [0,1] range and identity law for KS.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_VOCAB = ["alpha", "beta", "gamma", "delta", "the", "of"]
word = st.sampled_from(_VOCAB)
doc = st.lists(word, min_size=1, max_size=12).map(" ".join)
corpus = st.lists(
    st.tuples(st.sampled_from(["s0", "s1", "s2"]), doc), min_size=4, max_size=16
)

_SETTINGS = settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _cdf(spark, rows):
    return spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(rows)],
        "doc_id LONG, source STRING, text STRING",
    )




@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
@given(rows=corpus)
@_SETTINGS
def test_kl_nonnegative_gibbs(spark, rows):
    """KL(p_s || p_corpus) >= 0 for every source (Gibbs' inequality);
    0 only when the source matches the corpus distribution. The
    rounded value may touch -0.0 numerically — assert >= -1e-6."""
    for r in source_unigram_kl(_cdf(spark, rows)).collect():
        assert r["kl"] >= -1e-6, r


@pytest.mark.slow  # >=12 s in the idle full run (r13)
@given(rows=corpus)
@_SETTINGS
def test_ks_range_and_identity(spark, rows):
    """Every pairwise KS lies in [0,1]; duplicating a source under a
    new name yields KS exactly 0 against its twin."""
    out = length_ks_pairs(_cdf(spark, rows)).collect()
    for r in out:
        assert 0.0 <= r["ks"] <= 1.0, r
    # twin identity: clone the first source as 'zz_twin'
    first = rows[0][0]
    cloned = rows + [("zz_twin", t) for s, t in rows if s == first]
    got = {
        (r["source_a"], r["source_b"]): r["ks"]
        for r in length_ks_pairs(_cdf(spark, cloned)).collect()
    }
    assert got[(first, "zz_twin")] == 0.0


# ---------------------------------------------------------------------------
# CUSUM changepoint monitor
# ---------------------------------------------------------------------------

def test_cusum_detects_sustained_shift(spark):
    """5 days at 100 then 5 days at 200: the per-day totals never look
    anomalous in isolation, but the positive CUSUM accumulates the
    sustained +50 drift and alarms near the end; verified against a
    direct Python replay of the recursion."""
    from datetime import datetime

    from mapreduce_kmeans_clustering_spark.operators.profile import cusum_daily

    rows = []
    eid = 0
    for d in range(10):
        total = 100.0 if d < 5 else 200.0
        for _ in range(2):  # two events per day -> exercises the daily agg
            rows.append((eid, datetime(2024, 1, 1 + d, 12), "m", total / 2))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    )
    got = cusum_daily(ev).orderBy("day").collect()
    assert len(got) == 10

    # direct replay: x_t, mu=150, k=0.02*150=3, h=0.10*n*mu=150;
    # output cusum columns are S/mu (excursion in units of the mean)
    xs = [100.0] * 5 + [200.0] * 5
    mu, k, n = 150.0, 3.0, 10
    sp = sn = 0.0
    exp = []
    for x in xs:
        sp = max(0.0, sp + (x - mu - k))
        sn = max(0.0, sn + (mu - k - x))
        exp.append((sp, sn))
    for r, (esp, esn) in zip(got, exp):
        assert r["cusum_pos"] == pytest.approx(esp / mu, abs=1e-6)
        assert r["cusum_neg"] == pytest.approx(esn / mu, abs=1e-6)
        assert r["alarm_pos"] == (esp > 150.0)
        assert r["alarm_neg"] == (esn > 150.0)
    # the shift is caught: positive alarms on the tail; the negative
    # side alarms mid-series too — a step change means the head sits
    # below the FULL-series mean, a real sustained downward excursion
    assert [r["alarm_pos"] for r in got] == [False] * 8 + [True] * 2
    assert [r["alarm_neg"] for r in got] == (
        [False] * 3 + [True] * 3 + [False] * 4
    )


def test_cusum_stationary_series_never_alarms(spark):
    """A flat series sits exactly at mu: both sides stay at 0 (the
    slack term k keeps them pinned) and no alarm fires."""
    from datetime import datetime

    from mapreduce_kmeans_clustering_spark.operators.profile import cusum_daily

    ev = spark.createDataFrame(
        [(i, datetime(2024, 2, 1 + i), "flat", 42.0) for i in range(8)],
        "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE",
    )
    got = cusum_daily(ev).collect()
    assert all(r["cusum_pos"] == 0.0 and r["cusum_neg"] == 0.0 for r in got)
    assert not any(r["alarm_pos"] or r["alarm_neg"] for r in got)


# ---------------------------------------------------------------------------
# Decayed trending (q_events_trending semantics)
# ---------------------------------------------------------------------------


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_trending_recency_beats_volume(spark, tmp_path):
    """A user with modest RECENT activity must outrank a user with 3x
    the raw volume parked 8+ weeks ago (weight 2^-8); decayed_events
    counts events at their decayed weight exactly."""
    from datetime import datetime

    from mapreduce_kmeans_clustering_spark.queries.events import q_events_trending

    rows = []
    # 'old' user: 30 events of value 10, 70 days before the reference
    rows.extend(
        (i, datetime(2024, 1, 1, 6), 1, "click", 10.0, None) for i in range(30)
    )
    # 'fresh' user: 10 events of value 10 on the reference day
    rows.extend(
        (100 + i, datetime(2024, 3, 11, 6), 2, "click", 10.0, None)
        for i in range(10)
    )
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = q_events_trending(spark, str(tmp_path)).collect()
    byu = {r["user_id"]: r for r in got}
    # weights: fresh day -> 2^0; 70 days = 10 weeks -> clamped 2^-8
    assert byu[2]["decayed_value"] == pytest.approx(100.0, abs=1e-9)
    assert byu[1]["decayed_value"] == pytest.approx(300.0 / 256, abs=1e-4)
    assert byu[2]["decayed_events"] == pytest.approx(10.0, abs=1e-9)
    assert byu[1]["decayed_events"] == pytest.approx(30.0 / 256, abs=1e-4)
    assert byu[2]["rank"] == 1 and byu[1]["rank"] == 2


# ---------------------------------------------------------------------------
# PSI drift (q_psi_drift semantics)
# ---------------------------------------------------------------------------

def test_psi_zero_when_halves_match_and_positive_under_shift(spark, tmp_path):
    """Identical value distributions in both halves -> every bin's
    smoothed shares are equal -> PSI exactly 0. A shifted second half
    -> PSI > 0.25 (the 'population shifted' reading), with the drifted
    bins carrying the contributions."""
    from datetime import datetime

    from mapreduce_kmeans_clustering_spark.queries.stats import q_psi_drift

    rows = []
    eid = 0
    # 'stable': same values day 0..3 and day 6..9
    for d in (0, 1, 2, 3, 6, 7, 8, 9):
        for v in (10.0, 20.0, 30.0, 40.0):
            rows.append((eid, datetime(2024, 1, 1 + d), 1, "stable", v, None))
            eid += 1
    # 'shifted': low values in the first half, high in the second
    for d in (0, 1, 2, 3):
        for v in (10.0, 11.0, 12.0, 13.0):
            rows.append((eid, datetime(2024, 1, 1 + d), 1, "shifted", v, None))
            eid += 1
    for d in (6, 7, 8, 9):
        for v in (90.0, 91.0, 92.0, 93.0):
            rows.append((eid, datetime(2024, 1, 1 + d), 1, "shifted", v, None))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = q_psi_drift(spark, str(tmp_path)).collect()
    stable = [r for r in got if r["event_type"] == "stable"]
    shifted = [r for r in got if r["event_type"] == "shifted"]
    assert all(r["psi"] == 0.0 and r["contrib"] == 0.0 for r in stable)
    assert shifted[0]["psi"] > 0.25
    # counts land where they should: shifted lows in bin 0 (A side),
    # highs in the top bin (B side)
    b = {r["bin"]: r for r in shifted}
    assert b[0]["n_a"] == 16 and b[0]["n_b"] == 0
    assert b[9]["n_a"] == 0 and b[9]["n_b"] == 16


# ---------------------------------------------------------------------------
# Seasonal decomposition (q_events_seasonal semantics)
# ---------------------------------------------------------------------------

def test_seasonal_recovers_pure_weekly_pattern(spark, tmp_path):
    """A series that IS base + weekly pattern must decompose exactly:
    trend = base + pattern mean (the 7-day MA of one full cycle),
    seasonal = the pattern's deviation from its mean, residual = 0."""
    from datetime import datetime

    from mapreduce_kmeans_clustering_spark.queries.events import q_events_seasonal

    pattern = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0]  # by weekday idx
    rows = []
    for d in range(21):
        ts = datetime(2024, 1, 1 + d, 9)
        rows.append((d, ts, 1, "m", pattern[d % 7], None))
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = q_events_seasonal(spark, str(tmp_path)).collect()
    assert len(got) == 15  # 21 days minus 3 edge days each side
    mean = sum(pattern) / 7  # 40.0
    for r in got:
        d = (r["day"].day - 1) % 7
        assert r["total"] == pattern[d]
        assert r["trend"] == pytest.approx(mean, abs=1e-9)
        assert r["seasonal"] == pytest.approx(pattern[d] - mean, abs=1e-9)
        assert r["residual"] == pytest.approx(0.0, abs=1e-9)


# ---------------------------------------------------------------------------
# Session paths (q_session_paths semantics)
# ---------------------------------------------------------------------------

def test_session_paths_order_truncation_and_gap(spark, tmp_path):
    """Paths respect (ts, event_id) order inside a session, truncate
    at 5 steps, and a >30min gap starts a NEW session (splitting the
    path)."""
    from datetime import datetime, timedelta

    from mapreduce_kmeans_clustering_spark.queries.events import q_session_paths

    t0 = datetime(2024, 5, 1, 10, 0, 0)
    rows = []
    # user 1: one session of 7 events -> path truncated to first 5
    for i, et in enumerate(["view", "view", "click", "view", "click", "purchase", "view"]):
        rows.append((i, t0 + timedelta(minutes=i), 1, et, 1.0, None))
    # user 2: view>click, then a 2h gap, then purchase alone
    rows.append((100, t0, 2, "view", 1.0, None))
    rows.append((101, t0 + timedelta(minutes=1), 2, "click", 1.0, None))
    rows.append((102, t0 + timedelta(hours=2), 2, "purchase", 1.0, None))
    # user 3: two events at the SAME ts -> event_id breaks the tie
    rows.append((201, t0, 3, "b_second", 1.0, None))
    rows.append((200, t0, 3, "a_first", 1.0, None))
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {r["path"]: r["n_sessions"] for r in q_session_paths(spark, str(tmp_path)).collect()}
    assert got == {
        "view>view>click>view>click": 1,  # truncated at 5 of 7
        "view>click": 1,
        "purchase": 1,
        "a_first>b_second": 1,  # event_id tie-break, not input order
    }


# ---------------------------------------------------------------------------
# FD profile / Benford / Gini (data-quality analytics semantics)
# ---------------------------------------------------------------------------

def test_fd_profile_counts_violations_exactly(spark, tmp_path):
    from mapreduce_kmeans_clustering_spark.queries.stats import q_fd_profile

    orders = spark.createDataFrame(
        [
            # custkey 1: two priorities (3 rows, largest block 2) -> viol
            (1, 1, "HIGH", "O"),
            (2, 1, "HIGH", "O"),
            (3, 1, "LOW", "F"),
            # custkey 2: single priority -> clean
            (4, 2, "LOW", "O"),
            # priority HIGH -> status always O; LOW -> O and F (1 viol row)
        ],
        "o_orderkey LONG, o_custkey LONG, o_orderpriority STRING, o_orderstatus STRING",
    )
    cust = spark.createDataFrame(
        [(1, 10, "AUTO"), (2, 10, "STEEL"), (3, 20, "AUTO")],
        "c_custkey LONG, c_nationkey LONG, c_mktsegment STRING",
    )
    orders.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    cust.write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    got = {r["fd"]: r for r in q_fd_profile(spark, str(tmp_path)).collect()}
    r = got["o_custkey->o_orderpriority"]
    assert (r["n_groups"], r["violating_groups"], r["violation_rows"]) == (2, 1, 1)
    r = got["o_orderpriority->o_orderstatus"]
    assert (r["n_groups"], r["violating_groups"], r["violation_rows"]) == (2, 1, 1)
    r = got["c_custkey->c_nationkey"]  # a key: always holds
    assert (r["violating_groups"], r["violation_rows"]) == (0, 0)
    r = got["c_nationkey->c_mktsegment"]
    assert (r["n_groups"], r["violating_groups"], r["violation_rows"]) == (2, 1, 1)


def test_gini_bounds(spark, tmp_path):
    """All-equal balances -> G = 0; a single holder among n -> the
    textbook maximum (n-1)/n."""
    from mapreduce_kmeans_clustering_spark.queries.stats import q_balance_gini

    rows = [(i, 0, 50.0) for i in range(10)]  # nation 0: all equal
    rows += [(100, 1, 1000.0)] + [
        (101 + i, 1, 0.01) for i in range(9)
    ]  # nation 1: near-total concentration
    df = spark.createDataFrame(
        rows, "c_custkey LONG, c_nationkey LONG, c_acctbal DOUBLE"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    got = {r["c_nationkey"]: r for r in q_balance_gini(spark, str(tmp_path)).collect()}
    assert got[0]["gini"] == 0.0
    # near (n-1)/n = 0.9 (tiny holders pull it down a hair)
    assert 0.88 < got[1]["gini"] < 0.9
    assert got[0]["n"] == got[1]["n"] == 10


def test_benford_uniform_digits_fail_the_law(spark, tmp_path):
    """Totals crafted so every first digit 1..9 appears equally: the
    observed share is flat 1/9 and the chi-square total equals the
    sum of its printed per-digit terms."""
    from mapreduce_kmeans_clustering_spark.queries.stats import q_benford

    rows = [(d * 100 + k, float(d)) for d in range(1, 10) for k in range(20)]
    df = spark.createDataFrame(rows, "o_orderkey LONG, o_totalprice DOUBLE")
    df.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    got = q_benford(spark, str(tmp_path)).collect()
    assert [r["digit"] for r in got] == list(range(1, 10))
    assert all(r["n"] == 20 for r in got)
    assert all(abs(r["share"] - 1 / 9) < 1e-4 for r in got)
    assert got[0]["chi2"] == pytest.approx(
        sum(r["chi2_term"] for r in got), abs=1e-5
    )
    assert got[0]["chi2"] > 15.5  # chi2_{8, 0.05} — flat digits reject Benford


def test_basket_rules_confidence_and_lift_hand_check(spark, tmp_path):
    """Orders built so A,B always co-occur while A,C co-occur half the
    time: conf(A->B)=1, lift > 1; asymmetric conf when item counts
    differ."""
    from mapreduce_kmeans_clustering_spark.queries.relational import q_basket_rules

    rows = []
    # 6 orders with A+B, 3 with A+C, 3 with C alone  (N = 12 orders)
    oid = 0
    for _ in range(6):
        rows += [(oid, 1), (oid, 2)]
        oid += 1
    for _ in range(3):
        rows += [(oid, 1), (oid, 3)]
        oid += 1
    for _ in range(3):
        rows += [(oid, 3)]
        oid += 1
    df = spark.createDataFrame(rows, "l_orderkey LONG, l_partkey LONG")
    df.write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    got = {
        (r["antecedent"], r["consequent"]): r
        for r in q_basket_rules(spark, str(tmp_path)).collect()
    }
    # n(1)=9, n(2)=6, n(3)=6, n(1,2)=6, n(1,3)=3, N=12
    assert got[(1, 2)]["confidence"] == pytest.approx(6 / 9, abs=1e-6)
    assert got[(2, 1)]["confidence"] == pytest.approx(1.0, abs=1e-6)
    assert got[(1, 2)]["lift"] == got[(2, 1)]["lift"] == pytest.approx(
        6 * 12 / (9 * 6), abs=1e-6
    )
    assert got[(1, 3)]["confidence"] == pytest.approx(3 / 9, abs=1e-6)
    assert got[(1, 3)]["lift"] == pytest.approx(3 * 12 / (9 * 6), abs=1e-6)
    assert got[(1, 2)]["n_both"] == 6 and got[(1, 3)]["n_both"] == 3


def test_survival_km_hand_curve(spark, tmp_path):
    """10 customers, one segment: 3 churn at month 0, 2 churn + 1
    censored at month 1, 4 censored at month 2. Textbook K-M:
    S(0)=0.7, S(1)=0.7*(5/7)=0.5, S(2)=0.5 (censoring moves no
    mass)."""
    from datetime import date, timedelta

    from mapreduce_kmeans_clustering_spark.queries.stats import q_survival_km

    D = date(2024, 12, 31)
    churn_last = date(2024, 6, 1)      # 213 days before D -> churned
    cens_last = date(2024, 12, 1)      # 30 days before D -> censored
    rows = []
    oid = 0

    def add(cust, last, months):
        nonlocal oid
        first = last - timedelta(days=30 * months)
        rows.append((oid, cust, first)); oid += 1
        rows.append((oid, cust, last)); oid += 1

    cid = 0
    for _ in range(3):  # t=0 churned
        add(cid, churn_last, 0); cid += 1
    for _ in range(2):  # t=1 churned
        add(cid, churn_last, 1); cid += 1
    add(cid, cens_last, 1); cid += 1  # t=1 censored
    for _ in range(3):  # t=2 censored
        add(cid, cens_last, 2); cid += 1
    add(cid, D, 2); cid += 1  # t=2 censored; defines the corpus max date

    orders = spark.createDataFrame(
        rows, "o_orderkey LONG, o_custkey LONG, o_orderdate DATE"
    )
    cust = spark.createDataFrame(
        [(i, "SEG") for i in range(cid)], "c_custkey LONG, c_mktsegment STRING"
    )
    orders.write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    cust.write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    got = {r["t"]: r for r in q_survival_km(spark, str(tmp_path)).collect()}
    assert (got[0]["n_risk"], got[0]["n_events"]) == (10, 3)
    assert (got[1]["n_risk"], got[1]["n_events"]) == (7, 2)
    assert (got[2]["n_risk"], got[2]["n_events"]) == (4, 0)
    assert got[0]["survival"] == pytest.approx(0.7, abs=1e-6)
    assert got[1]["survival"] == pytest.approx(0.5, abs=1e-6)
    assert got[2]["survival"] == pytest.approx(0.5, abs=1e-6)


def test_woe_iv_hand_check(spark):
    import math

    from mapreduce_kmeans_clustering_spark.operators.profile import woe_iv

    # bin 0: 3 good / 1 bad; bin 1: 1 good / 3 bad  (totals 4/4)
    rows = [(0, 0)] * 3 + [(0, 1)] + [(1, 0)] + [(1, 1)] * 3
    df = spark.createDataFrame(rows, "b INT, bad INT")
    out = {r["bin"]: r for r in woe_iv(df, "b", "bad").collect()}
    woe0 = math.floor(math.log((1 * 4) / (3 * 4)) * 1e6 + 0.5) / 1e6
    assert out[0]["n_good"] == 3 and out[0]["n_bad"] == 1
    assert out[0]["woe_q6"] == woe0
    iv0 = math.floor((1 / 4 - 3 / 4) * woe0 * 1e6 + 0.5) / 1e6
    assert out[0]["iv_q6"] == iv0
    # symmetry: bin 1 mirrors bin 0
    assert out[1]["woe_q6"] == -out[0]["woe_q6"]


def test_woe_iv_zero_class_bin_is_null_not_faked(spark):
    from mapreduce_kmeans_clustering_spark.operators.profile import woe_iv

    rows = [(0, 0), (0, 1), (1, 0), (1, 0)]  # bin 1 has zero bads
    df = spark.createDataFrame(rows, "b INT, bad INT")
    out = {r["bin"]: r for r in woe_iv(df, "b", "bad").collect()}
    assert out[1]["woe_q6"] is None
    assert out[1]["iv_q6"] is None
    assert out[0]["woe_q6"] is not None


def test_binary_auc_hand_check_and_ties(spark):
    from mapreduce_kmeans_clustering_spark.operators.profile import binary_auc

    # scores: pos {0.9, 0.5}, neg {0.5, 0.1}
    #   2U = pairs(pos>neg)*2 + ties = (0.9>0.5, 0.9>0.1, 0.5>0.1)*2 + 1 = 7
    #   AUC = 7/8 = 0.875
    rows = [(0.9, True), (0.5, True), (0.5, False), (0.1, False)]
    df = spark.createDataFrame(rows, "score DOUBLE, label BOOLEAN")
    out = binary_auc(df, "score", "label").collect()[0]
    assert (out["n_pos"], out["n_neg"], out["u2"]) == (2, 2, 7)
    assert out["auc"] == 0.875


def test_binary_auc_empty_class_is_null(spark):
    from mapreduce_kmeans_clustering_spark.operators.profile import binary_auc

    df = spark.createDataFrame(
        [(0.9, True), (0.1, True)], "score DOUBLE, label BOOLEAN"
    )
    out = binary_auc(df, "score", "label").collect()[0]
    assert out["auc"] is None and out["n_neg"] == 0


def test_binary_auc_exact_past_bigint_wrap(spark):
    """ADVICE r8 regression: with 1.6M rows per class and perfect
    separation, 2U·2e6 = 1.024e19 exceeds BIGINT (9.22e18) — the old
    long-form expression wrapped negative under non-ANSI Spark. The
    DECIMAL(38,0) form must report exactly 1.0."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.profile import binary_auc

    n = 1_600_000
    big = spark.range(2 * n).select(
        F.when(F.col("id") < n, F.lit(1.0)).otherwise(F.lit(0.0)).alias("s"),
        (F.col("id") < n).alias("y"),
    )
    out = binary_auc(big, "s", "y").collect()[0]
    assert out["u2"] == 2 * n * n  # 5.12e12: the U statistic itself
    assert out["auc"] == 1.0


def test_binary_auc_u2_overflow_cast_mirrors_across_engines(spark):
    """ADVICE r9 (low): binary_auc's u2 column NULLs (never throws)
    past int64 on BOTH sides. Engine: Column.try_cast — under Spark
    4's default ANSI mode a plain decimal->long cast THROWS
    CAST_OVERFLOW. Oracle: TRY_CAST(u2h AS BIGINT) — a plain ::BIGINT
    raises DuckDB OutOfRange. The magnitude needs ~2e9 rows per class
    to reach organically, so this pins the cast semantics directly
    plus both committed texts."""
    import duckdb
    import pytest as _pt
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import ArithmeticException

    from mapreduce_kmeans_clustering_spark.queries import ALL_ORACLES

    big = 2**70  # past int64, well inside DECIMAL(38,0)/HUGEINT
    dec = spark.createDataFrame([(str(big),)], "s STRING").select(
        F.col("s").cast("decimal(38,0)").alias("d")
    )
    assert dec.select(
        F.col("d").try_cast("long").alias("u2")
    ).collect()[0]["u2"] is None
    with _pt.raises(ArithmeticException):
        dec.select(F.col("d").cast("long")).collect()
    # DuckDB: TRY_CAST mirrors the NULL; the plain cast throws
    con = duckdb.connect()
    assert con.sql(
        f"SELECT TRY_CAST({big}::HUGEINT AS BIGINT)"
    ).fetchone()[0] is None
    with _pt.raises((duckdb.ConversionException, duckdb.OutOfRangeException)):
        con.sql(f"SELECT {big}::HUGEINT::BIGINT").fetchall()
    # and the committed texts use the safe forms
    assert "TRY_CAST(u2h AS BIGINT)" in ALL_ORACLES["q_quality_auc"]
    import inspect

    from mapreduce_kmeans_clustering_spark.operators.profile import (
        binary_auc,
    )

    assert 'try_cast("long")' in inspect.getsource(binary_auc)
