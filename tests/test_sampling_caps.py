"""Behavioral tests for per-key capping and TF-IDF term ranking."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.operators.curation import tfidf_top_terms
from mapreduce_kmeans_clustering_spark.operators.sampling import cap_per_key


def test_cap_per_key_limits_and_determinism(spark):
    rows = [(i, f"s{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    capped = cap_per_key(df, "source", 5)
    counts = {
        r["source"]: r["n"]
        for r in capped.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"s0": 5, "s1": 5, "s2": 5}
    a = sorted(r["doc_id"] for r in capped.collect())
    b = sorted(r["doc_id"] for r in cap_per_key(df, "source", 5).collect())
    assert a == b  # kept set is a pure function of the data


def test_cap_per_key_under_cap_passthrough(spark):
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "doc_id LONG, source STRING")
    got = sorted(r["doc_id"] for r in cap_per_key(df, "source", 10).collect())
    assert got == [1, 2, 3]


def test_cap_per_key_stable_under_growth(spark):
    # a doc kept from a small corpus stays kept when more docs hash AFTER it
    df1 = spark.createDataFrame([(i, "a") for i in range(10)], "doc_id LONG, source STRING")
    kept1 = {r["doc_id"] for r in cap_per_key(df1, "source", 10).collect()}
    assert kept1 == set(range(10))  # under cap: all stay


def test_tfidf_hand_check(spark):
    # doc 0: "apple apple banana"; doc 1: "banana cherry"
    # N=2; df(apple)=1, df(banana)=2, df(cherry)=1
    df = spark.createDataFrame(
        [(0, "apple apple banana"), (1, "banana cherry")], "doc_id LONG, text STRING"
    )
    rows = tfidf_top_terms(df, k=3).collect()
    got = {(r["doc_id"], r["term"]): (r["tf"], r["tfidf"], r["rank"]) for r in rows}
    ln2 = math.log(2.0)
    assert got[(0, "apple")] == (2, pytest.approx(round(2 * ln2, 6)), 1)
    assert got[(0, "banana")] == (1, pytest.approx(0.0), 2)  # ln(2/2) = 0
    assert got[(1, "cherry")] == (1, pytest.approx(round(ln2, 6)), 1)
    assert got[(1, "banana")] == (1, pytest.approx(0.0), 2)


def test_tfidf_k_cut_and_tie_break(spark):
    # four equal-score terms -> rank by term string, keep k=2
    df = spark.createDataFrame([(0, "dd cc bb aa")], "doc_id LONG, text STRING")
    rows = tfidf_top_terms(df, k=2).collect()
    assert sorted(r["term"] for r in rows) == ["aa", "bb"]
    assert {r["rank"] for r in rows} == {1, 2}


# ---------------------------------------------------------------------------
# Property tests: operators must match their plain-Python definitions
# ---------------------------------------------------------------------------

import hashlib
import math as _math
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)

_corpus = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=12), min_size=1, max_size=10
)


@given(_corpus, st.integers(min_value=1, max_value=4))
@_SETTINGS
def test_cap_per_key_matches_python(spark, texts, cap):
    rows = [(i, f"s{i % 2}") for i in range(len(texts))]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    got = sorted(r["doc_id"] for r in cap_per_key(df, "source", cap).collect())
    by_key: dict[str, list[int]] = {}
    for i, src in rows:
        by_key.setdefault(src, []).append(i)
    expected = sorted(
        i
        for ids in by_key.values()
        for i in sorted(ids, key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))[:cap]
    )
    assert got == expected


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
@given(_corpus)
@_SETTINGS
def test_tfidf_matches_python(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["tfidf"])
        for r in tfidf_top_terms(df, k=1000).collect()
    }
    n = len(texts)
    toks = {i: [t for t in txt.lower().split() if t] for i, txt in enumerate(texts)}
    tf = {(i, t): c for i, ts in toks.items() for t, c in Counter(ts).items()}
    dfreq = Counter(t for (_, t) in tf)
    expected = {
        (i, t): (c, round(c * _math.log(n / dfreq[t]), 6)) for (i, t), c in tf.items()
    }
    assert got.keys() == expected.keys()
    for k_ in got:
        assert got[k_][0] == expected[k_][0]
        assert got[k_][1] == pytest.approx(expected[k_][1], abs=1e-9)


def test_sample_weighted_matches_python(spark):
    """sample_weighted == plain-Python replay of the 52-bit hash
    priority (hash(id)/weight, k smallest)."""
    import hashlib

    from mapreduce_kmeans_clustering_spark.operators.sampling import sample_weighted

    rows = [(i, (i % 7) + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id LONG, w LONG")
    got = [r["doc_id"] for r in sample_weighted(df, 20, "w", "doc_id").collect()]

    def pri(i, w):
        h = int(hashlib.md5(f"ws:{i}".encode()).hexdigest()[:13], 16)
        return float(h) / w

    want = [i for i, w in sorted(rows, key=lambda t: (pri(*t), t[0]))[:20]]
    assert got == want


def test_sample_weighted_favors_heavy_rows(spark):
    """A row with 1000x the weight of its peers is (near-)certain to be
    sampled: priority scales as 1/w."""
    from mapreduce_kmeans_clustering_spark.operators.sampling import sample_weighted

    rows = [(i, 1_000_000 if i == 42 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id LONG, w LONG")
    got = {r["doc_id"] for r in sample_weighted(df, 10, "w", "doc_id").collect()}
    assert 42 in got


def test_column_profile_matches_pandas(spark):
    """column_profile == pandas ground truth per metric, including a
    NULL-bearing numeric column and a non-numeric column."""
    from mapreduce_kmeans_clustering_spark.operators.profile import column_profile

    rows = [
        (1, 2.5, "a"),
        (2, None, "b"),
        (3, 7.0, None),
        (4, 2.5, "a"),
        (5, -1.0, "c"),
    ]
    df = spark.createDataFrame(rows, "k LONG, v DOUBLE, s STRING")
    got = {
        r["col_name"]: r.asDict()
        for r in column_profile(df, ["k", "v", "s"]).collect()
    }
    assert got["k"] == {
        "col_name": "k", "n_rows": 5, "n_null": 0, "n_distinct": 5,
        "min_val": 1.0, "max_val": 5.0,
    }
    assert got["v"] == {
        "col_name": "v", "n_rows": 5, "n_null": 1, "n_distinct": 3,
        "min_val": -1.0, "max_val": 7.0,
    }
    assert got["s"] == {
        "col_name": "s", "n_rows": 5, "n_null": 1, "n_distinct": 3,
        "min_val": None, "max_val": None,
    }


def test_column_profile_approx_mode(spark):
    """approx=True swaps exact distinct for HLL: counts stay within the
    documented ~2% envelope on a small domain (exact here)."""
    from mapreduce_kmeans_clustering_spark.operators.profile import column_profile

    df = spark.range(1000).selectExpr("id", "id % 10 AS m")
    got = {
        r["col_name"]: r["n_distinct"]
        for r in column_profile(df, ["id", "m"], approx=True).collect()
    }
    assert abs(got["id"] - 1000) <= 50
    assert abs(got["m"] - 10) <= 1


def test_temperature_weights_properties(spark):
    """alpha=1 reproduces natural shares (boost 1); alpha=0 is uniform;
    at alpha in (0,1) low-resource groups get boost > 1 and the
    dominant group boost < 1; weights always sum to 1."""
    from mapreduce_kmeans_clustering_spark.operators.sampling import temperature_weights

    stats = spark.createDataFrame(
        [("en", 800), ("de", 150), ("sw", 50)], "lang STRING, mass LONG"
    )
    w1 = {r["lang"]: r for r in temperature_weights(stats, alpha=1.0).collect()}
    for r in w1.values():
        assert abs(r["sample_weight"] - r["share"]) < 1e-12
        assert abs(r["boost"] - 1.0) < 1e-12
    w0 = {r["lang"]: r for r in temperature_weights(stats, alpha=0.0).collect()}
    for r in w0.values():
        assert abs(r["sample_weight"] - 1 / 3) < 1e-12
    wt = {r["lang"]: r for r in temperature_weights(stats, alpha=0.3).collect()}
    assert abs(sum(r["sample_weight"] for r in wt.values()) - 1.0) < 1e-12
    assert wt["sw"]["boost"] > 1.0 > wt["en"]["boost"]
    # order preserved: more mass still means more weight (monotone)
    assert wt["en"]["sample_weight"] > wt["de"]["sample_weight"] > wt["sw"]["sample_weight"]


# ---------------------------------------------------------------------------
# Neyman-optimal stratified allocation
# ---------------------------------------------------------------------------

def test_neyman_allocation_follows_nh_sigma(spark):
    """Two equal-size strata, one with 10x the spread: quotas must
    track N_h * sigma_h (verified against a numpy replay of the exact
    integer-moment formula)."""
    import hashlib
    import math

    from mapreduce_kmeans_clustering_spark.operators.sampling import sample_neyman

    rows = []
    # stratum 'tight': values 100 +- 1; 'wide': 100 +- 10 (alternating)
    for i in range(40):
        rows.append((i, "tight", 100.0 + (1.0 if i % 2 else -1.0)))
    for i in range(40, 80):
        rows.append((i, "wide", 100.0 + (10.0 if i % 2 else -10.0)))
    df = spark.createDataFrame(rows, "id LONG, stratum STRING, val DOUBLE")
    got = sample_neyman(
        df, n_total=22, strata_col="stratum", value_col="val", id_col="id"
    ).collect()

    # replay: w_h = round(sqrt(nh*sum(c^2) - sum(c)^2), 2), cents ints
    def w(vals):
        cents = [round(v * 100) for v in vals]
        nh = len(cents)
        return round(math.sqrt(nh * sum(c * c for c in cents) - sum(cents) ** 2), 2)

    wt = w([r[2] for r in rows[:40]])
    ww = w([r[2] for r in rows[40:]])
    sw = wt + ww
    exp_tight = math.floor(22.0 * wt / sw)
    exp_wide = math.floor(22.0 * ww / sw)
    assert exp_wide == 10 * exp_tight  # sigma ratio is exactly 10
    by = {}
    for r in got:
        by.setdefault(r["stratum"], []).append(r)
    assert len(by["tight"]) == exp_tight == by["tight"][0]["n_alloc"]
    assert len(by["wide"]) == exp_wide == by["wide"][0]["n_alloc"]
    assert all(r["n_stratum"] == 40 for r in got)

    # membership replay: lowest md5-priority ids win per stratum
    def pri(i):
        return int(hashlib.md5(f"ns:{i}".encode()).hexdigest()[:13], 16)

    exp_ids = sorted(range(40), key=lambda i: (pri(i), i))[:exp_tight]
    assert sorted(r["id"] for r in by["tight"]) == sorted(exp_ids)


def test_neyman_zero_variance_stratum_drops(spark):
    from mapreduce_kmeans_clustering_spark.operators.sampling import sample_neyman

    rows = [(i, "const", 50.0) for i in range(20)] + [
        (100 + i, "varied", float(10 * (i % 5))) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "id LONG, stratum STRING, val DOUBLE")
    got = sample_neyman(
        df, n_total=10, strata_col="stratum", value_col="val", id_col="id"
    ).collect()
    assert {r["stratum"] for r in got} == {"varied"}
    assert len(got) == 10  # the whole budget flows to the varied stratum


def test_neyman_deterministic_under_repartition(spark):
    from mapreduce_kmeans_clustering_spark.operators.sampling import sample_neyman

    rows = [(i, f"s{i % 3}", float(i % 17)) for i in range(90)]
    df = spark.createDataFrame(rows, "id LONG, stratum STRING, val DOUBLE")
    a = sorted(
        tuple(r)
        for r in sample_neyman(
            df, 30, strata_col="stratum", value_col="val", id_col="id"
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in sample_neyman(
            df.repartition(7), 30, strata_col="stratum", value_col="val", id_col="id"
        ).collect()
    )
    assert a == b and len(a) > 0


def test_parity_copy_counts_sums_to_majority(spark):
    from mapreduce_kmeans_clustering_spark.operators.sampling import (
        parity_copy_counts,
    )

    rows = [(i, "a") for i in range(7)] + [(i + 100, "b") for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id LONG, label STRING")
    out = parity_copy_counts(df, label_col="label", id_col="vec_id")
    per = {
        r["label"]: r["s"]
        for r in out.groupBy("label").agg(F.sum("n_copies").alias("s")).collect()
    }
    assert per == {"a": 7, "b": 7}
    counts = {r["vec_id"]: r["n_copies"] for r in out.collect()}
    # majority rows never replicate; minority rows get 2 or 3 copies
    assert all(counts[i] == 1 for i in range(7))
    assert sorted(counts[i + 100] for i in range(3)) == [2, 2, 3]


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_parity_copy_counts_partitioning_invariant(spark):
    from mapreduce_kmeans_clustering_spark.operators.sampling import (
        parity_copy_counts,
    )

    rows = [(i, i % 4) for i in range(37)]
    df = spark.createDataFrame(rows, "vec_id LONG, label INT")
    a = sorted(map(tuple, parity_copy_counts(df).collect()))
    b = sorted(map(tuple, parity_copy_counts(df.repartition(7)).collect()))
    assert a == b


def test_epoch_allocation_cap_math_and_shares(spark):
    """epoch_allocation: requested = budget x weight, epochs =
    requested/mass, the cap binds exactly when epochs > max_epochs,
    and realized_share renormalizes over the post-cap allocation."""
    import pytest as _pytest
    from mapreduce_kmeans_clustering_spark.operators.sampling import (
        epoch_allocation,
    )

    stats = spark.createDataFrame(
        [("big", 9000), ("small", 1000)], "grp STRING, mass LONG"
    )
    # alpha=0 -> uniform mixture: each group asked for half the
    # 2x-corpus budget (10000 tokens each); 'small' needs 10 epochs,
    # capped at 3 -> 3000 tokens; 'big' uncapped at ~1.11 epochs
    got = {
        r["grp"]: r
        for r in epoch_allocation(
            stats, 2.0, alpha=0.0, max_epochs=3.0
        ).collect()
    }
    assert got["small"]["capped"] and not got["big"]["capped"]
    assert got["small"]["allocated_tokens"] == 3000.0
    assert abs(got["small"]["epochs"] - 10.0) < 1e-9
    assert abs(got["big"]["requested_tokens"] - 10000.0) < 1e-6
    assert abs(got["big"]["allocated_tokens"] - 10000.0) < 1e-6
    total = sum(r["realized_share"] for r in got.values())
    assert abs(total - 1.0) < 1e-9
    # shortfall is visible: realized share of 'small' < its target 0.5
    assert got["small"]["realized_share"] < 0.5
    with _pytest.raises(ValueError):
        epoch_allocation(stats, 0.0)
    with _pytest.raises(ValueError):
        epoch_allocation(stats, 1.0, max_epochs=0.0)
