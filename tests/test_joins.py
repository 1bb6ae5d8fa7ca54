"""As-of and interval join semantics: `<=` match (equal-ts right row
counts as prior), deterministic tie-break among equal-ts right rows,
null payload when no prior row, inclusive interval bounds, and
bucket-width invariance of the interval join result."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.operators.joins import asof_join, interval_join

TS = "2024-01-01 00:00:{:02d}"


def _tsdf(spark, schema, rows):
    df = spark.createDataFrame(rows, schema)
    for c, t in df.dtypes:
        if c.endswith("ts"):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


@pytest.fixture(scope="module")
def quotes(spark):
    return _tsdf(
        spark,
        "sym STRING, qts STRING, px DOUBLE, qid INT",
        [
            ("A", TS.format(10), 1.0, 1),
            ("A", TS.format(20), 2.0, 2),
            ("A", TS.format(20), 3.0, 3),  # equal-ts tie: qid 3 must win
            ("A", TS.format(40), 4.0, 4),
            ("B", TS.format(30), 9.0, 5),
        ],
    )


@pytest.fixture(scope="module")
def trades(spark):
    return _tsdf(
        spark,
        "sym STRING, tts STRING, tid INT",
        [
            ("A", TS.format(5), 100),   # before any quote -> null
            ("A", TS.format(20), 101),  # equal ts -> matches, qid 3 wins tie
            ("A", TS.format(39), 102),  # latest prior is qid 3
            ("A", TS.format(50), 103),  # qid 4
            ("B", TS.format(29), 104),  # B has no quote yet -> null
            ("C", TS.format(30), 105),  # key absent from right -> null
        ],
    )


def test_asof_semantics(spark, quotes, trades):
    out = asof_join(
        trades, quotes, on="sym", left_ts="tts", right_ts="qts",
        payload=["px", "qid"], right_order="qid",
    )
    got = {r["tid"]: (r["px"], r["qid"]) for r in out.collect()}
    assert got == {
        100: (None, None),
        101: (3.0, 3),
        102: (3.0, 3),
        103: (4.0, 4),
        104: (None, None),
        105: (None, None),
    }
    # left row count preserved (it's a LEFT as-of join)
    assert out.count() == trades.count()


def test_asof_null_payload_field_propagates(spark):
    """A legitimately-NULL payload field on the MATCHED (latest) right
    row must come through as NULL — not be skipped for a stale value
    from an older row (the struct-fill guarantees this)."""
    quotes = _tsdf(
        spark,
        "sym STRING, qts STRING, px DOUBLE, qid INT",
        [
            ("A", TS.format(10), 7.0, 1),
            ("A", TS.format(20), None, 2),  # latest prior: px is NULL
        ],
    )
    trades = _tsdf(spark, "sym STRING, tts STRING, tid INT", [("A", TS.format(30), 1)])
    out = asof_join(
        trades, quotes, on="sym", left_ts="tts", right_ts="qts",
        payload=["px", "qid"], right_order="qid",
    )
    row = out.collect()[0]
    assert row["qid"] == 2 and row["px"] is None


def test_asof_carries_left_columns(spark, quotes, trades):
    out = asof_join(
        trades, quotes, on="sym", left_ts="tts", right_ts="qts",
        payload=["px"], right_order="qid",
    )
    assert set(out.columns) == {"sym", "tts", "tid", "px"}


@pytest.fixture(scope="module")
def intervals(spark):
    return _tsdf(
        spark,
        "iv INT, sts STRING, ets STRING",
        [
            (1, TS.format(10), TS.format(20)),
            (2, TS.format(20), TS.format(25)),  # overlaps iv 1 at :20
            (3, TS.format(50), TS.format(59)),
        ],
    )


@pytest.fixture(scope="module")
def points_in_time(spark):
    return _tsdf(
        spark,
        "pts STRING, pid INT",
        [
            (TS.format(9), 1),   # before all -> dropped
            (TS.format(10), 2),  # start-inclusive
            (TS.format(20), 3),  # in both iv 1 (end) and iv 2 (start)
            (TS.format(26), 4),  # gap -> dropped
            (TS.format(59), 5),  # end-inclusive
        ],
    )


@pytest.mark.parametrize("bucket_seconds", [1, 7, 3600])
def test_interval_join_inclusive_and_bucket_invariant(
    spark, intervals, points_in_time, bucket_seconds
):
    out = interval_join(
        points_in_time, intervals, "pts", "sts", "ets", bucket_seconds
    )
    got = sorted((r["pid"], r["iv"]) for r in out.collect())
    assert got == [(2, 1), (3, 1), (3, 2), (5, 3)]


def test_fuzzy_self_join_ed1_cases(spark):
    """Deletion-neighborhood fuzzy join: catches substitution, insert,
    delete, and identical names; rejects shared-deletion distance-2
    pairs ('ab' vs 'ba' share deletions but ed=2)."""
    from mapreduce_kmeans_clustering_spark.operators.joins import fuzzy_self_join_ed1

    df = spark.createDataFrame(
        [
            (1, "acme corp"),
            (2, "acme Corp"),   # substitution -> dist 1
            (3, "acme corps"),  # insertion  -> dist 1
            (4, "acme cor"),    # deletion vs 1 -> dist 1 (and vs 3: 2)
            (5, "acme corp"),   # identical  -> dist 0
            (6, "ab"),
            (7, "ba"),          # shares deletions with 6 but ed=2 -> excluded
            (8, "zzzzz"),       # isolated
        ],
        "id LONG, name STRING",
    )
    got = {
        (r["a"], r["b"]): r["dist"]
        for r in fuzzy_self_join_ed1(df, "name", "id").collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 1
    assert got[(1, 4)] == 1
    assert got[(1, 5)] == 0
    assert got[(2, 5)] == 1
    assert (6, 7) not in got
    assert all(k[0] != 8 and k[1] != 8 for k in got)
    # plan: candidate generation is a hash equi-join on the deletion key
    p = fuzzy_self_join_ed1(df, "name", "id")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


# ---------------------------------------------------------------------------
# Fellegi-Sunter linkage scoring (q_linkage_scores semantics)
# ---------------------------------------------------------------------------

def test_linkage_scores_hand_check(spark, tmp_path):
    """4 customers, two ed1-name pairs: one agrees on both fields, one
    disagrees on both. Weights replayed by hand from the exact
    u-estimates: u_nat = u_seg = 4/12 (two values, twice each)."""
    import math

    from mapreduce_kmeans_clustering_spark.queries.relational import q_linkage_scores

    rows = [
        (1, "acme corp", 10, "AUTO"),
        (2, "acme corq", 10, "AUTO"),   # ed1 to #1, agrees on both
        (3, "zeta inc", 20, "STEEL"),
        (4, "zeta ink", 10, "AUTO"),    # ed1 to #3, disagrees on both
    ]
    df = spark.createDataFrame(
        rows, "c_custkey LONG, c_name STRING, c_nationkey LONG, c_mktsegment STRING"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")
    got = {(r["a"], r["b"]): r for r in q_linkage_scores(spark, str(tmp_path)).collect()}
    assert set(got) == {(1, 2), (3, 4)}
    # u: values {10:3, 20:1} -> sum c(c-1) = 6; n(n-1) = 12 -> u_nat = 0.5
    #    {AUTO:3, STEEL:1} -> u_seg = 0.5
    agree = math.log2(0.9 / 0.5)
    disagree = math.log2((1.0 - 0.9) / (1.0 - 0.5))
    assert got[(1, 2)]["score"] == pytest.approx(2 * agree, abs=1e-6)
    assert got[(3, 4)]["score"] == pytest.approx(2 * disagree, abs=1e-6)
    assert got[(1, 2)]["nation_agree"] and got[(1, 2)]["segment_agree"]
    assert not got[(3, 4)]["nation_agree"] and not got[(3, 4)]["segment_agree"]
    # the agreeing pair must outrank the disagreeing one
    assert got[(1, 2)]["score"] > 0 > got[(3, 4)]["score"]
