"""KMV sketch: exact below k, sane relative error above k, and
permutation/duplication invariance (the estimate is a pure function of
the distinct value set)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.functions.sketch import kmv_distinct


def test_small_groups_are_exact(spark):
    df = spark.createDataFrame(
        [("g", f"v{i}") for i in range(10)], "g STRING, v STRING"
    )
    row = kmv_distinct(df, ["g"], "v", k=64).collect()[0]
    assert row["n_kept"] == 10
    assert row["est_distinct"] == 10.0


def test_estimate_within_tolerance(spark):
    n = 5000
    df = spark.createDataFrame(
        [("g", f"value-{i}") for i in range(n)], "g STRING, v STRING"
    ).repartition(8)
    row = kmv_distinct(df, ["g"], "v", k=256).collect()[0]
    assert row["n_kept"] == 256
    # KMV stddev ~ n/sqrt(k-2) ≈ 6.3%; 4 sigma bound keeps this stable
    assert abs(row["est_distinct"] - n) / n < 0.25


def test_duplicates_and_order_do_not_change_estimate(spark):
    base = [("g", f"value-{i}") for i in range(1000)]
    a = spark.createDataFrame(base, "g STRING, v STRING")
    b = spark.createDataFrame(
        list(reversed(base)) + base[:500] * 3, "g STRING, v STRING"
    ).repartition(5)
    ra = kmv_distinct(a, ["g"], "v", k=64).collect()[0]
    rb = kmv_distinct(b, ["g"], "v", k=64).collect()[0]
    assert ra["est_distinct"] == rb["est_distinct"]


def test_salted_two_phase_equals_single_sort(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(f"g{i % 3}", f"value-{i}") for i in range(3000)], "g STRING, v STRING"
    ).repartition(8)
    one = sorted(map(tuple, kmv_distinct(df, ["g"], "v", k=64, salt_buckets=1).collect()))
    two = sorted(map(tuple, kmv_distinct(df, ["g"], "v", k=64, salt_buckets=16).collect()))
    assert one == two


def test_histogram_quantiles_within_bucket_width_of_exact(spark):
    """Sketch p50/p95 vs exact percentile: error bounded by one bucket
    width (5.0 at the registered config)."""
    from mapreduce_kmeans_clustering_spark.functions.sketch import (
        histogram_quantiles,
    )
    from mapreduce_kmeans_clustering_spark.queries._shared import _events

    ev = _events(spark, "/root/testdata/sf0.001")
    got = {
        (r["event_type"], r["q"]): r["est"]
        for r in histogram_quantiles(
            ev, "value", qs=[0.5, 0.95], lo=0.0, hi=500.0, buckets=100,
            groups=["event_type"],
        ).collect()
    }
    exact = {
        (r["event_type"], q): r[f"p{int(q*100)}"]
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
        for q in (0.5, 0.95)
    }
    assert set(got) == set(exact)
    # 1.5 bucket widths: the sketch interpolates mass inside a bucket,
    # percentile() interpolates order statistics — conventions differ
    # by up to half a width on top of the one-width histogram bound
    for k in got:
        assert abs(got[k] - exact[k]) <= 7.5, (k, got[k], exact[k])


def test_histogram_quantiles_mergeable_counts(spark):
    """Splitting the input and summing histograms gives the same
    estimates as one pass — the mergeability claim."""
    from mapreduce_kmeans_clustering_spark.functions.sketch import (
        histogram_quantiles,
    )

    df = spark.range(1000).selectExpr("CAST(id AS DOUBLE) AS v")
    whole = {
        r["q"]: r["est"]
        for r in histogram_quantiles(
            df, "v", qs=[0.5, 0.9], lo=0.0, hi=1000.0, buckets=50
        ).collect()
    }
    halves = df.where("v < 300").unionAll(df.where("v >= 300"))
    merged = {
        r["q"]: r["est"]
        for r in histogram_quantiles(
            halves, "v", qs=[0.5, 0.9], lo=0.0, hi=1000.0, buckets=50
        ).collect()
    }
    assert whole == merged
    assert abs(whole[0.5] - 500.0) <= 20.0


def test_cms_never_undercounts_and_is_tight_when_wide(spark):
    from mapreduce_kmeans_clustering_spark.functions.sketch import (
        cms_counts,
        cms_estimate,
    )

    df = spark.range(10_000).selectExpr("CAST(id % 100 AS STRING) AS v")
    cms = cms_counts(df, "v", depth=4, width=1024)
    keys = df.distinct()
    est = {
        r["v"]: r["est_n"] for r in cms_estimate(keys, cms, "v", 4, 1024).collect()
    }
    assert all(e >= 100 for e in est.values())  # never undercounts
    assert sum(est.values()) <= 10_000 * 1.10  # collisions bounded


def test_cms_merge_equals_single_build(spark):
    """Union of per-shard sketches re-summed == one-pass sketch (the
    mergeability that makes CMS a per-day/per-shard summary)."""
    from pyspark.sql import functions as F2

    from mapreduce_kmeans_clustering_spark.functions.sketch import cms_counts

    df = spark.range(5000).selectExpr("CAST(id % 37 AS STRING) AS v")
    whole = cms_counts(df, "v").orderBy("d", "b").collect()
    a = cms_counts(df.where("id < 2000"), "v")
    b = cms_counts(df.where("id >= 2000"), "v")
    merged = (
        a.unionAll(b)
        .groupBy("d", "b")
        .agg(F2.sum("cnt").cast("long").alias("cnt"))
        .orderBy("d", "b")
        .collect()
    )
    assert whole == merged


def test_histogram_quantiles_rejects_q_zero_and_drops_nulls(spark):
    """Edge contract: q<=0 raises (the covering-bucket predicate has
    no solution at 0 and would silently drop the row); NULL values
    must not form a bucket or inflate the total."""
    import pytest

    from mapreduce_kmeans_clustering_spark.functions.sketch import (
        histogram_quantiles,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)] + [(None,)] * 50,
        "v DOUBLE",
    )
    with pytest.raises(ValueError, match=r"quantiles"):
        histogram_quantiles(df, "v", [0.0, 0.5], lo=0.0, hi=100.0)
    with pytest.raises(ValueError, match=r"quantiles"):
        histogram_quantiles(df, "v", [1.5], lo=0.0, hi=100.0)
    # with NULLs excluded, the median of 1..100 interpolates near 50
    rows = histogram_quantiles(
        df, "v", [0.5, 1.0], lo=0.0, hi=100.0, buckets=100
    ).collect()
    est = {r["q"]: r["est"] for r in rows}
    assert len(rows) == 2  # q=1.0 still yields a row (max bucket)
    assert abs(est[0.5] - 50.0) <= 1.0  # one bucket width
    assert est[1.0] <= 100.0


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog
# ---------------------------------------------------------------------------

def test_hll_estimate_accuracy_and_determinism(spark):
    from mapreduce_kmeans_clustering_spark.functions.sketch import (
        hll_estimate,
        hll_registers,
    )

    df = spark.range(0, 3000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 1000).alias("v"),  # 1000 distinct per group
    )
    est = {
        r["g"]: r["est_distinct"]
        for r in hll_estimate(hll_registers(df, ["g"], "v"), ["g"]).collect()
    }
    for g in ("0", "1", "2"):
        # m=64 -> sigma ~13%; 3-sigma bound
        assert abs(est[g] - 1000) / 1000 < 0.4, (g, est[g])
    again = {
        r["g"]: r["est_distinct"]
        for r in hll_estimate(
            hll_registers(df.repartition(7), ["g"], "v"), ["g"]
        ).collect()
    }
    assert est == again  # partitioning cannot move a deterministic sketch


def test_hll_registers_merge_like_shards(spark):
    """The 100 TB property: registers built on two disjoint shards,
    unioned and re-maxed per bucket, give EXACTLY the whole-corpus
    estimate."""
    from mapreduce_kmeans_clustering_spark.functions.sketch import (
        hll_estimate,
        hll_registers,
    )

    df = spark.range(0, 2000).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    whole = hll_estimate(hll_registers(df, ["g"], "v"), ["g"]).collect()[0]
    a = hll_registers(df.where(F.col("v") < 700), ["g"], "v")
    b = hll_registers(df.where(F.col("v") >= 700), ["g"], "v")
    merged = (
        a.unionAll(b)
        .groupBy("g", "bucket")
        .agg(F.max("rho").cast("int").alias("rho"))
    )
    got = hll_estimate(merged, ["g"]).collect()[0]
    assert got["est_distinct"] == whole["est_distinct"]
    assert got["n_zero_registers"] == whole["n_zero_registers"]


def test_hll_saturated_register_rho47_stays_bounded(spark):
    """A register at rho = 47 (all 46 rank bits zero — p ≈ 2^-46 per
    distinct, but any 100 TB corpus WILL hit it) must contribute a
    clamped 2^0 term, not shiftleft(1L, -1) = Long.MIN_VALUE. Pin with
    a synthetic register table: the harmonic sum stays inside the
    documented integer bound (≤ 64·2^46) and the estimate stays a
    positive finite double, equal to the rho = 46 twin's (the clamp's
    defined semantics)."""
    from mapreduce_kmeans_clustering_spark.functions.sketch import (
        HLL_M,
        HLL_W,
        hll_estimate,
    )

    def regs(rho_edge):
        return spark.createDataFrame(
            [("g", b, 3) for b in range(40)] + [("g", 63, rho_edge)],
            "g STRING, bucket INT, rho INT",
        )

    sat = hll_estimate(regs(HLL_W + 1), ["g"]).collect()[0]
    twin = hll_estimate(regs(HLL_W), ["g"]).collect()[0]
    assert sat["est_distinct"] > 0.0
    assert sat["est_distinct"] == twin["est_distinct"]
    assert sat["n_zero_registers"] == HLL_M - 41
    # and the raw harmonic sum respects the 2^52 < 2^53 exactness bound
    raw = (
        spark.createDataFrame(
            [("g", 63, HLL_W + 1)], "g STRING, bucket INT, rho INT"
        )
        .agg(
            F.sum(
                F.expr(f"shiftleft(1L, greatest(0, {HLL_W} - rho))")
            ).alias("s")
        )
        .collect()[0]["s"]
    )
    assert 0 < raw <= HLL_M * (1 << HLL_W)


def test_hll_small_range_linear_counting(spark):
    """A 5-distinct group takes the linear-counting branch and lands
    near-exact (m ln(m/V) with V close to m)."""
    from mapreduce_kmeans_clustering_spark.functions.sketch import (
        hll_estimate,
        hll_registers,
    )

    df = spark.range(0, 100).select(
        F.lit("s").alias("g"), (F.col("id") % 5).alias("v")
    )
    r = hll_estimate(hll_registers(df, ["g"], "v"), ["g"]).collect()[0]
    assert r["n_zero_registers"] >= 59  # at most 5 registers touched
    assert abs(r["est_distinct"] - 5) <= 1.0


def test_kmv_set_ops_exact_branch_small_sets(spark):
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.functions.sketch import kmv_set_ops

    a = spark.createDataFrame([(i,) for i in range(30)], "v long")
    b = spark.createDataFrame([(i,) for i in range(20, 50)], "v long")
    row = kmv_set_ops(a, b, "v", k=64).collect()[0]
    # under k distinct everywhere: estimates ARE the exact counts
    assert row["est_a"] == 30.0 and row["est_b"] == 30.0
    assert row["est_union"] == 50.0 and row["est_inter"] == 10.0
    assert (row["exact_a"], row["exact_b"]) == (30, 30)
    assert (row["exact_union"], row["exact_inter"]) == (50, 10)


def test_kmv_set_ops_estimator_branch_tracks_truth(spark):
    from mapreduce_kmeans_clustering_spark.functions.sketch import kmv_set_ops

    # 600 + 600 values with a 200-value overlap, k=64: estimates must
    # land within 35% of truth (k=64 KMV standard error ~1/sqrt(62)
    # ~= 13%; 35% is a deterministic-fixture bound, not a stat claim)
    a = spark.createDataFrame([(i,) for i in range(600)], "v long")
    b = spark.createDataFrame([(i,) for i in range(400, 1000)], "v long")
    row = kmv_set_ops(a, b, "v", k=64).collect()[0]
    assert row["n_kept"] == 64
    assert abs(row["est_a"] - 600) / 600 < 0.35
    assert abs(row["est_b"] - 600) / 600 < 0.35
    assert abs(row["est_union"] - 1000) / 1000 < 0.35
    assert abs(row["est_inter"] - 200) / 200 < 0.6  # ratio estimator is noisier
    assert (row["exact_union"], row["exact_inter"]) == (1000, 200)


def test_kmv_minima_salted_equals_plain(spark):
    from mapreduce_kmeans_clustering_spark.functions.sketch import kmv_minima

    df = spark.createDataFrame([(f"v{i}",) for i in range(500)], "v string")
    plain = sorted(r["__h"] for r in kmv_minima(df, "v", 32, salt_buckets=1).collect())
    salted = sorted(r["__h"] for r in kmv_minima(df, "v", 32, salt_buckets=16).collect())
    assert plain == salted and len(plain) == 32
