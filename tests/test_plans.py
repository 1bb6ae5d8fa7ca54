"""Physical-plan regression tests: the plan properties SCALE.md claims
are asserted here so a refactor can't silently lose them.

These inspect the executed plan string — brittle against Spark version
changes by design: if an upgrade changes a plan shape, that is exactly
the review signal wanted.
"""

from __future__ import annotations

import pytest

from mapreduce_kmeans_clustering_spark.operators.assign import assign
from mapreduce_kmeans_clustering_spark.sources.seeds import Centroid

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_assign_is_scan_local_no_shuffle(spark):
    from pyspark.sql import functions as F

    pts = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_quantity").cast("double").alias("x"),
        (F.col("l_extendedprice") / 100.0).alias("y"),
        (F.col("l_discount") * 1000.0).alias("z"),
    )
    cents = [Centroid(0, 0.0, 0.0, 0.0), Centroid(1, 1.0, 1.0, 1.0)]
    labeled = assign(pts, cents, keep_cols=["x", "y", "z"])
    # centroids are one broadcast local row: the points meet it in the
    # plan's only join, a condition-free nested-loop join whose build
    # side (BuildRight: the last two lines) is a BroadcastExchange over
    # a lone LocalTableScan, and that broadcast is the only Exchange
    p = _plan(labeled)
    lines = [ln.lstrip(" :+-") for ln in p.splitlines()]
    [bnlj] = [ln for ln in lines if "Join" in ln]
    assert bnlj.startswith("BroadcastNestedLoopJoin"), bnlj
    assert bnlj.endswith(("Cross", "Inner")), bnlj
    assert lines[-2].startswith("BroadcastExchange"), p
    assert lines[-1].startswith("LocalTableScan"), p
    assert p.count("Exchange") == 1, p


def _const_channel(spark, channel: str, k: int):
    """The plan of one constant channel fed ``k`` constants (seeds,
    centroids or codewords) drawn from a seeded generator."""
    import numpy as np
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators import dedup, pq, similarity
    from mapreduce_kmeans_clustering_spark.plans import kmeans, kmeans_nd

    rng = np.random.default_rng(k)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    def vecs(n, dim):
        return [[float(x) for x in rng.normal(size=dim)] for _ in range(n)]

    if channel == "farthest_nd":
        return kmeans_nd._farthest_round_df(emb, vecs(k, 64), "vec_id", "embedding")
    if channel == "farthest_3d":
        pts = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            F.col("l_quantity").cast("double").alias("x"),
            (F.col("l_extendedprice") / 100.0).alias("y"),
            (F.col("l_discount") * 1000.0).alias("z"),
        )
        return kmeans._farthest_round(pts, [Centroid(i, *v) for i, v in enumerate(vecs(k, 3))])
    if channel == "semantic":
        base = emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
        return dedup.semantic_assign(base, vecs(k, 64))
    books = [vecs(k, 8) for _ in range(8)]
    if channel == "pq_encode":
        return pq.pq_encode(emb, books)
    if channel == "pq_decode":
        codes = emb.select("vec_id", F.array(*[F.lit(1)] * 8).alias("codes"))
        return pq.pq_decode(codes, books)
    assert channel == "ivf"
    return similarity._ivf_assign_with_seeds(
        emb, list(enumerate(vecs(k, 64))), "vec_id", "embedding"
    )


@pytest.mark.parametrize(
    "channel", ["farthest_nd", "farthest_3d", "semantic", "pq_encode", "pq_decode", "ivf"]
)
def test_const_channel_plan_is_k_independent(spark, channel):
    """Every data-derived constant reaches the plan through one
    constant row (functions/literals.const_row), so with the row's
    data and the expression ids masked, the optimized plan fed 2
    constants is the plan fed 16: its size cannot grow with k."""
    import re

    def masked(k):
        p = _const_channel(spark, channel, k)._jdf.queryExecution().optimizedPlan().toString()
        p = re.sub(r"(LocalRelation \[[^\]]*\]).*", r"\1", p)
        return re.sub(r"(_\d+)?#\d+L?", "#", p)

    small, large = masked(2), masked(16)
    assert len(large) == len(small) and large == small
    assert "LocalRelation" in small


def test_lloyd_step_compiles_once_per_fit(spark):
    """The centroids ride the step kernel's closure, so a second step
    with new values plans the same scan: zero new codegen compiles."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.plans.kmeans import lloyd_iteration

    pts = (
        spark.range(2000)
        .select(
            (F.col("id") % 97).cast("double").alias("x"),
            (F.col("id") % 89).cast("double").alias("y"),
            (F.col("id") % 83).cast("double").alias("z"),
        )
        .cache()
    )
    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME().getCount
    first = lloyd_iteration(pts, [Centroid(i, 10.0 * i, 7.0 * i, 5.0 * i) for i in range(5)])
    before = compiles()
    second = lloyd_iteration(pts, [Centroid(i, 9.5 * i + 0.25, 7.0, 3.0 * i) for i in range(5)])
    assert compiles() - before == 0
    assert [c.id for c in first] == [c.id for c in second] == [0, 1, 2, 3, 4]
    pts.unpersist()


def test_silhouette_pair_stage_spread_and_single_aggregate(spark):
    """The O(n^2) pair stage streams a round-robin spread of the
    evaluation set (one split in, defaultParallelism tasks out) against
    one broadcast copy, and n and k come out of the pair aggregate: no
    CartesianProduct, and no join above the pair join."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.silhouette import silhouette_ref

    pts = spark.range(300, numPartitions=1).select(
        F.col("id").alias("rid"),
        (F.col("id") % 4).cast("int").alias("cluster"),
        (F.col("id") % 17).cast("double").alias("x"),
        (F.col("id") % 13).cast("double").alias("y"),
        (F.col("id") % 11).cast("double").alias("z"),
    )
    p = _plan(silhouette_ref(pts))
    assert "CartesianProduct" not in p
    lines = p.splitlines()
    [i] = [j for j, ln in enumerate(lines) if "BroadcastNestedLoopJoin" in ln]
    assert not any("Join" in ln for ln in lines[:i])
    col = lines[i].index("BroadcastNestedLoopJoin")
    children = [ln[col:] for ln in lines[i + 1:] if ln[col:col + 3] in (":- ", "+- ")]
    n = spark.sparkContext.defaultParallelism
    assert children[0].startswith(f":- Exchange RoundRobinPartitioning({n})"), children
    assert children[1].startswith("+- BroadcastExchange"), children


def test_pricing_summary_partial_final_agg_and_pruned_scan(spark):
    from mapreduce_kmeans_clustering_spark.queries.relational import q_pricing_summary

    p = _plan(q_pricing_summary(spark, SF))
    assert "partial_sum" in p  # map-side combine
    # column pruning: the scan must not read all 11 lineitem columns
    scan = p.split("FileScan parquet [")[1].split("]")[0]
    assert len(scan.split(",")) <= 7


def test_brand_revenue_pushes_date_filter_to_scan(spark):
    from mapreduce_kmeans_clustering_spark.queries.relational import q_brand_revenue

    p = _plan(q_brand_revenue(spark, SF))
    pushed = p.split("PushedFilters: [")[1].split("]")[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed


def test_top_orders_uses_broadcast_joins_and_topk(spark):
    from mapreduce_kmeans_clustering_spark.queries.relational import q_top_orders

    p = _plan(q_top_orders(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_dedup_candidate_joins_are_equi_not_nested_loop(spark):
    from mapreduce_kmeans_clustering_spark.queries.text import (
        q_dedup_jaccard,
        q_dedup_minhash,
    )

    for q in (q_dedup_minhash, q_dedup_jaccard):
        p = _plan(q(spark, SF))
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p


def test_simhash_banded_pairs_plan_is_equi_join(spark):
    """The banded SimHash pair generator must plan as an equi-join on
    (seg, val) — never the brute BNLJ the a<b-only join produces."""
    from mapreduce_kmeans_clustering_spark.queries.text import q_dedup_simhash_pairs

    p = _plan(q_dedup_simhash_pairs(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_embedding_near_dup_plan_is_bucket_equi_join(spark):
    """Bucketed embedding near-dup: candidates via equi-join on the LSH
    bucket (hash-joinable), exact cosine applied as a post-join filter —
    never a nested-loop over all pairs, and no driver-side collect in
    the operator (the plan is a pure DataFrame composition)."""
    from mapreduce_kmeans_clustering_spark.queries.vector import q_dedup_embed

    p = _plan(q_dedup_embed(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_parts_anti_join_is_broadcast(spark):
    from mapreduce_kmeans_clustering_spark.queries.relational import q_parts_no_discount

    p = _plan(q_parts_no_discount(spark, SF))
    assert "LeftAnti" in p


def test_asof_join_is_single_exchange_no_range_join(spark):
    """The as-of join must plan as one hash exchange on the key plus a
    window — never a BroadcastNestedLoopJoin/CartesianProduct from a
    range predicate."""
    from mapreduce_kmeans_clustering_spark.queries.events import q_events_attrib

    p = _plan(q_events_attrib(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p
    assert p.count("Exchange hashpartitioning") == 1


def test_interval_join_is_bucket_equi_join(spark):
    """Bucketing turns the interval predicate into a BroadcastHashJoin
    on the bucket id; the raw BETWEEN would be a nested-loop plan."""
    from mapreduce_kmeans_clustering_spark.queries.events import q_events_campaign

    p = _plan(q_events_campaign(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def _scalar_anchor_bnlj_only(p: str) -> bool:
    """True iff every BroadcastNestedLoopJoin in the plan is the
    bounded 1-row scalar-anchor shape (crossJoin(broadcast(agg)) —
    build side is an IdentityBroadcastMode exchange over a KEYLESS
    global HashAggregate, so the inner side is exactly one row). Any
    BNLJ whose build side is a real relation fails the check."""
    import re

    n = p.count("BroadcastNestedLoopJoin")
    anchors = len(
        re.findall(
            r"BroadcastExchange IdentityBroadcastMode"
            r"[\s\S]{0,400}?HashAggregate\(keys=\[\]",
            p,
        )
    )
    return anchors >= n


def test_curation_queries_no_pairwise_no_python(spark):
    """The curation surface must stay equi-join/window shaped: no
    Cartesian, no unbounded nested loop (the 1-row scalar anchor of
    bigram_lm_scores is the ONLY BNLJ shape allowed), no Python row
    UDFs."""
    from mapreduce_kmeans_clustering_spark.queries.text import q_text_perplexity
    from mapreduce_kmeans_clustering_spark.queries.web import (
        q_curation_pipeline,
        q_decontam,
    )

    for q in (q_decontam, q_text_perplexity, q_curation_pipeline):
        p = _plan(q(spark, SF))
        assert "CartesianProduct" not in p
        assert _scalar_anchor_bnlj_only(p), p
        assert "BatchEvalPython" not in p


def test_new_relational_queries_topk_and_equi_joins(spark):
    """Round-2 additions: top-k stays TakeOrderedAndProject (never a
    global sort), joins stay hash-joinable, no Python row UDFs."""
    from mapreduce_kmeans_clustering_spark.queries.relational import (
        q_customer_order_gaps,
        q_large_orders,
        q_promo_share,
        q_top_supplier,
    )
    from mapreduce_kmeans_clustering_spark.queries.stats import q_sample_weighted

    for q in (q_large_orders, q_sample_weighted):
        p = _plan(q(spark, SF))
        assert "TakeOrderedAndProject" in p
        assert "Sort " not in p.split("TakeOrderedAndProject")[0]
    for q in (q_promo_share, q_top_supplier, q_customer_order_gaps):
        p = _plan(q(spark, SF))
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p


def test_profile_is_single_scan(spark):
    """column_profile: one scan of the files (Expand multiplies rows
    for the multi-DISTINCT, but never re-reads), no shuffle beyond the
    single aggregate exchange pair."""
    from mapreduce_kmeans_clustering_spark.operators.profile import column_profile

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    p = _plan(column_profile(li, ["l_orderkey", "l_quantity", "l_returnflag"]))
    assert p.count("FileScan parquet") == 1
    assert "BatchEvalPython" not in p


def test_tfidf_is_single_scan(spark):
    """Document frequency comes from a window over the tf table, not a
    groupBy+self-join — one pass over the corpus (SCALE.md §4.9)."""
    from mapreduce_kmeans_clustering_spark.queries.text import q_tfidf_terms

    p = _plan(q_tfidf_terms(spark, SF))
    assert p.count("FileScan parquet") == 1
    assert "WindowGroupLimit" in p  # top-k pushed into the rank window


def test_latest_event_uses_window_group_limit(spark):
    """CDC compaction: the rn=1 filter must push into the window sort
    (WindowGroupLimit) so non-latest rows drop before the full sort."""
    from mapreduce_kmeans_clustering_spark.queries.events import q_latest_event_per_user

    p = _plan(q_latest_event_per_user(spark, SF))
    assert "WindowGroupLimit" in p


def test_dense_hours_grid_joins_broadcast(spark):
    """Densification: the hour grid is dim-sized and broadcast; the
    events relation is never nested-looped."""
    from mapreduce_kmeans_clustering_spark.queries.events import q_events_dense_hours

    p = _plan(q_events_dense_hours(spark, SF))
    assert "CartesianProduct" not in p


def test_forecast_revenue_pushes_all_predicates(spark):
    """Q6 shape: the query is scan-bound, so discount/quantity bounds
    must reach the parquet reader as pushed filters."""
    from mapreduce_kmeans_clustering_spark.queries.stats import q_forecast_revenue

    p = _plan(q_forecast_revenue(spark, SF))
    # toString truncates the filter list; assert on what survives
    pushed = p.split("PushedFilters: [")[1].split("\n")[0]
    assert "IsNotNull(l_discount)" in pushed
    assert "IsNotNull(l_quantity)" in pushed
    assert "GreaterThanOrEqual(l_discou" in pushed  # bounds reached the reader


def test_shipping_modes_single_join_with_residual_or(spark):
    """Q19 shape: ONE hash join carries the OR-of-ANDs as a residual —
    never a join per branch, never a nested loop."""
    from mapreduce_kmeans_clustering_spark.queries.relational import q_shipping_modes

    p = _plan(q_shipping_modes(spark, SF))
    assert p.count("Join") <= 2  # one join node (+ possible reuse line)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_tpch_shape_queries_plan_clean(spark):
    """The four round-3 TPC-H shapes: no nested loops anywhere, the
    Q21 pair plans as semi+anti equi-joins, the Q2 argmin stays one
    aggregate (no window sort over the fact), and the Q22 anti join
    is an anti — never a per-row subquery."""
    from mapreduce_kmeans_clustering_spark.queries.relational import (
        q_custdist,
        q_idle_rich_customers,
        q_min_cost_supplier,
        q_sole_return_supplier,
    )

    for q in (q_custdist, q_sole_return_supplier, q_min_cost_supplier,
              q_idle_rich_customers):
        p = _plan(q(spark, SF))
        assert "CartesianProduct" not in p, q.__name__
        # BroadcastNestedLoopJoin appears only for the 1-row scalar
        # broadcasts (threshold / anchor rows), never between facts
        bnlj = p.count("BroadcastNestedLoopJoin")
        assert bnlj <= 1, (q.__name__, bnlj)

    p21 = _plan(q_sole_return_supplier(spark, SF))
    assert "LeftSemi" in p21
    p2 = _plan(q_min_cost_supplier(spark, SF))
    assert "Window" not in p2  # argmin via min(struct), not rank
    p22 = _plan(q_idle_rich_customers(spark, SF))
    assert "LeftAnti" in p22


def test_tpch_completion_queries_plan_clean(spark):
    """The eight shapes that complete the 22-query TPC-H family: no
    Cartesian products, no Python eval nodes, no nested-loop joins
    (these queries have no scalar-broadcast excuse), Q3's top-10 is
    TakeOrderedAndProject (never a global sort of the aggregate), the
    Q16 supplier exclusion is a broadcast anti join, and the Q20
    majority chain ends in a semi join."""
    from mapreduce_kmeans_clustering_spark.queries.relational import (
        q_local_supplier_volume,
        q_market_share,
        q_part_supplier_variety,
        q_product_profit,
        q_promotable_suppliers,
        q_ship_lag_priority,
        q_shipping_priority,
        q_small_qty_revenue,
    )

    qs = (
        q_shipping_priority,
        q_local_supplier_volume,
        q_market_share,
        q_product_profit,
        q_ship_lag_priority,
        q_part_supplier_variety,
        q_small_qty_revenue,
        q_promotable_suppliers,
    )
    for q in qs:
        p = _plan(q(spark, SF))
        assert "CartesianProduct" not in p, q.__name__
        assert "BroadcastNestedLoopJoin" not in p, q.__name__
        assert "BatchEvalPython" not in p, q.__name__

    p3 = _plan(q_shipping_priority(spark, SF))
    assert "TakeOrderedAndProject" in p3
    p16 = _plan(q_part_supplier_variety(spark, SF))
    assert "LeftAnti" in p16 and "BroadcastHashJoin" in p16
    p20 = _plan(q_promotable_suppliers(spark, SF))
    assert "LeftSemi" in p20


def test_semantic_dedup_assignment_is_scan_local(spark):
    """semantic_dedup's cluster assignment reads the centroids from one
    constant row through a scalar subquery (functions/literals.const_row,
    no join): the full verdict plan must contain NO nested-loop/cartesian
    join, and the only Exchanges allowed are the cluster
    equi-join and the pruned-id distinct/join — never an Exchange
    feeding an argmin aggregate of the corpus x k candidates (the
    round-3 shape this replaces, which shuffled k copies of every
    vector)."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        semantic_assign,
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = semantic_dedup(emb, k=8, threshold=0.5, dim=64)
    p = _plan(out)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # the assignment subtree alone (what feeds the localCheckpoint) is
    # a pure projection: no Exchange, no Join, no aggregate
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id").alias("_id"), v.alias("_v"))
    cvecs = [list(r["_v"]) for r in base.orderBy("_id").limit(8).collect()]
    pa = _plan(semantic_assign(base, cvecs))
    assert "Subquery" in pa
    assert "Exchange" not in pa
    assert "Join" not in pa
    assert "Aggregate" not in pa


def test_token_pmi_and_bpe_plans_are_bounded(spark):
    """q_token_pmi: vocab selection must be TakeOrderedAndProject
    (distributed top-k), never an unpartitioned rank window funneling
    the corpus vocabulary through one task; the only BNLJ is the
    deliberate 1-row corpus-total broadcast. q_bpe_merge_pairs: one
    token aggregate + generator over the distinct vocabulary; no
    nested-loop joins at all."""
    from mapreduce_kmeans_clustering_spark.queries.text import (
        q_bpe_merge_pairs,
        q_token_pmi,
    )

    p = _plan(q_token_pmi(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert p.count("BroadcastNestedLoopJoin") == 1  # 1-row n_docs total
    assert "CartesianProduct" not in p
    p2 = _plan(q_bpe_merge_pairs(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p2
    assert "CartesianProduct" not in p2


def test_knn_graph_and_vocab_coverage_plans(spark):
    """q_knn_graph: bucket equi-join (no nested loop anywhere — the
    union mirror doubles edges, not joins). q_vocab_coverage: the
    ranked head must be TakeOrderedAndProject-bounded; the only BNLJs
    are the 1-3-row cutoff/total broadcasts."""
    from mapreduce_kmeans_clustering_spark.queries.text import q_vocab_coverage
    from mapreduce_kmeans_clustering_spark.queries.vector import q_knn_graph

    p = _plan(q_knn_graph(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    p2 = _plan(q_vocab_coverage(spark, SF))
    assert "TakeOrderedAndProject" in p2
    assert "CartesianProduct" not in p2
    assert p2.count("BroadcastNestedLoopJoin") <= 2  # cutoffs + total


def test_pq_adc_and_round4_query_plans(spark):
    """q_pq_adc: besides the codebook rows' joins, the only nested loop
    is the bounded 10-row query broadcast (the blessed K-row fanout
    shape); encode side stays join-free. q_length_buckets: 1-row global-max broadcast only.
    q_cdc_user_state: keep-last must plan as WindowGroupLimit so
    non-latest rows die before the sort. q_user_state_periods: pure
    key-partitioned windows — no nested loop at all."""
    from mapreduce_kmeans_clustering_spark.queries.events import (
        q_cdc_user_state,
        q_user_state_periods,
    )
    from mapreduce_kmeans_clustering_spark.queries.text import q_length_buckets
    from mapreduce_kmeans_clustering_spark.queries.vector import q_pq_adc

    p = _plan(q_pq_adc(spark, SF))
    assert p.count("BroadcastNestedLoopJoin") == 1  # 10-row query side
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p

    p2 = _plan(q_length_buckets(spark, SF))
    assert p2.count("BroadcastNestedLoopJoin") == 1  # 1-row gmax
    assert "CartesianProduct" not in p2

    p3 = _plan(q_cdc_user_state(spark, SF))
    assert "WindowGroupLimit" in p3

    p4 = _plan(q_user_state_periods(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p4
    assert "CartesianProduct" not in p4


def test_round4_curation_query_plans(spark):
    """q_semantic_decontam: bucket equi-join between corpora (no
    nested loop). q_embed_outliers: centroid broadcast hash join.
    q_incremental_join_view: partial->final aggregate (map-side
    combine) on both part-summaries."""
    from mapreduce_kmeans_clustering_spark.queries.relational import (
        q_incremental_join_view,
    )
    from mapreduce_kmeans_clustering_spark.queries.vector import (
        q_embed_outliers,
        q_semantic_decontam,
    )

    p = _plan(q_semantic_decontam(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p

    p2 = _plan(q_embed_outliers(spark, SF))
    assert "BroadcastHashJoin" in p2
    assert "CartesianProduct" not in p2

    p3 = _plan(q_incremental_join_view(spark, SF))
    assert "partial_sum" in p3 or "partial_count" in p3
    assert "CartesianProduct" not in p3


def test_round4_late_query_plans(spark):
    """q_fuzzy_suppliers/q_minhash_accuracy/q_basket_pairs: candidate
    generation stays hash-equi-join (no nested loop, no Cartesian);
    q_basket_pairs top-k is TakeOrderedAndProject; q_events_ffill is
    windows over a grid whose only BNLJ is the 1-row bounds
    broadcast."""
    from mapreduce_kmeans_clustering_spark.queries.events import q_events_ffill
    from mapreduce_kmeans_clustering_spark.queries.relational import (
        q_basket_pairs,
        q_fuzzy_suppliers,
    )
    from mapreduce_kmeans_clustering_spark.queries.text import (
        q_lang_confusion,
        q_minhash_accuracy,
    )

    for q in (q_fuzzy_suppliers, q_minhash_accuracy, q_lang_confusion):
        p = _plan(q(spark, SF))
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p

    p = _plan(q_basket_pairs(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p

    p = _plan(q_events_ffill(spark, SF))
    assert p.count("BroadcastNestedLoopJoin") == 1  # 1-row bounds
    assert "CartesianProduct" not in p


def test_round5_additions_plan_shapes(spark):
    """Round-5 registry additions stay in the house plan shapes: equi
    joins hash/sort-merge, scalar anchors as the only nested loops, no
    Python in any hot path."""
    from mapreduce_kmeans_clustering_spark.queries.text import (
        q_length_buckets_approx,
        q_length_ks,
        q_minhash_pr,
        q_source_kl,
    )

    # vocabulary-keyed joins hash-join; the single BNLJ is the 1-row
    # corpus-total anchor
    p = _plan(q_source_kl(spark, SF))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    assert p.count("BroadcastNestedLoopJoin") == 1 and _scalar_anchor_bnlj_only(p)

    # histogram -> pair attach is a broadcast HASH join (equi on the
    # pair's source); the only nested loops build the S-row source
    # pair grid (inherently S x S — KS over all pairs)
    p = _plan(q_length_ks(spark, SF))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    assert p.count("BroadcastHashJoin") >= 2
    assert p.count("BroadcastNestedLoopJoin") <= 2

    # candidate/truth pair sets meet in equi joins only — a pair-set
    # comparison must never degenerate to a nested loop
    p = _plan(q_minhash_pr(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # cutpoint bucketing: ONE exchange (the per-bucket aggregate);
    # cut/gmax anchors are the only nested loops
    p = _plan(q_length_buckets_approx(spark, SF))
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    assert p.count("Exchange hashpartitioning") <= 1
    assert _scalar_anchor_bnlj_only(p)


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_round5_extension_query_plans(spark):
    """The round-5 extension surface stays in the house plan shapes:
    equi joins hash/sort-merge, scalar anchors the only nested loops,
    nothing cartesian, no Python in any registered query."""
    from mapreduce_kmeans_clustering_spark.queries.events import (
        q_events_cusum,
        q_events_seasonal,
        q_events_trending,
        q_hll_distinct,
        q_session_paths,
    )
    from mapreduce_kmeans_clustering_spark.queries.relational import (
        q_basket_rules,
        q_copurchase_triangles,
        q_linkage_scores,
        q_zorder_locality,
    )
    from mapreduce_kmeans_clustering_spark.queries.stats import (
        q_balance_gini,
        q_benford,
        q_fd_profile,
        q_psi_drift,
        q_sample_neyman,
    )
    from mapreduce_kmeans_clustering_spark.queries.text import (
        q_bm25_search,
        q_bpe_train,
    )

    no_anchor = [
        q_copurchase_triangles,  # degree broadcasts are HASH joins
        q_events_cusum,          # windows only
        q_events_seasonal,       # windows + DOW equi join
        q_fd_profile,            # pure aggregates
        q_balance_gini,          # window + aggregate
        q_session_paths,         # windows + aggregates
        q_hll_distinct,          # aggregates + equi join
        q_zorder_locality,       # two grouped aggregates
    ]
    for q in no_anchor:
        p = _plan(q(spark, SF))
        assert "CartesianProduct" not in p, q.__name__
        assert "BroadcastNestedLoopJoin" not in p, q.__name__
        assert "BatchEvalPython" not in p and "MapInPandas" not in p, q.__name__

    # these ride exactly the bounded 1-row scalar-anchor BNLJ shape
    # neyman: the 1-row Σw anchor; linkage: the 1-row (u_nat, u_seg)
    # constants anchor — both the keyless-global-agg build shape
    anchored = [q_bm25_search, q_benford, q_basket_rules, q_psi_drift,
                q_events_trending, q_sample_neyman, q_linkage_scores]
    for q in anchored:
        p = _plan(q(spark, SF))
        assert "CartesianProduct" not in p, q.__name__
        assert "BatchEvalPython" not in p and "MapInPandas" not in p, q.__name__
        assert _scalar_anchor_bnlj_only(p), q.__name__

    # the BPE chain: per-step anchors are 1-row TakeOrdered argmaxes —
    # nothing cartesian, nothing Python, every join a broadcast of a
    # bounded relation
    p = _plan(q_bpe_train(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_round5_batch2_query_plans(spark):
    """Batch-2 extension queries stay in the house shapes: skyline is
    windows over one aggregate (no join at all), FIFO is an equi join
    with a range residual (never nested-loop), the diff is a key
    equi full-outer plus 1-row anchors, and nothing touches Python."""
    from mapreduce_kmeans_clustering_spark.queries.relational import (
        q_budget_allocation,
        q_fifo_match,
        q_skyline_parts,
        q_snapshot_diff,
    )
    from mapreduce_kmeans_clustering_spark.queries.stats import q_ab_lift
    from mapreduce_kmeans_clustering_spark.queries.text import q_quantile_normalize
    from mapreduce_kmeans_clustering_spark.queries.vector import q_embed_cov

    # pure window/aggregate plans: no join of any kind
    for q in (q_skyline_parts, q_ab_lift, q_embed_cov):
        p = _plan(q(spark, SF))
        assert "Join" not in p, q.__name__
        assert "BatchEvalPython" not in p and "MapInPandas" not in p, q.__name__

    # equi joins only (hash/sort-merge/broadcast-hash), no BNLJ
    for q in (q_fifo_match, q_quantile_normalize):
        p = _plan(q(spark, SF))
        assert "CartesianProduct" not in p, q.__name__
        assert "BroadcastNestedLoopJoin" not in p, q.__name__
        assert "BatchEvalPython" not in p and "MapInPandas" not in p, q.__name__

    # 1-row scalar anchors are the only nested loops
    for q in (q_budget_allocation, q_snapshot_diff):
        p = _plan(q(spark, SF))
        assert "CartesianProduct" not in p, q.__name__
        assert _scalar_anchor_bnlj_only(p), q.__name__
        assert "BatchEvalPython" not in p and "MapInPandas" not in p, q.__name__

    # the FIFO join must keep the partkey as the equi key with the
    # interval overlap as a residual condition, not degrade to a
    # nested loop over parts
    p = _plan(q_fifo_match(spark, SF))
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_round5_batch3_query_plans(spark):
    """BFS rounds are equi joins over a broadcastable edge relation;
    RRF rides the BM25 inverted-index join with its 1-row stats
    anchor; grouped OLS is equi joins + one aggregate. No cartesian,
    no Python anywhere."""
    from mapreduce_kmeans_clustering_spark.queries.relational import q_nation_hops
    from mapreduce_kmeans_clustering_spark.queries.stats import q_revenue_trend
    from mapreduce_kmeans_clustering_spark.queries.vector import q_hybrid_rrf

    for q in (q_nation_hops, q_revenue_trend):
        p = _plan(q(spark, SF))
        assert "CartesianProduct" not in p, q.__name__
        assert "BroadcastNestedLoopJoin" not in p, q.__name__
        assert "BatchEvalPython" not in p and "MapInPandas" not in p, q.__name__

    p = _plan(q_hybrid_rrf(spark, SF))
    assert "CartesianProduct" not in p
    assert _scalar_anchor_bnlj_only(p)
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_round5_batch4_query_plans(spark):
    """KMV set ops: k-row windows + 1-row anchors, no cartesian, no
    Python. Isotonic: the FlatMapGroupsInPandas IS the deliberate
    Arrow path (asserted present), everything else equi."""
    from mapreduce_kmeans_clustering_spark.queries.stats import (
        q_conversion_isotonic,
        q_kmv_setops,
    )

    p = _plan(q_kmv_setops(spark, SF))
    assert "CartesianProduct" not in p
    assert _scalar_anchor_bnlj_only(p)
    assert "BatchEvalPython" not in p and "MapInPandas" not in p

    p = _plan(q_conversion_isotonic(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "FlatMapGroupsInPandas" in p  # the deliberate Arrow stage
    assert "BatchEvalPython" not in p


def test_round5_batch5_query_plans(spark):
    """Streaks and cohort LTV: windows + aggregates + one broadcast
    each — no nested loops, no Python."""
    from mapreduce_kmeans_clustering_spark.queries.events import q_user_streaks
    from mapreduce_kmeans_clustering_spark.queries.stats import q_cohort_ltv

    for q in (q_user_streaks, q_cohort_ltv):
        p = _plan(q(spark, SF))
        assert "CartesianProduct" not in p, q.__name__
        assert "BroadcastNestedLoopJoin" not in p, q.__name__
        assert "BatchEvalPython" not in p and "MapInPandas" not in p, q.__name__


def test_round5_batch6_query_plan(spark):
    """Theil-Sen/Mann-Kendall: the pair space is an equi join on
    nation with the x< residual; no cartesian, no BNLJ, no Python."""
    from mapreduce_kmeans_clustering_spark.queries.stats import q_trend_robust

    p = _plan(q_trend_robust(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_round5_batch7_query_plan(spark):
    """Sliding-HLL: the bucket grid is a scan-local explode (no
    BNLJ), the merge a RANGE window, the exact twin an explode +
    equi join. No cartesian, no Python."""
    from mapreduce_kmeans_clustering_spark.queries.events import q_uniques_sliding

    p = _plan(q_uniques_sliding(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_round5_batch8_query_plan(spark):
    """DiD: one equi join + one conditional aggregate — no window,
    no nested loop, no Python."""
    from mapreduce_kmeans_clustering_spark.queries.stats import q_did

    p = _plan(q_did(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_round5_batch8b_query_plan(spark):
    """Log-rank: aggregates + densified grid (1-row anchor + explode)
    + ordered cumulative windows. The only nested loop is the two
    1-row anchors (max-date ref, tmax)."""
    from mapreduce_kmeans_clustering_spark.queries.stats import q_survival_logrank

    p = _plan(q_survival_logrank(spark, SF))
    assert "CartesianProduct" not in p
    assert _scalar_anchor_bnlj_only(p)
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_hard_negatives_is_bucket_equi_join(spark):
    """Hard-negative mining must generate candidates via the LSH
    bucket equi-join (hash join against the broadcast anchor set) —
    the different-label constraint is a post-join filter, never a
    reason to fall back to an all-pairs loop."""
    from mapreduce_kmeans_clustering_spark.queries.vector import q_hard_negatives

    p = _plan(q_hard_negatives(spark, SF))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_class_balance_anchor_only_and_broadcast_quota(spark):
    """Parity oversampling: the global-target scalar rides the 1-row
    anchor BNLJ; the per-label quota joins back BROADCAST (label
    cardinality is profile-sized); exactly one shuffle for the
    row_number window on the label key."""
    from mapreduce_kmeans_clustering_spark.queries.vector import q_class_balance

    p = _plan(q_class_balance(spark, SF))
    assert "CartesianProduct" not in p
    assert _scalar_anchor_bnlj_only(p), p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_retrieval_metrics_hit_join_is_hash_shaped(spark):
    """MRR/nDCG scoring: the exact-vs-approx hit join and the
    bucket/probe candidate joins must stay hash-shaped; the only
    nested loops allowed are the deliberate broadcast of the bounded
    query set (the exact baseline's documented brute-force arm) and
    the 1-row n_queries anchor. No Python UDFs anywhere."""
    from mapreduce_kmeans_clustering_spark.queries.vector import q_retrieval_metrics

    p = _plan(q_retrieval_metrics(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_woe_binning_anchor_only_partial_agg_pruned_scan(spark):
    """WOE/IV: one partial+final hash aggregate on the bin key, class
    totals via the 1-row anchor BNLJ, and the lineitem scan pruned to
    the two columns the scorecard reads."""
    from mapreduce_kmeans_clustering_spark.queries.stats import q_woe_binning

    p = _plan(q_woe_binning(spark, SF))
    assert "CartesianProduct" not in p
    assert _scalar_anchor_bnlj_only(p), p
    assert "partial_sum" in p
    scan = p.split("FileScan parquet [")[1].split("]")[0]
    assert len(scan.split(",")) <= 2, scan


def test_bpe_encode_doc_side_is_scan_local(spark):
    """Tokenizer application: the document side must be k chained
    replaces over broadcast 1-row merge anchors — nothing cartesian,
    no Python, and no Exchange introduced by the doc-side projections
    (the only shuffles in the plan belong to the vocabulary-sized
    train chain)."""
    from mapreduce_kmeans_clustering_spark.queries.text import q_bpe_encode

    p = _plan(q_bpe_encode(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_events_ccf_single_pass_window_no_cartesian(spark):
    """CCF: all five lag columns from ONE ordered window pass (the
    plan shows a single Window node for the lead/lag family), the
    date grid from the 1-row span anchor, nothing cartesian beyond
    it, and no Python."""
    from mapreduce_kmeans_clustering_spark.queries.events import q_events_ccf

    p = _plan(q_events_ccf(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert p.count("Window") <= 2, p.count("Window")


def test_kcenter_round_is_scan_local_one_row_agg(spark):
    """Farthest-first seeding (q_kcenter_seeds backbone): each driver
    round must be a scan-local distance projection against the
    constant seed column + a top-1 take (orderBy d2 desc, id; limit 1).
    That means: no Join, no Python, no Exchange — a
    TakeOrderedAndProject keeps each partition's best row and the
    driver merges them, one job per round. The VERDICT r7 item-4
    gate, matching its six r7 siblings."""
    from mapreduce_kmeans_clustering_spark.plans.kmeans_nd import (
        _farthest_round_df,
    )

    # another module may have .cache()d this parquet (test_pq does);
    # the CacheManager would then splice the cached FULL-WIDTH
    # relation into this plan and the pruned-scan assertion below
    # would read the cached plan's unpruned FileScan text
    spark.catalog.clearCache()
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    seeds = [[0.0] * 64, [1.0] * 64]
    p = _plan(_farthest_round_df(emb, seeds, "vec_id", "embedding"))
    assert "Subquery" in p
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "Exchange" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # column-pruned scan: only (vec_id, embedding) leave the parquet
    scan = p.split("FileScan parquet [")[1].split("]")[0]
    assert len(scan.split(",")) <= 2, scan


def test_quality_ensemble_anchor_only_no_python_no_sort(spark):
    """Quality ensembling: the decile calibration must ride the 1-row
    percentile_approx anchor (the only BNLJ shape allowed) — never a
    global sort/rank of the corpus; signal stitching is hash equi-
    joins; everything JVM-side."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_quality_ensemble

    p = _plan(q_quality_ensemble(spark, SF))
    assert "CartesianProduct" not in p
    assert _scalar_anchor_bnlj_only(p), p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    # no UNPARTITIONED window (a percent_rank-style calibration would
    # sort the whole corpus into one partition). A partitioned Window
    # line prints three bracket groups "[fns], [partition], [order]";
    # a global one prints only two "[fns], [order]".
    for line in p.splitlines():
        s = line.strip()
        if "Window [" in s and "windowspecdefinition" in s:
            assert s.count("], [") >= 2, f"global Window in plan: {s[:120]}"


def test_contamination_sources_shingle_join_no_pairwise(spark):
    """Source-level contamination report: candidate generation stays
    the shingle equi-join of the per-doc report (never doc×doc), the
    source attach is a doc_id equi-join, the rollup a partial+final
    hash aggregate; no Python, nothing nested-loop."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_contamination_sources

    p = _plan(q_contamination_sources(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "partial_count" in p or "partial_sum" in p, p


def test_quality_auc_bounded_window_no_python(spark):
    """Exact AUC: one hash aggregate on the 4-dp score grid, one
    ordered window over the DISTINCT grid values (the deliberate
    q_length_ks bounded-domain exception to the no-global-window
    rule), one 1-row final aggregate. No Python, nothing cartesian,
    partial aggregation before every exchange."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_quality_auc

    p = _plan(q_quality_auc(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "partial_sum" in p, p


def test_quality_calibration_scan_local_bins(spark):
    """Reliability diagram: fixed-width bins are a scan-local
    projection (no data-dependent cutpoint beyond the ensemble's own
    1-row anchors), one hash aggregate on the bin key; no Python,
    nothing cartesian beyond the anchor BNLJs."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_quality_calibration

    p = _plan(q_quality_calibration(spark, SF))
    assert "CartesianProduct" not in p
    assert _scalar_anchor_bnlj_only(p), p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_linkage_entities_blocking_equi_join_no_python(spark):
    """Entity resolution: candidate links must come from the
    deletion-neighborhood equi-join (+ boolean agreement filter), and
    the min-label propagation's joins must stay hash-shaped — never a
    pairwise nested loop, no Python anywhere."""
    from mapreduce_kmeans_clustering_spark.queries.relational import q_linkage_entities

    p = _plan(q_linkage_entities(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_dup_fraction_shingle_join_partial_agg(spark):
    """Corpus dup-fraction: shingle-keyed equi-joins only (the dedup
    family shape), partial aggregation before the shuffles, no
    Python, nothing nested-loop."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_dup_fraction

    p = _plan(q_dup_fraction(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "partial_count" in p or "partial_sum" in p, p


def test_semantic_decontam_best_match_is_hash_aggregated(spark):
    """Best-match selection must stay two HASH aggregates + an
    equi-join — min(struct(-cos, id)) only plans as SortAggregate,
    which sorts the entire pair-level hit stream (measured as a
    40-minute stage at a 200k-vector corpus in the round-8 sweep,
    vs streaming hash aggregation). No sort may touch the pair
    stream."""
    from mapreduce_kmeans_clustering_spark.queries.vector import q_semantic_decontam

    p = _plan(q_semantic_decontam(spark, SF))
    assert "SortAggregate" not in p, p
    assert "HashAggregate" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_dedup_keep_best_no_python_no_pairwise(spark):
    """Keep-longest representative selection: one group-keyed hash
    aggregate + equi-joins over the memoized dup-group relation;
    nothing cartesian, no Python, partial agg before the shuffle."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_dedup_keep_best

    p = _plan(q_dedup_keep_best(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "partial_max" in p, p


def test_ivf_assign_is_scan_local_literal_argmin(spark):
    """The IVF coarse quantizer must assign scan-locally: seed
    centroids are constant columns read from one constant row
    (functions/literals.with_consts), so the relation has no Join, no
    Exchange, and no SortAggregate — the crossJoin +
    min(struct) form it replaces sorted n*nlist (id, vector-array)
    rows (SCALE.md §8)."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        ivf_assign,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    p = _plan(ivf_assign(emb, nlist=4))
    assert "Subquery" in p
    assert "Join" not in p, p
    assert "Exchange" not in p, p
    assert "SortAggregate" not in p and "HashAggregate" not in p, p


def test_dedup_index_delta_band_equi_join_no_python(spark):
    """Index-vs-delta near-dedup: candidates must come from the
    (band, band_sig) hash equi-join between the delta bands and the
    index band table — never delta×corpus; verification is the
    shingle equi-join on candidate participants only; the best-match
    argmax is hash-aggregated (no struct-min SortAggregate over the
    pair stream); no Python anywhere."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_dedup_index_delta

    p = _plan(q_dedup_index_delta(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    # the best-match argmax is the two-hash-aggregate pattern:
    # partial+final max(jaccard) then min(index id) — and never a
    # struct-min SortAggregate over the pair stream (the hits
    # localCheckpoint truncates the upstream band/shingle joins out
    # of this plan; their shapes are covered by the dedup-family
    # gates on the same helpers)
    assert "partial_max" in p and "partial_min" in p, p
    assert "SortAggregate" not in p, p


def test_source_quality_drift_bounded_window_no_python(spark):
    """Per-source quality drift: the ensemble's anchor BNLJ is the
    only nested-loop shape allowed; the lag window runs over the
    (source, shard) grain — PARTITIONED, never global; aggregation is
    partial+final hash."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_source_quality_drift

    p = _plan(q_source_quality_drift(spark, SF))
    assert "CartesianProduct" not in p
    assert _scalar_anchor_bnlj_only(p), p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "partial_sum" in p, p
    for line in p.splitlines():
        s = line.strip()
        if "Window [" in s and "windowspecdefinition" in s:
            assert s.count("], [") >= 2, f"global Window in plan: {s[:120]}"


def test_leakage_safe_split_scan_local_buckets_no_python(spark):
    """Group-aware split: over the memoized dup-group relation the
    only new work is a doc_id equi-join plus a scan-local md5-bucket
    projection — no window, no Python, nothing nested-loop."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_leakage_safe_split

    p = _plan(q_leakage_safe_split(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "Window" not in p, p
    assert "md5" in p  # the bucket is computed in the plan, not collected


def test_url_family_plans(spark):
    """Round-11 URL/domain family plan gates: parse is scan-local
    (zero Exchange/Join), url_dedup's min is a PARTIAL hash aggregate
    (map-side combine before the single URL-keyed exchange), the
    domain cap is one window (no cartesian, no Python), and nothing in
    the family evaluates Python per row."""
    from mapreduce_kmeans_clustering_spark.queries.web import (
        q_domain_quality_caps,
        q_domain_stats,
        q_url_dedup,
        q_url_host_parse,
    )

    p = _plan(q_url_host_parse(spark, SF))
    assert "Exchange" not in p and "Join" not in p
    assert "BatchEvalPython" not in p

    p = _plan(q_url_dedup(spark, SF))
    assert "partial_min" in p  # combiner-friendly winner selection
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p
    assert "Window" not in p  # groupBy+join, never a raw-row window

    p = _plan(q_domain_quality_caps(spark, SF))
    assert "Window" in p and "row_number" in p
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p

    p = _plan(q_domain_stats(spark, SF))
    assert "partial_count" in p or "partial_sum" in p
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p

    from mapreduce_kmeans_clustering_spark.queries.web import q_web_curation

    p = _plan(q_web_curation(spark, SF))
    assert "partial_min" in p        # url winner stays combiner-friendly
    assert "Window" in p             # cap ranks URL-survivors only
    assert "CartesianProduct" not in p and "BatchEvalPython" not in p


def test_multi_bench_decontam_plan(spark, monkeypatch):
    """One-pass multi-benchmark sweep: the unioned benchmark side is
    BROADCAST into the train scan (no shuffle on the pair stage), the
    argmax is hash aggregates (never SortAggregate over the pair
    stream), and there is no cartesian product or per-row Python.
    The hits localCheckpoint is neutralized for the assertion — it
    plans as an opaque RDD-scan leaf that would HIDE the bucket join
    from the executed-plan text (the same blind spot the
    semantic_decontam gates accept; here the broadcast is the point)."""
    import pyspark.sql.classic.dataframe as _cdf

    from mapreduce_kmeans_clustering_spark.queries.vector import q_multi_bench_decontam

    monkeypatch.setattr(
        _cdf.DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    p = _plan(q_multi_bench_decontam(spark, SF))
    assert "BroadcastHashJoin" in p  # bench union builds the hash side
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "SortAggregate" not in p


def test_decontam_spans_plan(spark):
    """Span audit: the benchmark shingle set joins as an equi-join
    (hash or broadcast-hash — never a cartesian product), the
    gaps-and-islands merge is window passes (no per-row Python), and
    aggregates hash (the span/doc groupings are primitive-typed)."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_decontam_spans

    p = _plan(q_decontam_spans(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "HashJoin" in p  # shingle equi-join (shuffled or broadcast)


@pytest.mark.slow  # >=12 s in the idle full run (r13)
def test_registry_wide_plan_hygiene(spark):
    """Standing registry-wide gate (round 11, the plan twin of the
    codegen audit in SCALE.md): EVERY registered query's executed plan
    is free of CartesianProduct (nothing in the registry is pairwise
    by plan — bounded all-pairs work like q_inter is an equi-join over
    a keyed subset) and BatchEvalPython (row-at-a-time Python UDFs;
    vectorized Arrow paths — MapInPandas / ArrowEvalPython / FlatMap*
    — are the sanctioned Python escape hatch and are NOT flagged).
    Plans are BUILT, not executed: construction-time driver jobs
    (auto_planes count(), seed collects) run, full queries don't."""
    from mapreduce_kmeans_clustering_spark.queries import ALL_QUERIES

    offenders = {}
    for name, fn in sorted(ALL_QUERIES.items()):
        p = _plan(fn(spark, SF))
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in p
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"plan hygiene violations: {offenders}"


def test_dedup_source_flow_plan(spark):
    """Source-flow rollup: candidates come from the banded equi-join
    (hash join, never cartesian), the source attaches are equi-joins,
    and the rollup hash-aggregates; no per-row Python anywhere."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_dedup_source_flow

    p = _plan(q_dedup_source_flow(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "HashJoin" in p


def test_decontam_scrub_plan(spark):
    """Scrub: covered positions anti-join tokens as an EQUI-join on
    (doc, pos) — a BETWEEN range join would plan a nested loop; no
    cartesian, no per-row Python; the rebuild is an object hash
    aggregate over (pos, tok) structs."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_decontam_scrub

    p = _plan(q_decontam_scrub(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    # positive pins (code-review r11): the (doc,pos) anti-join and the
    # shingle probe are hash joins; the collect_list rebuild is an
    # object hash aggregate, never a sort aggregate over the tokens
    assert "HashJoin" in p
    assert "ObjectHashAggregate" in p


def test_boilerplate_scrub_plan(spark):
    """Boilerplate removal: the flagged-lines set joins the exploded
    line stream as a BROADCAST anti-join (site chrome is few distinct
    lines; the explode is never shuffled for it), the distinct-doc
    line counts are two-phase hash aggregates, and the rebuild is the
    sorted-collect object hash aggregate — no cartesian, no per-row
    Python."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_boilerplate_scrub

    p = _plan(q_boilerplate_scrub(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "ObjectHashAggregate" in p


def test_dsir_weights_plan(spark):
    """DSIR: the <= n_buckets-row log-ratio table attaches to the
    exploded feature stream as a broadcast hash join (never shuffling
    the explode), the bucket counts are map-side-partial hash
    aggregates, and the per-doc micro-unit sum is a primitive hash
    aggregate — no sort aggregate anywhere on the pair-explosive
    stream (SCALE.md's SortAggregate lesson)."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_dsir_weights

    p = _plan(q_dsir_weights(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "SortAggregate" not in p


def test_ngram_diversity_plan(spark):
    """Distinct-n: three scan-local gram projections, each a
    two-phase (group, gram) distinct hash aggregate; union only —
    no joins at all, no per-row Python."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_ngram_diversity

    p = _plan(q_ngram_diversity(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "Join" not in p
    assert "HashAggregate" in p


def test_dsir_select_plan(spark):
    """Gumbel-top-k selection: the global top-k must plan as
    TakeOrderedAndProject (per-partition local top-k, driver merges k
    rows), never a global Sort + Window over the corpus."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_dsir_select

    p = _plan(q_dsir_select(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "Window" not in p


def test_web_pipeline_plan(spark):
    """The capstone composition: localCheckpoint truncates lineage at
    the three stage boundaries (the composed logical plan otherwise
    grows multiplicatively — five chained stages each re-reading their
    input several ways), so the FINAL visible plan certifies the
    verdict-assembly unions/joins while each stage's interior plan is
    gated by its own per-stage test (test_url_family_plans,
    test_boilerplate_scrub_plan, test_decontam_scrub_plan,
    test_dsir_weights_plan). No cartesian, no per-row Python, and the
    assembly's survivor joins are equi-joins."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_web_pipeline

    p = _plan(q_web_pipeline(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_mix_epochs_plan(spark):
    """Epoch allocation: corpus-scale work is ONE hash aggregate
    (map-side partial count+sum per language); every mixture column
    is unpartitioned-window arithmetic over the G language rows only.
    No joins, no cartesian, no per-row Python."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_mix_epochs

    p = _plan(q_mix_epochs(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "HashAggregate" in p


def test_dedup_bloom_plan(spark):
    """Bloom screen: filter build is a (word)-keyed hash aggregate
    with map-side partial bit_or; the probe equi-joins the filter on
    word with NO broadcast hint (the filter grows with the corpus —
    ~bits_per_key x n / 63 rows — so AQE decides); verdict is one
    doc-keyed aggregate. No cartesian, no per-row Python."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_dedup_bloom

    p = _plan(q_dedup_bloom(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "HashAggregate" in p


def test_bpe_fertility_plan(spark):
    """Fertility: the encode side is k scan-local replaces riding
    1-row broadcast merge anchors (q_bpe_encode's shape); the only
    additions are a doc-keyed equi-join to the lang/char projection
    and one G-row hash aggregate. No cartesian beyond the 1-row
    anchor crossJoins, no per-row Python."""
    from mapreduce_kmeans_clustering_spark.queries.text import q_bpe_fertility

    p = _plan(q_bpe_fertility(spark, SF))
    assert "BatchEvalPython" not in p
    assert "HashAggregate" in p


def test_url_blocklist_plan(spark):
    """Blocklist: domain ban is an equi-join on the registrable
    domain; the segment-aligned path ban joins on the path's first
    segment with the alignment comparison as a residual predicate on
    the HASH join — never a nested-loop theta join over docs x rules.
    No cartesian, no per-row Python."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_url_blocklist

    p = _plan(q_url_blocklist(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_bloom_fill_plan(spark):
    """Fill dashboard: one aggregate over the filter relation
    (bit_count per word summed map-side) — no joins beyond the build,
    no cartesian, no per-row Python."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_bloom_fill

    p = _plan(q_bloom_fill(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "HashAggregate" in p


def test_passage_scrub_plan(spark):
    """Passage scrub: keeper verdicts join matched positions back on
    the 8-byte gram hash as a HASH join (the stats side is grouped,
    but never broadcast-hinted — repeated grams grow with the corpus,
    AQE decides); the (doc, pos) anti-join and sorted-collect rebuild
    follow decontam_scrub's pinned shapes; no cartesian, no range
    join, no per-row Python."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_passage_scrub

    p = _plan(q_passage_scrub(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    assert "HashJoin" in p
    assert "ObjectHashAggregate" in p


def test_split_leakage_plan(spark):
    """Split-leakage audit: the train shingle set joins the eval
    shingle stream as a hash join (train side is corpus-sized —
    deliberately not broadcast-hinted, AQE decides); no cartesian,
    no per-row Python."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_split_leakage

    p = _plan(q_split_leakage(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    assert "HashJoin" in p


def test_cluster_mix_plan(spark):
    """Topic-mix: cluster assignment is scan-local (literal argmin —
    no join, no Exchange for it); source attaches via one hash join;
    the share window runs over the k×S aggregated table. No
    cartesian, no per-row Python."""
    from mapreduce_kmeans_clustering_spark.queries.vector import q_cluster_mix

    p = _plan(q_cluster_mix(spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p
    assert "HashJoin" in p


def test_lsh_occupancy_plan(spark):
    """Occupancy dashboard: two stacked hash aggregates (the bucket
    count combines map-side — the hot buckets it measures never skew
    the dashboard itself); no joins at all, no per-row Python."""
    from mapreduce_kmeans_clustering_spark.queries.text import q_lsh_occupancy

    p = _plan(q_lsh_occupancy(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "Join" not in p  # pure aggregate pipeline


def test_passage_hotlist_plan(spark):
    """Hotlist text recovery: the 20-row hot-hash list joins the gram
    re-scan as a BROADCAST hash join (gram text never shuffles for
    cold hashes); phase-1 stats ride TakeOrderedAndProject, never a
    global sort; no cartesian, no per-row Python."""
    from mapreduce_kmeans_clustering_spark.queries.web import q_passage_hotlist

    p = _plan(q_passage_hotlist(spark, SF))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
