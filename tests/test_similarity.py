"""Behavioral tests for similarity search (brute-force + LSH)."""

from __future__ import annotations

import pytest

from mapreduce_kmeans_clustering_spark.operators.similarity import (
    cosine_topk,
    hyperplanes,
    lsh_topk,
)


@pytest.fixture(scope="module")
def emb(spark):
    import math

    rows = []
    # 40 vectors on a ring in 4-d; neighbors are adjacent angles
    for i in range(40):
        a = 2 * math.pi * i / 40
        rows.append((i, [math.cos(a), math.sin(a), 0.1, -0.1]))
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_hyperplanes_deterministic():
    a = hyperplanes(8, 4)
    b = hyperplanes(8, 4)
    assert a == b
    assert all(c in (-1.0, 1.0) for row in a for c in row)


def test_cosine_topk_finds_ring_neighbors(emb):
    out = cosine_topk(emb, query_ids=[0], k=2, vec_col="embedding")
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [1, 39] or [
        r["neighbor_id"] for r in rows
    ] == [39, 1]
    assert rows[0]["cos"] > 0.98
    # self excluded
    assert all(r["neighbor_id"] != 0 for r in rows)


def test_topk_respects_k_and_rank(emb):
    out = cosine_topk(emb, query_ids=[0, 5, 10], k=3, vec_col="embedding")
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per_q) == {0, 5, 10}
    for ranks in per_q.values():
        assert sorted(ranks) == [1, 2, 3]


def test_lsh_topk_subset_of_bucket_with_sane_cos(emb):
    """LSH results are exact cosines over bucket-restricted candidates:
    every (query, neighbor) it returns must score identically in the
    brute-force result set."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in cosine_topk(emb, query_ids=[0, 7], k=39, vec_col="embedding").collect()
    }
    approx = lsh_topk(emb, query_ids=[0, 7], k=3, dim=4, vec_col="embedding").collect()
    assert len(approx) > 0
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        assert key in brute
        assert r["cos"] == pytest.approx(brute[key], abs=1e-12)


@pytest.mark.slow  # >=12 s in the idle full run (r13)
def test_multiprobe_expands_candidates_and_keeps_exact_scores(emb):
    """Multi-probe LSH must (a) return at least as many hits as
    single-bucket probing, (b) never invent scores — every returned
    cosine equals the brute-force cosine for that pair."""
    single = lsh_topk(emb, query_ids=[0, 7], k=5, dim=4, vec_col="embedding")
    multi = lsh_topk(
        emb, query_ids=[0, 7], k=5, dim=4, probe_hamming=2, vec_col="embedding"
    )
    n_single = single.count()
    n_multi = multi.count()
    assert n_multi >= n_single
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in cosine_topk(emb, query_ids=[0, 7], k=39, vec_col="embedding").collect()
    }
    for r in multi.collect():
        assert r["cos"] == pytest.approx(brute[(r["query_id"], r["neighbor_id"])], abs=1e-12)


def test_dot_form_gate_is_value_invariant(emb):
    """Round-13 (_ann_vec_dim gate): the unrolled-codegen and HOF dot
    forms — and the hoisted per-side norms both now use — must return
    BIT-identical rows from cosine_topk/lsh_topk. The size gate makes
    the form data-dependent, so both paths stay pinned equal here."""
    a = sorted(map(tuple, cosine_topk(emb, query_ids=[0, 7], k=5, vec_dim=4).collect()))
    b = sorted(map(tuple, cosine_topk(emb, query_ids=[0, 7], k=5, vec_dim=None).collect()))
    assert a == b and a
    la = sorted(map(tuple, lsh_topk(emb, query_ids=[0, 7], k=5, dim=4, vec_dim=4).collect()))
    lb = sorted(map(tuple, lsh_topk(emb, query_ids=[0, 7], k=5, dim=4, vec_dim=None).collect()))
    assert la == lb and la


def test_ann_recall_floors(spark):
    """The tuning gate VERDICT asked for: measured recall@k of both ANN
    paths against exact top-k on the synthetic corpus. The registered
    configs must clear these floors (multi-probe LSH planes=4/r=2
    measured 0.767, IVF nlist=16/nprobe=4 measured 0.967 at sf0.001;
    single-bucket 8-plane probing measured 0.03 and is NOT an
    acceptable registered config)."""
    from mapreduce_kmeans_clustering_spark.queries.vector import q_ann_recall

    rec = {r["method"]: r["recall"] for r in q_ann_recall(spark, "/root/testdata/sf0.001").collect()}
    assert rec["lsh"] >= 0.6, rec
    assert rec["ivf"] >= 0.9, rec


def test_ivf_index_partition_pruning(spark, tmp_path):
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        ivf_assign,
        ivf_probe_index,
        ivf_write_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    ivf_write_index(emb, path, nlist=8)

    probed = ivf_probe_index(spark, path, [1, 3])
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # the list filter must prune partitions at the scan, not filter rows
    assert "PartitionFilters" in plan and "list_id" in plan.split("PartitionFilters")[1][:200]

    expected = ivf_assign(emb, nlist=8)
    got_ids = {r["vec_id"] for r in probed.collect()}
    exp_ids = {
        r["vec_id"] for r in expected.where("list_id in (1, 3)").collect()
    }
    assert got_ids == exp_ids and got_ids


def test_lsh_index_round_trip_prunes_partitions(spark, tmp_path):
    """Written LSH index: probe reads only the probe ball's bucket
    directories (PartitionFilters, pruning before deserialization) and
    the candidates equal the in-memory bucket computation."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        lsh_bucket_expr,
        lsh_probe_index,
        lsh_write_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = str(tmp_path / "lsh_idx")
    lsh_write_index(emb, out, planes=4)

    qrow = emb.where("vec_id = 0").collect()[0]
    qv = [float(x) for x in qrow["embedding"]]
    got = lsh_probe_index(spark, out, qv, planes=4, probe_hamming=1)

    p = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [bucket" in p.replace("#", " ").replace(
        "bucket ", "bucket"
    ) or "bucket" in p.split("PartitionFilters: [")[1].split("]")[0]

    # candidates == in-memory bucket membership for the same probe ball
    mem = emb.select(
        "vec_id", lsh_bucket_expr(F.col("embedding"), planes=4).alias("b")
    )
    probed_buckets = {r["bucket"] for r in got.select("bucket").distinct().collect()}
    want = {
        r["vec_id"] for r in mem.where(F.col("b").isin(list(probed_buckets))).collect()
    }
    assert {r["vec_id"] for r in got.collect()} == want
    assert len(probed_buckets) == 5  # base + 4 single-bit flips


def test_knn_graph_properties(spark):
    """kNN graph on the real embeddings: every vector with in-bucket
    company gets 1..k neighbors ranked by descending cosine with
    deterministic ties; src never equals dst; the rank-1 neighbor of a
    duplicated vector is its exact copy (cos 1)."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import knn_graph

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    g = knn_graph(emb, k=3).cache()
    rows = g.collect()
    assert rows
    per_src = {}
    for r in rows:
        assert r["src"] != r["dst"]
        per_src.setdefault(r["src"], []).append((r["rank"], r["cos"], r["dst"]))
    for src, lst in per_src.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= 3
        coss = [x[1] for x in lst]
        assert coss == sorted(coss, reverse=True)
    g.unpersist()

    # constructed duplicate: the copy is rank-1 with cos ~ 1
    rows2 = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector: no edges at all
    ]
    df = spark.createDataFrame(rows2, "vec_id LONG, embedding ARRAY<FLOAT>")
    got = {(r["src"], r["rank"]): (r["dst"], r["cos"]) for r in knn_graph(df, k=2, dim=4).collect()}
    assert got[(0, 1)][0] == 1 and got[(0, 1)][1] > 0.999
    assert got[(1, 1)][0] == 0
    assert not any(s == 3 or d == 3 for (s, _), (d, _c) in got.items())


def test_ivfpq_recall_floor(spark):
    """Quantization-loss gate for the two-level compressed index
    (VERDICT r4 item 3): recall@3 of IVFADC against the exact
    UNCOMPRESSED L2 top-k. On the near-uniform synthetic embeddings
    the distance gaps are tiny, so 4-bit x 8-subspace residual codes
    measure 0.13 at sf0.001 (0.30 at sf0.01) — far above the ~0.005
    chance floor (k/(n-1)) but honestly far below the LSH/IVF-flat
    uncompressed paths. The assertion pins both facts: the index must
    beat chance by >=10x, and the registered config must not regress
    below the measured floor."""
    from mapreduce_kmeans_clustering_spark.queries.vector import (
        ANN_K,
        ANN_QUERY_IDS,
        q_ann_ivfpq_recall,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    [r] = q_ann_ivfpq_recall(spark, "/root/testdata/sf0.001").collect()
    assert r["method"] == "ivfpq"
    assert r["possible"] == len(ANN_QUERY_IDS) * ANN_K
    chance = ANN_K / (n - 1)
    assert r["recall"] >= 10 * chance, (r["recall"], chance)
    assert r["recall"] >= 0.1, r["recall"]


# ---------------------------------------------------------------- round 7


@pytest.fixture(scope="module")
def labeled_emb(spark):
    import math

    rows = []
    # ring vectors again, alternating labels so every vector's nearest
    # neighbors include other-label points
    for i in range(40):
        a = 2 * math.pi * i / 40
        rows.append((i, i % 3, [math.cos(a), math.sin(a), 0.1, -0.1]))
    return spark.createDataFrame(
        rows, "vec_id LONG, label INT, embedding ARRAY<FLOAT>"
    )


def test_hard_negatives_labels_always_differ(labeled_emb):
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        hard_negatives,
    )

    out = hard_negatives(
        labeled_emb, anchor_ids=[0, 1, 2], k=3, dim=4, planes=3
    ).collect()
    assert out, "ring + 3 planes must leave same-bucket other-label pairs"
    for r in out:
        assert r["anchor_label"] != r["negative_label"]
        assert r["negative_id"] != r["anchor_id"]
        assert 1 <= r["rank"] <= 3


def test_hard_negatives_subset_of_unlabeled_bucket_candidates(labeled_emb):
    """Every hard negative must also be an in-bucket cosine candidate:
    mining = lsh candidacy + label filter, nothing more."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        hard_negatives,
        lsh_topk,
    )

    hn = hard_negatives(labeled_emb, anchor_ids=[0], k=40, dim=4, planes=3)
    allc = lsh_topk(labeled_emb, query_ids=[0], k=40, dim=4, planes=3)
    hn_ids = {r["negative_id"] for r in hn.collect()}
    all_ids = {r["neighbor_id"] for r in allc.collect()}
    assert hn_ids <= all_ids
    lab = {r["vec_id"]: r["label"] for r in labeled_emb.collect()}
    assert all_ids - hn_ids == {i for i in all_ids if lab[i] == lab[0]}


def test_ranking_metrics_perfect_and_empty(spark):
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        ranking_metrics,
    )

    exact = spark.createDataFrame(
        [(q, n, r) for q in (0, 1) for r, n in enumerate((10, 11, 12), 1)],
        "query_id LONG, neighbor_id LONG, rank INT",
    )
    perfect = ranking_metrics(exact, exact, "self", 3).collect()[0]
    assert perfect["mrr"] == 1.0
    assert perfect["ndcg"] == 1.0
    assert perfect["n_queries"] == 2
    miss = exact.selectExpr(
        "query_id", "neighbor_id + 100 AS neighbor_id", "rank"
    )
    empty = ranking_metrics(exact, miss, "none", 3).collect()[0]
    assert empty["mrr"] == 0.0
    assert empty["ndcg"] == 0.0


def test_ranking_metrics_single_hit_at_rank2_hand_value(spark):
    """One query, one hit at rank 2: mrr = 1/2, ndcg =
    q6(1/log2(3)) / idcg — checked against the Python-side tables."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        ranking_metrics,
        ranking_term_tables,
    )

    rr, dcg, idcg = ranking_term_tables(3)
    exact = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id LONG, neighbor_id LONG, rank INT",
    )
    approx = spark.createDataFrame(
        [(0, 99, 1), (0, 10, 2), (0, 98, 3)],
        "query_id LONG, neighbor_id LONG, rank INT",
    )
    row = ranking_metrics(exact, approx, "m", 3).collect()[0]
    assert row["mrr_sum_q6"] == rr[1]
    assert row["dcg_sum_q6"] == dcg[1]
    import math as m

    assert row["mrr"] == m.floor((rr[1] / 1e6) * 1e6 + 0.5) / 1e6
    assert row["ndcg"] == m.floor((dcg[1] / idcg) * 1e6 + 0.5) / 1e6


def test_ranking_metrics_deeper_ranking_is_cut_at_k(spark):
    """A top-(k+n) ranking must score identically to its top-k prefix
    (ADVICE r7): ranks past k used to index past the k-entry term
    tables — NULL terms silently dropped from the sums. Here the only
    hits sit at ranks 4 and 5 of a depth-5 ranking scored @k=3, so
    both metrics must be exactly zero (not NULL, not an ANSI error)."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        ranking_metrics,
    )

    exact = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id LONG, neighbor_id LONG, rank INT",
    )
    deep = spark.createDataFrame(
        [(0, 97, 1), (0, 98, 2), (0, 99, 3), (0, 10, 4), (0, 11, 5)],
        "query_id LONG, neighbor_id LONG, rank INT",
    )
    row = ranking_metrics(exact, deep, "deep", 3).collect()[0]
    assert row["mrr"] == 0.0 and row["ndcg"] == 0.0
    assert row["mrr_sum_q6"] == 0 and row["dcg_sum_q6"] == 0
    # and a mixed case: hit at rank 2 (in range) + hit at rank 4
    # (cut) == the rank-2-only score
    mixed = spark.createDataFrame(
        [(0, 99, 1), (0, 10, 2), (0, 98, 3), (0, 11, 4)],
        "query_id LONG, neighbor_id LONG, rank INT",
    )
    cut = ranking_metrics(exact, mixed, "m", 3).collect()[0]
    prefix = ranking_metrics(
        exact, mixed.where("rank <= 3"), "m", 3
    ).collect()[0]
    assert cut == prefix


def test_ivf_assign_empty_seed_slice_raises(spark):
    """ADVICE r8 regression: ids not starting at 0 (or an empty
    corpus slice) leave the literal-seed form with zero seeds — the
    operator must fail with a clear ValueError at the API boundary,
    not an opaque F.array() analysis error."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        ivf_assign,
    )

    df = spark.createDataFrame(
        [(100, [0.5] * 64)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="no seed vectors"):
        ivf_assign(df, nlist=16)


def test_ivf_assign_nlist_ceiling_raises(spark):
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        ivf_assign,
    )

    df = spark.createDataFrame(
        [(0, [0.5] * 64)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="caps nlist"):
        ivf_assign(df, nlist=2048)


def test_auto_planes_rule():
    """VERDICT r8 item 3: planes = base + ceil(log2(n / ref_n)),
    floored at base — the measured SCALE.md §8 blocking rule (e = 1.49
    at fixed planes, e = 0.31 when planes track log2(corpus))."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        AUTO_PLANES_BASE,
        AUTO_PLANES_MAX,
        AUTO_PLANES_REF_N,
        auto_planes,
    )

    assert auto_planes(0) == AUTO_PLANES_BASE
    assert auto_planes(AUTO_PLANES_REF_N) == AUTO_PLANES_BASE
    # one doubling past the reference corpus -> one more plane
    assert auto_planes(2 * AUTO_PLANES_REF_N) == AUTO_PLANES_BASE + 1
    # x100 (the sweep's scale): ceil(log2(100)) = 7 extra planes
    assert auto_planes(100 * AUTO_PLANES_REF_N) == AUTO_PLANES_BASE + 7
    # bucket count stays bounded at absurd corpus sizes
    assert auto_planes(10**15) == AUTO_PLANES_MAX


def test_hard_negatives_auto_planes_default(labeled_emb):
    """planes=None (the default) must behave exactly as the auto rule:
    on a corpus at/below the reference size that is planes=base."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        AUTO_PLANES_BASE,
        hard_negatives,
    )

    auto = hard_negatives(labeled_emb, anchor_ids=[0, 1], k=3, dim=4)
    pinned = hard_negatives(
        labeled_emb, anchor_ids=[0, 1], k=3, dim=4, planes=AUTO_PLANES_BASE
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, pinned.collect())
    )


def test_knn_graph_auto_planes_default(emb):
    """planes=None (the default) equals the explicit auto_planes count
    on the same corpus — the all-vectors self-join must not inherit
    the fixed-blocking cliff at 100 TB."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        auto_planes,
        knn_graph,
    )

    p = auto_planes(emb.count())
    auto = sorted(map(tuple, knn_graph(emb, k=2, dim=4).collect()))
    pinned = sorted(
        map(tuple, knn_graph(emb, k=2, dim=4, planes=p).collect())
    )
    assert auto == pinned


def test_inf_vector_never_ranks_in_knn_or_hard_negatives(spark):
    """kNN graph / hard negatives rank by cos desc — a NaN cosine
    would take rank 1 under Spark's NaN-greatest ordering. With the
    quotient-guarded safe_cosine an Inf vector's similarities are
    NULL (sort last, fail thresholds) so it never outranks a real
    neighbor."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        hard_negatives,
        knn_graph,
    )

    inf = float("inf")
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], "a"),
        (1, [1.0, 0.01, 0.0, 0.0], "b"),
        (2, [inf, 0.1, 0.1, 0.1], "b"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING"
    )
    g = knn_graph(emb.select("vec_id", "embedding"), k=1, dim=4, planes=1)
    got = {(r["src"], r["dst"]): r["cos"] for r in g.collect()}
    # 0's best neighbor is the REAL near-parallel vector, never the Inf one
    assert (0, 1) in got and got[(0, 1)] is not None
    assert (0, 2) not in got
    hn = hard_negatives(emb, anchor_ids=[0], k=2, dim=4, planes=1).collect()
    ids = [r["negative_id"] for r in hn]
    assert ids and 2 not in ids  # the undefined-cos candidate never mined


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_hard_negatives_oracle_mirrors_undefined_cos_exclusion(spark, tmp_path):
    """ADVICE r9 (medium): the q_hard_negatives DuckDB oracle must
    mirror the engine's undefined-cosine MINING exclusion
    (similarity.hard_negatives filters cos IS NOT NULL). Before the
    mirror, a zero vector sharing an anchor's bucket ranked as a
    NULL-cos row (DuckDB x/0 -> NULL) and an Inf vector's Inf/Inf
    cosine ranked FIRST (DuckDB sorts NaN greatest desc) — a latent
    parity break the fixture tables never fired (zero degenerate
    vectors). This pins engine == oracle on a corpus that HAS them,
    and that the pre-fix oracle form diverges."""
    import duckdb

    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        hyperplanes,
    )
    from mapreduce_kmeans_clustering_spark.queries import ALL_ORACLES, ALL_QUERIES

    hp = hyperplanes(64, 4)
    # anchor A: all 4 plane dots < 0 -> bucket 0 (shared with the zero
    # vector, whose dots are all exactly 0); anchor B: dots (-,+,+,+)
    # -> bucket 14 (shared with the Inf vector: dots -Inf,Inf,Inf,Inf)
    va = [-(hp[0][d] + hp[1][d] + hp[2][d] + hp[3][d]) / 4.0 for d in range(64)]
    wb = [(-hp[0][d] + hp[1][d] + hp[2][d] + hp[3][d]) / 4.0 for d in range(64)]
    rows = [
        (0, "a", va),
        (1, "a", wb),
        (20, "b", [0.0] * 64),                      # zero vec, bucket 0
        (21, "b", [x * 0.9 for x in va]),           # real cand, bucket 0
        (22, "b", [float("inf")] + [0.0] * 63),     # Inf vec, bucket 14
        (23, "b", [x * 0.8 for x in wb]),           # real cand, bucket 14
    ]
    spark.createDataFrame(
        rows, "vec_id LONG, label STRING, embedding ARRAY<DOUBLE>"
    ).coalesce(1).write.parquet(f"{tmp_path}/embeddings.parquet")

    eng = sorted(
        tuple(r)
        for r in ALL_QUERIES["q_hard_negatives"](spark, str(tmp_path))
        .collect()
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{tmp_path}/embeddings.parquet/*.parquet'"
    )
    new_sql = ALL_ORACLES["q_hard_negatives"]
    got = sorted(map(tuple, con.sql(new_sql).fetchall()))
    assert eng == got
    # real candidates mined, degenerate ones excluded, on both sides
    mined = {(r[0], r[1]) for r in eng}
    assert (0, 21) in mined and (1, 23) in mined
    assert all(neg not in (20, 22) for _, neg in mined)
    # the pre-fix oracle (no undefined-cos WHERE) must diverge here
    start = new_sql.index("\n      WHERE sqrt")
    end = new_sql.index(")\nSELECT anchor_id", start)
    old_sql = new_sql[:start] + new_sql[end:]
    assert old_sql != new_sql
    old = sorted(map(tuple, con.sql(old_sql).fetchall()))
    assert old != eng


def test_safe_cosine_nanvl_form_is_the_same_function(spark):
    """Round-11 evaluation-shape change: safe_cosine moved the
    quotient guard from `~isnan(q)` INSIDE the WHEN condition to
    `nanvl(q, NULL)` around it — the condition form evaluated dot/den
    TWICE per row (no CSE in join predicates; measured 2x the SemDeDup
    k=8 pair stage). This pins that both spellings are the SAME
    function — NULL iff den == 0, den NaN, or quotient NaN, else the
    quotient — over a degenerate grid, so the change is an evaluation
    strategy, not a semantics change (no rule-2 window ride)."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.functions.distance import (
        safe_cosine,
    )

    inf, nan = float("inf"), float("nan")
    rows = [
        (1.0, 2.0, 3.0),    # ordinary
        (1.0, 0.0, 3.0),    # zero norm -> NULL
        (0.0, 0.0, 0.0),    # all zero -> NULL
        (nan, 2.0, 3.0),    # NaN dot -> NaN quotient -> NULL
        (1.0, inf, 2.0),    # Inf den, finite dot -> 0.0 (defined)
        (inf, inf, 1.0),    # Inf/Inf -> NaN -> NULL
        (1.0, nan, 2.0),    # NaN den -> NULL
        (-5.0, 2.0, 2.0),   # negative cos
    ]
    df = spark.createDataFrame(rows, "dot DOUBLE, na DOUBLE, nb DOUBLE")

    def reference(dot, na, nb):  # the pre-r11 condition spelling
        den = na * nb
        q = dot / den
        return F.when((den != 0) & ~F.isnan(den) & ~F.isnan(q), q)

    got = df.select(
        safe_cosine(F.col("dot"), F.col("na"), F.col("nb")).alias("n"),
        reference(F.col("dot"), F.col("na"), F.col("nb")).alias("o"),
    ).collect()
    for r in got:
        assert (r["n"] is None) == (r["o"] is None)
        if r["n"] is not None:
            assert r["n"] == r["o"]
    # the defined Inf-den case (finite dot / Inf den) is 0.0, not NULL
    vals = df.where(
        (F.col("na") == float("inf")) & (F.col("dot") == 1.0)
    ).select(
        safe_cosine(F.col("dot"), F.col("na"), F.col("nb")).alias("n")
    ).collect()
    assert [r["n"] for r in vals] == [0.0]


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_ivf_extend_index_appends_against_stored_quantizer(spark, tmp_path):
    """Index maintenance: a delta batch lands in exactly the lists the
    STORED centroids dictate (identical to assigning the union corpus,
    since the quantizer is fixed by construction), existing rows are
    untouched, probes see old + new, and the hidden _centroids dir
    never leaks into the index read."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        ivf_assign,
        ivf_extend_index,
        ivf_probe_index,
        ivf_write_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.where("vec_id < 150")
    delta = emb.where("vec_id >= 150 and vec_id < 200")
    path = str(tmp_path / "ivf_idx")
    ivf_write_index(base, path, nlist=8)

    ivf_extend_index(spark, path, delta)
    stored = spark.read.parquet(path)
    # _centroids stays hidden from the data read
    assert set(stored.columns) == {"vec_id", "embedding", "list_id"}
    assert stored.count() == 200

    # the union corpus assigned against the same (id<8) seeds is the
    # ground truth for BOTH cohorts — extension changed nothing for
    # the base rows and routed the delta identically
    expected = {
        r["vec_id"]: r["list_id"] for r in ivf_assign(emb.where("vec_id < 200"), nlist=8).collect()
    }
    got = {r["vec_id"]: r["list_id"] for r in stored.collect()}
    assert got == expected

    # probes read the merged lists (partition-pruned, old + new rows)
    some_list = got[199]
    probed_ids = {
        r["vec_id"] for r in ivf_probe_index(spark, path, [some_list]).collect()
    }
    assert 199 in probed_ids
    assert probed_ids == {v for v, l in got.items() if l == some_list}


def test_ivf_extend_index_requires_centroids(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        ivf_extend_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    # a bare partitioned parquet dir without _centroids: pre-round-11
    # layout — must fail loudly with the migration hint, not mis-route
    legacy = str(tmp_path / "legacy_idx")
    emb.where("vec_id < 50").withColumn("list_id", F.lit(0)).write.partitionBy(
        "list_id"
    ).parquet(legacy)
    with _pytest.raises(ValueError, match="_centroids"):
        ivf_extend_index(spark, legacy, emb.where("vec_id >= 50"))

    # ... but a PRESENT-yet-unreadable _centroids is NOT a migration
    # case (ADVICE r11): a corrupt store must propagate the real
    # AnalysisException, not steer the user into rebuilding a healthy
    # index
    from pyspark.errors import AnalysisException

    corrupt = str(tmp_path / "corrupt_idx")
    emb.where("vec_id < 50").withColumn("list_id", F.lit(0)).write.partitionBy(
        "list_id"
    ).parquet(corrupt)
    with open(f"{corrupt}/_centroids", "w") as fh:
        fh.write("not parquet")
    with _pytest.raises(AnalysisException):
        ivf_extend_index(spark, corrupt, emb.where("vec_id >= 50"))


def test_ann_vec_dim_sizes_only_a_single_file(tmp_path):
    """``os.path.getsize`` on a directory returns the dirent
    size instead of raising, so a directory-shaped embeddings.parquet
    (a real multi-file table) used to read as micro-scale and pick the
    HOF form. A directory or a missing path is corpus-scale; only a
    single file is sized against the gate."""
    from mapreduce_kmeans_clustering_spark.queries.vector import _ann_vec_dim

    table = tmp_path / "dir" / "embeddings.parquet"
    table.mkdir(parents=True)
    (table / "part-00000.parquet").write_bytes(b"\0" * 64)
    assert _ann_vec_dim(str(tmp_path / "dir")) == 64
    (tmp_path / "file").mkdir()
    (tmp_path / "file" / "embeddings.parquet").write_bytes(b"\0" * 64)
    assert _ann_vec_dim(str(tmp_path / "file")) is None
    assert _ann_vec_dim(str(tmp_path / "missing")) == 64
