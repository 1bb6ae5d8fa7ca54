"""Product quantization (operators/pq.py): encode determinism and
tie-breaks, decode/reconstruction consistency, trained-codebook
quality, ADC expression-vs-LUT twin equality, and encode plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.operators import pq
from tests.conftest import strip_const_rows

EMB = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB).cache()


@pytest.fixture(scope="module")
def books(emb):
    return pq.seeded_codebooks(emb, m=pq.DEFAULT_M, ksub=pq.DEFAULT_KSUB)


def test_subspace_offsets_reject_uneven():
    with pytest.raises(ValueError):
        pq.subspace_offsets(dim=64, m=7)


def test_seeded_codebook_shape(books):
    assert len(books) == 8
    assert all(len(b) == 16 for b in books)
    assert all(len(cw) == 8 for b in books for cw in b)


def test_encode_codes_in_domain_and_seeds_self_code(emb, books):
    enc = pq.pq_encode(emb, books)
    rows = {r["vec_id"]: r for r in enc.collect()}
    assert len(rows) == emb.count()
    for r in rows.values():
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
    # the ksub seed vectors reconstruct themselves: code == own id rank,
    # recon exactly 0 (their slices ARE the codewords)
    for vid in range(16):
        assert rows[vid]["codes"] == [vid] * 8
        assert rows[vid]["recon_sqdist"] == 0.0


def test_encode_tie_breaks_to_lowest_code(spark):
    """Two identical codewords -> argmin must pick the lower code."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [5.0, 5.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    # codebooks seeded from ids 0,1: subspace codewords identical
    books = pq.seeded_codebooks(df, m=1, ksub=2, dim=2)
    assert books[0][0] == books[0][1]
    got = {r["vec_id"]: r["codes"] for r in pq.pq_encode(df, books).collect()}
    assert got[2] == [0]


def test_decode_matches_recon_sqdist(emb, books):
    """sqdist(v, decode(codes)) == recon_sqdist (modulo summation
    grouping: per-subspace sums vs one 64-term sum)."""
    from mapreduce_kmeans_clustering_spark.functions.distance import dot_hof

    enc = pq.pq_decode(pq.pq_encode(emb, books), books)
    j = enc.join(emb, "vec_id").select(
        "vec_id",
        "recon_sqdist",
        F.col("_dec").alias("dec"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    diff = j.select(
        "vec_id",
        "recon_sqdist",
        dot_hof(
            F.zip_with("v", "dec", lambda a, b: a - b),
            F.zip_with("v", "dec", lambda a, b: a - b),
        ).alias("full"),
    )
    for r in diff.collect():
        assert math.isclose(r["recon_sqdist"], r["full"], rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.slow  # >=12 s in the idle full run (r13)
def test_trained_codebooks_beat_seeded(emb, books):
    """Per-subspace Lloyd training must reduce mean reconstruction
    error vs first-k seeding (the whole point of the quality path)."""
    trained = pq.train_codebooks(emb, max_iter=5)
    e_seed = (
        pq.pq_encode(emb, books).agg(F.avg("recon_sqdist")).collect()[0][0]
    )
    e_train = (
        pq.pq_encode(emb, trained).agg(F.avg("recon_sqdist")).collect()[0][0]
    )
    assert e_train < e_seed


def test_adc_lut_twin_matches_expression_form(emb, books):
    """The numpy-LUT production scan returns the same neighbors, ranks
    and (approx) distances as the oracle-gated expression form."""
    qids = list(range(10))
    a = pq.pq_adc_topk(emb, books, qids, k=3).collect()
    b = pq.pq_adc_topk_lut(emb, books, qids, k=3).collect()
    ka = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"]) for r in a}
    kb = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"]) for r in b}
    assert ka.keys() == kb.keys()
    for key in ka:
        assert ka[key][0] == kb[key][0], key
        assert math.isclose(ka[key][1], kb[key][1], rel_tol=1e-9, abs_tol=1e-12)


def test_adc_recall_beats_chance(emb, books):
    """ADC recall@10 vs exact sqdist top-10 must be far above chance.
    The synthetic near-uniform embeddings are PQ's worst case (distance
    concentration: measured 0.31 seeded / 0.24 trained at m=8 ksub=16,
    vs chance 10/499 ~ 0.02 — same corpus on which single-bucket LSH
    measured 0.03, test_similarity.py); the floor pins "approximate,
    not arbitrary" without overfitting the synthetic geometry."""
    from mapreduce_kmeans_clustering_spark.functions.distance import sqdist_hof

    qids = list(range(10))
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = (
        v.where(F.col("vec_id").isin(qids))
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    )
    pairs = v.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("qid"))
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy("d", "vec_id")
    exact10 = (
        pairs.select(
            "qid", "vec_id", sqdist_hof(F.col("v"), F.col("qv")).alias("d")
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .groupBy("qid")
        .agg(F.collect_set("vec_id").alias("top10"))
    )
    top10 = {r["qid"]: set(r["top10"]) for r in exact10.collect()}
    adc = pq.pq_adc_topk(emb, books, qids, k=10).collect()
    hits = sum(1 for r in adc if r["neighbor_id"] in top10[r["query_id"]])
    assert hits / (10 * len(qids)) >= 0.15


def test_encode_plan_is_scan_local(emb, books):
    """Encode must not shuffle: codebooks are one constant column
    (functions/literals.with_consts), so the physical plan has no
    Exchange and no join."""
    plan, joins = strip_const_rows(
        pq.pq_encode(emb, books)._jdf.queryExecution().executedPlan().toString()
    )
    assert joins == 0 and "Subquery" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_ivfpq_candidates_come_from_probed_lists(emb):
    """IVFADC invariants: exactly k rows per query; every neighbor
    belongs to one of the query's nprobe probed lists (re-derived
    independently); distances non-negative and rank-ordered."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import ivf_assign
    from mapreduce_kmeans_clustering_spark.functions.distance import cosine_similarity

    qids = list(range(10))
    out = pq.ivfpq_topk(emb, qids, k=3, nlist=16, nprobe=4).collect()
    assert len(out) == 30
    by_q = {}
    for r in out:
        assert r["adist"] >= 0.0
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3]
        assert rows[0]["adist"] <= rows[1]["adist"] <= rows[2]["adist"]
    # re-derive list membership + probes
    assigned = {r["vec_id"]: r["list_id"] for r in ivf_assign(emb, 16).collect()}
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    seeds = vecs.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("list_id"), F.col("v").alias("sv")
    )
    q = vecs.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    from pyspark.sql import Window

    pw = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("list_id"))
    probes = (
        q.crossJoin(F.broadcast(seeds))
        .select("qid", "list_id", cosine_similarity(F.col("qv"), F.col("sv")).alias("c"))
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= 4)
        .collect()
    )
    probed = {}
    for r in probes:
        probed.setdefault(r["qid"], set()).add(r["list_id"])
    for r in out:
        assert assigned[r["neighbor_id"]] in probed[r["query_id"]], r


def test_ivfpq_recall_beats_chance(emb):
    """IVFADC recall@10 vs exact L2 top-10 must beat chance well clear
    of noise (compressed residuals + nprobe/nlist pruning both cost
    recall; chance is ~0.02 on 500 rows)."""
    from mapreduce_kmeans_clustering_spark.functions.distance import sqdist_hof

    qids = list(range(10))
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = v.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    pairs = v.crossJoin(F.broadcast(q)).where(F.col("vec_id") != F.col("qid"))
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy("d", "vec_id")
    exact10 = (
        pairs.select(
            "qid", "vec_id", sqdist_hof(F.col("v"), F.col("qv")).alias("d")
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .groupBy("qid")
        .agg(F.collect_set("vec_id").alias("t"))
    )
    top10 = {r["qid"]: set(r["t"]) for r in exact10.collect()}
    got = pq.ivfpq_topk(emb, qids, k=10, nlist=16, nprobe=4).collect()
    hits = sum(1 for r in got if r["neighbor_id"] in top10[r["query_id"]])
    assert hits / (10 * len(qids)) >= 0.08


def test_residual_codebooks_skip_zero_residual_seeds(emb):
    """Seeding from the coarse seeds themselves would produce all-zero
    codewords; the skip guard takes the next ksub ids instead."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(emb, 16)
    vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    seeds = vecs.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("list_id"), F.col("v").alias("sv")
    )
    res = assigned.join(F.broadcast(seeds), "list_id").select(
        "vec_id", F.zip_with("v", "sv", lambda a, b: a - b).alias("r")
    )
    books = pq.residual_codebooks(res, skip_ids=16)
    flat = [x for b in books for cw in b for x in cw]
    assert any(x != 0.0 for x in flat)
    # and every codeword row came from ids 16..31 (non-trivial residuals)
    assert len(books) == 8 and all(len(b) == 16 for b in books)


def test_encode_decode_encode_is_a_fixpoint(emb, books):
    """Re-encoding a decoded (reconstructed) vector is a fixpoint:
    each decoded vector is exactly a codeword tuple, so its nearest
    codeword per subspace is itself — same codes, recon_sqdist
    exactly 0. Pins decode/encode consistency."""
    enc1 = pq.pq_encode(emb, books)
    dec = pq.pq_decode(enc1.join(emb, "vec_id"), books).select(
        "vec_id", F.col("_dec").alias("embedding")
    )
    enc2 = pq.pq_encode(dec, books)
    a = {r["vec_id"]: list(r["codes"]) for r in enc1.collect()}
    b = {r["vec_id"]: (list(r["codes"]), r["recon_sqdist"]) for r in enc2.collect()}
    for k in a:
        assert b[k][0] == a[k], k
        assert b[k][1] == 0.0, k


def test_adc_lut_partial_topk_respects_id_tiebreak(spark):
    """With DUPLICATE embeddings every ADC distance ties; the LUT
    scan's per-batch partial top-k must apply the same
    (adist, neighbor_id) order as the final window and the expression
    twin — a distance-only argpartition can drop the lowest-id tied
    neighbor inside a batch (round-4 advisory). Single partition so
    the partial IS the final candidate set."""
    base = [float(i % 7) for i in range(pq.DEFAULT_DIM)]
    rows = [(i, base) for i in range(pq.DEFAULT_KSUB + 4)]
    dup = (
        spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
        .repartition(1)
        .cache()
    )
    # seeded codebooks degenerate to identical codewords: that's fine,
    # encode tie-breaks to code 0 and every ADC distance is exactly 0
    books = pq.seeded_codebooks(dup, m=pq.DEFAULT_M, ksub=pq.DEFAULT_KSUB)
    got = pq.pq_adc_topk_lut(dup, books, query_ids=[0], k=3).collect()
    assert [(r["rank"], r["neighbor_id"]) for r in sorted(got, key=lambda r: r["rank"])] == [
        (1, 1),
        (2, 2),
        (3, 3),
    ]
