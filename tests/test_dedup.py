"""Behavioral tests for the dedup family (constructed fixtures, not
oracle comparison — that's test_oracle_parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.operators.dedup import (
    dup_groups,
    embedding_near_dup_brute,
    embedding_near_dup_pairs,
    exact_dup_drops,
    exact_dup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    simhash_pairs,
    simhash_pairs_brute,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("today", "tomorrow")),  # near dup
        (3, "completely different content about spark query engines and shuffles"),
        (4, "tiny"),  # < 3 tokens -> no shingles
        (5, "Punctuated, THE quick brown fox! jumps over the lazy dog again and again today"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_exact_dup_groups_and_drops(docs):
    groups = {r["text_hash"]: r for r in exact_dup_groups(docs).collect()}
    assert sum(g["n_copies"] for g in groups.values()) == 6
    dups = [g for g in groups.values() if g["n_copies"] > 1]
    assert len(dups) == 1 and dups[0]["keep_id"] == 0
    drops = exact_dup_drops(docs).collect()
    assert [(r["doc_id"], r["keep_id"]) for r in drops] == [(1, 0)]


def test_minhash_identical_docs_identical_sigs(docs):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]
    assert 4 not in sigs  # too short for shingles
    # near-dup shares most minhashes
    shared = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    assert shared >= 4


def test_lsh_candidates_include_exact_dups(docs):
    pairs = {(r["a"], r["b"]) for r in lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert all(a < b for a, b in pairs)


def test_jaccard_exact_dup_is_one(docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in jaccard_pairs(docs, threshold=0.0).collect()}
    assert pairs[(0, 1)] == pytest.approx(1.0)
    # near dup: one token changed near the end -> most shingles shared
    assert 0.5 < pairs[(0, 2)] < 1.0
    # normalization makes doc 5 differ only by its extra leading token
    assert pairs[(0, 5)] > 0.8


def test_simhash_near_dup_close_in_hamming(docs):
    hs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert hs[0] == hs[1]
    assert 0 <= hs[0] < (1 << 16)
    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(docs, max_hamming=16).collect()}
    assert pairs[(0, 1)] == 0
    assert pairs[(0, 2)] <= pairs.get((0, 3), 16)


def test_dup_groups_transitive_closure(spark):
    """A~B~C must collapse into ONE group with the minimum id as the
    representative, even though (A, C) never pair directly; components
    and singleton-free output pinned on a two-component graph with a
    chain long enough to need several propagation rounds."""
    pairs = spark.createDataFrame(
        # component {1,2,3,4,5}: a path 5-4-3-2-1 (diameter 4)
        [(4, 5), (3, 4), (2, 3), (1, 2), (10, 11), (10, 12)],
        "a LONG, b LONG",
    )
    got = {r["node"]: r["group_id"] for r in dup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}


def test_dup_groups_raises_beyond_max_iter(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "a LONG, b LONG"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_groups(pairs, max_iter=2)


@pytest.mark.parametrize("max_hamming", [0, 1, 3, 16])
def test_simhash_banded_equals_brute(docs, max_hamming):
    """The pigeonhole banding is EXACT: banded output == brute all-pairs
    at every radius, including max_hamming >= bits (zero-width segments
    make everyone collide, degrading to all-pairs, never missing)."""
    banded = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=max_hamming).collect()
    }
    brute = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_pairs_brute(docs, max_hamming=max_hamming).collect()
    }
    assert banded == brute


def test_embedding_near_dup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),  # near dup of 0 (same bucket: sign
        # of every plane dot follows the dominant first component)
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    pairs = {
        (r["a"], r["b"]): r["cos"]
        for r in embedding_near_dup_pairs(emb, threshold=0.9, dim=4).collect()
    }
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] == pytest.approx(1.0, abs=1e-3)


@pytest.fixture(scope="module")
def copies_emb(spark):
    """Scaled copies land in the SAME bucket with certainty (positive
    scaling preserves every plane-dot sign), and distinct basis vectors
    are orthogonal (cos 0 < any threshold) — so on this corpus the
    bucketed result must EQUAL brute all-pairs at threshold 0.5."""
    rows = []
    vid = 0
    for base in range(4):
        for scale in (1.0, 0.5, 2.0):  # 3 scaled copies per direction
            vec = [0.0] * 8
            vec[base] = scale
            vec[base + 4] = scale * 0.25
            rows.append((vid, vec))
            vid += 1
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


@pytest.mark.slow  # >=12 s in the idle full run (r13)
def test_embedding_bucketed_equals_brute_on_copies(copies_emb):
    bucketed = {
        (r["a"], r["b"]): r["cos"]
        for r in embedding_near_dup_pairs(copies_emb, threshold=0.5, dim=8).collect()
    }
    brute = {
        (r["a"], r["b"]): r["cos"]
        for r in embedding_near_dup_brute(copies_emb, threshold=0.5).collect()
    }
    assert set(bucketed) == set(brute)
    for k in brute:
        assert bucketed[k] == pytest.approx(brute[k], abs=1e-12)
    # sanity: 3 copy-pairs per direction, 4 directions
    assert len(brute) == 12


def test_repeated_passages_finds_shared_block_only(spark):
    """Two docs share one exact 24-char block -> its 5 char-20-grams
    all surface with n_docs=2; a doc with unique text contributes
    nothing; short/NULL docs are skipped, not crashed."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        repeated_passages,
    )

    block = "SHARED LICENSE BLOCK ABC"  # 24 chars -> 5 grams of 20
    rows = [
        (1, f"1111111111{block}8888888888"),  # flanks fully distinct,
        (2, f"2222222222{block}9999999999"),  # so ONLY the block repeats
        (3, "completely unique body of text with no repeats at all"),
        (4, "tiny"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = repeated_passages(df, gram_len=20, min_docs=2).collect()
    assert len(got) == 5  # exactly the shared block's grams
    assert all(r["n_docs"] == 2 and r["n_occurrences"] == 2 for r in got)


def test_semantic_dedup_prunes_within_cluster_only(spark):
    """SemDeDup semantics on a constructed 4-dim corpus: centroids =
    first k ids; an in-cluster near-dup is pruned (min-id survives);
    an equally-similar pair split across clusters is NOT pruned (the
    deliberate recall trade of cluster blocking); orthogonal members
    stay kept."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # centroid 0
        (1, [0.0, 1.0, 0.0, 0.0]),   # centroid 1
        (2, [0.9, 0.1, 0.0, 0.0]),   # cluster 0, near-dup of 0 -> prune
        (3, [0.0, 0.9, 0.1, 0.0]),   # cluster 1, near-dup of 1 -> prune
        (4, [0.0, 0.0, 1.0, 0.0]),   # cluster 0 or 1 by distance; orthogonal -> keep
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = semantic_dedup(emb, k=2, threshold=0.9, dim=4)
    got = {r["vec_id"]: (r["cluster"], r["status"]) for r in out.collect()}
    assert got[0] == (0, "keep")
    assert got[1] == (1, "keep")
    assert got[2][0] == 0 and got[2][1] == "prune"
    assert got[3][0] == 1 and got[3][1] == "prune"
    assert got[4][1] == "keep"
    # cross-cluster near-dup is missed BY DESIGN (the recall trade of
    # cluster blocking): 5=(0.8,0.6) and 6=(0.6,0.8) have cosine 0.96
    # >= 0.9, but 5 is nearer centroid 0 (sqdist 0.40 vs 0.80) and 6
    # nearer centroid 1 (symmetric), and neither clears 0.9 against
    # any same-cluster member (max is cos(5, id2) ~ 0.861) — so the
    # pair lands in different blocks and BOTH must come back 'keep'.
    rows2 = rows + [(5, [0.8, 0.6, 0.0, 0.0]), (6, [0.6, 0.8, 0.0, 0.0])]
    emb2 = spark.createDataFrame(rows2, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out2 = semantic_dedup(emb2, k=2, threshold=0.9, dim=4)
    got2 = {r["vec_id"]: (r["cluster"], r["status"]) for r in out2.collect()}
    assert got2[5] == (0, "keep")
    assert got2[6] == (1, "keep")


def test_semantic_dedup_min_id_survives_chain(spark):
    """Three mutual near-dups in one cluster: only the lowest id keeps
    (the b-side of every qualifying pair is pruned, even when the
    a-side is itself pruned by an earlier neighbor)."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),   # centroid 0
        (1, [0.0, 1.0]),   # centroid 1, isolated -> keep
        (2, [0.99, 0.01]),  # cluster 0 chain
        (3, [0.98, 0.02]),
        (4, [0.97, 0.03]),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = semantic_dedup(emb, k=2, threshold=0.95, dim=2)
    got = {r["vec_id"]: r["status"] for r in out.collect()}
    assert got == {0: "keep", 1: "keep", 2: "prune", 3: "prune", 4: "prune"}


def test_semantic_dedup_sparse_ids_and_fitted_centroids(spark):
    """Seeding takes the k LOWEST ids (not `< k`), so a sparse/offset
    id space still yields k centroids; and an explicit fitted-centroid
    list (the fit_nd handoff) overrides seeding entirely."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import semantic_dedup

    rows = [  # ids nowhere near 0..k-1
        (100, [1.0, 0.0]),
        (205, [0.0, 1.0]),
        (310, [0.99, 0.01]),
        (415, [0.0, 0.98]),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {
        r["vec_id"]: (r["cluster"], r["status"])
        for r in semantic_dedup(emb, k=2, threshold=0.95, dim=2).collect()
    }
    # centroids = vectors of ids 100 (cid 0) and 205 (cid 1)
    assert got == {
        100: (0, "keep"), 205: (1, "keep"),
        310: (0, "prune"), 415: (1, "prune"),
    }
    # fitted centroids: hand the clusterer explicit centers instead
    fitted = [[0.0, 1.0], [1.0, 0.0]]  # swapped order -> swapped cids
    got2 = {
        r["vec_id"]: r["cluster"]
        for r in semantic_dedup(
            emb, threshold=0.95, dim=2, centroids=fitted
        ).collect()
    }
    assert got2 == {100: 1, 205: 0, 310: 1, 415: 0}


@pytest.mark.slow  # >=12 s in the idle full run (r13)
def test_semantic_dedup_large_k_blas_path(spark):
    """k > SEMANTIC_EXACT_K_MAX routes assignment through the
    broadcast BLAS argmin (plans/kmeans_nd.assign_nd) — same verdicts,
    no literal expression blow-up."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        SEMANTIC_EXACT_K_MAX,
        semantic_dedup,
    )

    k = SEMANTIC_EXACT_K_MAX + 2
    # two real clusters + (k-2) far-away decoy centroids nothing maps to
    cents = [[1.0, 0.0], [0.0, 1.0]] + [
        [100.0 + 10.0 * i, 100.0] for i in range(k - 2)
    ]
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.99, 0.01]),
        (3, [0.0, 0.98]),
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {
        r["vec_id"]: (r["cluster"], r["status"])
        for r in semantic_dedup(
            emb, threshold=0.95, dim=2, centroids=cents
        ).collect()
    }
    assert got == {
        0: (0, "keep"), 1: (1, "keep"), 2: (0, "prune"), 3: (1, "prune"),
    }


def test_suggested_semantic_k_scales_with_corpus():
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        suggested_semantic_k,
    )

    assert suggested_semantic_k(0) == 8
    assert suggested_semantic_k(100) == 10
    assert suggested_semantic_k(1_000_000) == 1000
    # the SemDeDup paper's regime: 440M LAION -> ~21k clusters (they
    # used 50k; same order of magnitude)
    assert 15_000 <= suggested_semantic_k(440_000_000) <= 25_000


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_semantic_dedup_blas_twin_matches_expression_form(spark):
    """The production BLAS twin (per-cluster gram blocks via
    applyInPandas) must produce identical verdicts to the oracle-gated
    expression form on the real embeddings table and on the
    constructed fixtures — same blocking, same min-id survivor rule."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_blas,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ref = {
        (r["vec_id"]): (r["cluster"], r["status"])
        for r in semantic_dedup(emb, k=8, threshold=0.5, dim=64).collect()
    }
    got = {
        (r["vec_id"]): (r["cluster"], r["status"])
        for r in semantic_dedup_blas(emb, k=8, threshold=0.5, dim=64).collect()
    }
    assert got == ref and len(ref) > 0

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.99, 0.01]),
        (3, [0.98, 0.02]),
        (4, [0.97, 0.03]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got2 = {
        r["vec_id"]: r["status"]
        for r in semantic_dedup_blas(df, k=2, threshold=0.95, dim=2).collect()
    }
    assert got2 == {0: "keep", 1: "keep", 2: "prune", 3: "prune", 4: "prune"}


def test_semantic_dedup_zero_vector_cosine_undefined_keeps(spark):
    """Zero vectors: cosine is undefined, so a zero-vector pair is NOT
    a near-dup — the expression form's norm guard yields NULL (and,
    critically, does not trip ANSI DIVIDE_BY_ZERO), the BLAS twin's
    NaN comparison is false; both keep every zero vector and the two
    forms agree."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_blas,
    )

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.0, 0.0]),  # zero vector
        (3, [0.0, 0.0]),  # its twin: cos undefined -> both keep
        (4, [0.99, 0.01]),  # real near-dup of 0 still prunes
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    expr = {
        r["vec_id"]: r["status"]
        for r in semantic_dedup(emb, k=2, threshold=0.95, dim=2).collect()
    }
    blas = {
        r["vec_id"]: r["status"]
        for r in semantic_dedup_blas(emb, k=2, threshold=0.95, dim=2).collect()
    }
    assert expr == blas
    assert expr[2] == "keep" and expr[3] == "keep"
    assert expr[4] == "prune"


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_semantic_dedup_fit_nd_handoff(spark):
    """The documented production wiring (DEPLOY.md): fit_nd centroids
    flow straight into semantic_dedup / semantic_dedup_blas. Both
    forms agree on the fitted clustering, every vector gets a verdict,
    and cluster ids stay within the fitted k."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_blas,
    )
    from mapreduce_kmeans_clustering_spark.plans.kmeans_nd import fit_nd

    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n = emb.count()
    fit = fit_nd(emb, k=4, max_iter=3, threshold=None)
    expr = semantic_dedup(emb, threshold=0.5, dim=64, centroids=fit.centroids)
    blas = semantic_dedup_blas(emb, threshold=0.5, dim=64, centroids=fit.centroids)
    e = {r["vec_id"]: (r["cluster"], r["status"]) for r in expr.collect()}
    b = {r["vec_id"]: (r["cluster"], r["status"]) for r in blas.collect()}
    assert e == b
    assert len(e) == n
    assert {c for c, _ in e.values()} <= set(range(4))


def test_cosine_family_survives_zero_and_nan_vectors(spark):
    """ANSI-mode hazard regression (round-4 review): every pairwise
    cosine path must treat zero/NaN vectors as 'undefined, never a
    match' instead of raising DIVIDE_BY_ZERO or letting Spark's
    NaN-greatest comparisons match them to everything."""
    import math

    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        embedding_near_dup_pairs,
        semantic_dedup,
        semantic_dedup_blas,
    )
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        cosine_topk,
        knn_graph,
    )

    rows = [
        (0, [1.0, 0.0]),            # seed centroid 0
        (1, [0.0, 1.0]),            # seed centroid 1
        (2, [0.99, 0.01]),          # near-dup of 0, cluster 0 -> prune
        (3, [0.0, 0.0]),            # zero vector
        (4, [float("nan"), 1.0]),   # NaN vector
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    nd = {(r["a"], r["b"]) for r in embedding_near_dup_pairs(emb, threshold=0.9, dim=2).collect()}
    assert (0, 2) in nd  # real pair survives
    assert not any(3 in p or 4 in p for p in nd)  # no crash, no zero/NaN pair

    se = {r["vec_id"]: r["status"] for r in semantic_dedup(emb, k=2, threshold=0.9, dim=2).collect()}
    sb = {r["vec_id"]: r["status"] for r in semantic_dedup_blas(emb, k=2, threshold=0.9, dim=2).collect()}
    assert se == sb
    assert se[2] == "prune" and se[3] == "keep" and se[4] == "keep"

    g = knn_graph(emb, k=3, dim=2).collect()
    assert all(r["src"] != 3 and r["dst"] != 3 for r in g)
    assert all(r["cos"] is None or not math.isnan(r["cos"]) for r in g)

    tk = cosine_topk(emb, [0], k=4).collect()
    ranked = [(r["rank"], r["neighbor_id"]) for r in sorted(tk, key=lambda r: r["rank"])]
    assert ranked[0] == (1, 2)  # real neighbor first; undefined cos sorts last


def test_repeated_passages_xxhash_production_twin(spark):
    """hash_fn='xxhash64' (the production hash) finds the SAME
    repeated-passage structure as the oracle-gated md5 form — same
    number of qualifying grams, same (n_occurrences, n_docs)
    multiset — only the hash representation differs."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        repeated_passages,
    )

    block = "SHARED LICENSE BLOCK ABC"
    rows = [
        (1, f"1111111111{block}8888888888"),
        (2, f"2222222222{block}9999999999"),
        (3, "completely unique body of text with no repeats at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    md5_counts = sorted(
        (r["n_occurrences"], r["n_docs"])
        for r in repeated_passages(df, gram_len=20, min_docs=2).collect()
    )
    xx = repeated_passages(df, gram_len=20, min_docs=2, hash_fn="xxhash64")
    xx_rows = xx.collect()
    assert sorted((r["n_occurrences"], r["n_docs"]) for r in xx_rows) == md5_counts
    assert dict(xx.dtypes)["h"] == "bigint"  # 64-bit hash, not hex string
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash_fn"):
        repeated_passages(df, hash_fn="sha1")


def test_jaccard_prefix_filter_shrinks_candidates(spark):
    """The prefix join must generate strictly fewer candidate pairs
    than the full inverted-index join's intersecting pairs (the
    measurable point of the optimization) while staying exact."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.dedup import exploded_shingles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ex = exploded_shingles(docs)
    full = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    # re-derive the prefix candidate count at t=0.5
    from pyspark.sql.window import Window

    t = 0.5
    sizes = ex.groupBy("doc_id").agg(F.count("*").cast("int").alias("n_sh"))
    dfreq = ex.groupBy("sh").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("doc_id").orderBy("_df", "sh")
    ranked = ex.join(dfreq, "sh").withColumn("_pos", F.row_number().over(w)).join(sizes, "doc_id")
    lmax = F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1
    prefix = ranked.where(F.col("_pos") <= lmax).select("doc_id", "sh")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert cand < full, (cand, full)


@pytest.mark.slow  # >=12 s in the idle full run (r13)
def test_embedding_near_dup_auto_planes_default(copies_emb):
    """planes=None (the new default) equals the explicit auto_planes
    count on the same corpus (VERDICT r8 item 3: a 100 TB caller who
    keeps the default must NOT inherit the fixed-planes quadratic
    cliff)."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        auto_planes,
    )

    n = copies_emb.count()
    p = auto_planes(n)
    auto = {
        (r["a"], r["b"]): r["cos"]
        for r in embedding_near_dup_pairs(
            copies_emb, threshold=0.5, dim=8
        ).collect()
    }
    pinned = {
        (r["a"], r["b"]): r["cos"]
        for r in embedding_near_dup_pairs(
            copies_emb, threshold=0.5, dim=8, planes=p
        ).collect()
    }
    assert auto == pinned


@pytest.mark.slow  # >=12 s in the idle full run (r13)
def test_dup_groups_raises_past_max_iter_never_wrong(spark):
    """VERDICT r8 item 7: a 12-node chain has diameter 11 > the
    default max_iter=10, and the loop must RAISE (never return a
    partially-propagated grouping); max_iter >= diameter + 1 — here
    12 hops of propagation + 1 no-change round — converges to the
    single component."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import dup_groups

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "a LONG, b LONG"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_groups(chain, max_iter=10)
    ok = {
        r["node"]: r["group_id"]
        for r in dup_groups(chain, max_iter=12).collect()
    }
    assert ok == {i: 0 for i in range(12)}


@pytest.mark.slow  # >=12 s in the idle full run (r13)
def test_incremental_minhash_dedup_verdicts_and_stored_index(spark):
    """Index-vs-delta near-dedup: a delta doc that is a near-copy of
    an index doc is flagged with the right source and Jaccard; a novel
    doc is 'new'; ties go to the LOWEST index id; and passing the
    PRE-BUILT band table (the 100 TB stored-index path) produces the
    identical result as building it from the index docs."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        incremental_minhash_dedup,
        lsh_bands,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog today"
    index_docs = spark.createDataFrame(
        [
            (100, base),
            (101, base),  # exact twin of 100: same jaccard, lower id wins -> 100
            (102, "a corpus document with entirely different vocabulary"),
        ],
        "doc_id LONG, text STRING",
    )
    delta_docs = spark.createDataFrame(
        [
            # near-copy (verified band collision for this exact pair)
            (1, base + " again"),
            (2, "an entirely novel arrival nothing like the corpus"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in incremental_minhash_dedup(
            delta_docs, index_docs, verify_threshold=0.3
        ).collect()
    }
    assert out[1]["status"] == "near_dup"
    assert out[1]["dup_of"] == 100  # tie vs 101 broken to the lowest id
    assert out[1]["jaccard"] == pytest.approx(8 / 9, abs=1e-6)
    assert out[2]["status"] == "new"
    assert out[2]["dup_of"] is None and out[2]["jaccard"] is None

    stored = lsh_bands(minhash_signatures(index_docs))
    out2 = {
        r["doc_id"]: r
        for r in incremental_minhash_dedup(
            delta_docs,
            index_docs,
            verify_threshold=0.3,
            index_band_table=stored,
        ).collect()
    }
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in out2.items()
    }


def test_semantic_dedup_auto_k_default(copies_emb):
    """k=None (the new default) resolves to suggested_semantic_k(n) —
    identical verdicts to the explicit call, for both twins; and
    explicit centroids make k irrelevant (they define the blocking)."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_blas,
        suggested_semantic_k,
    )

    n = copies_emb.count()
    kk = suggested_semantic_k(n)
    auto = {
        r["vec_id"]: (r["cluster"], r["status"])
        for r in semantic_dedup(copies_emb, threshold=0.5, dim=8).collect()
    }
    pinned = {
        r["vec_id"]: (r["cluster"], r["status"])
        for r in semantic_dedup(
            copies_emb, k=kk, threshold=0.5, dim=8
        ).collect()
    }
    assert auto == pinned
    blas = {
        r["vec_id"]: (r["cluster"], r["status"])
        for r in semantic_dedup_blas(
            copies_emb, threshold=0.5, dim=8
        ).collect()
    }
    assert blas == auto


@pytest.mark.slow  # >=12 s in the idle full run (r13)
def test_two_day_incremental_loop_with_index_extension(spark):
    """The full daily shape: day-1 shard screened against the corpus
    index, its accepted docs' bands appended via extend_band_index,
    then a day-2 near-copy OF A DAY-1 DOC is caught — which the
    unextended index could not do."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        extend_band_index,
        incremental_minhash_dedup,
        lsh_bands,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [(100, "a corpus document with entirely different vocabulary")],
        "doc_id LONG, text STRING",
    )
    idx0 = lsh_bands(minhash_signatures(corpus))
    base = "the quick brown fox jumps over the lazy dog today"
    day1 = spark.createDataFrame([(1, base)], "doc_id LONG, text STRING")
    v1 = incremental_minhash_dedup(
        day1, corpus, verify_threshold=0.3, index_band_table=idx0
    ).collect()
    assert v1[0]["status"] == "new"
    accepted = day1  # everything passed
    idx1 = extend_band_index(idx0, accepted)

    day2 = spark.createDataFrame(
        [(2, base + " again")], "doc_id LONG, text STRING"
    )
    ingested = corpus.unionByName(accepted)
    # against the UNEXTENDED index the near-copy sails through...
    miss = incremental_minhash_dedup(
        day2, ingested, verify_threshold=0.3, index_band_table=idx0
    ).collect()
    assert miss[0]["status"] == "new"
    # ...against the extended index it is caught, attributed to day 1
    hit = incremental_minhash_dedup(
        day2, ingested, verify_threshold=0.3, index_band_table=idx1
    ).collect()
    assert hit[0]["status"] == "near_dup" and hit[0]["dup_of"] == 1


def test_inf_component_never_matches_any_cosine_consumer(spark):
    """safe_cosine guards the QUOTIENT, not just the denominator
    (round-9 generalization of ADVICE r8): an Inf component makes
    den = Inf pass a den-only guard while dot/den = NaN — which
    Spark's NaN-greatest semantics would rank above every real
    neighbor. The Inf vector must contribute no pair/edge in any
    cosine consumer."""
    inf = float("inf")
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # true dup of 0
        (2, [inf, 0.1, 0.1, 0.1]),  # undefined similarity to everything
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    pairs = {
        (r["a"], r["b"])
        for r in embedding_near_dup_pairs(
            emb, threshold=0.5, dim=4, planes=2
        ).collect()
    }
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        semantic_dedup,
    )

    sd = {
        r["vec_id"]: r["status"]
        for r in semantic_dedup(emb, k=2, threshold=0.5, dim=4).collect()
    }
    assert sd[1] == "prune" and sd[2] == "keep"  # undefined never prunes


def test_incremental_dedup_rejects_mismatched_index_banding(spark):
    """A stored band index built with a different band_width must be
    rejected loudly — the (band, band_sig) equi-join would silently
    match nothing and every arrival would pass as 'new'."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        incremental_minhash_dedup,
        lsh_bands,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today")],
        "doc_id LONG, text STRING",
    )
    wide = lsh_bands(minhash_signatures(docs, num_hashes=8), band_width=4)
    delta = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today again")],
        "doc_id LONG, text STRING",
    )
    with pytest.raises(ValueError, match="band_width"):
        incremental_minhash_dedup(
            delta, docs, band_width=2, index_band_table=wide
        )
    # validate_index=False skips the probe (ADVICE r9: for callers
    # that already ran validate_band_width on this exact table — the
    # streaming ingest validates once before .start(), not per batch)
    incremental_minhash_dedup(
        delta, docs, band_width=2, index_band_table=wide,
        validate_index=False,
    )
    # and the hoisted helper itself raises / passes on the same data
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        validate_band_width,
    )

    with pytest.raises(ValueError, match="band_width"):
        validate_band_width(wide, 2)
    validate_band_width(wide, 4)


def test_fixture_k_stays_in_literal_argmin_regime():
    """TRIPWIRE for q_dedup_semantic oracle parity (code-review r11).

    The registered query derives k = suggested_semantic_k(n) from the
    embeddings fixture. For k <= SEMANTIC_EXACT_K_MAX assignment is
    the HOF sum((x-c)^2) argmin, which the DuckDB oracle
    replays bit-for-bit; above it, assignment routes through the
    numpy/BLAS path (plans/kmeans_nd.assign_nd, ||c||^2 - 2*a.c form),
    whose different FP rounding can flip a near-equidistant vector to
    a different cluster and break oracle parity SILENTLY. That
    boundary arms at n >= 4161 (round(sqrt(n)) > 64). If a fixture
    regeneration ever crosses it, fail HERE with instructions instead
    of in the driver's correctness gate.
    """
    import pyarrow.parquet as pq

    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        SEMANTIC_EXACT_K_MAX,
        suggested_semantic_k,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n = pq.ParquetFile(
            f"/root/testdata/{sf}/embeddings.parquet"
        ).metadata.num_rows
        k = suggested_semantic_k(n)
        assert k <= SEMANTIC_EXACT_K_MAX, (
            f"{sf}: embeddings fixture has n={n} rows -> "
            f"suggested_semantic_k={k} > SEMANTIC_EXACT_K_MAX="
            f"{SEMANTIC_EXACT_K_MAX}: q_dedup_semantic would route "
            "through the BLAS assign path whose FP rounding differs "
            "from the DuckDB oracle. Either cap k in the REGISTERED "
            "query (and document the pin) or extend the oracle to "
            "replay the expanded-form distance before trusting parity."
        )


def test_cross_source_dup_flow_matrix(spark):
    """Near-identical docs across feeds A/B show up as one (A,B) flow
    row; the unordered key folds both directions; the diagonal uses
    the n·(n−1)/2 denominator; clean source pairs emit nothing."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        cross_source_dup_flow,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "feedA"),
        (2, base + " tail", "feedB"),       # near-dup of 1, cross-source
        (3, base + " other", "feedB"),      # near-dup of 1 and 2
        (4, "completely different text with no shared shingles at all x y z", "feedC"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    got = {
        (r["s1"], r["s2"]): (r["n_pairs"], r["n_docs_s1"], r["n_docs_s2"], r["dup_rate"])
        for r in cross_source_dup_flow(docs).collect()
    }
    # pairs: (1,2) A-B, (1,3) A-B, (2,3) B-B
    assert got[("feedA", "feedB")] == (2, 1, 2, 1.0)       # 2 / (1*2)
    assert got[("feedB", "feedB")] == (1, 2, 2, 1.0)       # 1 / (2*1/2)
    assert not any("feedC" in k for k in got)


def test_bloom_screen_no_false_negatives_and_sizing(spark):
    """Bloom screen: a batch doc whose exact text is in the corpus is
    ALWAYS maybe_dup (no false negatives — the property that lets
    'new' docs skip exact verification); a saturated filter (tiny
    pinned m) flags everything (false positives by design, never
    missed dups); auto-sizing picks the next power of two >=
    bits_per_key x corpus docs; args are validated."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        bloom_filter_words,
        bloom_screen,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} body") for i in range(40)],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [(100, "corpus document number 7 body"),   # exact dup
         (101, "a genuinely unseen document"),
         (102, "another unseen document entirely")],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r["verdict"]
           for r in bloom_screen(corpus, batch).collect()}
    assert got[100] == "maybe_dup"  # never a false negative
    # auto-sized filter (40*16 -> m=1024): unseen docs pass as new
    assert got[101] == "new" and got[102] == "new"

    # saturate: m pinned to the 64-bit floor -> ~every bit set ->
    # unseen docs become maybe_dup (the honest FP mode), dups still
    # caught — demonstrating WHY m must scale with the corpus
    sat = {r["doc_id"]: r["verdict"]
           for r in bloom_screen(corpus, batch, m_bits=64).collect()}
    assert sat[100] == "maybe_dup"
    assert sat[101] == "maybe_dup" and sat[102] == "maybe_dup"

    _, m = bloom_filter_words(corpus)
    assert m == 1024  # next pow2 >= 40 * 16
    with pytest.raises(ValueError):
        bloom_screen(corpus, batch, k=0)
    with pytest.raises(ValueError):
        bloom_screen(corpus, batch, bits_per_key=0)
    with pytest.raises(ValueError):
        bloom_screen(corpus, batch, m_bits=100)  # not a power of two


def test_bloom_fill_stats_saturation_dashboard(spark):
    """bloom_fill_stats: the sizing dashboard DEPLOY.md points at —
    fill = set_bits/m, est_fp = fill^k; a deliberately tiny pinned m
    reads as saturated (fill -> 1, est_fp -> 1) while the auto-sized
    filter stays in the designed sub-percent band."""
    import pytest as _pytest
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        bloom_fill_stats,
        bloom_filter_words,
    )

    corpus = spark.createDataFrame(
        [(i, f"doc body {i}") for i in range(200)],
        "doc_id LONG, text STRING",
    )
    filt, m = bloom_filter_words(corpus)
    row = bloom_fill_stats(filt).collect()[0]
    assert row["m_bits"] == m == 4096  # next pow2 >= 200*16
    assert 0 < row["set_bits"] <= 600  # <= 3 bits per key
    assert row["fill_ratio"] < 0.2
    assert row["est_fp_rate"] < 0.005  # fill^3
    assert abs(row["est_fp_rate"] - round(row["fill_ratio"] ** 3, 6)) < 2e-6

    sat, _ = bloom_filter_words(corpus, m_bits=64)
    srow = bloom_fill_stats(sat).collect()[0]
    assert srow["fill_ratio"] > 0.9 and srow["est_fp_rate"] > 0.7

    with _pytest.raises(ValueError):
        bloom_fill_stats(filt, k=0)


# ---------------------------------------------------------------------------
# passage_scrub: cross-document repeated-passage removal (round 12)
# ---------------------------------------------------------------------------


def test_passage_scrub_keeps_canonical_and_empties_clone(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import passage_scrub

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (10, base),            # canonical (min id among the clones)
        (20, base),            # exact clone -> fully scrubbed
        (30, "completely different words with no shared passages at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in passage_scrub(df, n=5).collect()}
    assert len(out) == 3  # one row per input doc, always
    assert out[10]["scrubbed_text"] == base
    assert out[10]["n_removed"] == 0
    assert out[20]["scrubbed_text"] == ""
    assert out[20]["n_kept"] == 0 and out[20]["n_removed"] == 10
    assert out[30]["n_removed"] == 0


def test_passage_scrub_excises_shared_span_only(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import passage_scrub

    shared = "one two three four five"
    rows = [
        (1, f"{shared} unique tail for the first document here"),
        (2, f"totally different head before {shared} and then more"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in passage_scrub(df, n=5).collect()}
    # doc 1 (min id) keeps the passage; doc 2 loses exactly those 5 tokens
    assert out[1]["scrubbed_text"] == rows[0][1]
    assert out[2]["n_removed"] == 5
    assert out[2]["scrubbed_text"] == "totally different head before and then more"


def test_passage_scrub_within_doc_repeats_out_of_scope(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import passage_scrub

    block = "red green blue cyan magenta"
    rows = [(1, f"{block} filler words {block}")]  # repeated INSIDE one doc
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = passage_scrub(df, n=5).collect()
    assert out[0]["n_removed"] == 0  # cross-doc scope only


def test_passage_scrub_adjacent_grams_fuse_into_one_span(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        merge_positions_to_spans,
        passage_scrub,
    )

    # a 7-token shared run yields three overlapping 5-gram matches in
    # the clone (positions 0,1,2) that must fuse into ONE span 0..6
    run = "s1 s2 s3 s4 s5 s6 s7"
    rows = [(1, f"{run} keeper tail"), (2, f"{run} other ending")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in passage_scrub(df, n=5).collect()}
    assert out[2]["n_removed"] == 7
    assert out[2]["scrubbed_text"] == "other ending"
    # and the span helper itself: starts 0,1,2 at n=5 -> one 0..6 span
    m = spark.createDataFrame([(2, 0), (2, 1), (2, 2)], "doc_id LONG, pos LONG")
    sp = merge_positions_to_spans(m, 5).collect()
    assert [(r["_s"], r["_e"]) for r in sp] == [(0, 6)]


def test_passage_scrub_validates_args(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import passage_scrub

    df = spark.createDataFrame([(1, "a b c")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="gram length"):
        passage_scrub(df, n=1)
    with pytest.raises(ValueError, match="min_docs"):
        passage_scrub(df, min_docs=1)


def test_semantic_clusters_matches_semantic_dedup_blocking(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        semantic_clusters,
        semantic_dedup,
    )

    rows = [
        (i, [float(i % 3), float((i * 7) % 5), 1.0, 0.0]) for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    cl = {
        r["vec_id"]: r["cluster"]
        for r in semantic_clusters(emb, k=3, dim=4).collect()
    }
    dd = {
        r["vec_id"]: r["cluster"]
        for r in semantic_dedup(emb, k=3, dim=4).collect()
    }
    assert cl == dd  # one blocking, two consumers
    assert len(cl) == 12


def test_lsh_occupancy_hand_check(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        lsh_occupancy,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(0, base), (1, base), (2, base), (3, "entirely different words about spark engines and shuffles here")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["band"]: r for r in lsh_occupancy(df).collect()}
    assert set(out) == {0, 1, 2, 3}  # 8 hashes / width 2 -> 4 bands
    for band, r in out.items():
        # three identical docs share every band bucket: 2 buckets,
        # hottest 3, pairs = C(3,2) = 3
        assert r["n_docs"] == 4
        assert r["n_buckets"] == 2
        assert r["max_bucket"] == 3
        assert int(r["candidate_pairs"]) == 3


def test_lsh_occupancy_pairs_even_odd_halving(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        lsh_occupancy,
    )

    base = "shared text that lands every clone in one bucket per band ok"
    for copies, want in ((4, 6), (5, 10)):  # even and odd c
        rows = [(i, base) for i in range(copies)]
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        out = lsh_occupancy(df).collect()
        assert all(int(r["candidate_pairs"]) == want for r in out)


def test_passage_scrub_xxhash_production_twin(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        passage_scrub,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (10, base),
        (20, base),
        (30, f"head words then {base} and a tail"),
        (40, "completely different content with no shared passages at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    md5_out = sorted(map(tuple, passage_scrub(df, n=5).collect()))
    xx_out = sorted(
        map(tuple, passage_scrub(df, n=5, hash_fn="xxhash64").collect())
    )
    assert md5_out == xx_out  # same verdicts, cheaper hash
    with pytest.raises(ValueError, match="hash_fn"):
        passage_scrub(df, hash_fn="sha1")


# ---------------------------------------------------------------------------
# passage gram index: index-vs-delta repeated-passage removal (round 12)
# ---------------------------------------------------------------------------


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_passage_index_additive_and_geometry(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        extend_passage_index,
        merge_passage_indexes,
        passage_gram_index,
        passage_index_geometry,
    )

    rows_a = [(1, "one two three four five six"), (2, "seven eight nine ten eleven twelve")]
    rows_b = [(3, "one two three four five six tail"), (4, "totally novel words here again now")]
    a = spark.createDataFrame(rows_a, "doc_id LONG, text STRING")
    b = spark.createDataFrame(rows_b, "doc_id LONG, text STRING")
    idx_a = passage_gram_index(a, n=5)
    assert passage_index_geometry(idx_a) == (5, "md5")
    # extend(index(A), B) == index(A ∪ B), exactly
    ext = sorted(map(tuple, extend_passage_index(idx_a, b).collect()))
    full = sorted(map(tuple, passage_gram_index(a.unionByName(b), n=5).collect()))
    assert ext == full
    # merge of the two per-batch indexes reaches the same state
    via_merge = sorted(
        map(tuple, merge_passage_indexes(idx_a, passage_gram_index(b, n=5)).collect())
    )
    assert via_merge == full
    # geometry guards
    with pytest.raises(ValueError, match="geometry mismatch"):
        merge_passage_indexes(idx_a, passage_gram_index(b, n=6))
    with pytest.raises(ValueError, match="sentinel"):
        passage_index_geometry(idx_a.where(F.col("gh") != -1))


def test_passage_scrub_delta_semantics(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        passage_gram_index,
        passage_scrub_delta,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel"
    corpus = spark.createDataFrame(
        [(1, base), (2, "other corpus content entirely unrelated words here")],
        "doc_id LONG, text STRING",
    )
    idx = passage_gram_index(corpus, n=5)
    arrivals = spark.createDataFrame(
        [
            (100, base),  # clone of an indexed doc -> fully scrubbed
            (101, f"fresh head then {base} trailing bits"),  # partial
            (102, "entirely new text with no indexed passages at all"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in passage_scrub_delta(idx, arrivals).collect()}
    assert out[100]["scrubbed_text"] == "" and out[100]["n_removed"] == 8
    assert out[101]["n_removed"] == 8
    assert out[101]["scrubbed_text"] == "fresh head then trailing bits"
    assert out[102]["n_removed"] == 0  # novel text untouched
    # index presence >= 1 suffices (the arrival IS the second copy):
    # a gram unique in the corpus still scrubs from the arrival
    assert len(out) == 3


def test_passage_index_xxhash_geometry_roundtrip(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        passage_gram_index,
        passage_index_geometry,
        passage_scrub_delta,
    )

    corpus = spark.createDataFrame(
        [(1, "p q r s t u v w")], "doc_id LONG, text STRING"
    )
    idx = passage_gram_index(corpus, n=5, hash_fn="xxhash64")
    assert passage_index_geometry(idx) == (5, "xxhash64")
    # all data keys non-negative -> the -1 sentinel is impossible
    assert all(r["gh"] >= 0 for r in idx.collect() if r["gh"] != -1)
    arr = spark.createDataFrame([(9, "p q r s t u v w")], "doc_id LONG, text STRING")
    out = passage_scrub_delta(idx, arr).collect()[0]
    assert out["scrubbed_text"] == "" and out["n_removed"] == 8


def test_passage_index_guards_id_type_and_multi_sentinel(spark):
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        passage_gram_index,
        passage_index_geometry,
    )

    strdoc = spark.createDataFrame(
        [("a", "one two three four five six")], "doc_id STRING, text STRING"
    )
    with pytest.raises(ValueError, match="integral doc id"):
        passage_gram_index(strdoc, n=5)
    docs = spark.createDataFrame(
        [(1, "one two three four five six")], "doc_id LONG, text STRING"
    )
    idx = passage_gram_index(docs, n=5)
    # a wholesale read of several per-epoch indexes -> steer to merge,
    # not to a rebuild
    with pytest.raises(ValueError, match="merge_passage_indexes"):
        passage_index_geometry(idx.unionByName(idx))
