"""Behavioral tests for corpus-curation operators (decontamination,
bigram-LM quality scoring, deterministic splitting)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.operators.curation import (
    SPLITS,
    bigram_lm_scores,
    contamination_report,
    doc_bigrams,
    split_assign,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),  # benchmark
        (1, "a quick brown fox jumps high today"),  # shares "quick brown fox..."
        (2, "completely different words entirely here now"),  # clean
        (3, "the quick brown cat"),  # shares "the quick brown"
        (4, "too short"),  # < 3 tokens -> no shingles, still reported
        (5, None),  # NULL text -> no shingles, still reported
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_contamination_flags_overlap(docs):
    rep = contamination_report(docs, F.col("doc_id") == 0, n=3)
    got = {r["doc_id"]: (r["n_hits"], r["contaminated"]) for r in rep.collect()}
    # every training doc reported, including no-shingle docs
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1][1] and got[1][0] >= 1  # "quick brown fox" + "brown fox jumps"
    assert got[3] == (1, True)  # exactly "the quick brown"
    assert got[2] == (0, False)
    assert got[4] == (0, False)
    assert got[5] == (0, False)


def test_bigram_lm_hand_check(spark):
    # corpus: "a b a b" (doc 0), "a c" (doc 1)
    # unigram counts: a=3, b=2, c=1 ; V=3
    # bigram counts: (a,b)=2, (b,a)=1, (a,c)=1
    df = spark.createDataFrame([(0, "a b a b"), (1, "a c")], "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}
    assert got[0]["n_bigrams"] == 3
    assert got[1]["n_bigrams"] == 1
    nll_ab = -math.log((2 + 1) / (3 + 3))  # c2=2, c1(a)=3, V=3
    nll_ba = -math.log((1 + 1) / (2 + 3))
    nll_ac = -math.log((1 + 1) / (3 + 3))
    assert got[0]["avg_nll"] == pytest.approx(
        round((2 * nll_ab + nll_ba) / 3, 6), abs=1e-6
    )
    assert got[1]["avg_nll"] == pytest.approx(round(nll_ac, 6), abs=1e-6)


def test_bigram_lm_drops_short_docs(spark):
    df = spark.createDataFrame(
        [(0, "hello world"), (1, "single"), (2, ""), (3, None)],
        "doc_id LONG, text STRING",
    )
    ids = {r["doc_id"] for r in bigram_lm_scores(df).collect()}
    assert ids == {0}  # only the doc with >= 2 tokens gets a score


def test_doc_bigrams_multiplicity(spark):
    df = spark.createDataFrame([(0, "x y x y")], "doc_id LONG, text STRING")
    rows = doc_bigrams(df).collect()
    pairs = sorted((r["w1"], r["w2"]) for r in rows)
    assert pairs == [("x", "y"), ("x", "y"), ("y", "x")]  # occurrences, not distinct


def test_split_assign_deterministic_and_complete(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id LONG")
    a = {r["doc_id"]: (r["split"], r["shard"]) for r in split_assign(df).collect()}
    b = {r["doc_id"]: (r["split"], r["shard"]) for r in split_assign(df).collect()}
    assert a == b  # pure function of the id, no RNG
    splits = {v[0] for v in a.values()}
    assert splits == {"train", "val", "test"}
    # train dominates at the configured 98/1/1 thresholds
    n_train = sum(1 for v in a.values() if v[0] == "train")
    assert n_train / len(a) > 0.9
    assert all(0 <= v[1] < 8 for v in a.values())


def test_split_stable_under_growth(spark):
    # adding docs never moves an existing doc's split/shard
    small = spark.createDataFrame([(i,) for i in range(100)], "doc_id LONG")
    big = spark.createDataFrame([(i,) for i in range(500)], "doc_id LONG")
    a = {r["doc_id"]: (r["split"], r["shard"]) for r in split_assign(small).collect()}
    b = {r["doc_id"]: (r["split"], r["shard"]) for r in split_assign(big).collect()}
    assert all(b[k] == v for k, v in a.items())


def test_curation_pipeline_all_verdicts(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import curation_pipeline

    good = "the quick brown fox jumps over the lazy dog and the cat"
    rows = [
        (0, "held out benchmark set of words", "s0"),     # benchmark
        (1, good + " alpha", "s0"),                        # keep (lowest dup id)
        (2, good + " alpha", "s0"),                        # exact_dup of 1
        (3, "z z z", "s0"),                                # quality (score ~0.19)
        (4, "the held out benchmark set of things", "s0"),  # contaminated
        (10, good + " beta", "s1"),                        # cap pool...
        (11, good + " gamma", "s1"),
        (12, good + " delta", "s1"),
        (13, good + " epsilon", "s1"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    out = {
        r["doc_id"]: (r["verdict"], r["split"], r["shard"])
        for r in curation_pipeline(
            df, F.col("doc_id") == 0, quality_min=0.35, domain_cap=2
        ).collect()
    }
    assert len(out) == len(rows)  # every doc verdicted exactly once
    assert out[0][0] == "benchmark"
    assert out[1][0] == "keep"
    assert out[2][0] == "exact_dup"
    assert out[3][0] == "quality"
    assert out[4][0] == "contaminated"
    s1 = [out[i][0] for i in (10, 11, 12, 13)]
    assert sorted(s1) == ["domain_cap", "domain_cap", "keep", "keep"]
    for i, (v, split, shard) in out.items():
        if v == "keep":
            assert split in {"train", "val", "test"} and 0 <= shard < 8
        else:
            assert split is None and shard is None


def test_curation_pipeline_precedence(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import curation_pipeline

    # doc 2 is BOTH an exact dup of 1 AND contaminated -> exact_dup wins
    text = "the held out benchmark set of words repeated here"
    rows = [(0, "the held out benchmark set of words", "s0"),
            (1, text, "s0"), (2, text, "s0")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, source STRING")
    out = {
        r["doc_id"]: r["verdict"]
        for r in curation_pipeline(df, F.col("doc_id") == 0, quality_min=0.0).collect()
    }
    assert out[2] == "exact_dup"
    assert out[1] == "contaminated"


def test_linear_score_hand_check(spark):
    """linear_score on a crafted vocab: logit replays exactly as
    bias + sum(count * weight) over md5 feature buckets."""
    import hashlib

    from mapreduce_kmeans_clustering_spark.operators.curation import linear_score

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "cherry"), (3, None), (4, "")],
        "doc_id LONG, text STRING",
    )
    dim = 8
    weights = {d: round(0.01 * (d - 4), 4) for d in range(dim)}

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim

    got = {r["doc_id"]: r for r in linear_score(docs, weights, bias=0.5, n_features=dim).collect()}
    want1 = 0.5 + 2 * weights[bucket("apple")] + weights[bucket("banana")]
    want2 = 0.5 + weights[bucket("cherry")]
    assert got[1]["logit"] == round(want1, 4)
    assert got[2]["logit"] == round(want2, 4)
    assert got[3]["logit"] == 0.5  # NULL text: bias only
    assert got[4]["logit"] == 0.5  # empty text: bias only
    assert got[1]["keep"] == (want1 > 0)
    assert all(got[d]["keep"] for d in (3, 4))


# ---------------------------------------------------------------------------
# BM25 retrieval
# ---------------------------------------------------------------------------

def _bm25_expected(tf, df, n_docs, dl, avgdl, k1=1.2, b=0.75):
    """Row-at-a-time reimplementation of one term's contribution."""
    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl))


def test_bm25_hand_check(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import bm25_search

    docs = spark.createDataFrame(
        [
            (0, "spark spark table"),
            (1, "spark join"),
            (2, "table table table table"),
            (3, "other words here"),
        ],
        "doc_id LONG, text STRING",
    )
    queries = spark.createDataFrame(
        [("q1", "spark"), ("q1", "table")], "query_id STRING, term STRING"
    )
    out = {
        r["doc_id"]: r
        for r in bm25_search(docs, queries, k=10).collect()
    }
    # N=4, avgdl=3.0, df(spark)=df(table)=2
    exp0 = _bm25_expected(2, 2, 4, 3, 3.0) + _bm25_expected(1, 2, 4, 3, 3.0)
    exp1 = _bm25_expected(1, 2, 4, 2, 3.0)
    exp2 = _bm25_expected(4, 2, 4, 4, 3.0)
    assert set(out) == {0, 1, 2}  # doc 3 matches nothing, absent
    assert out[0]["score"] == pytest.approx(exp0, abs=1e-6)
    assert out[1]["score"] == pytest.approx(exp1, abs=1e-6)
    assert out[2]["score"] == pytest.approx(exp2, abs=1e-6)
    assert out[0]["n_terms_matched"] == 2
    assert (out[1]["n_terms_matched"], out[2]["n_terms_matched"]) == (1, 1)
    # Ranks follow (score desc, doc_id): d0 > d2 > d1 here.
    assert exp0 > exp2 > exp1
    assert (out[0]["rank"], out[2]["rank"], out[1]["rank"]) == (1, 2, 3)


def test_bm25_topk_cut_and_tiebreak(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import bm25_search

    # Four identical docs -> identical scores; k=2 keeps lowest doc ids.
    docs = spark.createDataFrame(
        [(i, "alpha beta") for i in range(4)], "doc_id LONG, text STRING"
    )
    queries = spark.createDataFrame(
        [("q", "alpha")], "query_id STRING, term STRING"
    )
    got = bm25_search(docs, queries, k=2).orderBy("rank").collect()
    assert [r["doc_id"] for r in got] == [0, 1]
    assert got[0]["score"] == got[1]["score"]


def test_bm25_plan_is_inverted_index(spark):
    """The corpus must meet the query set through a broadcast term
    equi-join; the only BNLJ allowed is the bounded 1-row stats anchor."""
    from mapreduce_kmeans_clustering_spark.operators.curation import bm25_search

    docs = spark.createDataFrame(
        [(0, "spark table"), (1, "join merge")], "doc_id LONG, text STRING"
    )
    queries = spark.createDataFrame(
        [("q", "spark")], "query_id STRING, term STRING"
    )
    p = (
        bm25_search(docs, queries, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in p
    assert p.count("BroadcastNestedLoopJoin") == 1  # the stats anchor
    assert "CartesianProduct" not in p


def test_quality_ensemble_short_doc_lands_in_bucket_nine(spark):
    """A doc too short for bigrams has no LM evidence: it must land in
    ppl_bucket 9 (perplexity component 0) with the score decided by
    the other two votes alone — here gopher fails (too short) and lang
    agrees, so num = 27 < 45 and keep is False. The branch no
    testdata doc exercises (every corpus doc has >= 2 tokens)."""
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        quality_ensemble,
    )

    long_en = "the quick brown fox jumps over the lazy dog and " * 5
    docs = spark.createDataFrame(
        [(0, "the", "en"), (1, long_en, "en")],
        "doc_id LONG, text STRING, lang STRING",
    )
    rows = {
        r["doc_id"]: r for r in quality_ensemble(docs).collect()
    }
    short = rows[0]
    assert short["ppl_bucket"] == 9
    assert not short["gopher_keep"]
    assert short["lang_ok"]
    assert short["score"] == 0.3  # 27/90 on the 6-dp grid
    assert not short["keep"]


@pytest.mark.slow  # >=12 s in the idle full run (r13)
def test_quality_ensemble_score_arithmetic_full_vote(spark):
    """All three votes on: num = 36 + 27 + 3*(9-b); with a single
    scored doc the decile cutpoints all equal its own avg_nll, so the
    strict '>' lookup puts it in bucket 0 and score = 90/90 = 1.0."""
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        quality_ensemble,
    )

    long_en = (
        "the cat and the dog walked to the house in the town and "
        "the bird sang over the tree while the sun set in the west "
        "and the moon rose over the hill as the wind blew through "
        "the field and the river ran to the sea by the old mill"
    )
    docs = spark.createDataFrame(
        [(0, long_en, "en")], "doc_id LONG, text STRING, lang STRING"
    )
    row = quality_ensemble(docs).collect()[0]
    assert row["gopher_keep"] and row["lang_ok"]
    assert row["ppl_bucket"] == 0
    assert row["score"] == 1.0 and row["keep"]


def test_contamination_sources_clean_source_sentinel(spark):
    """A source with zero shared shingles must report max_hits 0,
    rate 0.0, and the -1 worst-doc sentinel (never NULL, never some
    arbitrary member id) — the branch the synthetic corpus never
    exercises because every source there leaks."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.curation import (
        contamination_source_report,
    )

    docs = spark.createDataFrame(
        [
            # benchmark doc (id % 2 == 0 predicate below)
            (0, "alpha beta gamma delta", "bench", 22),
            # dirty source: shares the alpha beta gamma shingle
            (1, "alpha beta gamma epsilon", "dirty", 24),
            # clean source: no 3-gram overlap with the benchmark
            (3, "one two three four five", "clean", 23),
        ],
        "doc_id LONG, text STRING, source STRING, n_chars LONG",
    )
    out = {
        r["source"]: r
        for r in contamination_source_report(
            docs, F.col("doc_id") % 2 == 0
        ).collect()
    }
    assert set(out) == {"dirty", "clean"}  # bench rows aren't training
    dirty, clean = out["dirty"], out["clean"]
    assert dirty["n_contaminated"] == 1 and dirty["max_hits"] >= 1
    assert dirty["worst_doc_id"] == 1
    assert clean["n_contaminated"] == 0 and clean["max_hits"] == 0
    assert clean["contamination_rate"] == 0.0
    assert clean["worst_doc_id"] == -1


def test_unpack_min_id_exact_past_double_mantissa(spark):
    """ADVICE r8 regression: the argmax-pack decode must use integer
    `div`, not floor(double /). At n_hits = 1e7 the packed value is
    ~1e17 (> 2^53) and the double form decodes id 10000000003 instead
    of 3 — verified divergent in plain Python with the same floats."""
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        CONTAM_PACK,
        unpack_min_id,
    )

    cases = [(1, 0), (1, 9_999_999_999), (10**7, 3), (10**8, 42)]
    rows = [(m * CONTAM_PACK - i,) for m, i in cases]
    df = spark.createDataFrame(rows, "pack LONG")
    got = [
        r["id"]
        for r in df.select(
            unpack_min_id("pack", CONTAM_PACK).alias("id")
        ).collect()
    ]
    assert got == [i for _, i in cases]
    # the double form is genuinely wrong at the 1e17 magnitude
    m, i = 10**7, 3
    pack = m * CONTAM_PACK - i
    assert (
        math.floor((pack + CONTAM_PACK - 1) / CONTAM_PACK) * CONTAM_PACK
        - pack
        != i
    )


def test_semantic_decontam_nan_cosine_never_matches(spark):
    """ADVICE r8 regression: an Inf embedding component makes the
    cosine NaN, and Spark orders NaN above every double — without the
    isnan guard the pair passes `cos >= threshold` AND wins max(cos).
    Undefined similarity must never be a match."""
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        semantic_decontam,
    )

    inf = float("inf")
    v = [inf] + [0.1] * 63
    emb = spark.createDataFrame(
        [(0, v), (1, v)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    out = semantic_decontam(
        emb.where(F.col("vec_id") == 0),
        emb.where(F.col("vec_id") == 1),
        threshold=0.5,
        dim=64,
        planes=2,
    )
    assert out.count() == 0
    # identical FINITE vectors in the same buckets still match —
    # the guard filters NaN only, not real similarity
    v2 = [0.5] * 64
    emb2 = spark.createDataFrame(
        [(0, v2), (1, v2)], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    ok = semantic_decontam(
        emb2.where(F.col("vec_id") == 0),
        emb2.where(F.col("vec_id") == 1),
        threshold=0.5,
        dim=64,
        planes=2,
    ).collect()
    assert len(ok) == 1 and ok[0]["cos"] == 1.0


def test_semantic_decontam_auto_planes_default(spark):
    """planes=None sizes the blocking from the TRAIN corpus via
    auto_planes; on a small corpus that equals the explicit base-plane
    call bit-for-bit."""
    import math as _math

    from mapreduce_kmeans_clustering_spark.operators.curation import (
        semantic_decontam,
    )
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        AUTO_PLANES_BASE,
    )

    rows = []
    for i in range(12):
        a = 2 * _math.pi * i / 12
        rows.append((i, [_math.cos(a), _math.sin(a)] + [0.05] * 62))
    emb = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    t = emb.where(F.col("vec_id") % 3 != 0)
    b = emb.where(F.col("vec_id") % 3 == 0)
    auto = semantic_decontam(t, b, threshold=0.9, dim=64).collect()
    pinned = semantic_decontam(
        t, b, threshold=0.9, dim=64, planes=AUTO_PLANES_BASE
    ).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, pinned))


def test_contamination_spans_merges_overlapping_matches(spark):
    """Overlapping/adjacent matched 3-grams fuse into one maximal span;
    disjoint matches stay separate spans; clean docs emit nothing."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.curation import (
        contamination_spans,
    )

    rows = [
        (0, "the quick brown fox jumps"),  # benchmark (id % 2 == 0)
        # matches at pos 2,3 (overlap -> one span [2,5]) and pos 9
        # (span [9,11]): 2 spans, covered 7 of 12 tokens
        (1, "xx yy the quick brown fox aa bb cc brown fox jumps"),
        (3, "nothing matches here at all"),  # clean -> absent
        (5, "the quick brown fox jumps"),    # full copy -> 1 span, 5/5
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: tuple(r)[1:]
        for r in contamination_spans(docs, F.col("doc_id") % 2 == 0).collect()
    }
    assert got == {
        1: (2, 4, 7, 12, 0.583333),
        5: (1, 5, 5, 5, 1.0),
    }


def test_scrub_contaminated_spans_excises_exact_spans(spark):
    """The scrub removes exactly the merged spans the audit reports:
    partially-contaminated docs lose only covered tokens, clean docs
    pass through verbatim (as token stream), fully-covered docs emit
    an empty scrubbed_text — one row per training doc always."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.curation import (
        scrub_contaminated_spans,
    )

    rows = [
        (0, "the quick brown fox jumps"),  # benchmark
        (1, "xx yy the quick brown fox aa bb cc brown fox jumps"),
        (3, "nothing matches here at all"),
        (5, "the quick brown fox jumps"),  # full copy
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: (r["scrubbed_text"], r["n_kept"], r["n_removed"])
        for r in scrub_contaminated_spans(docs, F.col("doc_id") % 2 == 0).collect()
    }
    assert got == {
        1: ("xx yy aa bb cc", 5, 7),
        3: ("nothing matches here at all", 5, 0),
        5: ("", 0, 5),
    }


def test_scrub_seam_caveat(spark):
    """The pinned honest limit: excising a span can join its neighbors
    into a NEW benchmark n-gram, and one pass leaves it."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.curation import (
        scrub_contaminated_spans,
    )

    # benchmark holds "x1 x2 x3" and "b c d"; the train doc's span
    # removal creates "b c d" at the seam
    rows = [(0, "x1 x2 x3 q q q b c d"), (1, "a b x1 x2 x3 c d")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    pred = F.col("doc_id") % 2 == 0

    one = scrub_contaminated_spans(docs, pred).collect()[0]
    assert one["scrubbed_text"] == "a b c d"  # seam match present



# ---------------------------------------------------------------------------
# DSIR importance weighting
# ---------------------------------------------------------------------------


def test_dsir_ranks_target_like_docs_higher(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        dsir_logweights,
    )

    rows = [
        # target partition (is_tgt): the "wiki-like" distribution
        (1, 1, "cat sat mat cat sat mat"),
        (2, 1, "cat mat sat cat"),
        # raw: one target-like, one alien
        (10, 0, "cat sat mat sat"),
        (11, 0, "zebra quark flux zebra quark"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, tgt INT, text STRING")
    got = {
        r["doc_id"]: r
        for r in dsir_logweights(docs, F.col("tgt") == 1).collect()
    }
    assert set(got) == {10, 11}  # raw docs only
    assert got[10]["logweight"] > got[11]["logweight"]
    # unigrams + bigrams: 4 tokens -> 4 + 3 feature occurrences
    assert got[10]["n_feats"] == 7
    assert got[11]["n_feats"] == 9


def test_dsir_unigram_only_and_single_token_doc(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        dsir_logweights,
    )

    rows = [
        (1, 1, "cat sat"),
        (10, 0, "cat"),  # one token: no bigram, still scored
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, tgt INT, text STRING")
    uni = dsir_logweights(docs, F.col("tgt") == 1, bigrams=False).collect()
    assert len(uni) == 1 and uni[0]["n_feats"] == 1
    both = dsir_logweights(docs, F.col("tgt") == 1).collect()
    assert both[0]["n_feats"] == 1  # bigram list empty, not null


def test_dsir_logweight_is_summation_order_free(spark):
    """The micro-unit contract: repartitioning the corpus (different
    partial-sum order) must not move the weight by even 1e-6."""
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        dsir_logweights,
    )

    rows = [(i, 1 if i % 5 == 0 else 0,
             f"tok{i % 7} tok{(i * 3) % 11} tok{(i * 5) % 13} common word")
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id LONG, tgt INT, text STRING")
    a = {r["doc_id"]: r["logweight"]
         for r in dsir_logweights(docs, F.col("tgt") == 1).collect()}
    b = {r["doc_id"]: r["logweight"]
         for r in dsir_logweights(
             docs.repartition(13), F.col("tgt") == 1).collect()}
    assert a == b


def test_dsir_edge_contract(spark):
    """Regression (code-review r11): NULL target_pred rows are RAW,
    zero-feature raw docs still emit (id, 0, 0.0), n_buckets validated."""
    import pytest as _pytest

    from mapreduce_kmeans_clustering_spark.operators.curation import (
        dsir_logweights,
    )

    rows = [
        (1, "en", "cat sat mat"),
        (10, "de", "cat sat"),
        (11, None, "zebra flux"),   # NULL lang -> NULL pred -> raw
        (12, "de", ""),             # raw, zero features
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, lang STRING, text STRING")
    got = {
        r["doc_id"]: (r["n_feats"], r["logweight"])
        for r in dsir_logweights(docs, F.col("lang") == "en").collect()
    }
    assert set(got) == {10, 11, 12}
    assert got[12] == (0, 0.0)
    assert got[11][0] == 3  # 2 unigrams + 1 bigram, scored not dropped
    with _pytest.raises(ValueError, match="n_buckets"):
        dsir_logweights(docs, F.col("lang") == "en", n_buckets=0)


def test_dsir_gumbel_select_is_deterministic_and_weight_sensitive(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        dsir_gumbel_select,
    )
    import pytest as _pytest

    rows = [(i, float(w)) for i, w in enumerate(
        [5.0] * 10 + [-5.0] * 10
    )]
    wdf = spark.createDataFrame(rows, "doc_id LONG, logweight DOUBLE")
    got = dsir_gumbel_select(wdf, k=8).collect()
    ids = [r["doc_id"] for r in got]
    # deterministic: same call, same set and order
    again = [r["doc_id"] for r in dsir_gumbel_select(wdf, k=8).collect()]
    assert ids == again
    # weight-sensitive: a +10 log-odds gap dwarfs Gumbel noise
    # (P(pick a -5 doc over a +5 doc) ~ e^-10), so all 8 come from
    # the high-weight half
    assert all(i < 10 for i in ids)
    # flattening: extreme temperature washes the weights out of the
    # key, so selection reduces to the hash order — which must then
    # pick SOME low-weight docs (the uniform limit)
    flat = {r["doc_id"] for r in dsir_gumbel_select(
        wdf, k=8, temperature=1e9).collect()}
    assert any(i >= 10 for i in flat)
    with _pytest.raises(ValueError):
        dsir_gumbel_select(wdf, k=0)
    with _pytest.raises(ValueError):
        dsir_gumbel_select(wdf, k=5, temperature=0.0)


# ---------------------------------------------------------------------------
# split_leakage: train→eval split-leakage audit (round 12)
# ---------------------------------------------------------------------------


def test_split_leakage_flags_cross_split_clone(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        split_leakage,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (1, base, "train"),
        (2, base, "test"),  # clone of a train doc -> leak_frac 1.0
        (3, "entirely different words nothing shared here at all", "val"),
        (4, "xx", "test"),  # too short to shingle -> 0 / 0.0 / false
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, split STRING")
    out = {r["doc_id"]: r for r in split_leakage(df, n=3).collect()}
    assert set(out) == {2, 3, 4}  # eval docs only; train never audited
    assert out[2]["leak_frac"] == 1.0 and out[2]["leaked"]
    assert out[3]["n_shared"] == 0 and not out[3]["leaked"]
    assert out[4]["n_shingles"] == 0 and out[4]["leak_frac"] == 0.0
    assert not out[4]["leaked"]


def test_split_leakage_partial_overlap_fraction(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        split_leakage,
    )

    # eval doc: 6 tokens -> 4 distinct 3-grams; exactly the first 3
    # tokens' single gram ("a b c") also appears in train -> 1/4
    rows = [
        (1, "a b c zz yy xx", "train"),
        (2, "a b c d e f", "test"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, split STRING")
    out = split_leakage(df, n=3).collect()[0]
    assert out["n_shingles"] == 4 and out["n_shared"] == 1
    assert out["leak_frac"] == 0.25 and not out["leaked"]
    # threshold compares the rounded column it reports
    out2 = split_leakage(df, n=3, leak_threshold=0.25).collect()[0]
    assert out2["leaked"]


def test_split_leakage_custom_split_values(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        split_leakage,
    )

    rows = [(1, "p q r s t u", "keep"), (2, "p q r s t u", "holdout")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, part STRING")
    out = split_leakage(
        df, split_col="part", train_value="keep", n=3
    ).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 2 and out[0]["leaked"]


# ---------------------------------------------------------------------------
# DSIR profile state: mergeable bucket counts + from-profile scoring
# ---------------------------------------------------------------------------


def _dsir_docs(spark):
    rows = [
        (0, "quality prose about careful reasoning and clear writing", True),
        (1, "careful reasoning with clear structured writing style", True),
        (2, "buy cheap pills online casino bonus click here now", False),
        (3, "quality prose with careful reasoning inside crawl noise", False),
        (4, "random crawl text about online casino and pills", False),
        (5, "zz", False),  # single short token, still scored
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING, tgt BOOLEAN")


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_dsir_profile_additive_and_from_profile_identity(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        dsir_logweights,
        dsir_logweights_from_profile,
        dsir_profile,
        extend_dsir_profile,
    )

    docs = _dsir_docs(spark)
    B = 64
    prof = dsir_profile(docs, F.col("tgt"), n_buckets=B)
    # 1) scoring the profile's own raw docs from the profile is
    # bit-identical to the batch scorer (raw features always hit
    # raw-occupied buckets, so the smoothed-default branch is inert)
    batch = {
        r["doc_id"]: (r["n_feats"], r["logweight"])
        for r in dsir_logweights(docs, F.col("tgt"), n_buckets=B).collect()
    }
    raw_docs = docs.where(~F.col("tgt"))
    fromp = {
        r["doc_id"]: (r["n_feats"], r["logweight"])
        for r in dsir_logweights_from_profile(prof, raw_docs).collect()
    }
    assert fromp == batch
    # 2) additivity: profile(A) extended with B's raw docs equals the
    # profile built over A ∪ B-with-B-raw, exactly (integer counts)
    half_a = docs.where(F.col("doc_id") <= 3)
    half_b = docs.where(F.col("doc_id") > 3).select("doc_id", "text")
    ext = extend_dsir_profile(
        dsir_profile(half_a, F.col("tgt"), n_buckets=B), half_b
    )
    full = dsir_profile(
        docs, F.col("tgt") & (F.col("doc_id") <= 3), n_buckets=B
    )
    assert sorted(map(tuple, ext.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_dsir_from_profile_unseen_buckets_use_smoothed_default(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        dsir_logweights_from_profile,
        dsir_profile,
    )
    import math

    docs = _dsir_docs(spark)
    B = 64
    prof = dsir_profile(docs, F.col("tgt"), n_buckets=B)
    data = [r for r in prof.collect() if r["bucket"] != -1]
    R = sum(r["n_raw"] for r in data)
    T = sum(r["n_target"] for r in data)
    # novel single token (no bigrams formed) that hashes to SOME
    # bucket: even if occupied, the row exists; craft a token stream
    # long enough that at least one feature is plausibly unseen is
    # flaky — instead score against an EMPTY-data profile where every
    # bucket is unseen and the default is the only term
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        _dsir_sentinel,
    )

    empty_prof = _dsir_sentinel(docs, B, True)
    out = dsir_logweights_from_profile(
        empty_prof, docs.select("doc_id", "text").where(F.col("doc_id") == 5)
    ).collect()[0]
    default_micro = math.floor(
        (math.log(1.0 / (0 + B)) - math.log(1.0 / (0 + B))) * 1e6 + 0.5
    )
    assert out["n_feats"] == 1
    assert out["logweight"] == default_micro / 1e6  # == 0.0 when R == T == 0


def test_dsir_profile_geometry_guards(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        dsir_profile,
        dsir_profile_geometry,
        merge_dsir_profiles,
    )

    docs = _dsir_docs(spark)
    p64 = dsir_profile(docs, F.col("tgt"), n_buckets=64)
    p32 = dsir_profile(docs, F.col("tgt"), n_buckets=32)
    assert dsir_profile_geometry(p64) == (64, True)
    with pytest.raises(ValueError, match="geometry mismatch"):
        merge_dsir_profiles(p64, p32)
    with pytest.raises(ValueError, match="sentinel"):
        dsir_profile_geometry(p64.where(F.col("bucket") != -1))


def test_merge_dsir_profiles_equals_raw_extension(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        dsir_profile,
        extend_dsir_profile,
        merge_dsir_profiles,
    )

    docs = _dsir_docs(spark)
    B = 64
    base = dsir_profile(
        docs.where(F.col("doc_id") <= 2), F.col("tgt"), n_buckets=B
    )
    batch = docs.where(F.col("doc_id") > 2).select("doc_id", "text")
    batch_prof = dsir_profile(batch, F.lit(False), n_buckets=B)
    via_merge = sorted(map(tuple, merge_dsir_profiles(base, batch_prof).collect()))
    via_extend = sorted(map(tuple, extend_dsir_profile(base, batch).collect()))
    assert via_merge == via_extend


def test_dsir_profile_multi_sentinel_message(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        dsir_profile,
        dsir_profile_geometry,
    )

    docs = _dsir_docs(spark)
    prof = dsir_profile(docs, F.col("tgt"), n_buckets=32)
    with pytest.raises(ValueError, match="merge_dsir_profiles"):
        dsir_profile_geometry(prof.unionByName(prof))
