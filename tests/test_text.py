"""Behavioral tests for text-analysis operators."""

from __future__ import annotations

import pytest

from mapreduce_kmeans_clustering_spark.operators.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
    tokens,
)


@pytest.fixture(scope="module")
def tdf(spark):
    rows = [
        (0, "The cat and the dog of the house"),  # en markers
        (1, "der Hund und die Katze und der Vogel"),  # de markers
        (2, "le chat et la maison et le chien"),  # fr markers
        (3, "el gato y los perros que corren"),  # es markers
        (4, "xyzzy plugh"),  # no markers -> und
        (5, ""),  # empty text
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_tokens_and_count(spark):
    df = spark.createDataFrame([("A b-c 42 öx",)], "text STRING")
    [row] = df.select(
        tokens("text").alias("t"), token_count("text").alias("n")
    ).collect()
    assert row["t"] == ["a", "b", "c", "42", "x"]
    assert row["n"] == 5


def test_lang_id(tdf):
    got = {r["doc_id"]: r["lang"] for r in tdf.select("doc_id", lang_id("text").alias("lang")).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und", 5: "und"}


def test_quality_bounds_and_empty(tdf):
    rows = tdf.select("doc_id", quality_score("text").alias("q")).collect()
    for r in rows:
        assert 0.0 <= r["q"] <= 1.0
    byid = {r["doc_id"]: r["q"] for r in rows}
    assert byid[5] == 0.0  # empty text scores zero
    assert byid[0] > byid[4]  # stopword-bearing text beats gibberish


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello, World!"), (1, "hello world"), (2, "HELLO-WORLD"), (3, "different")],
        "doc_id LONG, text STRING",
    )
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert fps[0] == fps[1] == fps[2]
    assert fps[3] != fps[0]
    assert len(fps[0]) == 16


def test_winnow_fingerprints_detect_containment(spark):
    from mapreduce_kmeans_clustering_spark.operators.text import winnow_fingerprints

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = spark.createDataFrame(
        [
            (1, f"prefix words here {base} and suffix words here"),
            (2, base),                      # contained in doc 1
            (3, "completely different content with nothing shared at all ok"),
            (4, "hi"),                      # < n tokens -> no fingerprints
        ],
        "doc_id LONG, text STRING",
    )
    fps = winnow_fingerprints(docs, n=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # winnowing guarantee: any match of length >= w + n - 1 tokens shares
    # at least one fingerprint; doc2 is fully contained in doc1
    assert by_doc[2] & by_doc[1]
    assert not (by_doc[3] & by_doc[1])
    assert 4 not in by_doc


def test_redact_masks_urls_emails_numbers(spark):
    from mapreduce_kmeans_clustering_spark.operators.text import redact

    docs = spark.createDataFrame(
        [
            (1, "contact me at alice@example.com or visit https://site.io/x?q=1 ref 1234567"),
            (2, "short 12345 stays, 123456 goes"),
            (3, None),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r["red"] for r in docs.select("doc_id", redact("text").alias("red")).collect()}
    assert got[1] == "contact me at <EMAIL> or visit <URL> ref <NUM>"
    assert got[2] == "short 12345 stays, <NUM> goes"
    assert got[3] == ""


def test_stratified_sampling_rates_and_determinism(spark):
    from mapreduce_kmeans_clustering_spark.operators.sampling import sample_stratified

    docs = spark.createDataFrame(
        [(i, f"src{i % 2}") for i in range(2000)], "doc_id LONG, source STRING"
    )
    out = sample_stratified(docs, {"src0": 1.0, "src1": 0.25})
    counts = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    assert counts["src0"] == 1000          # rate 1.0 keeps everything
    assert 175 <= counts["src1"] <= 325    # ~250 expected, hash-uniform
    again = sample_stratified(docs.repartition(7), {"src0": 1.0, "src1": 0.25})
    assert {r["doc_id"] for r in again.collect()} == {r["doc_id"] for r in out.collect()}


def test_bpe_pretokens_vs_word_tokens(spark):
    from mapreduce_kmeans_clustering_spark.operators.text import (
        bpe_token_count,
        token_count,
    )

    rows = [
        ("plain words here", 3, 3),
        ("don't!", 2, 3),               # BPE counts the contraction tail + punct
        ("x=1; y=2;", 4, 8),            # punctuation counts for BPE
        ("", 0, 0),
        (None, 0, 0),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in rows], "text STRING").select(
        token_count("text").alias("w"), bpe_token_count("text").alias("b")
    )
    got = [(r["w"], r["b"]) for r in df.collect()]
    assert got == [(w, b) for _, w, b in rows]


def test_repetition_stats_flags_boilerplate(spark):
    from mapreduce_kmeans_clustering_spark.operators.text import repetition_stats

    rows = [
        # 4 lines, 3 identical -> dup_line_frac 0.5; bigram "spam spam"
        # dominates its 2-gram stream
        (0, "spam spam\nspam spam\nspam spam\nok line"),
        (1, "every line here is unique\nsecond line\nthird line"),
        (2, "one"),      # <2 tokens -> no bigrams -> 0.0
        (3, None),       # null text -> 0.0 / 0.0
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: (round(r["dup_line_frac"], 6), round(r["top_bigram_frac"], 6))
        for r in repetition_stats(df).collect()
    }
    assert got[0][0] == 0.5
    # "spam spam" occurs at 5 of the 7 bigram positions of doc 0
    assert got[0][1] == round(5 / 7, 6)
    assert got[1] == (0.0, round(1 / 8, 6))
    assert got[2] == (0.0, 0.0)
    assert got[3] == (0.0, 0.0)


def test_gopher_quality_rule_attribution(spark):
    """Each Gopher rule fires independently and the keep verdict is
    their conjunction — crafted docs hit exactly one rule each."""
    from mapreduce_kmeans_clustering_spark.operators.text import gopher_quality

    good = "the quick brown fox jumps over a lazy dog and then runs " * 3
    rows = [
        (0, good),                                  # passes everything
        (1, "the quick brown storage of tables and rows"),  # too few words
        (2, ("a an " * 30) + "the of"),             # mean word len < 3
        (3, "alpha beta gamma delta " * 10),        # no stopwords
        (4, ("12345 67890 " * 15) + "the of data"),  # alpha fraction low
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert got[0]["keep"] is True
    assert got[1]["ok_words"] is False and got[1]["keep"] is False
    assert got[2]["ok_word_len"] is False and got[2]["keep"] is False
    assert got[3]["ok_stopwords"] is False and got[3]["keep"] is False
    assert got[4]["ok_alpha"] is False and got[4]["keep"] is False
    # and every failing doc fails ONLY its intended rule (attribution)
    for i, rule in ((1, "ok_words"), (3, "ok_stopwords"), (4, "ok_alpha")):
        others = [
            c for c in ("ok_words", "ok_word_len", "ok_stopwords", "ok_alpha")
            if c != rule
        ]
        assert all(got[i][c] for c in others), (i, rule)


# ---------------------------------------------------------------------------
# BPE training
# ---------------------------------------------------------------------------

def _bpe(spark, texts, k=3):
    from mapreduce_kmeans_clustering_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    return [tuple(r) for r in bpe_train(docs, n_merges=k).orderBy("step").collect()]


def test_bpe_train_learns_chained_merges(spark):
    """Step 2's winning pair (t, he) only EXISTS because step 1 merged
    (h, e) — the single-step pair table can never show this."""
    got = _bpe(spark, ["the the the cat"], k=3)
    assert got == [
        (1, "h", "e", 3),   # (h,e) ties (t,h) at 3; lex tie-break
        (2, "t", "he", 3),  # chained: only exists after merge 1
        (3, "a", "t", 1),   # (a,t) ties (c,a) at 1; lex tie-break
    ]


def test_bpe_train_greedy_leftmost_overlap(spark):
    """'aaaa' under merge (a,a) must become [aa][aa] (greedy leftmost,
    non-overlapping) so step 2 learns (aa, aa)."""
    got = _bpe(spark, ["aaaa aaaa"], k=2)
    assert got == [(1, "a", "a", 6), (2, "aa", "aa", 2)]


def test_bpe_train_pair_exhaustion_is_graceful(spark):
    """When every word is fully merged before n_merges steps, the
    remaining steps yield no rows instead of failing."""
    got = _bpe(spark, ["aa aa aa ab"], k=3)
    assert got == [(1, "a", "a", 3), (2, "a", "b", 1)]


def test_bpe_encode_hand_check(spark):
    """Corpus 'the the the cat' learns (h,e), (t,he), (a,t) — see the
    chained-merges test. Encoding 'the cat' with those merges must
    yield [the] [c,at]: 1 + 2 = 3 tokens from 6 pretoken chars."""
    import hashlib

    from mapreduce_kmeans_clustering_spark.operators.text import bpe_encode

    docs = spark.createDataFrame(
        [(1, "the the the cat"), (2, "the cat"), (3, "")],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in bpe_encode(docs, n_merges=3).collect()}
    assert out[2]["n_pretokens"] == 2
    assert out[2]["n_tokens"] == 3  # |the| |c||at|
    expected = "|the| |c||at|"
    assert out[2]["enc_md5"] == hashlib.md5(expected.encode()).hexdigest()
    # the training doc: 3x |the| + |c||at|
    assert out[1]["n_tokens"] == 5
    # empty text: zero tokens, md5 of the empty encoding
    assert out[3]["n_pretokens"] == 0
    assert out[3]["n_tokens"] == 0
    assert out[3]["enc_md5"] == hashlib.md5(b"").hexdigest()


def test_bpe_encode_merge_cannot_cross_word_boundary(spark):
    """Words 'ab' and 'b a' share letters across a space; the (a,b)
    merge must only fire inside 'ab', never across the join space."""
    from mapreduce_kmeans_clustering_spark.operators.text import bpe_encode

    docs = spark.createDataFrame(
        [(1, "ab ab b a")], "doc_id LONG, text STRING"
    )
    row = bpe_encode(docs, n_merges=1).collect()[0]
    # |ab| |ab| |b| |a| -> 4 tokens (not 3: 'b a' must stay split)
    assert row["n_tokens"] == 4


def test_ngram_diversity_detects_template_collapse(spark):
    from mapreduce_kmeans_clustering_spark.operators.text import (
        ngram_diversity,
    )

    rows = [
        (1, "fresh", "alpha beta gamma delta epsilon"),
        (2, "fresh", "zeta eta theta iota kappa"),
        (3, "temply", "same old line same old line"),
        (4, "temply", "same old line same old line"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, source STRING, text STRING")
    got = {
        (r["source"], r["n"]): r
        for r in ngram_diversity(docs).collect()
    }
    assert set(got) == {(s, n) for s in ("fresh", "temply") for n in (1, 2, 3)}
    # fresh: every token unique -> diversity 1.0 at every n
    assert got[("fresh", 1)]["diversity"] == 1.0
    assert got[("fresh", 3)]["diversity"] == 1.0
    # temply: 12 tokens, 3 distinct
    r = got[("temply", 1)]
    assert (r["total_ngrams"], r["distinct_ngrams"]) == (12, 3)
    assert r["diversity"] == 0.25
    # trigrams: 2 docs x 4 windows = 8 total, 3 distinct cyclic shifts
    r3 = got[("temply", 3)]
    assert (r3["total_ngrams"], r3["distinct_ngrams"]) == (8, 3)
    # collapse visible: temply far below fresh at n=3
    assert r3["diversity"] < 0.5


def test_ngram_diversity_short_docs_and_args(spark):
    from mapreduce_kmeans_clustering_spark.operators.text import (
        ngram_diversity,
    )
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, "s", "one two"), (2, "s", "")],
        "doc_id LONG, source STRING, text STRING",
    )
    got = {(r["source"], r["n"]): r for r in ngram_diversity(docs).collect()}
    # n=3 has no windows anywhere -> no row for that (group, n)
    assert ("s", 3) not in got
    assert got[("s", 2)]["total_ngrams"] == 1
    with _pytest.raises(ValueError):
        ngram_diversity(docs, ns=(0,))
    # empty ns raised a bare IndexError, and a duplicate n silently
    # emitted duplicate rows (ADVICE r11) — both are ValueErrors now
    with _pytest.raises(ValueError, match="at least one"):
        ngram_diversity(docs, ns=())
    with _pytest.raises(ValueError, match="duplicate"):
        ngram_diversity(docs, ns=(1, 2, 1))
