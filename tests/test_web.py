"""Behavioral tests for URL/domain-level curation (operators/web.py)
and the one-pass multi-benchmark contamination sweep."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.operators.web import (
    domain_quality_caps,
    host_expr,
    registrable_domain_expr,
    url_dedup,
    url_normalize_expr,
)


@pytest.fixture(scope="module")
def urls(spark):
    rows = [
        (1, "https://sub1.shop.co.uk:8443/p/4?sid=9"),
        (2, "http://www.shop.co.uk/p/4"),          # same page, re-crawl
        (3, "HTTPS://WWW.News.COM/a/b/"),          # case + trailing /
        (4, "https://news.com/a/b"),               # same page
        (5, "https://u:p@deep.a.site.org/p/2#f"),  # userinfo + fragment
        (6, "plain.example.com/x"),                # scheme-less
        (7, "https://localhost/x"),                # single-label host
        (8, "https://a.b.example.com.au/y"),       # multi-part ccTLD
    ]
    return spark.createDataFrame(rows, "doc_id LONG, url STRING")


def test_host_and_registrable_domain(urls):
    got = {
        r["doc_id"]: (r["h"], r["d"])
        for r in urls.select(
            "doc_id",
            host_expr(F.col("url")).alias("h"),
            registrable_domain_expr(F.col("url")).alias("d"),
        ).collect()
    }
    assert got[1] == ("sub1.shop.co.uk", "shop.co.uk")
    assert got[2] == ("www.shop.co.uk", "shop.co.uk")
    assert got[3] == ("www.news.com", "news.com")
    assert got[5] == ("deep.a.site.org", "site.org")
    assert got[6] == ("plain.example.com", "example.com")
    assert got[7] == ("localhost", "localhost")  # no labels to strip
    assert got[8] == ("a.b.example.com.au", "example.com.au")


def test_url_normalize_collapses_recrawls(urls):
    got = {
        r["doc_id"]: r["n"]
        for r in urls.select(
            "doc_id", url_normalize_expr(F.col("url")).alias("n")
        ).collect()
    }
    # port/query/scheme/www stripped; sub1 vs www differ by host
    assert got[1] == "sub1.shop.co.uk/p/4"
    assert got[2] == "shop.co.uk/p/4"
    assert got[3] == got[4] == "news.com/a/b"  # case + trailing slash
    assert got[5] == "deep.a.site.org/p/2"     # userinfo + fragment gone
    assert got[6] == "plain.example.com/x"


def test_url_dedup_min_id_wins(urls):
    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in url_dedup(urls).collect()
    }
    assert got[3] == ("keep", None)
    assert got[4] == ("dup", 3)
    # distinct normalized urls all keep
    for i in (1, 2, 5, 6, 7, 8):
        assert got[i] == ("keep", None)


def test_domain_quality_caps_budget(spark):
    rows = [
        (i, f"https://h{i % 2}.big.com/p/{i}", 100 - i) for i in range(6)
    ] + [(10, "https://small.org/x", 1)]
    docs = spark.createDataFrame(
        rows, "doc_id LONG, url STRING, n_chars LONG"
    )
    kept = {
        r["doc_id"]: (r["domain"], r["domain_rank"])
        for r in domain_quality_caps(docs, cap=2).collect()
    }
    # big.com: 6 docs, top-2 by (n_chars desc, id) = ids 0, 1
    assert set(kept) == {0, 1, 10}
    assert kept[0] == ("big.com", 1) and kept[1] == ("big.com", 2)
    assert kept[10] == ("small.org", 1)  # under cap: untouched


def test_multi_semantic_decontam_names_and_best_match(spark):
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        multi_semantic_decontam,
    )

    train = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    # bench_a holds a verbatim copy of train 0; bench_b holds two
    # near-copies of train 0 (the lower id must win the tie-free max)
    bench_a = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    bench_b = spark.createDataFrame(
        [(200, [0.9, 0.1, 0.0, 0.0]), (201, [0.9, 0.1, 0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    out = multi_semantic_decontam(
        train, {"bench_a": bench_a, "bench_b": bench_b},
        threshold=0.9, dim=4, planes=1,
    )
    got = {
        (r["train_id"], r["benchmark"]): (r["bench_id"], r["n_matches"])
        for r in out.collect()
    }
    assert got[(0, "bench_a")] == (100, 1)
    assert got[(0, "bench_b")] == (200, 2)  # min id at the tied max cos
    assert (1, "bench_a") not in got and (1, "bench_b") not in got

    with pytest.raises(ValueError, match="no benchmark"):
        multi_semantic_decontam(train, {})


def test_web_curation_precedence(spark):
    """url_dup beats over_domain_cap beats keep; the cap ranks only
    URL-survivors (a duplicate never consumes domain budget)."""
    from mapreduce_kmeans_clustering_spark.operators.web import (
        web_curation,
    )

    rows = [
        # big.com: 4 distinct pages + 1 re-crawl of page 0
        (0, "https://big.com/p/0", 50),
        (1, "https://www.big.com/p/0", 99),   # url_dup of 0 (best score!)
        (2, "https://big.com/p/2", 40),
        (3, "https://big.com/p/3", 30),
        (4, "https://big.com/p/4", 20),
        (5, "https://small.org/x", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id LONG, url STRING, n_chars LONG"
    )
    got = {
        r["doc_id"]: (r["status"], r["dup_of"], r["domain_rank"])
        for r in web_curation(docs, cap=2).collect()
    }
    assert got[1] == ("url_dup", 0, None)  # dup even though best-scored
    # survivors ranked by (n_chars desc, id): 0(50), 2(40), 3(30), 4(20)
    assert got[0] == ("keep", None, 1)
    assert got[2] == ("keep", None, 2)
    assert got[3] == ("over_domain_cap", None, 3)
    assert got[4] == ("over_domain_cap", None, 4)
    assert got[5] == ("keep", None, 1)
    assert len(got) == 6  # exactly one verdict per input doc


def test_null_url_docs_are_kept_not_dropped(spark):
    """Code-review r11: a NULL URL means 'no URL identity'. Every web
    operator must emit a verdict for such docs (the old null-unsafe
    equi-join silently DROPPED them), each its own group — never
    url_dup, never competing in a domain budget."""
    from mapreduce_kmeans_clustering_spark.operators.web import web_curation

    rows = [
        (1, "https://www.shop.com/p/1", 100),
        (2, "http://shop.com/p/1", 90),   # re-crawl of doc 1
        (3, None, 80),                    # no URL at all
        (4, None, 70),                    # second URL-less doc
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, url STRING, n_chars LONG")

    dd = {r["doc_id"]: r for r in url_dedup(docs).collect()}
    assert set(dd) == {1, 2, 3, 4}, "NULL-url docs must not vanish"
    assert dd[1]["status"] == "keep" and dd[2]["status"] == "dup"
    assert dd[2]["dup_of"] == 1
    # each NULL-url doc is its own group: kept, NULL norm_url/dup_of
    for i in (3, 4):
        assert dd[i]["status"] == "keep"
        assert dd[i]["norm_url"] is None and dd[i]["dup_of"] is None

    caps = {r["doc_id"]: r for r in domain_quality_caps(docs, cap=1).collect()}
    # cap=1 keeps only doc 1 for shop.com; NULL-domain docs are exempt
    assert set(caps) == {1, 3, 4}
    assert caps[3]["domain"] is None and caps[3]["domain_rank"] is None

    wc = {r["doc_id"]: r for r in web_curation(docs, cap=1).collect()}
    assert set(wc) == {1, 2, 3, 4}, "web_curation must verdict every doc"
    assert wc[1]["status"] == "keep" and wc[2]["status"] == "url_dup"
    for i in (3, 4):
        assert wc[i]["status"] == "keep"
        assert wc[i]["domain"] is None and wc[i]["domain_rank"] is None


def test_url_normalize_idempotent_and_domain_stable(spark):
    """Property batch (round 11): (1) url_normalize_expr is IDEMPOTENT
    — its output ("host/path", scheme-less) re-normalizes to itself,
    so re-crawl keys never drift through repeated pipeline passes;
    (2) the registrable domain of a URL equals the registrable domain
    of its own normalized form unless normalization stripped a
    leading "www." (the one host-mutating rewrite); (3) the domain is
    always a suffix of the parsed host. One DataFrame of adversarial
    shapes, three expression-level assertions — no per-example Spark
    jobs."""
    from pyspark.sql import functions as F

    shapes = [
        "https://sub1.shop.co.uk:8443/p/4?sid=9",
        "HTTP://USER:pw@WWW.Mixed.Case.COM/A/B/#frag",
        "ftp+x.y://odd.scheme.net/path//",
        "no-scheme.example.com.au/x?q=1",
        "https://www.co.uk/",          # registrable domain IS a suffix
        "https://localhost",           # single label, no path
        "http://a.b.c.d.e.org.uk///",  # deep labels + slash pile
        "www.only-www.com",            # scheme-less www
        "https://trailing.dot.com./p", # trailing-dot host label
        "x://@weird.com/p",            # empty userinfo
        "https://:8080/odd",           # empty host + port-ish path
        "",                            # empty string
    ]
    df = spark.createDataFrame([(s,) for s in shapes], "url STRING")
    from mapreduce_kmeans_clustering_spark.operators.web import (
        host_expr,
        registrable_domain_expr,
        url_normalize_expr,
    )

    u1 = url_normalize_expr(F.col("url"))
    rows = df.select(
        "url",
        u1.alias("n1"),
        url_normalize_expr(u1).alias("n2"),
        host_expr(F.col("url")).alias("host"),
        registrable_domain_expr(F.col("url")).alias("dom"),
        registrable_domain_expr(u1).alias("dom_n"),
        F.regexp_extract(F.lower(F.col("url")),
                         r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?(www\.)",
                         1).alias("had_www"),
    ).collect()
    for r in rows:
        assert r["n2"] == r["n1"], f"not idempotent: {r['url']!r} -> {r['n1']!r} -> {r['n2']!r}"
        if not r["had_www"]:
            assert r["dom_n"] == r["dom"], (
                f"domain drifted through normalization: {r['url']!r} "
                f"{r['dom']!r} -> {r['dom_n']!r}"
            )
        if r["dom"] and r["host"]:
            assert r["host"].endswith(r["dom"]), (
                f"domain not a host suffix: {r['url']!r} host={r['host']!r} "
                f"dom={r['dom']!r}"
            )


def test_extend_url_index_closes_the_ingest_loop(spark):
    """Index maintenance: kept norm_urls from one batch's verdicts join
    the stored relation (NULLs dropped, duplicates collapsed), so the
    same URL arriving in the NEXT batch is a corpus dup."""
    from mapreduce_kmeans_clustering_spark.operators.web import (
        extend_url_index,
        url_dedup,
    )

    idx = spark.createDataFrame([("seen.com/p",)], "norm_url STRING")
    batch1 = spark.createDataFrame(
        [(1, "https://www.new.com/a", ), (2, None,)],
        "doc_id LONG, url STRING",
    )
    v1 = url_dedup(batch1)
    idx2 = extend_url_index(idx, v1)
    got = {r["norm_url"] for r in idx2.collect()}
    assert got == {"seen.com/p", "new.com/a"}  # NULL never indexed
    # extending again with the same verdicts is idempotent
    assert extend_url_index(idx2, v1).count() == 2


def test_domain_caps_salted_two_stage_is_exact(spark):
    """The salt=S mega-domain mitigation is EXACTLY equivalent to the
    single window: per-salt top-cap is a superset of the global
    top-cap, so stage 2 reproduces identical (id, domain, rank) rows —
    checked over a skewed corpus (one domain with 60 docs, several
    small domains, NULL urls) for several salts including S > n."""
    rows = [
        (i, "https://big.com/p/%d" % i, (i * 37) % 100) for i in range(60)
    ] + [
        (100 + i, "https://small%d.org/x" % i, 50 + i) for i in range(5)
    ] + [(200, None, 99), (201, None, 1)]
    docs = spark.createDataFrame(rows, "doc_id LONG, url STRING, n_chars LONG")

    def rowset(df):
        return sorted(tuple(r) for r in df.collect())

    base = rowset(domain_quality_caps(docs, cap=3))
    for s in (1, 2, 7, 1000):
        assert rowset(domain_quality_caps(docs, cap=3, salt=s)) == base, s

    import pytest as _pytest

    with _pytest.raises(ValueError, match="salt"):
        domain_quality_caps(docs, cap=3, salt=0)


# ---------------------------------------------------------------------------
# Boilerplate line removal
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def chrome_docs(spark):
    """Two domains; 'nav home menu' chrome in every a.com doc, one
    coincidental repeat below the bar, b.org clean; doc 6 URL-less."""
    rows = [
        (1, "https://a.com/1", "nav home menu alpha beta gamma one two"),
        (2, "https://www.a.com/2", "nav home menu delta epsilon zeta"),
        (3, "https://a.com/3", "nav home menu alpha beta gamma"),
        (4, "https://b.org/1", "totally organic content here folks"),
        (5, "https://b.org/2", "other words entirely different text"),
        (6, None, "nav home menu null url doc"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, url STRING, text STRING")


def test_boilerplate_audit_flags_domain_chrome(chrome_docs):
    from mapreduce_kmeans_clustering_spark.operators.web import (
        boilerplate_lines,
    )

    got = {
        (r["domain"], r["line"]): (r["n_docs"], r["domain_docs"])
        for r in boilerplate_lines(
            chrome_docs, tokens_per_line=3, min_frac=0.5, min_df=2
        ).collect()
    }
    # nav chrome: 3/3 a.com docs (www host folds into the domain)
    assert got[("a.com", "nav home menu")] == (3, 3)
    # 'alpha beta gamma' repeats in 2/3 a.com docs = 67% >= 50% bar
    assert got[("a.com", "alpha beta gamma")] == (2, 3)
    # b.org has no repeats; the NULL-URL doc's chrome is NOT pooled
    assert all(d == "a.com" for d, _ in got)


def test_boilerplate_fraction_bar_scales(chrome_docs):
    from mapreduce_kmeans_clustering_spark.operators.web import (
        boilerplate_lines,
    )

    # raising min_frac above 2/3 keeps the 100% nav line only
    got = boilerplate_lines(
        chrome_docs, tokens_per_line=3, min_frac=0.8, min_df=2
    ).collect()
    assert [(r["domain"], r["line"]) for r in got] == [
        ("a.com", "nav home menu")
    ]


def test_remove_boilerplate_scrubs_and_passes_through(chrome_docs):
    from mapreduce_kmeans_clustering_spark.operators.web import (
        remove_boilerplate,
    )

    got = {
        r["doc_id"]: r
        for r in remove_boilerplate(
            chrome_docs, tokens_per_line=3, min_frac=0.8, min_df=2
        ).collect()
    }
    assert len(got) == 6  # every doc emits a row
    # chrome excised, content intact, order preserved
    assert got[1]["clean_text"] == "alpha beta gamma one two"
    assert (got[1]["n_lines"], got[1]["n_removed"]) == (3, 1)
    assert got[2]["clean_text"] == "delta epsilon zeta"
    # clean domain passes through untouched (token-stream form)
    assert got[4]["clean_text"] == "totally organic content here folks"
    assert got[4]["n_removed"] == 0
    # NULL-URL doc: no domain, chrome kept (never pooled cross-site)
    assert got[6]["clean_text"] == "nav home menu null url doc"
    assert got[6]["n_removed"] == 0


def test_remove_boilerplate_fully_covered_doc_emits_empty(spark):
    from mapreduce_kmeans_clustering_spark.operators.web import (
        remove_boilerplate,
    )

    rows = [
        (1, "https://a.com/1", "nav home menu"),
        (2, "https://a.com/2", "nav home menu"),
        (3, "https://a.com/3", "nav home menu real content words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, url STRING, text STRING")
    got = {
        r["doc_id"]: r
        for r in remove_boilerplate(
            docs, tokens_per_line=3, min_frac=0.5, min_df=2
        ).collect()
    }
    assert got[1]["clean_text"] == "" and got[1]["n_removed"] == 1
    assert got[3]["clean_text"] == "real content words"


def test_boilerplate_line_regex_mode(spark):
    from mapreduce_kmeans_clustering_spark.operators.web import (
        remove_boilerplate,
    )

    rows = [
        (1, "https://a.com/1", "Subscribe now!\nReal article text.\n"),
        (2, "https://a.com/2", "Subscribe now!\nAnother story."),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, url STRING, text STRING")
    got = {
        r["doc_id"]: r["clean_text"]
        for r in remove_boilerplate(
            docs, tokens_per_line=None, line_regex="\n",
            min_frac=0.5, min_df=2, joiner="\n",
        ).collect()
    }
    # raw lines preserved verbatim (trimmed), only the repeated one cut
    assert got[1] == "Real article text."
    assert got[2] == "Another story."


def test_boilerplate_mode_args_validated(chrome_docs):
    from mapreduce_kmeans_clustering_spark.operators.web import (
        boilerplate_lines,
    )

    with pytest.raises(ValueError):
        boilerplate_lines(chrome_docs, tokens_per_line=None, line_regex=None)
    with pytest.raises(ValueError):
        boilerplate_lines(chrome_docs, tokens_per_line=3, line_regex="\n")
    with pytest.raises(ValueError):
        boilerplate_lines(chrome_docs, tokens_per_line=0)


# ---------------------------------------------------------------------------
# Mergeable boilerplate index (streaming maintenance)
# ---------------------------------------------------------------------------


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def test_boilerplate_index_merge_equals_batch_build(spark, chrome_docs):
    """The additivity contract: index(batch1) merged with index(batch2)
    equals index(union) exactly — so a streaming deployment's stored
    counts are always the counts a full rebuild would produce."""
    from mapreduce_kmeans_clustering_spark.operators.web import (
        boilerplate_index,
        extend_boilerplate_index,
    )

    b1 = chrome_docs.where("doc_id <= 3")
    b2 = chrome_docs.where("doc_id > 3")
    merged = extend_boilerplate_index(
        boilerplate_index(b1), boilerplate_index(b2)
    )
    full = boilerplate_index(chrome_docs)
    assert _rows(merged) == _rows(full)


def test_flag_from_index_matches_corpus_audit(spark, chrome_docs):
    from mapreduce_kmeans_clustering_spark.operators.web import (
        boilerplate_index,
        boilerplate_lines,
        flag_boilerplate_index,
    )

    idx = boilerplate_index(chrome_docs)
    assert _rows(
        flag_boilerplate_index(idx, min_frac=0.5, min_df=2)
    ) == _rows(boilerplate_lines(chrome_docs, min_frac=0.5, min_df=2))


def test_remove_boilerplate_with_precomputed_flags(spark, chrome_docs):
    """The streaming scrub path: flags replayed from the stored index
    drive remove_boilerplate identically to the inline audit."""
    from mapreduce_kmeans_clustering_spark.operators.web import (
        boilerplate_index,
        flag_boilerplate_index,
        remove_boilerplate,
    )

    flags = flag_boilerplate_index(
        boilerplate_index(chrome_docs), min_frac=0.8, min_df=2
    )
    got = remove_boilerplate(
        chrome_docs, min_frac=0.8, min_df=2, flagged=flags
    )
    inline = remove_boilerplate(chrome_docs, min_frac=0.8, min_df=2)
    assert _rows(got) == _rows(inline)


def test_index_merge_immune_to_nul_byte_line(spark):
    """Regression (code-review r11): a real crawl line consisting of a
    NUL byte must NOT merge into the domain-total row — the first cut's
    coalesce sentinel made exactly that forgeable in line_regex mode."""
    from mapreduce_kmeans_clustering_spark.operators.web import (
        boilerplate_index,
        extend_boilerplate_index,
    )

    docs = spark.createDataFrame(
        [(1, "https://a.com/1", "\x00\nreal line"),
         (2, "https://a.com/2", "\x00\nother line")],
        "doc_id LONG, url STRING, text STRING",
    )
    idx = boilerplate_index(docs, tokens_per_line=None, line_regex="\n")
    merged = extend_boilerplate_index(idx, idx.limit(0))
    rows = {(r["domain"], r["line"]): r["n_docs"] for r in merged.collect()}
    # the NUL line is an ordinary line row; the domain total stays 2
    assert rows[("a.com", None)] == 2
    assert rows[("a.com", "\x00")] == 2


def test_remove_boilerplate_tolerates_duplicate_flag_rows(spark, chrome_docs):
    """Regression (code-review r11): a caller-supplied flag table with
    duplicate (domain, line) rows must not multiply exploded lines."""
    from mapreduce_kmeans_clustering_spark.operators.web import (
        boilerplate_lines,
        remove_boilerplate,
    )

    flags = boilerplate_lines(chrome_docs, min_frac=0.8, min_df=2)
    doubled = flags.unionByName(flags)  # no distinct
    got = {
        r["doc_id"]: r
        for r in remove_boilerplate(
            chrome_docs, min_frac=0.8, min_df=2, flagged=doubled
        ).collect()
    }
    assert (got[1]["n_lines"], got[1]["n_removed"]) == (3, 1)
    assert got[1]["clean_text"] == "alpha beta gamma one two"


def test_web_corpus_pipeline_stage_precedence(spark):
    """The capstone DAG (web.web_corpus_pipeline): one verdict row per
    input doc, fixed stage precedence, and each audit column computed
    exactly at its stage — benchmark > url_dup > over_domain_cap >
    low_quality > (scrub) > selected/passed, with contamination spans
    EXCISED from survivors rather than dropping them."""
    from mapreduce_kmeans_clustering_spark.operators.web import (
        web_corpus_pipeline,
    )

    # every aligned 3-token pseudo-line of body(i) contains a
    # doc-specific token, so domain-mates share NO aligned window and
    # the boilerplate stage flags ONLY the deliberately shared nav
    # line (any shared aligned chunk across 2 domain docs would
    # legitimately be flagged at min_df=2)
    def body(i):
        return " ".join(f"word{i}x{j} the and" for j in range(8))

    rows = [
        # benchmark reference (never trained on)
        (100, "https://bench.org/eval", 10,
         "the held out benchmark asks secret eval answer in context"),
        # a.com: three URL-unique docs; cap=2 drops the lowest-ranked
        (1, "https://a.com/x", 100, body(1) + " secret eval answer"),
        (3, "https://a.com/y", 50, body(3)),
        (7, "https://a.com/z", 10, body(7)),
        # url_dup of doc 1 (same normalized URL: query dropped)
        (2, "https://a.com/x?utm=1", 60, "never reaches text stages"),
        # b.com: junk text below the quality bar
        (4, "https://b.com/z", 40, "zzz 123"),
        # c.com: two kept docs sharing a leading 3-token nav line
        (5, "https://c.com/w", 40, "nav bar home " + body(5)),
        (6, "https://c.com/v", 30, "nav bar home " + body(6)),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id LONG, url STRING, n_chars INT, text STRING"
    )
    out = web_corpus_pipeline(
        docs, F.col("doc_id") == 100,
        cap=2, quality_min=0.3, select_k=1,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == len(rows)  # nothing dropped or double-counted
    assert got[100]["status"] == "benchmark"
    assert got[2]["status"] == "url_dup"
    assert got[7]["status"] == "over_domain_cap"
    assert got[4]["status"] == "low_quality"
    # low_quality rows carry quality + boilerplate audit, nothing later
    assert got[4]["quality"] is not None
    assert got[4]["clean_tokens"] is None
    # survivors: 1, 3, 5, 6 — exactly one selected at k=1
    surv = [got[i]["status"] for i in (1, 3, 5, 6)]
    assert sorted(surv) == ["passed", "passed", "passed", "selected"]
    # doc 1 shares the 3-gram 'secret eval answer' with the benchmark:
    # exactly that span (3 tokens) is excised, the doc survives
    assert got[1]["n_contam_removed"] == 3
    assert got[3]["n_contam_removed"] == 0
    # the shared c.com nav line is flagged (2/2 docs) and removed once
    # from each; a.com's distinct texts flag nothing
    assert got[5]["n_boiler_removed"] == 1
    assert got[6]["n_boiler_removed"] == 1
    assert got[1]["n_boiler_removed"] == 0
    # clean token accounting: survivors keep kept-line tokens minus
    # contamination
    assert got[1]["clean_tokens"] > 0
    assert all(got[i]["logweight"] is not None for i in (1, 3, 5, 6))


def test_url_blocklist_filter_semantics(spark):
    """Blocklist: segment-aligned path prefixes ('/p/1' never blocks
    '/p/10'), domain bans on the registrable domain, fixed precedence
    blocked_domain > blocked_path > pass, smallest-pattern
    tie-breaking, duplicate rules harmless, NULL-URL docs pass."""
    from mapreduce_kmeans_clustering_spark.operators.web import (
        url_blocklist_filter,
    )

    docs = spark.createDataFrame(
        [
            (1, "https://bad.com/p/1"),        # domain AND path hit
            (2, "https://ok.org/p/1"),         # path exact
            (3, "https://ok.org/p/1/deep"),    # path extends at '/'
            (4, "https://ok.org/p/10"),        # NOT '/p/1' (aligned)
            (5, "https://sub.bad.com/other"),  # registrable domain ban
            (6, "https://fine.net/x"),         # pass
            (7, None),                         # NULL URL passes
            (8, "https://ok.org/p/1"),         # two path rules match
        ],
        "doc_id LONG, url STRING",
    )
    rules = spark.createDataFrame(
        [("domain", "bad.com"), ("domain", "bad.com"),  # dup rule
         ("path_prefix", "/p/1"), ("path_prefix", "/p")],
        "kind STRING, pattern STRING",
    )
    got = {r["doc_id"]: (r["status"], r["rule"])
           for r in url_blocklist_filter(docs, rules).collect()}
    assert got[1] == ("blocked_domain", "bad.com")  # precedence
    assert got[2] == ("blocked_path", "/p")         # smallest pattern
    assert got[3][0] == "blocked_path"
    assert got[4] == ("blocked_path", "/p")         # '/p' yes, '/p/1' no
    assert got[5] == ("blocked_domain", "bad.com")
    assert got[6] == ("pass", None)
    assert got[7] == ("pass", None)
    assert got[8][0] == "blocked_path"
    assert len(got) == 8  # one row per doc, dup rules fan nothing out

    # patterns get the document side's normalization: a trailing
    # slash or uppercase domain must not silently no-op the ban
    # (code-review r12)
    sloppy = spark.createDataFrame(
        [("domain", "Bad.COM"), ("path_prefix", "/p/1/")],
        "kind STRING, pattern STRING",
    )
    got2 = {r["doc_id"]: r["status"]
            for r in url_blocklist_filter(docs, sloppy).collect()}
    assert got2[5] == "blocked_domain"
    assert got2[2] == "blocked_path" and got2[4] == "pass"
