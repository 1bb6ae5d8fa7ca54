"""Sequence packing invariants: contiguous layout (each doc starts
where the previous one ended, mod pack_len), straddle counting, empty
docs occupy one slot's worth of nothing (n_packs 1, zero advance)."""

from __future__ import annotations

from mapreduce_kmeans_clustering_spark.operators.packing import pack_sequences


def _docs(spark, rows):
    return spark.createDataFrame(rows, "source STRING, doc_id BIGINT, text STRING")


def test_layout_is_contiguous_per_group(spark):
    rows = [("a", i, " ".join(f"t{j}" for j in range(7 * (i + 1)))) for i in range(40)]
    rows += [("b", i, "one two three") for i in range(5)]
    out = pack_sequences(_docs(spark, rows), pack_len=50).collect()
    by_group: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r["source"], r["doc_id"])):
        by_group.setdefault(r["source"], []).append(r)
    for rs in by_group.values():
        offset = 0
        for r in rs:
            assert (r["pack_id"], r["offset_in_pack"]) == (offset // 50, offset % 50)
            offset += r["n_tokens"]


def test_straddle_and_empty_docs(spark):
    rows = [
        ("a", 1, " ".join(f"t{j}" for j in range(8))),   # pack 0, offset 0
        ("a", 2, ""),                                      # empty: 1 pack, no advance
        ("a", 3, " ".join(f"t{j}" for j in range(5))),   # offsets 8..12 -> straddles
    ]
    got = {r["doc_id"]: r for r in pack_sequences(_docs(spark, rows), pack_len=10).collect()}
    assert (got[1]["pack_id"], got[1]["n_packs"]) == (0, 1)
    assert (got[2]["n_tokens"], got[2]["n_packs"], got[2]["offset_in_pack"]) == (0, 1, 8)
    assert (got[3]["pack_id"], got[3]["offset_in_pack"], got[3]["n_packs"]) == (0, 8, 2)


def test_chunk_documents_boundaries_and_overlap(spark):
    from mapreduce_kmeans_clustering_spark.operators.packing import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    rows = [(0, words), (1, "short doc"), (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = chunk_documents(df, chunk_len=4, overlap=1)  # stride 3
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_start"], r["chunk_tokens"], r["chunk_text"])
        for r in out.collect()
    }
    # 10 tokens, len 4, stride 3: chunks at 0,3,6 cover to 10 -> 3 chunks
    assert {k for k in got if k[0] == 0} == {(0, 0), (0, 1), (0, 2)}
    assert got[(0, 0)] == (0, 4, "w0 w1 w2 w3")
    assert got[(0, 1)] == (3, 4, "w3 w4 w5 w6")  # 1-token overlap
    assert got[(0, 2)] == (6, 4, "w6 w7 w8 w9")
    # shorter than chunk_len -> single short chunk
    assert got[(1, 0)] == (0, 2, "short doc")
    # empty / null text -> one empty chunk
    assert got[(2, 0)] == (0, 0, "")
    assert got[(3, 0)] == (0, 0, "")


def test_chunk_documents_no_shuffle_and_guards(spark):
    import pytest as _pytest

    from mapreduce_kmeans_clustering_spark.operators.packing import chunk_documents

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        chunk_documents(df, chunk_len=64, overlap=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # scan-local: tokenize + explode + slice
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_len=8, overlap=8)


def test_length_buckets_partition_and_waste(spark):
    """Buckets are contiguous in length order and cover every doc;
    per-bucket waste is in [0, 1) and never exceeds the global-padding
    waste for the same docs."""
    from mapreduce_kmeans_clustering_spark.operators.packing import length_buckets

    docs = spark.createDataFrame(
        [(i, "tok " * (i + 1)) for i in range(20)], "doc_id LONG, text STRING"
    )
    out = length_buckets(docs, n_buckets=4).collect()
    assert len(out) == 4
    assert sum(r["n_docs"] for r in out) == 20
    by_bucket = sorted(out, key=lambda r: r["bucket"])
    # contiguity: each bucket's min exceeds the previous bucket's max
    for prev, cur in zip(by_bucket, by_bucket[1:]):
        assert cur["min_tokens"] >= prev["max_tokens"]
    for r in out:
        assert 0.0 <= r["pad_waste"] < 1.0
        assert r["global_waste"] >= r["pad_waste"]
    # uniform 20 docs over 4 buckets -> 5 each (ntile balance)
    assert [r["n_docs"] for r in by_bucket] == [5, 5, 5, 5]


def test_length_buckets_approx_pins(spark):
    """The scale hatch (percentile_approx cutpoints -> scan-local
    bucket) shares with the exact ntile form: the bucket id set, the
    corpus totals, value-contiguous buckets, and each non-final
    bucket's max == its cutpoint. Counts per bucket legitimately
    differ (ntile splits TIED lengths across a boundary to equalize
    counts; value cutpoints keep them together) — that is the labeled
    non-parity, asserted here so it can't silently become parity."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.packing import (
        length_buckets,
        length_buckets_approx,
        token_count,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ex = {r["bucket"]: r for r in length_buckets(docs).collect()}
    ap = {r["bucket"]: r for r in length_buckets_approx(docs).collect()}
    assert sorted(ap) == sorted(ex) == list(range(1, 9))
    assert sum(r["n_docs"] for r in ap.values()) == sum(
        r["n_docs"] for r in ex.values()
    )
    assert sum(r["sum_tokens"] for r in ap.values()) == sum(
        r["sum_tokens"] for r in ex.values()
    )
    # value-contiguity: bucket i+1 starts strictly above bucket i's max
    for b in range(1, 8):
        assert ap[b + 1]["min_tokens"] > ap[b]["max_tokens"]
    # non-final bucket maxima ARE the percentile cutpoints
    cuts = (
        docs.select(token_count(F.col("text")).cast("long").alias("n"))
        .groupBy()
        .agg(F.percentile_approx("n", [i / 8 for i in range(1, 8)], 10_000))
        .collect()[0][0]
    )
    assert [ap[b]["max_tokens"] for b in range(1, 8)] == list(cuts)
    # and the documented non-parity is real on this corpus: at least
    # one bucket count differs from the exact equalized split
    assert any(ap[b]["n_docs"] != ex[b]["n_docs"] for b in ap)
