"""Structured-streaming tests: file source -> memory sink, driven
synchronously with processAllAvailable; streaming results must agree
with the equivalent batch computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark import schemas


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Batch-convert the nanosecond testdata events to a streamable
    micros-timestamp parquet directory (several files => several
    micro-batches under maxFilesPerTrigger)."""
    from mapreduce_kmeans_clustering_spark.queries._shared import _events

    out = str(tmp_path_factory.mktemp("events_stream"))
    e = _events(spark, "/root/testdata/sf0.001")
    e.repartition(4).write.mode("overwrite").parquet(out)
    return out


def _docs_stream(spark, path, max_files_per_trigger=4):
    """JSONL document stream with the canonical schema, bounded batches."""
    return (
        spark.readStream.schema(schemas.DOCUMENTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def _run_to_memory(df, name):
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return name


def test_stream_cms_shards_merge_to_batch_sketch(spark, events_dir, tmp_path):
    """Streaming sketch pipeline: each micro-batch writes its own CMS
    shard (foreachBatch append); re-summing the shards equals the
    one-pass batch sketch — the mergeability that lets a stream keep a
    bounded-memory frequency summary forever."""
    from mapreduce_kmeans_clustering_spark.functions.sketch import cms_counts

    out = str(tmp_path / "cms_shards")

    def sink(batch_df, batch_id):
        cms_counts(batch_df, "user_id").write.mode("append").parquet(out)

    stream = (
        spark.readStream.schema(spark.read.parquet(events_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    q = stream.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()

    merged = (
        spark.read.parquet(out)
        .groupBy("d", "b")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .orderBy("d", "b")
        .collect()
    )
    whole = (
        cms_counts(spark.read.parquet(events_dir), "user_id")
        .orderBy("d", "b")
        .collect()
    )
    assert merged == whole


def test_stream_histogram_counts_match_batch(spark, events_dir):
    """Streaming histogram: bucket counts aggregated in complete mode
    equal the batch bucketing — the counts table IS the quantile
    sketch state, so a stream can serve p50/p95 continuously."""
    from mapreduce_kmeans_clustering_spark.functions.sketch import (
        histogram_quantiles,
    )

    bucket = F.least(
        F.lit(99), F.greatest(F.lit(0), F.floor(F.col("value") / 5.0))
    ).cast("int")
    stream = (
        spark.readStream.schema(spark.read.parquet(events_dir).schema)
        .parquet(events_dir)
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
    )
    _run_to_memory(stream, "hist_out")
    got = {
        (r["bucket"]): r["n"] for r in spark.sql("SELECT * FROM hist_out").collect()
    }
    want = {
        r["bucket"]: r["n"]
        for r in spark.read.parquet(events_dir)
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_foreachbatch_upsert_is_replay_safe(spark, tmp_path):
    """Exactly-once per partition on retry: replaying the same
    micro-batch through upsert_partitions rewrites its partitions
    instead of appending duplicates."""
    from pyspark.sql import types as T

    from mapreduce_kmeans_clustering_spark.sinks.partitioned import (
        upsert_partitions,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "table")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("day", T.StringType())]
    )
    spark.createDataFrame(
        [(1, "d1"), (2, "d1"), (3, "d2")], schema
    ).coalesce(1).write.parquet(src)

    calls = []

    def sink(batch_df, batch_id):
        # simulate a task retry: the same batch lands TWICE
        upsert_partitions(batch_df, table, ["day"])
        upsert_partitions(batch_df, table, ["day"])
        calls.append(batch_id)

    stream = spark.readStream.schema(schema).parquet(src)
    q = stream.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()
    assert calls  # the sink ran
    back = spark.read.parquet(table)
    assert back.count() == 3  # no duplicates from the replay
    assert {r["k"] for r in back.collect()} == {1, 2, 3}


def test_stream_static_dimension_enrichment(spark, events_dir):
    """Stream-static join: each micro-batch enriches against a static
    dimension (re-read per batch by Spark, no state store); result
    equals the batch join."""
    dim = spark.createDataFrame(
        [("view", "browse"), ("click", "browse"), ("purchase", "buy"),
         ("signup", "acct"), ("error", "ops")],
        "event_type STRING, family STRING",
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(events_dir).schema)
        .parquet(events_dir)
        .join(dim, "event_type")
        .groupBy("family")
        .agg(F.count("*").alias("n"))
    )
    _run_to_memory(stream, "enrich_out")
    got = {r["family"]: r["n"] for r in spark.sql("SELECT * FROM enrich_out").collect()}
    want = {
        r["family"]: r["n"]
        for r in spark.read.parquet(events_dir)
        .join(dim, "event_type")
        .groupBy("family")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_stream_near_dedup_ingest_flags_near_copies(spark, tmp_path):
    """Streaming index-vs-delta near-dedup: arriving docs are screened
    against the corpus's MinHash band index per micro-batch; a
    near-copy (one word changed) is flagged with its source doc and
    Jaccard, novel docs pass as 'new', and the verdicts equal the
    batch operator run on the same (batch, corpus) split — the
    streaming path adds delivery, not semantics."""
    import json

    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        incremental_minhash_dedup,
    )
    from mapreduce_kmeans_clustering_spark.streaming.ingest import (
        stream_near_dedup_ingest,
    )

    corpus_rows = [
        (1000, "the quick brown fox jumps over the lazy dog today", "en", "web"),
        (1001, "completely unrelated corpus document about spark physical plans", "en", "web"),
    ]
    index_docs = spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in corpus_rows],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )

    src = tmp_path / "arrivals"
    src.mkdir()
    arrivals = [
        # near-copy of 1000: one appended word -> Jaccard 8/9 and two
        # shared MinHash bands (verified deterministically: md5 band
        # signatures collide for this exact pair)
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog today again",
         "lang": "en", "source": "web", "n_chars": 56},
        # novel
        {"doc_id": 2, "text": "entirely novel arrival with its own fresh words",
         "lang": "en", "source": "web", "n_chars": 48},
    ]
    (src / "a.jsonl").write_text(json.dumps(arrivals[0]) + "\n")
    (src / "b.jsonl").write_text(json.dumps(arrivals[1]) + "\n")

    out = str(tmp_path / "verdicts")
    q = stream_near_dedup_ingest(
        _docs_stream(spark, str(src), max_files_per_trigger=1),
        index_docs,
        out,
        str(tmp_path / "ckpt"),
        verify_threshold=0.3,
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in spark.read.parquet(f"{out}/ingest_batch=*").collect()
    }
    assert got[1] == ("near_dup", 1000)
    assert got[2] == ("new", None)

    # batch-operator equivalence on the same split
    batch_docs = spark.createDataFrame(
        [(a["doc_id"], a["text"], a["lang"], a["source"], a["n_chars"])
         for a in arrivals],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    ref = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for r in incremental_minhash_dedup(
            batch_docs, index_docs, verify_threshold=0.3
        ).collect()
    }
    assert got == ref


def test_stream_near_dedup_validates_supplied_index_once(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9: the band_width probe must run ONCE before .start()
    — not one first() job per micro-batch — and a mismatched supplied
    index must fail loudly before any stream starts."""
    import json

    import pytest as _pt

    from mapreduce_kmeans_clustering_spark.operators import dedup as D
    from mapreduce_kmeans_clustering_spark.streaming import ingest as ing
    from mapreduce_kmeans_clustering_spark.streaming.ingest import (
        stream_near_dedup_ingest,
    )

    index_docs = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog today",
          "en", "web", 50)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    src = tmp_path / "arrivals"
    src.mkdir()
    for i, txt in enumerate(
        ["first novel arrival with fresh words",
         "second novel arrival with other words"]
    ):
        (src / f"{i}.jsonl").write_text(json.dumps(
            {"doc_id": i + 1, "text": txt, "lang": "en", "source": "web",
             "n_chars": len(txt)}) + "\n")

    # mismatched width: raises BEFORE .start() (no StreamingQuery)
    wide = D.lsh_bands(
        D.minhash_signatures(index_docs, num_hashes=8), band_width=4
    )
    with _pt.raises(ValueError, match="band_width"):
        stream_near_dedup_ingest(
            _docs_stream(spark, str(src), max_files_per_trigger=1),
            index_docs,
            str(tmp_path / "v0"),
            str(tmp_path / "c0"),
            band_width=2,
            index_band_table=wide,
        )

    # matched width: the probe fires exactly once for a 2-batch stream
    calls = {"n": 0}
    real = D.validate_band_width

    def spy(tbl, w):
        calls["n"] += 1
        return real(tbl, w)

    monkeypatch.setattr(D, "validate_band_width", spy)
    ok = D.lsh_bands(
        D.minhash_signatures(index_docs, num_hashes=8), band_width=2
    )
    q = stream_near_dedup_ingest(
        _docs_stream(spark, str(src), max_files_per_trigger=1),
        index_docs,
        str(tmp_path / "v1"),
        str(tmp_path / "c1"),
        band_width=2,
        index_band_table=ok,
    )
    q.awaitTermination(120)
    batches = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "v1") + "/ingest_batch=*").collect()
    }
    assert batches == {1, 2}
    assert calls["n"] == 1


def test_stream_url_dedup_ingest_verdicts(spark, tmp_path):
    """Streaming URL-exact dedup (round 11): arriving docs are screened
    against the ingested corpus's normalized-URL relation per
    micro-batch — a re-crawl of an ingested page is 'url_dup_corpus',
    the second in-batch claimant of one URL is 'url_dup_batch' pointing
    at the first, fresh URLs and NULL-URL docs are 'keep', and every
    arrival gets exactly one verdict row."""
    import glob
    import json

    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.streaming.ingest import (
        stream_url_dedup_ingest,
    )

    src = tmp_path / "arrivals"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "recrawl of ingested page", "lang": "en", "source": "web", "n_chars": 24},
        {"doc_id": 2, "text": "first claimant", "lang": "en", "source": "web", "n_chars": 14},
        {"doc_id": 3, "text": "second claimant", "lang": "en", "source": "web", "n_chars": 15},
        {"doc_id": 4, "text": "no url at all", "lang": "en", "source": "web", "n_chars": 13},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    # planted URLs: doc 1 hits the corpus; docs 2+3 share one URL;
    # doc 4 has none
    url = (
        F.when(F.col("doc_id") == 1, "https://www.seen.com/p/1")
        .when(F.col("doc_id").isin(2, 3), "http://shared.com/x")
        .otherwise(F.lit(None).cast("string"))
    )
    stream = _docs_stream(spark, str(src)).withColumn("url", url)
    index_urls = spark.createDataFrame(
        [("seen.com/p/1",), ("other.com/q",)], "norm_url STRING"
    )
    out = str(tmp_path / "out")
    q = stream_url_dedup_ingest(
        stream, index_urls, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["status"], r["dup_of"])
        for p in glob.glob(f"{out}/ingest_batch=*")
        for r in spark.read.parquet(p).collect()
    }
    assert got == {
        1: ("url_dup_corpus", None),
        2: ("keep", None),
        3: ("url_dup_batch", 2),
        4: ("keep", None),
    }


def test_stream_boilerplate_ingest_scrubs_and_emits_batch_index(spark, tmp_path):
    """Streaming boilerplate scrub (round 11 continuation): arriving
    docs are cleaned with flags replayed from the STORED index (known
    chrome cut; a young domain's chrome passes through — the
    cumulative-frequency semantics), the per-epoch batch index lands
    under the underscore-hidden side path, and folding it into the
    stored index raises the young domain over the bar for the next
    run."""
    import glob
    import json

    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.web import (
        extend_boilerplate_index,
        flag_boilerplate_index,
    )
    from mapreduce_kmeans_clustering_spark.streaming.ingest import (
        stream_boilerplate_ingest,
    )

    src = tmp_path / "arrivals"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "nav home menu real article words", "lang": "en", "source": "web", "n_chars": 32},
        {"doc_id": 2, "text": "nav home menu other stuff here", "lang": "en", "source": "web", "n_chars": 30},
        {"doc_id": 3, "text": "promo buy now young domain words", "lang": "en", "source": "web", "n_chars": 32},
        {"doc_id": 4, "text": "promo buy now different body text", "lang": "en", "source": "web", "n_chars": 33},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    url = (
        F.when(F.col("doc_id").isin(1, 2), F.concat(F.lit("https://old.com/p/"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("https://young.org/p/"), F.col("doc_id")))
    )
    stream = _docs_stream(spark, str(src)).withColumn("url", url)
    # stored index: old.com has 10 docs, all carrying 'nav home menu';
    # young.org has never been seen
    stored = spark.createDataFrame(
        [("old.com", "nav home menu", 10), ("old.com", None, 10)],
        "domain STRING, line STRING, n_docs LONG",
    )
    out = str(tmp_path / "out")
    q = stream_boilerplate_ingest(stream, stored, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {
        r["doc_id"]: r["clean_text"]
        for p in glob.glob(f"{out}/ingest_batch=*")
        for r in spark.read.parquet(p).collect()
    }
    # known chrome scrubbed; young domain untouched this epoch
    assert got[1] == "real article words"
    assert got[2] == "other stuff here"
    assert got[3] == "promo buy now young domain words"
    # the hidden batch-index path never leaks into the main read
    main_cols = set(spark.read.parquet(glob.glob(f"{out}/ingest_batch=*")[0]).columns)
    assert main_cols == {"doc_id", "clean_text", "n_lines", "n_removed"}

    # fold the epoch's index into the stored one: young.org's chrome
    # (2/2 docs) now clears the 30% bar for the next run
    batch_idx = spark.read.parquet(
        glob.glob(f"{out}/_batch_index/ingest_batch=*")[0]
    )
    merged = extend_boilerplate_index(stored, batch_idx)
    flagged = {
        (r["domain"], r["line"])
        for r in flag_boilerplate_index(merged).collect()
    }
    assert ("young.org", "promo buy now") in flagged
    assert ("old.com", "nav home menu") in flagged


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_stream_bloom_ingest_screens_and_folds(spark, tmp_path):
    """Streaming Bloom screen (round 12): arriving docs are screened
    against the STORED filter (known text -> maybe_dup, unseen ->
    new; two copies in one epoch are both 'new' — the family's
    index-as-of-last-fold semantics), the per-epoch batch filter
    lands under the hidden side path with its geometry sentinel, and
    folding it makes a replay of the same docs 'maybe_dup'. bit_or
    idempotence also makes double-folding an epoch harmless —
    merged-then-remerged equals merged, pinned here."""
    import glob
    import json

    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        bloom_filter_words,
        bloom_screen_from_filter,
        extend_bloom_filter,
    )
    from mapreduce_kmeans_clustering_spark.streaming.ingest import (
        stream_bloom_ingest,
    )

    corpus = spark.createDataFrame(
        [(i, f"stored corpus document {i}") for i in range(30)],
        "doc_id LONG, text STRING",
    )
    stored, _m = bloom_filter_words(corpus)
    stored = stored.localCheckpoint(eager=True)

    src = tmp_path / "arrivals"
    src.mkdir()
    rows = [
        {"doc_id": 100, "text": "stored corpus document 7", "lang": "en", "source": "web", "n_chars": 24},
        {"doc_id": 101, "text": "a brand new arrival", "lang": "en", "source": "web", "n_chars": 19},
        {"doc_id": 102, "text": "a brand new arrival", "lang": "en", "source": "web", "n_chars": 19},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    out = str(tmp_path / "out")
    q = stream_bloom_ingest(
        _docs_stream(spark, str(src)), stored, out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: r["verdict"]
        for p in glob.glob(f"{out}/ingest_batch=*")
        for r in spark.read.parquet(p).collect()
    }
    assert got[100] == "maybe_dup"          # no false negative
    assert got[101] == "new" and got[102] == "new"  # same-epoch copies

    # fold the epoch's side-output filter (the documented contract:
    # word tables merge via merge_bloom_filters): the replayed
    # arrival is now maybe_dup
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        merge_bloom_filters,
    )

    batch_filter = spark.read.parquet(
        glob.glob(f"{out}/_batch_filter/ingest_batch=*")[0]
    )
    merged = merge_bloom_filters(stored, batch_filter)
    replay = spark.createDataFrame(
        [(200, "a brand new arrival"), (201, "still unseen text")],
        "doc_id LONG, text STRING",
    )
    v = {r["doc_id"]: r["verdict"]
         for r in bloom_screen_from_filter(merged, replay).collect()}
    assert v[200] == "maybe_dup" and v[201] == "new"

    # the docs-taking twin reaches the identical state (same texts ->
    # same bits), and re-folding the epoch's filter on top is a no-op
    # on every word (bit_or idempotence — the replay-safety claim)
    twin = extend_bloom_filter(
        stored, spark.createDataFrame(
            [(300, "stored corpus document 7"),
             (301, "a brand new arrival"),
             (302, "a brand new arrival")],
            "doc_id LONG, text STRING",
        )
    )
    b = {(r["word"], r["bits"]) for r in merged.collect()}
    assert {(r["word"], r["bits"]) for r in twin.collect()} == b
    a = {(r["word"], r["bits"])
         for r in merge_bloom_filters(merged, batch_filter).collect()}
    assert a == b

    # mismatched geometry is refused loudly
    import pytest as _pytest
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        bloom_filter_words as _bfw,
    )

    other, _ = _bfw(corpus, m_bits=256)
    with _pytest.raises(ValueError, match="geometry mismatch"):
        merge_bloom_filters(stored, other)

    # a filter without the geometry sentinel is refused loudly
    import pytest as _pytest

    bare = stored.where(F.col("word") >= 0)
    with _pytest.raises(ValueError, match="sentinel"):
        bloom_screen_from_filter(bare, replay)


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_stream_dsir_ingest_scores_and_folds(spark, tmp_path):
    """Streaming DSIR scorer (round-12 continuation, fifth index
    family member): arriving docs are scored as-of the STORED profile
    (bit-identical to the batch from-profile scorer on the same
    docs), the per-epoch raw-side bucket counts land under the hidden
    side path with the geometry sentinel, and folding them via
    merge_dsir_profiles reaches EXACTLY the state extend_dsir_profile
    reaches from the raw docs (the additive-index contract)."""
    import glob
    import json

    from mapreduce_kmeans_clustering_spark.operators.curation import (
        dsir_logweights_from_profile,
        dsir_profile,
        extend_dsir_profile,
        merge_dsir_profiles,
    )
    from mapreduce_kmeans_clustering_spark.streaming.ingest import (
        stream_dsir_ingest,
    )

    corpus = spark.createDataFrame(
        [
            (0, "quality prose about careful reasoning", True),
            (1, "careful structured writing with clear reasoning", True),
            (2, "cheap pills online casino bonus click now", False),
            (3, "crawl noise about casino pills and bonus spam", False),
        ],
        "doc_id LONG, text STRING, tgt BOOLEAN",
    )
    prof = dsir_profile(corpus, F.col("tgt"), n_buckets=64).localCheckpoint(
        eager=True
    )

    src = tmp_path / "arrivals"
    src.mkdir()
    rows = [
        {"doc_id": 100, "text": "careful reasoning and clear writing", "lang": "en", "source": "web", "n_chars": 35},
        {"doc_id": 101, "text": "casino bonus pills spam click", "lang": "en", "source": "web", "n_chars": 29},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    out = str(tmp_path / "out")
    q = stream_dsir_ingest(
        _docs_stream(spark, str(src)), prof, out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["n_feats"], r["logweight"])
        for p in glob.glob(f"{out}/ingest_batch=*")
        for r in spark.read.parquet(p).collect()
    }
    arrivals = spark.createDataFrame(
        [(100, "careful reasoning and clear writing"),
         (101, "casino bonus pills spam click")],
        "doc_id LONG, text STRING",
    )
    want = {
        r["doc_id"]: (r["n_feats"], r["logweight"])
        for r in dsir_logweights_from_profile(prof, arrivals).collect()
    }
    assert got == want  # stream == batch twin, bit-identical
    # target-like arrival outranks spam-like arrival under the model
    assert got[100][1] > got[101][1]

    # fold the epoch side output; it must equal the raw-docs twin
    side = spark.read.parquet(
        glob.glob(f"{out}/_batch_profile/ingest_batch=*")[0]
    )
    via_merge = sorted(map(tuple, merge_dsir_profiles(prof, side).collect()))
    via_docs = sorted(
        map(tuple, extend_dsir_profile(prof, arrivals).collect())
    )
    assert via_merge == via_docs


@pytest.mark.slow  # 7-12 s band, sibling fast coverage kept (r13)
def test_stream_passage_ingest_scrubs_and_folds(spark, tmp_path):
    """Streaming passage scrub (round-12 continuation, sixth index
    family member): arrivals are scrubbed against the STORED gram
    index (clone -> empty, novel -> untouched; two same-epoch copies
    of a NOVEL passage both keep it — index-as-of-last-fold), the
    per-epoch gram counts land under the hidden side path, and
    folding them equals the raw-docs extension exactly."""
    import glob
    import json

    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        extend_passage_index,
        merge_passage_indexes,
        passage_gram_index,
        passage_scrub_delta,
    )
    from mapreduce_kmeans_clustering_spark.streaming.ingest import (
        stream_passage_ingest,
    )

    base = "alpha bravo charlie delta echo foxtrot golf hotel"
    corpus = spark.createDataFrame(
        [(1, base), (2, "some other corpus text entirely different here")],
        "doc_id LONG, text STRING",
    )
    idx = passage_gram_index(corpus, n=5).localCheckpoint(eager=True)

    novel = "brand new shared passage words seven eight nine ten"
    src = tmp_path / "arrivals"
    src.mkdir()
    rows = [
        {"doc_id": 100, "text": base, "lang": "en", "source": "web", "n_chars": len(base)},
        {"doc_id": 101, "text": novel, "lang": "en", "source": "web", "n_chars": len(novel)},
        {"doc_id": 102, "text": novel, "lang": "en", "source": "web", "n_chars": len(novel)},
    ]
    (src / "a.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    out = str(tmp_path / "out")
    q = stream_passage_ingest(
        _docs_stream(spark, str(src)), idx, out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: r
        for p in glob.glob(f"{out}/ingest_batch=*")
        for r in spark.read.parquet(p).collect()
    }
    assert got[100]["scrubbed_text"] == "" and got[100]["n_removed"] == 8
    # same-epoch copies of a novel passage both pass (honest limit)
    assert got[101]["n_removed"] == 0 and got[102]["n_removed"] == 0

    # fold the epoch's side output == raw-docs extension, exactly
    side = spark.read.parquet(glob.glob(f"{out}/_batch_index/ingest_batch=*")[0])
    arrivals = spark.createDataFrame(
        [(100, base), (101, novel), (102, novel)], "doc_id LONG, text STRING"
    )
    via_merge = sorted(map(tuple, merge_passage_indexes(idx, side).collect()))
    via_docs = sorted(map(tuple, extend_passage_index(idx, arrivals).collect()))
    assert via_merge == via_docs
    # after the fold, a THIRD copy of the novel passage is scrubbed
    merged = merge_passage_indexes(idx, side)
    third = spark.createDataFrame([(200, novel)], "doc_id LONG, text STRING")
    v = passage_scrub_delta(merged, third).collect()[0]
    assert v["scrubbed_text"] == "" and v["n_removed"] == 9
