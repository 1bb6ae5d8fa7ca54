"""Continuous corpus ingest: the streaming legs of the batch curation
indexes. Each leg screens or scores an arriving document stream
against a STORED index (MinHash bands, normalized URLs, boilerplate
lines, a Bloom filter, a DSIR profile, a passage gram index) and
writes one verdict row per batch doc; the legs that maintain an index
also write the batch's own index under an underscore-hidden side
path, folded in between runs by the batch operator's merge.

Exactly-once contract: every micro-batch writes to its own
``ingest_batch=<epoch>`` directory with mode=overwrite, so a replayed
epoch (checkpoint recovery) overwrites its own output instead of
duplicating it — the standard idempotent file-sink pattern when the
target isn't a transactional table.

Scale notes: the stored index is materialized once and reused by
every micro-batch, so per-batch cost is O(batch) plus one equi-join
into the index, never corpus work; state on the streaming side is only
the file-source log — the index lives in a relation the caller
maintains, which is the right place at 100 TB (a watermark cannot
bound "ever seen before" semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window


def stream_near_dedup_ingest(
    docs_stream: DataFrame,
    index_docs: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    num_hashes: int = 8,
    band_width: int = 2,
    n: int = 3,
    verify_threshold: float = 0.3,
    index_band_table: DataFrame | None = None,
) -> StreamingQuery:
    """NEAR-dup screening of an arriving document stream against the
    ingested corpus — the streaming composition of
    ``operators/dedup.incremental_minhash_dedup`` (VERDICT r8 item 6):
    this query flags arriving docs that are near-COPIES of ingested
    ones, writing one verdict row per batch doc (doc_id, status
    'near_dup' | 'new', dup_of, jaccard) as parquet under
    ``ingest_batch=<epoch>`` (idempotent overwrite — the module's
    replay-safe per-epoch layout).

    Scale shape: the corpus participates only through its banded
    MinHash table, materialized ONCE here (eager localCheckpoint) and
    reused verbatim by every micro-batch — per-batch cost is O(batch
    shingles) + one equi-join into that index, never corpus work; at
    100 TB pass the stored band table as ``index_band_table`` and the
    corpus rows are touched only to re-shingle verification
    candidates. Doc ids must be globally unique across stream and
    corpus (any real pipeline's invariant) — verification merges both
    sides' shingle sets by id."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        incremental_minhash_dedup,
        lsh_bands,
        minhash_signatures,
        validate_band_width,
    )

    supplied_index = index_band_table is not None
    if supplied_index:
        # Validate the supplied index ONCE, before .start() AND before
        # the eager checkpoint: a width mismatch fails loudly in one
        # first() against the stored table (milliseconds) instead of
        # after materializing the whole index (minutes at corpus
        # scale) — and instead of silently recall-0 inside the stream.
        # The per-batch path then skips the probe job entirely (ADVICE
        # r9: it used to fire a first() every micro-batch via
        # incremental_minhash_dedup's default).
        validate_band_width(index_band_table, band_width)
    else:
        index_band_table = lsh_bands(
            minhash_signatures(index_docs, num_hashes, n), band_width
        )
    idx = index_band_table.localCheckpoint(eager=True)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        verdicts = incremental_minhash_dedup(
            batch_df,
            index_docs,
            num_hashes=num_hashes,
            band_width=band_width,
            n=n,
            verify_threshold=verify_threshold,
            index_band_table=idx,
            validate_index=False,
        )
        verdicts.write.mode("overwrite").parquet(
            f"{out_path}/ingest_batch={epoch_id}"
        )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_url_dedup_ingest(
    docs_stream: DataFrame,
    index_urls: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> StreamingQuery:
    """URL-exact dedup of an arriving crawl stream against the
    already-ingested corpus — the streaming twin of
    ``operators/web.url_dedup``, completing the web family's
    batch + incremental story the way stream_near_dedup_ingest does
    for MinHash (round 11). Per arriving doc, one verdict row
    (id, norm_url, status, dup_of) with status
    'url_dup_corpus' (its normalized URL is already ingested) |
    'url_dup_batch' (a lower-id doc in the SAME micro-batch claimed
    the URL first; dup_of points at it) | 'keep', written as parquet
    under ``ingest_batch=<epoch>`` (idempotent per-epoch overwrite —
    replay-safe like the other ingest sinks).

    NULL-handling matches the batch operator: a NULL URL has no URL
    identity — always 'keep', never claimed, never a claimant.

    Scale shape: the corpus participates only through its DISTINCT
    normalized-URL column, materialized ONCE here (eager
    localCheckpoint) and probed per batch with a left-semi-shaped
    anti-join split; the within-batch first-claim window is bounded by
    the micro-batch (maxFilesPerTrigger), never the stream. Dedup
    state lives in the URL relation the caller maintains — the right
    place at 100 TB; a watermark cannot bound "ever crawled before"
    semantics. The caller appends each epoch's kept norm_urls to the
    stored relation between runs (same index-maintenance contract as
    extend_band_index for the MinHash path)."""
    from mapreduce_kmeans_clustering_spark.operators.web import (
        url_normalize_expr,
    )

    idx = (
        index_urls.select(F.col("norm_url").alias("__inu"))
        .where(F.col("__inu").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        nu = url_normalize_expr(F.col(url_col))
        base = batch_df.select(
            F.col(id_col),
            nu.alias("norm_url"),
            F.coalesce(
                nu,
                F.concat(
                    F.lit("\x00nourl:"), F.col(id_col).cast("string")
                ),
            ).alias("__k"),
        )
        # ONE probe of the corpus index per batch (code-review r11: a
        # semi-join + anti-join pair embedded the probe twice in the
        # plan — the dominant per-batch cost, doubled). idx is
        # distinct, so the left join cannot multiply rows; a key
        # either hits the corpus (every batch claimant is a corpus
        # dup) or its lowest id wins the in-batch claim.
        flagged = base.join(
            idx, base["__k"] == idx["__inu"], "left"
        ).withColumn("__corpus", F.col("__inu").isNotNull())
        w = Window.partitionBy("__k").orderBy(id_col)
        verdicts = flagged.withColumn(
            "__first", F.min(id_col).over(w)
        ).select(
            id_col,
            "norm_url",
            F.when(F.col("__corpus"), "url_dup_corpus")
            .when(F.col(id_col) != F.col("__first"), "url_dup_batch")
            .otherwise("keep")
            .alias("status"),
            F.when(
                ~F.col("__corpus") & (F.col(id_col) != F.col("__first")),
                F.col("__first"),
            ).alias("dup_of"),
        )
        verdicts.write.mode("overwrite").parquet(
            f"{out_path}/ingest_batch={epoch_id}"
        )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_boilerplate_ingest(
    docs_stream: DataFrame,
    boiler_index: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_per_line: int | None = 3,
    line_regex: str | None = None,
    min_frac: float = 0.3,
    min_df: int = 2,
    joiner: str = " ",
) -> StreamingQuery:
    """Boilerplate scrubbing of an arriving crawl stream against the
    STORED detector state — the streaming leg of the web family's
    third index (``web.boilerplate_index``), same contract as
    ``stream_url_dedup_ingest`` and the MinHash band path. Per
    micro-batch:

    - every arriving doc is scrubbed with the flags REPLAYED from the
      caller's stored index (``flag_boilerplate_index`` — computed
      once here, eager localCheckpoint; the per-batch cost is one
      broadcast join + one doc-keyed aggregate over the batch), and
      written as (id, clean_text, n_lines, n_removed) parquet under
      ``ingest_batch=<epoch>`` (idempotent per-epoch overwrite,
      replay-safe like the other ingest sinks);
    - the batch's OWN mergeable index is written under
      ``out_path/_batch_index/ingest_batch=<epoch>`` (the underscore
      keeps it invisible to parquet reads of ``out_path``). The
      caller folds each epoch's batch index into the stored relation
      between runs via ``extend_boilerplate_index`` — detector state
      is maintained outside the stream, the right place at 100 TB,
      exactly the extend_band_index / extend_url_index contract.

    Honest limit (also in DEPLOY.md): flags reflect history as of the
    stored index, so a NEW domain's chrome is not flagged until its
    cumulative doc count clears the bar — early arrivals of a young
    domain pass through unscrubbed. That is the correct streaming
    semantics for a frequency-defined property; re-scrub history
    after an index rebuild when it matters."""
    from mapreduce_kmeans_clustering_spark.operators.web import (
        boilerplate_index,
        flag_boilerplate_index,
        remove_boilerplate,
    )

    flags = flag_boilerplate_index(
        boiler_index, min_frac=min_frac, min_df=min_df
    ).select("domain", "line").localCheckpoint(eager=True)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # two actions share one source read via persist (code-review
        # r11 — the stream_url_dedup_ingest doubled-probe lesson); the
        # tokenize/explode itself deliberately runs once per action,
        # NOT materialized: the exploded line table is larger than the
        # batch, so caching it costs more than the second codegen'd
        # regexp pass (the decontam-scrub trade, QUERIES.md §3)
        batch_df.persist()
        try:
            scrubbed = remove_boilerplate(
                batch_df,
                url_col,
                text_col=text_col,
                id_col=id_col,
                tokens_per_line=tokens_per_line,
                line_regex=line_regex,
                joiner=joiner,
                flagged=flags,
            )
            scrubbed.write.mode("overwrite").parquet(
                f"{out_path}/ingest_batch={epoch_id}"
            )
            boilerplate_index(
                batch_df,
                url_col,
                text_col=text_col,
                id_col=id_col,
                tokens_per_line=tokens_per_line,
                line_regex=line_regex,
            ).write.mode("overwrite").parquet(
                f"{out_path}/_batch_index/ingest_batch={epoch_id}"
            )
        finally:
            batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_bloom_ingest(
    docs_stream: DataFrame,
    bloom_filter: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> StreamingQuery:
    """Bloom-screen an arriving document stream against the STORED
    filter — the streaming leg of the memory-bounded exact-dup screen
    (``dedup.bloom_screen_from_filter``), fourth member of the ingest
    index family (band index, URL index, boilerplate index). Per
    micro-batch:

    - every arriving doc gets its verdict against the stored filter
      ('new' is GUARANTEED absent from everything the filter has
      absorbed; 'maybe_dup' pays the exact-verification lookup), and
      (id, verdict) lands as parquet under ``ingest_batch=<epoch>``
      (idempotent per-epoch overwrite, replay-safe);
    - the batch's OWN filter words are written under
      ``out_path/_batch_filter/ingest_batch=<epoch>`` (underscore =
      hidden from data reads, the family convention). The caller
      folds epochs into the stored filter between runs via
      ``dedup.merge_bloom_filters`` (word tables merge by bit_or;
      ``extend_bloom_filter`` is the twin that takes raw docs) — and
      because bit_or is IDEMPOTENT, folding a replayed epoch twice is
      harmless, a strictly stronger replay story than the additive
      count indexes.

    Honest limit (the family's): verdicts reflect the filter as the
    caller last folded it — two copies arriving in the SAME epoch are
    both 'new' (neither is in the stored state yet); the fold makes
    the second copy's next appearance 'maybe_dup'. m is read from the
    stored filter's geometry sentinel, so a wrong-modulus probe is
    impossible by construction."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        _bloom_probe,
        _bloom_sentinel,
        _bloom_word_bits,
        bloom_filter_m_bits,
    )

    # m is read from the sentinel ONCE here — the filter is immutable
    # for the stream's lifetime, so the per-batch probe goes through
    # _bloom_probe directly instead of re-collecting the sentinel
    # every epoch (code-review r12); the packing itself lives in the
    # shared _bloom_word_bits so the side output's binary format can
    # never fork from the build's
    m_bits = bloom_filter_m_bits(bloom_filter)
    filt = bloom_filter.localCheckpoint(eager=True)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            _bloom_probe(
                filt, batch_df, m_bits, k, text_col, id_col
            ).write.mode("overwrite").parquet(
                f"{out_path}/ingest_batch={epoch_id}"
            )
            _bloom_word_bits(batch_df, k, m_bits, text_col).unionByName(
                _bloom_sentinel(batch_df, m_bits)
            ).write.mode("overwrite").parquet(
                f"{out_path}/_batch_filter/ingest_batch={epoch_id}"
            )
        finally:
            batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_dsir_ingest(
    docs_stream: DataFrame,
    profile: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Score an arriving document stream against the STORED DSIR
    profile — the streaming leg of the importance-resampling data
    selector (``curation.dsir_logweights_from_profile``), fifth member
    of the ingest index family (band index, URL index, boilerplate
    index, Bloom filter). Per micro-batch:

    - every arriving doc gets its (n_feats, logweight) as-of the
      stored profile, landed as parquet under ``ingest_batch=<epoch>``
      (idempotent per-epoch overwrite, replay-safe);
    - the batch's OWN raw-side bucket counts are written under
      ``out_path/_batch_profile/ingest_batch=<epoch>`` (underscore =
      hidden from data reads, the family convention). The caller folds
      epochs into the stored profile between runs via
      ``curation.merge_dsir_profiles`` (``extend_dsir_profile`` is the
      raw-docs twin). Counts are ADDITIVE — exact for disjoint epochs,
      but NOT idempotent (the count-index class, unlike the Bloom
      fold): the per-epoch directories are the replay bookkeeping.

    Honest limit (the family's): weights reflect the profile as the
    caller last folded it — arrivals do not shift the raw model
    mid-run; the fold makes them count from the next run on. Geometry
    (n_buckets, bigrams) is read from the profile's sentinel, so a
    wrong-modulus score is impossible by construction."""
    from mapreduce_kmeans_clustering_spark.operators.curation import (
        _dsir_score_from_profile,
        dsir_profile,
        dsir_profile_geometry,
    )

    # geometry read ONCE; the profile is immutable for the stream's
    # lifetime (the bloom-stream precedent)
    n_buckets, bigrams = dsir_profile_geometry(profile)
    prof = profile.localCheckpoint(eager=True)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            _dsir_score_from_profile(
                prof, batch_df, n_buckets, bigrams, text_col, id_col
            ).write.mode("overwrite").parquet(
                f"{out_path}/ingest_batch={epoch_id}"
            )
            dsir_profile(
                batch_df,
                F.lit(False),
                n_buckets=n_buckets,
                bigrams=bigrams,
                text_col=text_col,
                id_col=id_col,
            ).write.mode("overwrite").parquet(
                f"{out_path}/_batch_profile/ingest_batch={epoch_id}"
            )
        finally:
            batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_passage_ingest(
    docs_stream: DataFrame,
    gram_index: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> StreamingQuery:
    """Scrub an arriving document stream against the STORED passage
    gram index — the streaming leg of cross-document repeated-passage
    removal (``dedup.passage_scrub_delta``), sixth member of the
    ingest index family. Per micro-batch:

    - every arriving doc is re-emitted with the spans the corpus
      already contains excised, landed as parquet under
      ``ingest_batch=<epoch>`` (idempotent per-epoch overwrite);
    - the batch's OWN gram counts (computed over the ORIGINAL arrival
      text — the scrubbed text's seam grams are derived data) land
      under ``out_path/_batch_index/ingest_batch=<epoch>``; the
      caller folds epochs via ``dedup.merge_passage_indexes``
      (``extend_passage_index`` is the raw-docs twin). Additive
      counts + min keepers: exact for disjoint epochs, NOT
      replay-idempotent — per-epoch directories are the bookkeeping.

    Honest limit (the family's): scrub verdicts reflect the index as
    last folded — two copies of a NOVEL passage arriving in the same
    epoch both keep it; the fold excises the third copy onward.
    Geometry (n, hash_fn) is read once from the sentinel."""
    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        _passage_scrub_delta_core,
        passage_gram_index,
        passage_index_geometry,
    )

    n, hash_fn = passage_index_geometry(gram_index)
    idx = gram_index.localCheckpoint(eager=True)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            _passage_scrub_delta_core(
                idx, batch_df, n, hash_fn, text_col, id_col
            ).write.mode("overwrite").parquet(
                f"{out_path}/ingest_batch={epoch_id}"
            )
            passage_gram_index(
                batch_df, n, text_col, id_col, hash_fn
            ).write.mode("overwrite").parquet(
                f"{out_path}/_batch_index/ingest_batch={epoch_id}"
            )
        finally:
            batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
