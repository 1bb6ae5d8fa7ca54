"""Training-data-pipeline + relational query registry: text analysis,
dedup, similarity search, events analytics, TPC-H-style relational
queries, multimodal features. Same contract as queries.py — each entry
is (spark, sf_dir) -> DataFrame with a DuckDB oracle twin (including
the mapInPandas-based q_media_features — its digest stub is md5 math
DuckDB can replay).

Determinism notes mirror queries.py: md5 as the portable hash family,
identical arithmetic shapes both sides, rounding on aggregates, ranks
computed over pre-rounded measures.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_kmeans_clustering_spark.memo import memo
from mapreduce_kmeans_clustering_spark.operators import cdc as CDC
from mapreduce_kmeans_clustering_spark.operators import curation as CU
from mapreduce_kmeans_clustering_spark.operators import incremental as INC
from mapreduce_kmeans_clustering_spark.operators import dedup as D
from mapreduce_kmeans_clustering_spark.operators import joins as J
from mapreduce_kmeans_clustering_spark.operators import multimodal as MM
from mapreduce_kmeans_clustering_spark.operators import similarity as SIM
from mapreduce_kmeans_clustering_spark.operators import text as TX
from mapreduce_kmeans_clustering_spark.functions import sketch as SK
from mapreduce_kmeans_clustering_spark.operators import packing as PK
from mapreduce_kmeans_clustering_spark.operators import sampling as S
from mapreduce_kmeans_clustering_spark.operators import web as W

JACCARD_THRESHOLD = 0.2
VERIFY_THRESHOLD = 0.3
EMBED_DUP_THRESHOLD = 0.5
# q_dedup_embed planted-near-dup knobs (see its docstring): every
# vec_id % MOD == 0 gets a +SHIFT-on-element-1 twin at vec_id +
# OFFSET over the first DIM elements. ALL four constants interpolate
# into BOTH the Spark expression and the DuckDB oracle f-string — a
# one-sided edit cannot silently desynchronize the plant.
EMBED_PLANT_MOD = 25
EMBED_PLANT_OFFSET = 1_000_000
EMBED_PLANT_SHIFT = 0.25
EMBED_PLANT_DIM = 64
# q_idle_rich_customers "no recent orders" cutoff (see its docstring).
IDLE_CUTOFF = "1999-01-01"
# SemDeDup prune threshold: the synthetic corpus tops out at ~0.47-0.49
# in-cluster cosine, so 0.4 keeps the prune branch live at every SF
# (0.5 would register an all-'keep' query and never test pruning).
SEMDEDUP_THRESHOLD = 0.4
ANN_QUERY_IDS = list(range(10))
ANN_K = 3
# multi-probe LSH config for q_ann_lsh / q_ann_recall: 4 planes with a
# Hamming-2 probe ball measures recall 0.73-0.77 on the near-uniform
# synthetic embeddings (single-bucket probing at 8 planes measured
# 0.03 — see tests/test_similarity.py's floor assertions)
LSH_PLANES = 4
LSH_PROBE_HAMMING = 2
IVF_NLIST = 16
IVF_NPROBE = 4
KMEANS_ND_K = 8
# product quantization: 64 dims -> 8 subspaces x 8 dims, 16 codewords
# each (4-bit codes; 128x smaller than the cast double vectors)
PQ_M = 8
PQ_KSUB = 16
PQ_SUB = 8
# temperature mixture (alpha-sampling): mT5/XLM-R report 0.3
TEMP_ALPHA = 0.3
# semantic decontam: 4-plane buckets + cosine 0.3 keep the flagged
# set non-empty on the near-uniform synthetic embeddings at every SF
# (8 planes / 0.5 measured ZERO hits at sf0.01 — an always-empty
# query would be no evidence at all)
SEM_DECON_THRESHOLD = 0.3
LEN_BUCKETS = 8
WINNOW_WINDOW = 4
SAMPLE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.1}
SESSION_GAP_US = 1800 * 1_000_000
SIMHASH_BITS = 16
MAX_HAMMING = 3


def _h6(col):
    """Half-up 6-dp rounding — the shared cross-engine contract
    (functions/rounding.py holds the rationale; this alias keeps the
    ~100 existing call sites short)."""
    from mapreduce_kmeans_clustering_spark.functions.rounding import half_up6

    return half_up6(col)


# Scan-parallelism floor (round-12 optimization, guide §2.5 "input
# skew" / §6.1). The test fixtures arrive as ONE parquet file with ONE
# row group per table, and parquet tasks cannot split a row group — so
# every scan stage ran as a single task, serializing exactly the work
# this engine deliberately keeps scan-local (tokenization, shingling,
# md5 families, HOF cosines, partial aggregation). Measured at sf0.1:
# the two n-gram explode stages of q_ngram_diversity each burned
# ~7.4 s of executor time in a 1-task stage on a 32-core session
# (stage table; plans/r12/*_before.txt show the missing exchange).
# `_t` reads a scale table and, when the scan is too coarse for the
# session (fewer splits than defaultParallelism) and the table is big
# enough to matter, round-robin repartitions to defaultParallelism —
# sort-before-repartition (on by default, SPARK-23207) keeps the
# row-to-partition assignment deterministic under retries. At real
# scale inputs arrive as many files / row groups, the partition count
# already exceeds the core-derived parallelism, and this is a no-op —
# the knob is corpus-derived, not tuned to local[32]. Results are
# unchanged: only physical row placement moves, and every registered
# aggregate already rounds to absorb summation-order noise (the
# declared cross-engine contract in this module's docstring).
_SCAN_SPLIT_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_SCAN_SPLIT_MIN_BYTES", str(64 * 1024))
)

# Per-table bytes-per-split override. The embeddings table feeds the
# Arrow/mapInPandas operators (kmeans_nd, PCA, PQ), where each task
# pays a Python-worker round trip — splitting 2 000 rows to 32 tasks
# MULTIPLIES that fixed cost instead of amortizing it (measured U-curve
# at sf0.1: fit_nd 15.1 s at 1 partition, 8.6 s at 8, 20.5 s at 32).
# Scaling the split by bytes keeps small vector tables at a few
# Arrow-batch-sized tasks while still growing to full parallelism with
# the corpus; CPU-dense text/relational scans keep the core-derived
# target (their per-row work dwarfs task overhead).
_SCAN_BYTES_PER_SPLIT: dict[str, int] = {"embeddings": 96 * 1024}

# Table-default split policy (round 13, VERDICT r12 next-6). The
# round-robin Exchange only pays for itself when heavy per-row work
# runs BETWEEN the scan and the first natural exchange — tokenize/
# shingle/md5/HOF families on the text and vector tables. Join/agg
# -first consumers get their parallelism from their own first shuffle,
# so for them the split is a pure full-data Exchange tax. Idle
# interleaved A/B at sf0.1 (OPTIMIZATION_r13.md, alternating arm order,
# min-of-4): q_pricing_summary 1.93 s split vs 0.57 nosplit,
# q_sales_cube 1.77 vs 0.80, q_top_orders 2.98 vs 1.40,
# q_brand_revenue 1.88 vs 1.18, q_copurchase_triangles 6.37 vs 5.79 —
# while the documents-scanning q_ngram_diversity keeps its split win
# (6.75 vs 8.33). So: documents/embeddings split by default, the
# relational+events tables don't, and the few relational consumers
# with heavy scan-local work (deletion-neighborhood explode, …) opt
# in per call site. At 100 TB every table arrives already split and
# the whole policy is a no-op.
_SCAN_SPLIT_DEFAULT: dict[str, bool] = {"documents": True, "embeddings": True}


def _t(
    spark: SparkSession, sf_dir: str, table: str, split: bool | None = None
) -> DataFrame:
    path = f"{sf_dir}/{table}.parquet"
    df = spark.read.parquet(path)
    try:
        size = os.path.getsize(path) if os.path.isfile(path) else None
    except OSError:  # pragma: no cover - racing filesystem
        size = None
    if size is not None and size < _SCAN_SPLIT_MIN_BYTES:
        return df  # dimension-sized: keep the single-task scan + cheap broadcast
    if split is None:
        split = _SCAN_SPLIT_DEFAULT.get(table, False)
    if not split:
        return df
    target = spark.sparkContext.defaultParallelism
    bps = _SCAN_BYTES_PER_SPLIT.get(table)
    if bps is not None and size is not None:
        target = min(target, max(1, size // bps))
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents")


# Dot-product form gate for the ANN top-k family (round-13, VERDICT
# r12 next-4; guide §1.2 "per-task work" + §4.1). Two bit-identical
# spellings exist (functions/distance contract): the fixed-dim
# UNROLLED tree runs inside whole-stage codegen (~10-30x faster per
# pair) but costs one-time janino compilation of a k_dim-term
# expression per plan, while the HOF form is a constant-size plan
# evaluated interpreted. Idle interleaved measurement at sf0.1 (2 000
# vectors × 10 queries ≈ 2·10^4 pairs): HOF 0.53 s vs unrolled 1.42 s
# warm, 1.1 vs 5.1 s cold — the codegen dominates until the pair
# volume is ~10^5-10^6. The gate derives from the embeddings table's
# size (pairs scale linearly with the corpus at a fixed query list):
# below ~4 MiB (~10^4 vectors, ~10^5 pairs) the constant-size HOF plan
# wins; above it the unrolled form's per-pair advantage pays the
# compile many times over. Results are bit-identical either way
# (pinned by tests/test_similarity + the oracle hash gate), so this
# only moves plan shape.
_ANN_UNROLL_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_ANN_UNROLL_MIN_BYTES", str(4 * 1024 * 1024))
)


def _ann_vec_dim(sf_dir: str, dim: int = 64) -> int | None:
    path = f"{sf_dir}/embeddings.parquet"
    # getsize on a directory returns the dirent size instead of raising,
    # so only a single file is sized; a directory input (real
    # deployment) or a missing path counts as corpus-scale
    if not os.path.isfile(path):
        return dim
    return dim if os.path.getsize(path) >= _ANN_UNROLL_MIN_BYTES else None


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings")


# Buffer-pool memo for the IVF coarse-assignment relation (the _events
# pin pattern): four registered queries (q_ann_ivf, q_ann_recall,
# q_embed_diverse, q_ann_ivfpq) start from the same
# (vec_id, v, list_id) assignment; localCheckpoint(eager=False)
# materializes it once per session on first action instead of
# re-running the broadcast-fanout cosine argmin per query.
@memo
def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.ivf_assign(
        _emb(spark, sf_dir),
        IVF_NLIST,
        unroll=_ann_vec_dim(sf_dir) is not None,
    ).localCheckpoint(eager=False)


# Buffer-pool memo for the events relation, like queries.scale_points:
# ~20 registered queries start from this exact (scan +
# ts-normalization) relation, and without the pin each re-reads the
# parquet and re-derives ts. MEMORY_AND_DISK so a larger SF degrades
# to spill instead of OOM; at true fact-table scale a caller would skip
# the persist (one-shot queries) or pin only the hot projection — the
# helper is the single choke point to change.
@memo
def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table with a microsecond ``ts`` TIMESTAMP,
    persisted.

    Handles both generator encodings seen across driver rounds:
    TIMESTAMP(NANOS) (which the Spark reader only accepts as long via
    the legacy flag — truncated to micros, same as the oracle's
    ts::TIMESTAMP cast) and native TIMESTAMP(MICROS)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    e = _t(spark, sf_dir, "events")
    if dict(e.dtypes)["ts"] == "bigint":
        # integer `div`, not `/`: nanos ~1.7e18 would lose precision as double
        e = e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # TIMESTAMP_NTZ parquet → session-tz TIMESTAMP: value-preserving
    # (session tz pinned UTC) and what unix_micros/window() expect.
    from pyspark.storagelevel import StorageLevel

    return e.withColumn("ts", F.col("ts").cast("timestamp")).persist(
        StorageLevel.MEMORY_AND_DISK
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_text_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.select("source", TX.token_count("text").alias("ntok"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
            F.round(F.avg("ntok"), 4).alias("avg_tokens"),
        )
    )


def q_text_quality(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        TX.token_count("text").cast("long").alias("n_words"),
        _h6(TX.alpha_ratio("text")).alias("alpha_ratio"),
        _h6(TX.stopword_ratio("text")).alias("stop_ratio"),
        _h6(TX.quality_score("text")).alias("quality"),
    )


def q_text_lang(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", TX.lang_id("text").alias("pred_lang")
    )


def q_lang_confusion(spark, sf_dir):
    """Language-ID confusion matrix: the n-gram detector's prediction
    against the metadata label, with per-cell counts and the label's
    recall — the evaluation every heuristic classifier in the
    curation stack owes before its verdicts gate data. One scan + one
    hash aggregate; the tiny label-total join broadcasts."""
    d = _docs(spark, sf_dir).select(
        F.col("lang").alias("label_lang"), TX.lang_id("text").alias("pred_lang")
    )
    cells = d.groupBy("label_lang", "pred_lang").agg(
        F.count("*").cast("long").alias("n")
    )
    totals = d.groupBy("label_lang").agg(F.count("*").alias("_t"))
    return cells.join(F.broadcast(totals), "label_lang").select(
        "label_lang",
        "pred_lang",
        "n",
        F.round(F.col("n") / F.col("_t"), 6).alias("share_of_label"),
    )


def q_text_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", TX.fingerprint("text").alias("fp")
    )


def q_text_winnow(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprint sets per document."""
    return TX.winnow_fingerprints(_docs(spark, sf_dir), n=3, window=WINNOW_WINDOW)


def q_text_redact(spark, sf_dir):
    """PII-masked text (URLs, emails, long digit runs)."""
    return _docs(spark, sf_dir).select(
        "doc_id", TX.redact("text").alias("redacted")
    )


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition filters: duplicate-line fraction and
    modal-bigram occupancy per document."""
    r = TX.repetition_stats(_docs(spark, sf_dir))
    return r.select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"),
    )


def q_sample_mix(spark, sf_dir):
    """Deterministic stratified source mixing: three sources at
    different rates, the rest dropped."""
    from mapreduce_kmeans_clustering_spark.operators.sampling import sample_stratified

    out = sample_stratified(_docs(spark, sf_dir), SAMPLE_RATES)
    return out.select("doc_id", "source")


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return D.exact_dup_groups(_docs(spark, sf_dir))


def q_dedup_minhash(spark, sf_dir):
    return D.lsh_candidate_pairs(_docs(spark, sf_dir))


def q_minhash_accuracy(spark, sf_dir):
    """MinHash estimator accuracy per LSH candidate pair: signature
    agreement (the unbiased Jaccard estimator) vs the true n-gram
    Jaccard and the signed error — the numerical gate behind
    num_hashes/band_width (operators/dedup.minhash_accuracy; the
    q_ann_recall of the dedup family)."""
    m = D.minhash_accuracy(_docs(spark, sf_dir))
    return m.select(
        "a",
        "b",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("true_jaccard", 6).alias("true_jaccard"),
        F.round("err", 6).alias("err"),
    )


def q_minhash_pr(spark, sf_dir):
    """Candidate-set precision/recall of MinHash-LSH blocking against
    the TRUE Jaccard >= t pair set — the b/w band-tuning gate at the
    SET level (q_minhash_accuracy grades the estimator per pair; this
    grades the blocking: how much over-generation the bands cost and
    whether any true pair escapes the buckets). One full-outer join of
    two pair sets, three counts, two divisions — no driver collect.

    Round-13 (guide §5/§6 reuse): the exploded shingle index is built
    ONCE and passed to both operator calls — candidate generation and
    the true-Jaccard side each previously re-ran the full
    tokenize→posexplode→lead-window→distinct chain (VERDICT r12 next-1)."""
    docs = _docs(spark, sf_dir)
    ex = D.exploded_shingles(docs).localCheckpoint(eager=False)
    cand = (
        D.lsh_candidate_pairs(docs, shingles=ex)
        .select("a", "b")
        .withColumn("_c", F.lit(1))
    )
    truth = (
        D.jaccard_pairs(docs, threshold=JACCARD_THRESHOLD, shingles=ex)
        .select("a", "b")
        .withColumn("_t", F.lit(1))
    )
    m = cand.join(truth, ["a", "b"], "full_outer").agg(
        F.sum("_c").cast("long").alias("n_candidates"),
        F.sum("_t").cast("long").alias("n_true"),
        F.sum(F.col("_c") * F.col("_t")).cast("long").alias("n_hits"),
    )
    return m.select(
        "n_candidates",
        "n_true",
        "n_hits",
        F.round(F.col("n_hits") * F.lit(1.0) / F.col("n_candidates"), 6).alias(
            "prec"
        ),
        F.round(F.col("n_hits") * F.lit(1.0) / F.col("n_true"), 6).alias("recall"),
    )


def q_dedup_jaccard(spark, sf_dir):
    p = D.jaccard_pairs(_docs(spark, sf_dir), threshold=JACCARD_THRESHOLD)
    return p.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark, sf_dir):
    return D.simhash(_docs(spark, sf_dir), bits=SIMHASH_BITS)


def q_dedup_simhash_pairs(spark, sf_dir):
    p = D.simhash_pairs(_docs(spark, sf_dir), max_hamming=MAX_HAMMING, bits=SIMHASH_BITS)
    return p.select("a", "b", F.col("hamming").cast("int").alias("hamming"))


def q_dedup_pipeline(spark, sf_dir):
    """End-to-end dedup verdict per doc: exact dedup -> LSH candidates
    over survivors -> Jaccard-verified near-dup drops -> keep."""
    return D.dedup_pipeline(_docs(spark, sf_dir), verify_threshold=VERIFY_THRESHOLD)


@memo
def _dup_groups_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup groups, memoized: the iterative label
    propagation is the most expensive derived relation in the dedup
    family and two registered queries (q_dedup_groups,
    q_dedup_cluster_sizes) start from it — the same buffer-pool
    pattern as queries.scale_points."""
    p = D.jaccard_pairs(_docs(spark, sf_dir), threshold=JACCARD_THRESHOLD)
    return D.dup_groups(p).localCheckpoint(eager=False)


def q_dedup_groups(spark, sf_dir):
    """Transitive dedup groups: Jaccard near-dup pairs promoted to
    connected components via iterative min-label propagation, so each
    document maps to its canonical (minimum-id) representative. The
    piece pair lists alone miss: A~B~C collapses to ONE group even when
    A and C don't pair directly."""
    g = _dup_groups_df(spark, sf_dir)
    return g.select(F.col("node").alias("doc_id"), F.col("group_id"))


def q_dedup_incremental(spark, sf_dir):
    """Ingest-time incremental dedup: docs with doc_id % 5 == 0 play
    the arriving batch, the rest the already-ingested corpus. Each
    batch doc is 'dup_of_corpus' (hash seen historically — the semi-
    join against the corpus hash set), 'dup_in_batch' (an earlier doc
    in the same batch claims the hash first), or 'new'. At 100 TB the
    corpus side is just its DISTINCT hash column — the standard ingest
    filter a continuously-fed training corpus runs, and the shape
    dropDuplicatesWithinWatermark mirrors in streaming."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.col("text")).alias("h")
    )
    batch = d.where(F.col("doc_id") % 5 == 0)
    seen = (
        d.where(F.col("doc_id") % 5 != 0)
        .select("h")
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    firsts = batch.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    return (
        batch.join(seen, "h", "left")
        .join(firsts, "h")
        .select(
            "doc_id",
            F.when(F.col("_seen") == 1, F.lit("dup_of_corpus"))
            .when(F.col("doc_id") != F.col("first_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def q_dedup_embed(spark, sf_dir):
    """Embedding near-dup pairs within hyperplane-LSH buckets (bucket
    equi-join + exact in-bucket cosine — no driver collect, no
    corpus-sized broadcast; the oracle mirrors the bucketing so the
    comparison is exact despite recall < 1 vs brute all-pairs).

    The synthetic embeddings tables hold no natural pair above the 0.5
    threshold at ANY test SF (max in-bucket cos ~0.49 at sf0.1), which
    made the registered check vacuously green — 0 rows = 0 rows says
    nothing about the bucketed-cosine path (round-5 VERDICT item 2).
    So the query plants deterministic near-dups: every vec_id % 25 == 0
    gains a copy at vec_id + 1_000_000 with element 1 shifted +0.25
    (exact double arithmetic both engines, so buckets and cosines stay
    bit-identical cross-engine). The planted twin of a unit vector has
    cos ~0.97 with its source; the ones whose +0.25 shift flips a
    hyperplane sign drop out in BOTH engines identically (the
    recall < 1 semantics under test). Non-vacuous at every SF:
    14/12/46 pairs at sf0.001/sf0.01/sf0.1 under the round-12
    corpus-aware bucketing (4/4/5 planes; the retired fixed planes=8
    form found 9/9/34)."""
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    planted = e.where(F.col("vec_id") % EMBED_PLANT_MOD == 0).select(
        (F.col("vec_id") + F.lit(EMBED_PLANT_OFFSET)).alias("vec_id"),
        F.concat(
            F.array(
                F.element_at("embedding", 1) + F.lit(EMBED_PLANT_SHIFT)
            ),
            F.slice("embedding", 2, EMBED_PLANT_DIM - 1),
        ).alias("embedding"),
    )
    # planes=None → similarity.auto_planes(count of corpus + plants):
    # the corpus-aware blocking rule, re-pinned in round 12 (VERDICT
    # r11 item 2 — this was the LAST registered pair generator on a
    # fixed granularity; fixed plane counts are the measured SCALE.md
    # §8 quadratic cliff). The oracle derives the same plane count
    # from count(*) over its planted union, so parity stays exact:
    # 4 planes at sf0.001/sf0.01 (corpus+plants ≤ 2000), 5 at sf0.1
    # (2080 vectors).
    p = D.embedding_near_dup_pairs(
        e.unionByName(planted), threshold=EMBED_DUP_THRESHOLD, planes=None
    )
    return p.select("a", "b", F.round("cos", 6).alias("cos"))


KNN_K = 3


def q_knn_graph(spark, sf_dir):
    """Approximate kNN graph: every vector's top-KNN_K in-bucket
    cosine neighbors (operators/similarity.knn_graph) — the graph
    substrate for connectivity-based curation; bucket equi-join +
    per-source rank window, never n^2."""
    # planes=None → similarity.auto_planes(count): the corpus-aware
    # blocking rule (4 + ceil(log2(n/2000)), capped at 24) that keeps
    # per-bucket occupancy ~constant as the corpus grows — the fixed
    # planes=8 form this replaced measured e = 1.07 / 176 s at ×100 vs
    # 0.50 / 20.7 s auto (SCALE.md §8, VERDICT r9 item 2). The oracle
    # replays the same rule with a gated 24-term bucket expression.
    g = SIM.knn_graph(_emb(spark, sf_dir), k=KNN_K, planes=None)
    return g.select("src", "dst", "rank", F.round("cos", 6).alias("cos"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def q_ann_topk(spark, sf_dir):
    t = SIM.cosine_topk(
        _emb(spark, sf_dir), ANN_QUERY_IDS, k=ANN_K, vec_dim=_ann_vec_dim(sf_dir)
    )
    return t.select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))


def q_ann_lsh(spark, sf_dir):
    t = SIM.lsh_topk(
        _emb(spark, sf_dir),
        ANN_QUERY_IDS,
        k=ANN_K,
        planes=LSH_PLANES,
        probe_hamming=LSH_PROBE_HAMMING,
        vec_dim=_ann_vec_dim(sf_dir),
    )
    return t.select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))


# Buffer-pool memo for the exact cosine top-k BASELINE the recall
# gates compare against (q_ann_recall, q_ann_dim_recall): the baseline
# is harness cost, not the operator under measurement, so it is built
# once per (application, sf_dir) instead of per gate (the standing
# SCALE.md §4.22 efficiency note). q_ann_topk deliberately does NOT
# use it — that query IS the brute-force operator measurement.
@memo
def _exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.cosine_topk(
        _emb(spark, sf_dir),
        ANN_QUERY_IDS,
        k=ANN_K,
        vec_dim=_ann_vec_dim(sf_dir),
    ).localCheckpoint(eager=False)


def q_ann_recall(spark, sf_dir):
    """Recall@k of both ANN paths (hyperplane LSH, IVF-flat) against
    the exact brute-force top-k, one row per method — the measurement a
    vector-search user needs before trusting planes/nprobe settings.
    hits/possible are integer pair counts; recall is one division."""
    emb = _emb(spark, sf_dir)
    exact = _exact_topk(spark, sf_dir)
    lsh = SIM.lsh_topk(
        emb, ANN_QUERY_IDS, k=ANN_K, planes=LSH_PLANES,
        probe_hamming=LSH_PROBE_HAMMING, vec_dim=_ann_vec_dim(sf_dir),
    )
    ivf = SIM.ivf_topk(
        emb,
        ANN_QUERY_IDS,
        k=ANN_K,
        nlist=IVF_NLIST,
        nprobe=IVF_NPROBE,
        assigned=_ivf_assigned(spark, sf_dir),
    )
    return SIM.recall_vs_exact(exact, lsh, "lsh").unionByName(
        SIM.recall_vs_exact(exact, ivf, "ivf")
    )


def q_embed_quantize(spark, sf_dir):
    """Symmetric int8 quantization quality stats per embedding."""
    from mapreduce_kmeans_clustering_spark.operators.quantize import quantization_error

    qe = quantization_error(_emb(spark, sf_dir))
    return qe.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        "q_sum",
        F.round("mse", 6).alias("mse"),
    )


def _pq_books(spark, sf_dir):
    """Seeded PQ codebooks for the oracle-gated PQ queries (first
    PQ_KSUB vectors by id, sliced — the SQL-derivable policy;
    operators/pq.train_codebooks is the quality path, pinned better in
    tests/test_pq.py)."""
    from mapreduce_kmeans_clustering_spark.operators.pq import seeded_codebooks

    return seeded_codebooks(_emb(spark, sf_dir), m=PQ_M, ksub=PQ_KSUB)


def q_pq_encode(spark, sf_dir):
    """Product-quantize every embedding: 8 subspace codes (4-bit
    domain) + squared-reconstruction MSE — the 128x-compressed
    representation ADC search scans. Encode is scan-local (codebooks
    ride the plan as literals; no join, no Exchange)."""
    from mapreduce_kmeans_clustering_spark.operators.pq import pq_encode

    enc = pq_encode(_emb(spark, sf_dir), _pq_books(spark, sf_dir))
    return enc.select(
        "vec_id",
        *[
            F.element_at(F.col("codes"), s + 1).cast("int").alias(f"c{s}")
            for s in range(PQ_M)
        ],
        F.round(F.col("recon_sqdist") / 64, 6).alias("mse"),
    )


def q_pq_adc(spark, sf_dir):
    """ADC top-k: exact query vector against PQ codes — the
    compressed-domain ANN path (expression form; the numpy-LUT
    production twin pq_adc_topk_lut is pinned equal in tests)."""
    from mapreduce_kmeans_clustering_spark.operators.pq import pq_adc_topk

    t = pq_adc_topk(
        _emb(spark, sf_dir), _pq_books(spark, sf_dir), ANN_QUERY_IDS, k=ANN_K
    )
    return t.select(
        "query_id", "neighbor_id", "rank", F.round("adist", 6).alias("adist")
    )


# Buffer-pool memo for the IVFADC top-k relation (the _ivf_assigned
# pin pattern): q_ann_ivfpq and q_ann_ivfpq_recall consume the same
# two-level index search; localCheckpoint(eager=False) materializes it
# once per session instead of re-running the coarse-probe + ADC scan.
@memo
def _ivfpq_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_kmeans_clustering_spark.operators.pq import ivfpq_topk

    return ivfpq_topk(
        _emb(spark, sf_dir),
        ANN_QUERY_IDS,
        k=ANN_K,
        nlist=IVF_NLIST,
        nprobe=IVF_NPROBE,
        assigned=_ivf_assigned(spark, sf_dir),
    ).localCheckpoint(eager=False)


def q_ann_ivfpq(spark, sf_dir):
    """IVFADC: coarse inverted lists + product-quantized residuals +
    asymmetric distance (the two-level billion-scale index
    architecture; operators/pq.ivfpq_topk). Candidate work per query
    is |corpus| * nprobe / nlist pairs over 4-byte codes."""
    t = _ivfpq_top(spark, sf_dir)
    return t.select(
        "query_id", "neighbor_id", "rank", F.round("adist", 6).alias("adist")
    )


def q_ann_ivfpq_recall(spark, sf_dir):
    """Recall@k of IVFADC against the exact UNCOMPRESSED L2 top-k —
    the quantization-loss gate (VERDICT r4 item 3): q_ann_ivfpq has a
    bit-exact algorithm oracle, but the production question is how
    much answer quality the 128x compression + nprobe/nlist pruning
    actually costs. Same one-row (method, hits, possible, recall)
    shape as q_ann_recall; the floor is asserted in
    tests/test_similarity.py::test_ivfpq_recall_floor."""
    emb = _emb(spark, sf_dir)
    exact = SIM.sqdist_topk(emb, ANN_QUERY_IDS, k=ANN_K)
    return SIM.recall_vs_exact(exact, _ivfpq_top(spark, sf_dir), "ivfpq")


def q_fuzzy_suppliers(spark, sf_dir):
    """Fuzzy record linkage: supplier-name pairs within Levenshtein
    distance 1 via deletion-neighborhood blocking (operators/joins.
    fuzzy_self_join_ed1 — exact: blocking is provably complete for
    ed<=1, verify filter drops shared-deletion distance-2 pairs). The
    oracle is the BRUTE pairwise join, so the driver equality check is
    the completeness proof on real data."""
    supp = _t(spark, sf_dir, "supplier")
    return J.fuzzy_self_join_ed1(
        supp.select(F.col("s_suppkey"), F.col("s_name")),
        name_col="s_name",
        id_col="s_suppkey",
    )


def q_semantic_decontam(spark, sf_dir):
    """Embedding-space decontamination: training vectors whose cosine
    to any benchmark vector (held-out split: vec_id % 10 == 0)
    reaches SEM_DECON_THRESHOLD, with the best match — catches the
    paraphrase contamination the n-gram q_decontam misses. Hyperplane-
    bucket equi-join between the corpora (operators/curation.
    semantic_decontam), never train × benchmark."""
    emb = _emb(spark, sf_dir)
    out = CU.semantic_decontam(
        emb.where(F.col("vec_id") % 10 != 0),
        emb.where(F.col("vec_id") % 10 == 0),
        threshold=SEM_DECON_THRESHOLD,
        planes=LSH_PLANES,
    )
    return out.select(
        "train_id", "bench_id", F.round("cos", 6).alias("cos"), "n_matches"
    )


def q_embed_outliers(spark, sf_dir):
    """Embedding outlier detection for curation: the 3 vectors per
    label FARTHEST (lowest cosine) from their label's centroid — the
    mislabeled/noise candidates a cleaning pass reviews first. One
    hash aggregate builds the per-label centroid (64 avg columns,
    each rounded to 6dp so cross-engine float-sum low bits cannot
    flip the hash — the q_embed_dimstats convention), broadcast back
    (|labels| rows), cosine scan-local, bottom-k per label via rank
    window."""
    from mapreduce_kmeans_clustering_spark.functions.distance import (
        cosine_similarity,
    )

    ve = _emb(spark, sf_dir).select(
        "label",
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    cent = ve.groupBy("label").agg(
        *[
            F.round(F.avg(F.col("v")[i]), 6).alias(f"_c{i}")
            for i in range(64)
        ]
    )
    cent = cent.select(
        "label", F.array(*[F.col(f"_c{i}") for i in range(64)]).alias("c")
    )
    j = ve.join(F.broadcast(cent), "label")
    scored = j.select(
        "label",
        "vec_id",
        cosine_similarity(F.col("v"), F.col("c")).alias("cos"),
    )
    w = Window.partitionBy("label").orderBy("cos", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("label", "vec_id", "rank", F.round("cos", 6).alias("cos"))
    )


def q_kmeans_nd_step(spark, sf_dir):
    """One n-dimensional Lloyd step over the embeddings table: assign
    every vector to the nearest of the first NLIST seed vectors by
    squared Euclidean distance (lowest-id ties), then per-cluster
    stats + a per-dimension-mean checksum.

    This query intentionally uses the in-order JVM expression form
    (zip_with + aggregate) rather than the BLAS path of
    plans/kmeans_nd.py, so the arithmetic is bit-identical to the
    DuckDB oracle; the BLAS path is the production driver and is pinned
    against numpy in tests."""
    ve = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    seeds = F.broadcast(
        ve.where(F.col("vec_id") < KMEANS_ND_K).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("c")
        )
    )
    dist = F.aggregate(
        F.zip_with(F.col("v"), F.col("c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    best = (
        ve.crossJoin(seeds)
        .select("vec_id", "v", "cid", dist.alias("d"))
        .groupBy("vec_id", "v")
        .agg(F.min(F.struct(F.col("d"), F.col("cid").alias("cid"))).alias("b"))
        .select("v", F.col("b.cid").alias("cluster"))
    )
    dim_mean_sum = None
    for i in range(1, 65):
        t = F.avg(F.element_at(F.col("v"), i))
        dim_mean_sum = t if dim_mean_sum is None else dim_mean_sum + t
    return best.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg(F.element_at(F.col("v"), 1)), 6).alias("d0"),
        F.round(F.avg(F.element_at(F.col("v"), 2)), 6).alias("d1"),
        F.round(dim_mean_sum, 4).alias("mean_sum"),
    )


def q_ann_ivf(spark, sf_dir):
    t = SIM.ivf_topk(
        _emb(spark, sf_dir),
        ANN_QUERY_IDS,
        k=ANN_K,
        nlist=IVF_NLIST,
        nprobe=IVF_NPROBE,
        assigned=_ivf_assigned(spark, sf_dir),
    )
    return t.select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))


# ---------------------------------------------------------------------------
# Events analytics
# ---------------------------------------------------------------------------


def q_events_hourly(spark, sf_dir):
    e = _events(spark, sf_dir)
    hour = F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
    return (
        e.groupBy(hour.alias("hour"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def q_events_sessions(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    return (
        e.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("new_s").cast("long").alias("n_sessions"),
        )
    )


def q_events_top_users(spark, sf_dir):
    e = _events(spark, sf_dir)
    totals = e.groupBy("user_id").agg(F.round(F.sum("value"), 4).alias("total"))
    w = Window.orderBy(F.col("total").desc(), F.col("user_id"))
    return (
        totals.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 10)
        .select("user_id", "total", "rank")
    )


def q_events_json(spark, sf_dir):
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


def q_events_funnel(spark, sf_dir):
    """Ordered conversion funnel per user (view -> click -> purchase):
    each stage's timestamp must not precede the previous stage's first
    occurrence. Three chained aggregations; every join key is user_id."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    tv = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("tv")
    )
    tc = (
        e.join(tv, "user_id")
        .groupBy("user_id", "tv")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") >= F.col("tv")),
                    F.col("ts"),
                )
            ).alias("tc")
        )
    )
    tp = (
        e.join(tc, "user_id")
        .groupBy("user_id", "tv", "tc")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") >= F.col("tc")),
                    F.col("ts"),
                )
            ).alias("tp")
        )
    )
    stage = (
        F.when(F.col("tp").isNotNull(), "purchase")
        .when(F.col("tc").isNotNull(), "click")
        .when(F.col("tv").isNotNull(), "view")
        .otherwise("none")
    )
    return (
        tp.select(stage.alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


def q_sales_cube(spark, sf_dir):
    """CUBE over (returnflag, linestatus) — all grouping-set
    combinations in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


def q_customer_cumulative(spark, sf_dir):
    """Running revenue per customer over order date — a cumulative
    ROWS frame (deterministic: date ties broken by order key, so the
    in-frame summation order is pinned on both engines)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("cum_revenue"),
    )


def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles of event value per type (p50,
    p90, p99) — the percentile_cont/quantile_cont pair is linear
    interpolation in both engines."""
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 4).alias("p50"),
        F.round(F.percentile("value", 0.9), 4).alias("p90"),
        F.round(F.percentile("value", 0.99), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Relational breadth (TPC-H-style)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def q_top_orders(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    joined = rev.join(
        orders, rev["l_orderkey"] == orders["o_orderkey"]
    ).join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
    return (
        joined.select("o_orderkey", "c_custkey", "c_mktsegment", "revenue")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 10)
    )


def q_brand_revenue(spark, sf_dir):
    """Revenue per (part brand, supplier nation) for recent shipments:
    the fact table joins three broadcast dims, with the date predicate
    pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("p_brand", F.col("n_name").alias("supp_nation"))
        .agg(
            F.round(F.sum(rev), 2).alias("revenue"),
            F.count("*").cast("long").alias("n_items"),
        )
    )


def q_parts_no_discount(spark, sf_dir):
    """Anti-join breadth (absent from the reference, SURVEY §2.2):
    parts that never shipped with a deep discount. LEFT ANTI against
    the filtered fact table — Catalyst builds the filtered key set
    once, no materialized distinct needed."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    deep = li.where(F.col("l_discount") > 0.08).select("l_partkey")
    return part.join(
        deep, F.col("p_partkey") == F.col("l_partkey"), "left_anti"
    ).select("p_partkey", "p_brand")


def q_region_rollup(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    ).join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
    )


# ---------------------------------------------------------------------------
# Multimodal: the digest-stub feature math is md5-over-utf8, so even the
# mapInPandas path has an exact DuckDB oracle (the checksum terms are
# binary fractions i/256 — rounding is exact in both engines).
# ---------------------------------------------------------------------------


def q_media_features(spark, sf_dir):
    media = MM.synthesize_media(_docs(spark, sf_dir))
    feats = MM.extract_features(media)
    checksum = F.aggregate(F.col("features"), F.lit(0.0), lambda a, x: a + x)
    return feats.select(
        "media_id", "kind", "n_bytes", F.round(checksum, 6).alias("feat_checksum")
    )


# ---------------------------------------------------------------------------
# Time joins (as-of + interval), set operations, distinct aggregation,
# pivot, per-group top-k — the SURVEY §2.2 "absent from the reference"
# categories, each exercised end-to-end with a DuckDB oracle.
# ---------------------------------------------------------------------------

# Six fixed 2-day campaign windows over the events month; literal and
# identical on both engines so the interval join is deterministic.
CAMPAIGNS = [
    (i, f"2024-01-{2 + 4 * i:02d} 00:00:00", f"2024-01-{4 + 4 * i:02d} 00:00:00")
    for i in range(6)
]
PIVOT_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_attrib(spark, sf_dir):
    """Purchase attribution: each purchase joined AS-OF to the same
    user's latest prior 'view' (ms_since_view and the view's id; null
    when the purchase precedes every view). One sort-shuffle on
    user_id — no range join, no per-key quadratic work.

    Oracle tie assumption: DuckDB's ASOF JOIN has no tie-break clause,
    so the oracle relies on (user_id, ts) being unique among views —
    true of the generated events table (event_id is unique per ts
    draw). The Spark side passes right_order=view_event_id, which is
    the deterministic superset of that assumption; if the fixture ever
    gained duplicate (user_id, ts) views the oracle, not this query,
    would need a dedup-to-max-event_id pre-step."""
    e = _events(spark, sf_dir)
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    out = J.asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="view_ts",
        payload=["view_ts", "view_event_id"],
        right_order="view_event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "view_event_id",
        F.expr("(unix_micros(ts) - unix_micros(view_ts)) div 1000").alias(
            "ms_since_view"
        ),
    )


def q_events_campaign(spark, sf_dir):
    """Per-campaign reach: events interval-joined to literal campaign
    windows via day-bucket equi-join (see operators/joins.py), then
    count / distinct-user / value rollup per campaign."""
    e = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    iv = spark.createDataFrame(
        CAMPAIGNS, "campaign_id INT, start_s STRING, end_s STRING"
    ).select(
        "campaign_id",
        F.col("start_s").cast("timestamp").alias("start_ts"),
        F.col("end_s").cast("timestamp").alias("end_ts"),
    )
    joined = J.interval_join(e, iv, "ts", "start_ts", "end_ts", 86400)
    return joined.groupBy("campaign_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def q_user_segments(spark, sf_dir):
    """Set operations (INTERSECT / EXCEPT, distinct semantics): users
    who both viewed and purchased, minus those who hit an error in the
    first two days (over a full month every user errors eventually, so
    the subtrahend is windowed to keep the result non-vacuous)."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    of_type = lambda t: e.where(F.col("event_type") == t).select("user_id")
    early_err = e.where(
        (F.col("event_type") == "error")
        & (F.col("ts") < F.lit("2024-01-03").cast("timestamp"))
    ).select("user_id")
    return of_type("purchase").intersect(of_type("view")).subtract(early_err)


def q_priority_distinct(spark, sf_dir):
    """Multi-distinct aggregation per nation over the orders fact:
    Catalyst plans this as a single Expand + two-phase aggregate, so
    it stays one shuffle despite two DISTINCT columns."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("active_customers"),
            F.count_distinct("o_orderpriority").cast("long").alias("n_priorities"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )


def q_events_pivot(spark, sf_dir):
    """Pivot (long→wide) with an explicit column list — never inferred
    from data, so the output schema is stable across scale factors and
    the pivot needs no extra distinct-values job."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("user_id")
        .pivot("event_type", PIVOT_EVENT_TYPES)
        .agg(F.round(F.sum("value"), 4))
    )


def q_approx_distinct(spark, sf_dir):
    """KMV distinct-count sketch (functions/sketch.py) next to the
    exact count: deterministic cross-engine approximate-distinct,
    unlike HLL whose estimates are engine-specific. Estimates distinct
    orders per return flag from the lineitem fact."""
    li = _t(spark, sf_dir, "lineitem")
    est = SK.kmv_distinct(li, ["l_returnflag"], "l_orderkey", k=64)
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "l_returnflag").select(
        "l_returnflag", "n_kept", "est_distinct", "exact_distinct"
    )


def q_order_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the generalization CUBE/ROLLUP queries
    specialize): per-priority and per-status order totals plus a grand
    total in one pass — Catalyst plans a single Expand, one shuffle."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView(
        "__orders_gs"
    )
    return spark.sql(
        """
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


def q_text_tokens(spark, sf_dir):
    """Word tokens vs GPT-2-style BPE pretokens per doc (operators/
    text.py BPE_RE — RE2-safe, so DuckDB runs the identical pattern).
    The divergence between the two counts is itself a quality signal:
    punctuation/code-heavy docs inflate bpe relative to words."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        TX.token_count("text").cast("long").alias("word_tokens"),
        TX.bpe_token_count("text").cast("long").alias("bpe_tokens"),
    )


def q_engaged_customers(spark, sf_dir):
    """Semi-join + UNION ALL (the two §2.2 shapes not yet named in the
    registry): customers that placed a high-value order, unioned with
    customers holding a high account balance, counted per segment with
    their provenance."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 150000).select("o_custkey")
    buyers = cust.join(
        big, cust["c_custkey"] == big["o_custkey"], "left_semi"
    ).select("c_mktsegment", F.lit("big_order").alias("via"))
    rich = cust.where(F.col("c_acctbal") > 5000).select(
        "c_mktsegment", F.lit("high_balance").alias("via")
    )
    return (
        buyers.unionAll(rich)
        .groupBy("c_mktsegment", "via")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


PACK_LEN = 2048


def q_doc_pack(spark, sf_dir):
    """Sequence packing (operators/packing.py): documents laid
    end-to-end into 2048-token training sequences per source shard;
    each doc's pack id, offset, and straddle count."""
    return PK.pack_sequences(
        _docs(spark, sf_dir), pack_len=PACK_LEN, group_col="source"
    )


CHUNK_LEN = 64
CHUNK_OVERLAP = 8


def q_doc_chunks(spark, sf_dir):
    """Per-document context-window chunking (fixed token length with
    overlap) — the other half of sequence prep next to q_doc_pack's
    concatenate-then-chunk. Scan-local: tokenize once, explode chunk
    ids, slice the token array; no shuffle in the plan."""
    c = PK.chunk_documents(
        _docs(spark, sf_dir), chunk_len=CHUNK_LEN, overlap=CHUNK_OVERLAP
    )
    return c.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        "chunk_start",
        "chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),  # hash, not 64-token text blobs
    )


def q_corpus_temperature(spark, sf_dir):
    """Temperature-resampled language mixture (alpha-sampling, the
    multilingual-LM recipe: sample language l with probability
    proportional to share^alpha so low-resource languages don't
    vanish; alpha=TEMP_ALPHA). Corpus-scale work is ONE hash
    aggregate; the normalization windows run over the G language rows
    only (operators/sampling.temperature_weights)."""
    stats = (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(TX.token_count(F.col("text")).cast("long")).alias("mass"),
        )
    )
    t = S.temperature_weights(stats, mass_col="mass", alpha=TEMP_ALPHA)
    return t.select(
        "lang",
        "n_docs",
        "mass",
        F.round("share", 6).alias("share"),
        F.round("sample_weight", 6).alias("sample_weight"),
        F.round("boost", 6).alias("boost"),
    )


def q_length_buckets(spark, sf_dir):
    """Length-bucketed batching planner: ntile-8 buckets over token
    counts with per-bucket vs global padding waste — the evidence for
    choosing a bucket count before batch packing
    (operators/packing.length_buckets; the sort order is (n_tokens,
    doc_id) pairs only, never the text)."""
    lb = PK.length_buckets(_docs(spark, sf_dir), n_buckets=LEN_BUCKETS)
    return lb.select(
        "bucket",
        "n_docs",
        "min_tokens",
        "max_tokens",
        "sum_tokens",
        F.round("pad_waste", 6).alias("pad_waste"),
        F.round("global_waste", 6).alias("global_waste"),
    )


TRUNC_DIM = 16


def q_ann_dim_recall(spark, sf_dir):
    """Prefix-dimension truncation recall (the Matryoshka-style
    cost/quality dial, Kusupati et al. 2022): exact cosine top-k over
    only the first TRUNC_DIM dimensions vs the full-dim exact top-k.
    At 100 TB, scanning a quarter of the vector bytes is the cheapest
    ANN speedup there is IF the embedding front-loads information —
    this gate measures whether it does (on the near-uniform synthetic
    embeddings it largely does not, which is exactly the warning the
    gate exists to give). Same (method, hits, possible, recall) row as
    the other recall gates."""
    emb = _emb(spark, sf_dir)
    exact = _exact_topk(spark, sf_dir)
    trunc = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, TRUNC_DIM).alias("embedding")
    )
    approx = SIM.cosine_topk(
        trunc,
        ANN_QUERY_IDS,
        k=ANN_K,
        vec_dim=TRUNC_DIM if _ann_vec_dim(sf_dir) is not None else None,
    )
    return SIM.recall_vs_exact(exact, approx, f"dim{TRUNC_DIM}")


def q_gopher_quality(spark, sf_dir):
    """Gopher-style rule-based quality gate (operators/text.
    gopher_quality): per-doc word-count / mean-word-length /
    stopword-count / alpha-word-fraction flags + the keep conjunction
    — the canonical pre-training quality filter, with per-rule
    attribution so the curation report shows WHICH rule rejects.
    Scan-local HOF aggregates, no shuffle; both verdicts live at every
    SF (word-count and stopword rules each reject real docs)."""
    from mapreduce_kmeans_clustering_spark.operators.text import gopher_quality

    return gopher_quality(_docs(spark, sf_dir))


def q_revenue_pareto(spark, sf_dir):
    """Revenue concentration curve (Pareto check): customers ranked by
    lifetime spend into deciles, with each decile's revenue and the
    cumulative share — "do 20% of customers drive 80% of revenue".
    The rank window sorts (revenue, custkey) PAIRS only (two values
    per customer, the length_buckets discipline); money stays DECIMAL
    until the final rounded projections so partition order can't
    perturb cents."""
    orders = _t(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w = Window.orderBy(F.col("rev").desc(), "o_custkey")
    d = per.withColumn("decile", F.ntile(10).over(w).cast("int"))
    pd_ = d.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("rev").alias("drev"),
    )
    tot = pd_.agg(F.sum("drev").alias("tot"))
    cw = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        pd_.withColumn("cum", F.sum("drev").over(cw))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.round(F.col("drev"), 2).cast("double").alias("decile_revenue"),
            F.round(
                F.col("cum").cast("double") / F.col("tot").cast("double"), 6
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


def q_event_transitions(spark, sf_dir):
    """Per-user event-type transition matrix — the behavior bigram
    model (counts + row-normalized probability) a session-modeling or
    next-event-prediction pipeline trains on. One lead window per
    user's time-ordered stream (the event-stream twin of
    doc_bigrams), then a T x T aggregate over the tiny type
    vocabulary; probabilities are one division per cell against the
    broadcast per-prev totals."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("prev_type"),
            "next_type",
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = s.groupBy("prev_type").agg(F.sum("n").alias("tn"))
    return s.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") * F.lit(1.0) / F.col("tn"), 6).alias("p"),
    )


PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def _nation_trade_edges(spark, sf_dir):
    """Directed nation-level trade graph: supplier nation -> customer
    nation for every lineitem shipment (self-loops dropped) — a small
    dense graph whose authority ranking is deterministic and
    SQL-replayable. Shape: fact-table equi-joins + two broadcast
    nation joins; the distinct() inside pagerank collapses it to at
    most 25x24 edges regardless of corpus size."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("src"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("dst"))),
            F.col("c_nationkey") == F.col("ck"),
        )
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def q_pagerank_nations(spark, sf_dir):
    """Damped PageRank over the nation-level trade graph
    (operators/graph.pagerank, 3 iterations, d=0.85) — the
    domain-authority signal a web-curation pipeline computes over the
    host link graph, exercised end-to-end on a deterministic
    relational graph so the iterative join-aggregate loop is
    oracle-checkable (the DuckDB oracle unrolls the same three
    iterations, dangling-mass correction included). Rank state is
    (node, rank); edges collapse to <= 25x24 rows."""
    from mapreduce_kmeans_clustering_spark.operators.graph import pagerank

    r = pagerank(
        _nation_trade_edges(spark, sf_dir),
        iters=PAGERANK_ITERS,
        damping=PAGERANK_DAMPING,
    )
    return r.select(
        F.col("node").alias("nation"), F.round("rank", 6).alias("rank")
    ).orderBy("nation")


TRIANGLE_ORDER_MOD = 7


def q_copurchase_triangles(spark, sf_dir):
    """Per-part triangle participation and clustering coefficient over
    the co-purchase graph — parts are adjacent when one order buys
    both (operators/graph.triangle_counts). Triangle density is the
    community-structure probe of a basket/recommendation graph.
    Degree-oriented wedge join: each triangle is found in exactly one
    orientation, hub skew is capped by the orientation itself, and
    nothing all-pairs exists in the plan. Runs on the deterministic
    ``l_orderkey % 7 == 0`` order slice — co-purchase density per part
    is SF-stable (~120 neighbors on the full slice mix), and the slice
    keeps the wedge space inside the 1 GiB test JVM the same way
    q_inter bounds the reference's O(n²) silhouette join; the operator
    itself is the cluster-scale shape."""
    from mapreduce_kmeans_clustering_spark.operators.graph import (
        triangle_counts,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .where((F.col("l_orderkey") % TRIANGLE_ORDER_MOD) == 0)
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = li.select(F.col("o"), F.col("p").alias("src"))
    b = li.select(F.col("o"), F.col("p").alias("dst"))
    edges = a.join(b, "o").where(F.col("src") < F.col("dst"))
    return (
        triangle_counts(edges)
        .select(
            F.col("node").alias("p_partkey"),
            F.col("degree").cast("long").alias("degree"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            "clustering",
        )
        .orderBy("p_partkey")
    )


KM_CHURN_DAYS = 90
KM_MONTH_DAYS = 30


def q_survival_km(spark, sf_dir):
    """Kaplan-Meier survival curves of customer activity per market
    segment — the churn-analysis staple: a customer's observed
    lifetime is the months between first and last order, an EVENT
    (churn) if the last order predates the corpus max date by more
    than KM_CHURN_DAYS, otherwise right-censored:

        S(t) = Π_{s<=t} (1 − d_s / n_s)

    with d_s churn events at month s and n_s the at-risk count
    (lifetime >= s). The product rides exp(Σ ln(1 − d/n)) over an
    ORDERED cumulative window — the same fixed-summation-order
    argument as the KS running sum — with the d == n extinction case
    handled by an explicit cumulative flag (Spark's ln(0) is NULL,
    DuckDB's is -inf; neither may reach the sum). Integer day/month
    arithmetic everywhere else. One orders aggregate, one tiny
    (segment, month) aggregate, two ordered windows."""
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    span = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_o"), F.max("o_orderdate").alias("last_o")
    )
    ref = o.agg(F.max("o_orderdate").alias("max_d"))
    life = (
        span.crossJoin(F.broadcast(ref))
        .join(cust, span["o_custkey"] == cust["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.expr(f"datediff(last_o, first_o) div {KM_MONTH_DAYS}")
            .cast("int")
            .alias("t"),
            (
                F.datediff(F.col("max_d"), F.col("last_o")) > KM_CHURN_DAYS
            )
            .cast("int")
            .alias("churned"),
        )
    )
    per_t = life.groupBy("segment", "t").agg(
        F.sum("churned").alias("d"), F.count("*").alias("ended")
    )
    worder = Window.partitionBy("segment").orderBy("t")
    cum_prev = (
        Window.partitionBy("segment")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot = Window.partitionBy("segment")
    at_risk = F.sum("ended").over(tot) - F.coalesce(
        F.sum("ended").over(cum_prev), F.lit(0)
    )
    staged = per_t.select(
        "segment",
        "t",
        F.col("d").cast("long").alias("n_events"),
        at_risk.cast("long").alias("n_risk"),
    )
    term = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.log(
            F.lit(1.0)
            - F.col("n_events") / F.col("n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    extinct = F.when(F.col("n_events") == F.col("n_risk"), 1).otherwise(0)
    cume = Window.partitionBy("segment").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    scored = staged.select(
        "segment",
        "t",
        "n_risk",
        "n_events",
        F.sum(term).over(cume).alias("_ln"),
        F.max(extinct).over(cume).alias("_x"),
    )
    return scored.select(
        "segment",
        "t",
        "n_risk",
        "n_events",
        F.when(F.col("_x") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("_ln"), 6))
        .alias("survival"),
    ).orderBy("segment", "t")


RULE_MIN_PAIR = 3
RULE_TOP = 20


def q_basket_rules(spark, sf_dir):
    """Association rules from the co-purchase pairs: both directions
    of every pair with support >= RULE_MIN_PAIR orders, scored by
    confidence n(A,B)/n(A) and lift n(A,B)·N / (n(A)·n(B)), top-20 by
    (lift desc, antecedent, consequent). All counts are integers and
    both ratios divide exact integer products (< 2^53), so engines
    agree bit-for-bit. One pair aggregate + an item-count broadcast +
    the 1-row N anchor; TakeOrdered head."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_tot")
    )
    item = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count("*").alias("n_item")
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= RULE_MIN_PAIR)
    )
    both = pairs.select(
        F.col("pa").alias("antecedent"), F.col("pb").alias("consequent"), "n_ab"
    ).unionAll(
        pairs.select(
            F.col("pb").alias("antecedent"), F.col("pa").alias("consequent"), "n_ab"
        )
    )
    ia = item.select(F.col("p").alias("antecedent"), F.col("n_item").alias("n_a"))
    ic = item.select(F.col("p").alias("consequent"), F.col("n_item").alias("n_c"))
    j = (
        both.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n_orders))
    )
    out = j.select(
        "antecedent",
        "consequent",
        F.col("n_ab").cast("long").alias("n_both"),
        F.round(F.col("n_ab") / F.col("n_a").cast("double"), 6).alias(
            "confidence"
        ),
        F.round(
            (F.col("n_ab") * F.col("n_tot")).cast("double")
            / (F.col("n_a") * F.col("n_c")).cast("double"),
            6,
        ).alias("lift"),
    )
    return out.orderBy(
        F.col("lift").desc(), "antecedent", "consequent"
    ).limit(RULE_TOP)


FD_CANDIDATES = (
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderpriority", "o_orderstatus"),
    ("customer", "c_custkey", "c_nationkey"),
    ("customer", "c_nationkey", "c_mktsegment"),
)


def q_fd_profile(spark, sf_dir):
    """Functional-dependency profiling — the data-quality discovery
    pass: for each candidate A→B, how many A-groups exist, how many
    carry >1 distinct B (violating groups), and the minimum rows to
    delete for the FD to hold (Σ per group of rows − the largest
    single-B block; the g3 error of Kivinen-Mannila). Pure integer
    arithmetic; per candidate one (A, B) aggregate + one A aggregate,
    each with map-side partials."""
    outs = []
    for table, lhs, rhs in FD_CANDIDATES:
        t = _t(spark, sf_dir, table)
        g = t.groupBy(F.col(lhs), F.col(rhs)).agg(F.count("*").alias("c"))
        per_lhs = g.groupBy(lhs).agg(
            F.sum("c").alias("rows"),
            F.max("c").alias("mx"),
            F.count("*").alias("n_rhs"),
        )
        outs.append(
            per_lhs.agg(
                F.lit(f"{lhs}->{rhs}").alias("fd"),
                F.count("*").cast("long").alias("n_groups"),
                F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
                .cast("long")
                .alias("violating_groups"),
                F.sum(F.col("rows") - F.col("mx"))
                .cast("long")
                .alias("violation_rows"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("fd")


def q_benford(spark, sf_dir):
    """Benford's-law first-digit audit of order totals — the classic
    fabricated-numbers screen: observed first-significant-digit
    counts vs log10(1 + 1/d), with per-digit chi-square terms and the
    statistic as their sum. First digit is taken from the CENTS
    integer's decimal string (no float log can misclassify a
    boundary); the chi-square total sums the 6-dp-rounded terms, so
    it is order-independent and equals the printed parts (the PSI
    posture)."""
    o = _t(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").cast("long").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    j = counts.crossJoin(F.broadcast(tot))
    exp = F.col("total") * (
        F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    )
    scored = j.select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("total").cast("double"), 6).alias("share"),
        F.round(
            (F.col("n") - exp) * (F.col("n") - exp) / exp, 6
        ).alias("chi2_term"),
    )
    w = Window.partitionBy()
    return scored.select(
        "digit",
        "n",
        "share",
        "chi2_term",
        F.round(F.sum("chi2_term").over(w), 6).alias("chi2"),
    ).orderBy("digit")


def q_balance_gini(spark, sf_dir):
    """Per-nation Gini coefficient of positive customer balances —
    the inequality profile of a value distribution:

        G = Σ_i (2i − n − 1)·x_(i) / (n · Σx),  x sorted ascending.

    Exact until the final division: balances are cents integers, the
    rank coefficients are integers, and ties contribute the same
    total under any within-tie order (the coefficient block sums are
    order-free), so both engines divide identical exact numerators.
    One rank window per nation; the aggregate is integer DECIMAL."""
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .select(
            "c_nationkey",
            "c_custkey",
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "c_custkey")
    ranked = c.select(
        "c_nationkey",
        F.col("cents").cast("decimal(38,0)").alias("x"),
        F.row_number().over(w).cast("long").alias("i"),
    )
    agg = ranked.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(
            (F.lit(2) * F.col("i") - F.lit(1)).cast("decimal(38,0)") * F.col("x")
        ).alias("swx"),
    )
    # G = (Σ(2i−1)x − (n+1)Σx + ... ) — use Σ(2i−n−1)x = Σ(2i−1)x − n·Σx
    gini = (
        (F.col("swx") - F.col("n").cast("decimal(38,0)") * F.col("sx")).cast(
            "double"
        )
        / (F.col("n") * F.col("sx")).cast("double")
    )
    return agg.select(
        "c_nationkey",
        "n",
        F.round(gini, 6).alias("gini"),
    ).orderBy("c_nationkey")


PATH_STEPS = 5
PATH_TOP = 20


def q_session_paths(spark, sf_dir):
    """Frequent session paths: the 20 most common event-type sequences
    (first PATH_STEPS steps) across gap-sessionized user streams —
    the behavior-flow mining behind funnel design. Sessions use the
    same 30-min gap rule as q_events_sessions; within a session the
    path is totally ordered by (ts, event_id), built as one
    array_sort + transform over the collected structs (per-session
    lists are bounded by session length — the 100 TB memory argument
    is per-key, same as sessionization itself). Top-k via
    TakeOrderedAndProject with the (count desc, path) tie-break."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    sid = F.sum(new_s).over(
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    paths = (
        e.select("user_id", "ts", "event_id", "event_type", sid.alias("sid"))
        .groupBy("user_id", "sid")
        .agg(
            F.expr(
                "array_join(slice(transform(array_sort("
                "collect_list(struct(ts, event_id, event_type))),"
                f" s -> s.event_type), 1, {PATH_STEPS}), '>')"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(PATH_TOP)
    )


def q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct-user estimate per event type
    (functions/sketch.hll_registers/hll_estimate), reported against
    the exact count with its relative error — the engine-portable twin
    of approx_count_distinct, bit-exact under the DuckDB oracle where
    the built-in HLL++ is engine-specific. The register table is the
    MERGEABLE summary (shards union by max(rho) per bucket — the
    100 TB property); the harmonic sum is exact long arithmetic
    (powers of two, total < 2^53) so no summation order can perturb
    the estimate."""
    ev = _events(spark, sf_dir)
    regs = SK.hll_registers(ev, ["event_type"], "user_id")
    est = SK.hll_estimate(regs, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_zero_registers",
            "est_distinct",
            "exact_distinct",
            (
                F.floor(
                    (F.col("est_distinct") - F.col("exact_distinct"))
                    / F.col("exact_distinct").cast("double")
                    * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


def q_events_seasonal(spark, sf_dir):
    """Classical seasonal decomposition of per-type daily totals:
    total = trend + seasonal + residual, with trend a centered 7-day
    moving average and seasonal the per-day-of-week mean deviation
    from trend (the moving-average method behind STL's initial pass).
    Edge days without a full 7-day window drop out, matching the
    textbook construction.

    Engine-exact by the ×7 trick: daily totals are DECIMAL, the trend
    window is an exact decimal SUM (t7), deviations stay exact as
    7·x − t7, and the seasonal aggregate sums those exact decimals —
    division happens only in the output projection, as identical
    double ops on identical exact operands. Key-partitioned window +
    one DOW aggregate; nothing global."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("x"))
    wt = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    full = (
        daily.select(
            "event_type",
            "day",
            "x",
            F.sum("x").over(wt).alias("t7"),
            F.count("*").over(wt).alias("nw"),
        )
        .where(F.col("nw") == 7)
    )
    base = full.select(
        "event_type",
        "day",
        "x",
        "t7",
        F.dayofweek("day").alias("dow"),
        (F.lit(7).cast("decimal(2,0)") * F.col("x") - F.col("t7")).alias("dev7"),
    )
    seas = base.groupBy("event_type", "dow").agg(
        F.sum("dev7").alias("sdev7"), F.count("*").alias("nd")
    )
    j = base.join(F.broadcast(seas), ["event_type", "dow"])
    trend = F.col("t7").cast("double") / F.lit(7.0)
    seasonal = F.col("sdev7").cast("double") / (F.lit(7.0) * F.col("nd"))
    return j.select(
        "event_type",
        "day",
        F.round(F.col("x").cast("double"), 4).alias("total"),
        F.round(trend, 4).alias("trend"),
        F.round(seasonal, 4).alias("seasonal"),
        F.round(F.col("x").cast("double") - trend - seasonal, 4).alias(
            "residual"
        ),
    ).orderBy("event_type", "day")


FS_M = 0.9  # assumed per-field agreement probability among true matches
FS_TOP = 100


def q_linkage_scores(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage over the ed<=1
    candidate pairs (operators/joins.fuzzy_self_join_ed1 blocking):
    each pair scores sum_f log2(m/u_f) when field f agrees and
    log2((1-m)/(1-u_f)) when it disagrees — the classic match weight.
    The u-probabilities (chance agreement among NON-matches) are
    estimated from the data exactly: u_f = sum_v c_v(c_v-1) / n(n-1),
    integer arithmetic until one identical double division, so both
    engines compute identical weights. m is the conventional 0.9
    assumption. Top-100 by (score desc, a, b) via TakeOrdered.
    Scale: blocking is O(sum name lengths) keys; u estimation is one
    tiny aggregate per field; attribute attachment is two keyed
    joins."""
    # split=True: the deletion-neighborhood explode is heavy per-row
    # scan-local work before the first join (see _SCAN_SPLIT_DEFAULT)
    cust = _t(spark, sf_dir, "customer", split=True).select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    pairs = J.fuzzy_self_join_ed1(
        cust.select("c_custkey", "c_name"), name_col="c_name", id_col="c_custkey"
    )
    n_row = cust.agg(F.count("*").alias("n"))

    def agree_sum(col, alias):
        return (
            cust.groupBy(col)
            .agg(F.count("*").alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1)).alias(alias))
        )

    consts = (
        n_row.crossJoin(agree_sum("c_nationkey", "an"))
        .crossJoin(agree_sum("c_mktsegment", "asg"))
        .select(
            (F.col("an") / (F.col("n") * (F.col("n") - 1))).alias("u_nat"),
            (F.col("asg") / (F.col("n") * (F.col("n") - 1))).alias("u_seg"),
        )
    )
    attrs_a = cust.select(
        F.col("c_custkey").alias("a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )
    attrs_b = cust.select(
        F.col("c_custkey").alias("b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
    )
    j = (
        pairs.join(attrs_a, "a")
        .join(attrs_b, "b")
        .crossJoin(F.broadcast(consts))
    )
    nat_agree = F.col("nat_a") == F.col("nat_b")
    seg_agree = F.col("seg_a") == F.col("seg_b")
    m = F.lit(FS_M)
    score = F.when(nat_agree, F.log2(m / F.col("u_nat"))).otherwise(
        F.log2((F.lit(1.0) - m) / (F.lit(1.0) - F.col("u_nat")))
    ) + F.when(seg_agree, F.log2(m / F.col("u_seg"))).otherwise(
        F.log2((F.lit(1.0) - m) / (F.lit(1.0) - F.col("u_seg")))
    )
    return (
        j.select(
            "a",
            "b",
            F.col("dist"),
            nat_agree.alias("nation_agree"),
            seg_agree.alias("segment_agree"),
            F.round(score, 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), "a", "b")
        .limit(FS_TOP)
    )


PSI_BINS = 10


def q_psi_drift(spark, sf_dir):
    """Population Stability Index per event type — the standard
    model-monitoring drift metric, here between the first and second
    half of the corpus's time range:

        PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)

    (<0.1 stable, 0.1–0.25 drifting, >0.25 shifted — the usual
    reading). Per-bin contributions are returned alongside the total
    so the drifted bins are attributable. Engine-exact structure:
    values are cents integers, bin assignment is pure integer
    arithmetic (no float edge can flip a boundary), the A/B split is
    an integer day-index comparison, and shares use add-one smoothing
    (c+1)/(n+BINS) — identical double divisions everywhere. One
    events aggregate + T-row broadcast extents; work past the scan is
    bins × types."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    ext = base.groupBy("event_type").agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    j = base.join(F.broadcast(ext), "event_type")
    binned = j.select(
        "event_type",
        F.least(
            F.lit(PSI_BINS - 1),
            F.expr(f"((cents - lo) * {PSI_BINS}) div (hi - lo + 1)"),
        )
        .cast("int")
        .alias("bin"),
        (
            F.datediff(F.col("day"), F.col("d0")) * 2
            < F.datediff(F.col("d1"), F.col("d0"))
        ).alias("is_a"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("is_a"), 0).otherwise(1)).alias("n_b"),
    )
    tots = counts.groupBy("event_type").agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    scored = counts.join(F.broadcast(tots), "event_type").select(
        "event_type",
        "bin",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (
            (
                (F.col("n_a") + 1) / (F.col("ta") + PSI_BINS)
                - (F.col("n_b") + 1) / (F.col("tb") + PSI_BINS)
            )
            * F.log(
                ((F.col("n_a") + 1) / (F.col("ta") + PSI_BINS))
                / ((F.col("n_b") + 1) / (F.col("tb") + PSI_BINS))
            )
        ).alias("_c"),
    )
    # psi sums the ROUNDED contribs: 6-dp values are exact at 1e-6
    # granularity, so the window sum is order-independent doubles —
    # summing the raw terms would be engine-order-dependent (and the
    # printed total then provably equals the printed parts)
    w = Window.partitionBy("event_type")
    return (
        scored.withColumn("contrib", F.round("_c", 6))
        .select(
            "event_type",
            "bin",
            "n_a",
            "n_b",
            "contrib",
            F.round(F.sum("contrib").over(w), 6).alias("psi"),
        )
        .orderBy("event_type", "bin")
    )


TREND_HALF_LIFE_DAYS = 7
TREND_MAX_WEEKS = 8
TREND_TOP = 10


def q_events_trending(spark, sf_dir):
    """Decayed heavy hitters: top-10 users per event type by
    half-life-decayed activity — the 'trending now' ranking, where
    yesterday counts double last week. Decay is a STEP half-life
    (weight 2^-weeks, clamped at 8 weeks), so every weighted term is
    an exact SCALED INTEGER (cents << (8 - weeks)) and the aggregate
    is order-independent long arithmetic in both engines — no pow(),
    whose last-ulp behavior is not portable. The reference day is the
    corpus max, riding a 1-row broadcast anchor; one daily aggregate,
    one user aggregate, one WindowGroupLimit-pruned rank window."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
        F.count("*").alias("n"),
    )
    ref = daily.agg(F.max("day").alias("ref_day"))
    w = F.least(
        F.floor(F.datediff(F.col("ref_day"), F.col("day")) / F.lit(7.0)),
        F.lit(TREND_MAX_WEEKS),
    ).cast("int")
    scored = (
        daily.crossJoin(F.broadcast(ref))
        .select("event_type", "user_id", "cents", "n", w.alias("w"))
        .select(
            "event_type",
            "user_id",
            (
                F.col("cents")
                * F.expr(f"shiftleft(1L, {TREND_MAX_WEEKS} - w)")
            ).alias("sv"),
            (F.col("n") * F.expr(f"shiftleft(1L, {TREND_MAX_WEEKS} - w)")).alias(
                "sc"
            ),
        )
        .groupBy("event_type", "user_id")
        .agg(F.sum("sv").alias("sv"), F.sum("sc").alias("sc"))
        # 4-decimal HALF-UP rounding done in exact integer arithmetic
        # (sv/25600 → ·10⁴ = sv·625/1600): engines disagree on
        # double round() exactly at .5 ties, integer div never does
        .select(
            "event_type",
            "user_id",
            (F.expr("(sv * 625 + 800) div 1600") / F.lit(10000.0)).alias(
                "decayed_value"
            ),
            (F.expr("(sc * 625 + 8) div 16") / F.lit(10000.0)).alias(
                "decayed_events"
            ),
        )
    )
    rw = Window.partitionBy("event_type").orderBy(
        F.col("decayed_value").desc(), F.col("user_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rw).cast("int"))
        .where(F.col("rank") <= TREND_TOP)
        .orderBy("event_type", "rank")
    )


ZORDER_MASK = (1 << 10) - 1
ZORDER_BUCKET_SHIFT = 14  # 2^20 key space -> 64 buckets


def q_zorder_locality(spark, sf_dir):
    """Z-order layout locality, MEASURED not asserted
    (functions/zorder.zorder_key): bucket the (l_partkey, l_suppkey)
    key space 64 ways under (a) the Morton-interleaved key and (b) the
    linear lexicographic key, and report each bucket's x/y bounding
    box. Z buckets cover compact rectangles (both spans bounded ~2^7),
    linear buckets cover 16 x-values × ALL y — which is exactly why
    per-file min/max stats prune two-column predicates only under the
    Z layout. Pure bit arithmetic end-to-end; one distinct + two
    grouped aggregates."""
    from mapreduce_kmeans_clustering_spark.functions.zorder import zorder_key

    li = (
        _t(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") % (ZORDER_MASK + 1)).alias("x"),
            (F.col("l_suppkey") % (ZORDER_MASK + 1)).alias("y"),
        )
        .distinct()
    )

    def spans(df, key, scheme):
        return df.groupBy(
            F.shiftright(key, ZORDER_BUCKET_SHIFT).cast("long").alias("bucket")
        ).agg(
            F.count("*").alias("n"),
            F.min("x").cast("long").alias("min_x"),
            F.max("x").cast("long").alias("max_x"),
            F.min("y").cast("long").alias("min_y"),
            F.max("y").cast("long").alias("max_y"),
        ).select(
            F.lit(scheme).alias("scheme"),
            "bucket",
            "n",
            (F.col("max_x") - F.col("min_x")).alias("x_span"),
            (F.col("max_y") - F.col("min_y")).alias("y_span"),
        )

    z = spans(li, zorder_key("x", "y", 10), "zorder")
    lin = spans(li, F.col("x") * (ZORDER_MASK + 1) + F.col("y"), "linear")
    return z.unionAll(lin).orderBy("scheme", "bucket")


NEYMAN_N = 200


def q_sample_neyman(spark, sf_dir):
    """Neyman-optimal stratified sampling of orders by priority class
    (operators/sampling.sample_neyman): quotas proportional to
    N_h·σ_h of o_totalprice — the allocation that minimizes the
    stratified-mean variance — then deterministic md5-priority
    selection within each stratum. Allocation arithmetic is
    cents-scaled integer (N_h·Σx² − (Σx)² exact), so both engines
    floor identical doubles into identical quotas; the sample itself
    is a rank-per-stratum window WindowGroupLimit prunes to local
    heads."""
    from mapreduce_kmeans_clustering_spark.operators.sampling import (
        sample_neyman,
    )

    return sample_neyman(
        _t(spark, sf_dir, "orders"),
        n_total=NEYMAN_N,
        strata_col="o_orderpriority",
        value_col="o_totalprice",
        id_col="o_orderkey",
    ).orderBy("o_orderpriority", "rank")


def q_events_cusum(spark, sf_dir):
    """Two-sided CUSUM changepoint monitor on per-type daily totals
    (operators/profile.cusum_daily) — accumulates small sustained
    mean drifts the per-day z-score (q_events_anomaly) never trips.
    The max-reset recursion is solved closed-form as prefix-sum minus
    prefix-min (two key-partitioned windows, no iteration), and every
    intermediate is DECIMAL with the recursion multiplied through by
    the day count, so both engines compute bit-identical statistics
    in any window evaluation order."""
    from mapreduce_kmeans_clustering_spark.operators.profile import cusum_daily

    return cusum_daily(_events(spark, sf_dir)).orderBy("event_type", "day")


def q_source_kl(spark, sf_dir):
    """Per-source unigram KL divergence vs the whole-corpus token
    distribution (operators/profile.source_unigram_kl) — the
    vocabulary-drift gate of a training-mix report: 0 = looks like the
    corpus, large = skewed/off-domain source. Vocabulary-keyed joins +
    broadcast totals; work scales with |vocab|, never corpus-pairwise."""
    from mapreduce_kmeans_clustering_spark.operators.profile import (
        source_unigram_kl,
    )

    return source_unigram_kl(_docs(spark, sf_dir)).orderBy("source")


def q_length_ks(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov statistic on token-length
    distributions for every source pair
    (operators/profile.length_ks_pairs) — nonparametric length-profile
    drift. Signed-mass running-sum formulation: one histogram
    aggregate, a P-row broadcast pair join, one ordered window per
    pair — O(pairs x distinct lengths) past the histogram."""
    from mapreduce_kmeans_clustering_spark.operators.profile import (
        length_ks_pairs,
    )

    return length_ks_pairs(_docs(spark, sf_dir)).orderBy("source_a", "source_b")


def q_length_buckets_approx(spark, sf_dir):
    """The 100 TB twin of q_length_buckets (VERDICT r4 item 4):
    percentile_approx cutpoints ride a 1-row broadcast into a
    scan-local bucket projection — no global pair sort. LABELED
    NON-PARITY with the exact ntile form (ties stay together here;
    ntile splits them to equalize counts); the oracle replays THIS
    algorithm via quantile_disc, which matches percentile_approx
    value-for-value in the exact-sketch regime (corpus << accuracy —
    verified at sf0.001/0.01/0.1). Boundary agreement with the exact
    form is pinned in tests/test_packing.py."""
    lb = PK.length_buckets_approx(_docs(spark, sf_dir), n_buckets=LEN_BUCKETS)
    return lb.select(
        "bucket",
        "n_docs",
        "min_tokens",
        "max_tokens",
        "sum_tokens",
        F.round("pad_waste", 6).alias("pad_waste"),
        F.round("global_waste", 6).alias("global_waste"),
    )


def q_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence: the 10 part pairs most often
    ordered together. Pair generation is a self-join WITHIN each
    order (equi on l_orderkey, a < b over distinct parts) — fanout
    bounded by the per-order line count squared, never parts², the
    same inverted-index discipline as q_token_pmi on the relational
    side; top-k via TakeOrderedAndProject."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    return pairs.orderBy(
        F.col("n_orders").desc(), F.col("pa"), F.col("pb")
    ).limit(10)


BASKET_TRIPLE_TOP = 50


def q_basket_triples(spark, sf_dir):
    """Frequent 3-itemsets: the 50 part triples most often ordered
    together — one more Apriori level above q_basket_pairs. Triple
    generation is a 3-way self-join WITHIN each order (a < b < c over
    distinct parts), fanout bounded by the per-order line count CUBED
    — tiny, since baskets are small; never parts³. At heavier basket
    sizes the documented Apriori hatch applies: generate candidates
    only from frequent-pair joins and broadcast them as a filter
    before counting (downward closure). Top-k via
    TakeOrderedAndProject; full tie-break (count desc, pa, pb, pc)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    c = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pc"))
    triples = (
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .join(c, "o")
        .where(F.col("pb") < F.col("pc"))
        .groupBy("pa", "pb", "pc")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )
    return triples.orderBy(
        F.col("n_orders").desc(), F.col("pa"), F.col("pb"), F.col("pc")
    ).limit(BASKET_TRIPLE_TOP)


def q_brand_top_parts(spark, sf_dir):
    """Per-group top-k (rank within partition — q_top_orders is the
    global variant): 3 priciest parts per brand."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        part.select("p_brand", "p_partkey", "p_retailprice")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
    )


BENCH_MOD = 50  # doc_id % BENCH_MOD == 0 → held-out benchmark partition


def q_decontam(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any word-3-gram
    with the held-out partition get flagged (shingle equi-join, never a
    pairwise scan — operators/curation.py)."""
    docs = _docs(spark, sf_dir)
    return CU.contamination_report(docs, F.col("doc_id") % BENCH_MOD == 0)


def q_text_perplexity(spark, sf_dir):
    """CCNet-style quality filter: mean negative log-likelihood per doc
    under an add-one bigram LM trained on the corpus itself."""
    return CU.bigram_lm_scores(_docs(spark, sf_dir))


def q_corpus_split(spark, sf_dir):
    """Deterministic train/val/test split + shard assignment (md5
    buckets — reproducible across engines/retries, stable under corpus
    growth); reported as per-(split, shard) doc and char totals."""
    docs = CU.split_assign(_docs(spark, sf_dir))
    return docs.groupBy("split", "shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def q_returned_customers(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by revenue on returned items.
    Fact filtered at the scan (l_returnflag = 'R'), customer join left
    to AQE (grows with SF — no forced broadcast), nation broadcast,
    rank over the pre-rounded measure (the q_top_orders determinism
    contract)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    # decimal sum: order-independent across partitionings and engines
    # (the double sum can land a half-cent from a rounding boundary)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    agg = (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    return agg.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= 20
    )


def q_customers_no_orders(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average positive balance
    and no orders in 1995 — scalar-subquery threshold (rounded to
    cents so both engines agree) + LEFT ANTI against the time-windowed
    fact, rolled up by segment. (The window matters: this synthetic
    corpus gives every customer at least one lifetime order, so the
    unwindowed Q22 anti-join is empty at every SF.) The threshold
    rides a 1-row broadcast anchor (crossJoin(broadcast)) instead of a
    driver collect — one job, lazily composable, same plan shape as
    the rest of the registry."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    ab = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(F.round(F.avg("c_acctbal"), 2).alias("_ab"))
    )
    return (
        cust.crossJoin(F.broadcast(ab))
        .where(F.col("c_acctbal") > F.col("_ab"))
        .join(
            orders.where(F.year("o_orderdate") == 1995).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


def q_tfidf_terms(spark, sf_dir):
    """Retrieval-style corpus statistics: per-document top-3 terms by
    plain TF-IDF (tf · ln(N/df)), ranked with the rounded-score +
    term-string tie-break so the set is engine-deterministic."""
    return CU.tfidf_top_terms(_docs(spark, sf_dir), k=3)


# Fixed (query_id, term) retrieval workload over the synthetic corpus
# vocabulary — a Q-row dimension, exactly how a batch-retrieval job
# ships its query set.
BM25_QUERY_TERMS = [
    ("q1", "spark"),
    ("q1", "table"),
    ("q2", "hash"),
    ("q2", "join"),
    ("q2", "merge"),
    ("q3", "vector"),
    ("q3", "batch"),
]
BM25_K = 5


def q_bm25_search(spark, sf_dir):
    """Batch BM25 retrieval (operators/curation.bm25_search): top-5
    documents per query under Okapi BM25 with the Lucene idf. The plan
    is the inverted-index join — the corpus meets the query set ONLY
    through a broadcast term equi-join, so matched postings (not
    corpus x queries) bound every stage past the tf aggregate."""
    queries = spark.createDataFrame(
        BM25_QUERY_TERMS, "query_id STRING, term STRING"
    )
    return CU.bm25_search(_docs(spark, sf_dir), queries, k=BM25_K).orderBy(
        "query_id", "rank"
    )


DOMAIN_CAP = 15


def q_domain_caps(spark, sf_dir):
    """Domain-balanced downsampling report: at most DOMAIN_CAP docs
    survive per source (hash-ranked, so the kept set is reproducible);
    reports per-source totals vs kept."""
    docs = _docs(spark, sf_dir)
    kept = (
        S.cap_per_key(docs, "source", DOMAIN_CAP)
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    tot = docs.groupBy("source").agg(F.count("*").cast("long").alias("n_total"))
    return tot.join(kept, "source", "left").select(
        "source",
        "n_total",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def q_length_hist(spark, sf_dir):
    """Corpus length profile: 500-char-wide histogram buckets (capped
    at bucket 9) per language — the sanity dashboard every corpus
    ingest runs. Scan-local projection + one aggregate."""
    docs = _docs(spark, sf_dir)
    bucket = F.least(F.floor(F.col("n_chars") / 500), F.lit(9)).cast("int")
    return (
        docs.groupBy(F.col("lang"), bucket.alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
    )


def q_user_moving_avg(spark, sf_dir):
    """Per-user trailing mean of daily event counts over the 7 most
    recent active days (rows-frame window — time-series smoothing
    shape). One aggregate + one window, both keyed by user."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "user_id",
        "day",
        "n_events",
        F.round(F.avg("n_events").over(w), 6).alias("avg_7d"),
    )


def q_supplier_volume(spark, sf_dir):
    """TPC-H Q7 shape: 1995 revenue by (supplier nation, customer
    nation) pair — the two-armed join graph (fact → orders → customer
    → nation, fact → supplier → nation) with the year filter pushed to
    the lineitem scan and both 25-row nation dims broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    # sum in DECIMAL: a double sum's value depends on partition order,
    # and at this group size it can land a half-cent from a rounding
    # boundary (observed at sf0.01); per-row revenue has <= 4 decimal
    # digits so decimal(18,4) holds it exactly and the sum is
    # order-independent in both engines
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.where(F.year("l_shipdate") == 1995)
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum(rev), 2).cast("double").alias("revenue"),
        )
    )


def q_embed_diverse(spark, sf_dir):
    """Coverage sampling over the embedding corpus: one representative
    per IVF inverted list (the member nearest its seed centroid) plus
    list population — the coreset-selection step before expensive
    labeling, expressed as one aggregate over the assigned corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.ivf_representatives(
        emb, nlist=IVF_NLIST, assigned=_ivf_assigned(spark, sf_dir)
    )


def q_events_sliding(spark, sf_dir):
    """Overlapping 2-hour windows sliding by 1 hour (each event lands
    in exactly two windows) — the sliding-window aggregation shape,
    batch twin of the streaming version."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "n_events",
            "total_value",
        )
    )


def q_key_skew(spark, sf_dir):
    """Key-distribution profiler: the 10 hottest user_ids with their
    share of all events — the diagnostic that decides whether a join or
    window needs the salting hatch (operators/joins.py,
    functions/skew.py). One aggregate + a broadcast of the 1-row
    total; the ranking runs over the already-reduced per-key counts."""
    ev = _events(spark, sf_dir)
    counts = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n_events"))
    total = counts.agg(F.sum("n_events").alias("total"))
    w = Window.orderBy(F.col("n_events").desc(), F.col("user_id"))
    return (
        counts.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 10)
        .select(
            "rank",
            "user_id",
            "n_events",
            F.round(F.col("n_events") / F.col("total"), 6).alias("share"),
        )
    )


def q_customer_ntile(spark, sf_dir):
    """Decile analytics: customers cut into balance deciles within
    each market segment (ntile window), rolled up to per-(segment,
    decile) stats."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .groupBy("c_mktsegment", "decile")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


CURATION_QUALITY_MIN = 0.35


def q_curation_pipeline(spark, sf_dir):
    """The whole raw-corpus → training-shards decision per document:
    benchmark / exact_dup / quality / contaminated / domain_cap / keep
    in fixed precedence, with split+shard for the keeps — the curation
    twin of q_dedup_pipeline (operators/curation.py)."""
    docs = _docs(spark, sf_dir)
    return CU.curation_pipeline(
        docs,
        F.col("doc_id") % BENCH_MOD == 0,
        quality_min=CURATION_QUALITY_MIN,
        domain_cap=DOMAIN_CAP,
    )


HASHTF_DIM = 32


def q_text_hashtf(spark, sf_dir):
    """Hashing-trick TF features in exploded (doc, dim, weight) form —
    the text→vector bridge (dense twin: text.hashed_tf, pinned equal
    in tests). md5-derived buckets so the oracle replays the hash."""
    docs = _docs(spark, sf_dir)
    t = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    ).select("doc_id", TX.hash_dim(F.col("tok"), HASHTF_DIM).alias("dim"))
    return t.groupBy("doc_id", "dim").agg(
        F.count("*").cast("long").alias("weight")
    )


def q_events_trailing24h(spark, sf_dir):
    """RANGE-frame window: for every event, how many events (and how
    much value) the same user produced in the trailing 24 hours —
    a value-based frame over epoch seconds, not a row count, so sparse
    and bursty users get the same time horizon. One shuffle on
    user_id; the frame is evaluated inside the per-user sort."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-86400, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).cast("long").alias("n_24h"),
        F.round(F.sum("value").over(w), 2).alias("value_24h"),
    )


def q_above_avg_orders(spark, sf_dir):
    """Correlated-aggregate shape: orders priced above 1.5× their own
    customer's average (average pre-rounded to cents so both engines
    compare the same threshold), rolled up by priority."""
    orders = _t(spark, sf_dir, "orders")
    ca = orders.groupBy("o_custkey").agg(
        F.round(F.avg("o_totalprice"), 2).alias("cavg")
    )
    return (
        orders.join(ca, "o_custkey")
        .where(F.col("o_totalprice") > 1.5 * F.col("cavg"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total"),
        )
    )


LARGE_ORDER_QTY = 250
TOP_SUPPLIER_YEAR = 1996
# corpus-mix weights: first 5 sources get 6x the share of the rest
# (integer weights so share = w / MIX_TOTAL_W divides deterministically)
MIX_WEIGHTS = {f"src{i}": (6 if i < 5 else 1) for i in range(20)}
MIX_TOTAL_W = sum(MIX_WEIGHTS.values())
PROFILE_COLS = [
    "l_orderkey",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_returnflag",
    "l_shipdate",
]
WEIGHTED_SAMPLE_K = 50


def q_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds a
    threshold, joined back to orders+customer, global top-20 by price.
    The HAVING filter runs on the aggregate BEFORE the joins (partial
    agg collapses each orderkey map-side), and the top-k is
    TakeOrderedAndProject — no global sort ever materializes."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > LARGE_ORDER_QTY)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


def q_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: share of revenue from PROMO parts per ship
    year — conditional aggregation over the fact↔part join. Revenue in
    DECIMAL(18,4) so sums are partition-order-independent; the share
    divides the two already-rounded doubles, so both engines divide
    identical inputs."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    agg = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(
            F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)), 2)
            .cast("double")
            .alias("promo_rev"),
            F.round(F.sum(rev), 2).cast("double").alias("total_rev"),
        )
    )
    return agg.select(
        "ship_year",
        "promo_rev",
        "total_rev",
        F.round(F.lit(100) * F.col("promo_rev") / F.col("total_rev"), 4).alias(
            "promo_share"
        ),
    )


def q_returned_priority(spark, sf_dir):
    """TPC-H Q4 shape: orders with at least one returned lineitem
    (EXISTS → LEFT SEMI join on the filtered fact), counted and
    totaled by order priority. The semi join never duplicates an order
    no matter how many lineitems matched."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    ret = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(ret, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total"),
        )
    )


def q_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) with maximum discounted
    revenue in a ship year — scalar-max subquery joined back against
    the per-supplier aggregate (1-row broadcast, so no second scan of
    the fact). Comparing rounded DECIMAL-sourced doubles keeps the
    equality exact in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    srev = (
        li.where(F.year("l_shipdate") == TOP_SUPPLIER_YEAR)
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("total_rev"))
    )
    mx = srev.agg(F.max("total_rev").alias("__mx"))
    return (
        srev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("__mx"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


def q_profile_lineitem(spark, sf_dir):
    """Data-quality profile of the fact table: per-column null /
    distinct counts and numeric ranges in one scan
    (operators/profile.py — wide aggregate + stack unpivot)."""
    from mapreduce_kmeans_clustering_spark.operators.profile import column_profile

    li = _t(spark, sf_dir, "lineitem")
    return column_profile(li, PROFILE_COLS)


def q_embed_dimstats(spark, sf_dir):
    """Embedding sanity stats: per-dimension count/mean/min/max over
    the corpus (posexplode → one hash aggregate on the 64-value dim
    key — the collapsed-domain shape, shuffle carries 64 rows per
    partition). The gate that catches a dead or exploding dimension
    before a training run does."""
    e = _emb(spark, sf_dir)
    x = e.select(F.posexplode("embedding").alias("dim", "val")).select(
        F.col("dim").cast("int").alias("dim"), F.col("val").cast("double").alias("val")
    )
    return x.groupBy("dim").agg(
        F.count("*").cast("long").alias("n_vals"),
        F.round(F.avg("val"), 6).alias("mean_val"),
        F.round(F.min("val"), 6).alias("min_val"),
        F.round(F.max("val"), 6).alias("max_val"),
    )


def q_sample_weighted(spark, sf_dir):
    """Deterministic weighted sampling: 50 docs drawn with inclusion
    odds proportional to n_chars (hash-priority reservoir,
    operators/sampling.py sample_weighted) — the importance-sampling
    step that fills a token budget. Priorities are bit-identical
    cross-engine (52-bit hash, IEEE division)."""
    docs = _docs(spark, sf_dir)
    s = S.sample_weighted(
        docs, k=WEIGHTED_SAMPLE_K, weight_col="n_chars", id_col="doc_id"
    )
    return s.select(
        "doc_id", "source", "n_chars", F.round("priority", 6).alias("priority")
    )


def q_corpus_mix(spark, sf_dir):
    """Training-mix planner: given integer target weights per source,
    the sampling rate each source needs so the sampled corpus hits the
    target share of the total char budget (rate capped at 1 — a
    source can't be upsampled by Bernoulli keep). Broadcast literal
    dim join + one aggregate; the arithmetic is ordered identically
    in the oracle so doubles match bit-for-bit."""
    docs = _docs(spark, sf_dir)
    per_src = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    wdf = spark.createDataFrame(
        sorted(MIX_WEIGHTS.items()), "source string, weight int"
    )
    tot = per_src.agg(F.sum("chars").alias("total_chars"))
    rate = F.least(
        F.lit(1.0),
        F.col("weight").cast("double")
        / F.lit(float(MIX_TOTAL_W))
        * F.col("total_chars")
        / F.col("chars"),
    )
    return (
        per_src.join(F.broadcast(wdf), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "chars",
            F.col("weight").cast("int").alias("weight"),
            F.round(rate, 6).alias("rate"),
            F.floor(rate * F.col("chars")).cast("long").alias("planned_chars"),
        )
    )


def q_customer_order_gaps(spark, sf_dir):
    """Inter-order gap analytics: days between consecutive orders per
    customer (lag window — one shuffle on custkey), rolled up by
    market segment. The repeat-purchase cadence query every retention
    dashboard runs."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.withColumn(
            "gap", F.datediff("o_orderdate", F.lag("o_orderdate").over(w))
        )
        .where(F.col("gap").isNotNull())
        .select("o_custkey", F.col("gap").cast("long").alias("gap"))
    )
    return (
        gaps.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_gaps"),
            F.round(F.avg("gap"), 2).alias("avg_gap_days"),
            F.max("gap").alias("max_gap_days"),
        )
    )


def q_dedup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster-size histogram: how many transitive dup groups
    of each size the corpus carries — the summary that tells a
    curation run whether it's facing scattered pairs or a few giant
    boilerplate clusters (which need the skew hatches). Composition of
    q_dedup_groups + two tiny aggregates (shares its memoized groups
    relation)."""
    g = _dup_groups_df(spark, sf_dir)
    sizes = g.groupBy("group_id").agg(
        F.count("*").cast("long").alias("grp_size")
    )
    return sizes.groupBy("grp_size").agg(
        F.count("*").cast("long").alias("n_groups")
    )


def q_events_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-seen week, how
    many are still active N weeks later — the table behind every
    retention curve. Two aggregates (first-seen per user; distinct
    user-weeks) joined on user_id; the user grain keeps both sides
    partition-parallel and the result is cohort×week tiny."""
    ev = _events(spark, sf_dir)
    weeks = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    first = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weeks.join(first, "user_id")
        .select(
            "cohort_week",
            F.expr("datediff(week, cohort_week) div 7").cast("int").alias("week_n"),
            "user_id",
        )
        .groupBy("cohort_week", "week_n")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )


NATION_BAL_MIN = 9000.0


def q_nation_flow(spark, sf_dir):
    """FULL OUTER join shape: per-nation high-balance customer vs
    supplier aggregates stitched into one row per nation — either side
    may be absent (the filter empties small nations on the 100-row
    supplier side), so inner/left joins would silently drop rows.
    Aggregate-then-join keeps the outer join at nation grain (25
    keys), never row grain."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cb = (
        cust.where(F.col("c_acctbal") > NATION_BAL_MIN)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").cast("long").alias("n_rich_cust"))
    )
    sb = (
        supp.where(F.col("s_acctbal") > NATION_BAL_MIN)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").cast("long").alias("n_rich_supp"))
    )
    j = cb.join(sb, "nk", "full_outer")
    return (
        j.join(F.broadcast(nation), j["nk"] == nation["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.coalesce("n_rich_cust", F.lit(0)).cast("long").alias("n_rich_cust"),
            F.coalesce("n_rich_supp", F.lit(0)).cast("long").alias("n_rich_supp"),
        )
    )


def q_events_rollup(spark, sf_dir):
    """Hypertable-style time rollup: one scan producing day AND
    (day, hour) grains via ROLLUP — the continuous-aggregate shape a
    time-series store materializes. Coarser grains come free from the
    same partial aggregates; no second pass over the events."""
    ev = _events(spark, sf_dir)
    g = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "value",
    )
    return (
        g.rollup("day", "hr")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .where(F.col("day").isNotNull())  # keep day and day×hour grains
        .select(
            "day",
            F.coalesce(F.col("hr").cast("string"), F.lit("ALL")).alias("hr"),
            "n_events",
            "total_value",
        )
    )


HISTQ_LO, HISTQ_HI, HISTQ_BUCKETS = 0.0, 500.0, 100
HISTQ_QS = [0.5, 0.95]


def q_value_quantile_sketch(spark, sf_dir):
    """Histogram-sketch quantiles of event value per type (p50/p95):
    the deterministic single-pass alternative to percentile_approx —
    exact bucket counts + in-bucket linear interpolation, mergeable
    across shards (functions/sketch.py histogram_quantiles)."""
    ev = _events(spark, sf_dir)
    return SK.histogram_quantiles(
        ev,
        "value",
        qs=HISTQ_QS,
        lo=HISTQ_LO,
        hi=HISTQ_HI,
        buckets=HISTQ_BUCKETS,
        groups=["event_type"],
    )


LR_DIM = 32
LR_BIAS = 0.0


def _lr_weight(d: int) -> float:
    """Deterministic stand-in for offline-trained weights: md5-derived
    value in [-0.1, 0.1] with exactly 4 decimal digits."""
    import hashlib

    h = int(hashlib.md5(f"lrw:{d}".encode()).hexdigest()[:8], 16)
    return round(((h % 2001) - 1000) / 10000.0, 4)


LR_WEIGHTS = {d: _lr_weight(d) for d in range(LR_DIM)}


def q_text_lr_score(spark, sf_dir):
    """Linear quality-classifier scoring over hashing-trick count
    features (curation.linear_score): per-doc logit + keep verdict —
    exact DECIMAL arithmetic end-to-end, so the classifier's decision
    is reproducible across engines and retries."""
    return CU.linear_score(
        _docs(spark, sf_dir), LR_WEIGHTS, bias=LR_BIAS, n_features=LR_DIM
    )


def q_user_heavy_hitters(spark, sf_dir):
    """Heavy hitters with a count-min sketch audit: the exact top-10
    users by event count next to their CMS estimates (depth 4 x width
    256 counters — bounded memory regardless of key cardinality,
    mergeable across shards). est_n >= true_n always (CMS never
    undercounts); the gap is the collision mass the sketch config
    trades for its 1 KB footprint."""
    ev = _events(spark, sf_dir)
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("long").alias("true_n"))
        .orderBy(F.col("true_n").desc(), "user_id")
        .limit(10)
    )
    cms = SK.cms_counts(ev, "user_id")
    est = SK.cms_estimate(exact.select("user_id"), cms, "user_id")
    return exact.join(est, "user_id").select("user_id", "true_n", "est_n")


def q_events_dense_hours(spark, sf_dir):
    """Time-series densification: every (event_type, hour) cell over
    the observed range, zero-filled where nothing happened — the gap
    fill a chart or downstream window needs before it can trust
    'no row = zero'. Grid = tiny dims (types x sequence of hours)
    built from a 1-row bounds aggregate, LEFT JOIN against the hourly
    counts; events shuffle once for their own aggregate, never for
    the grid."""
    ev = _events(spark, sf_dir)
    hr = F.date_trunc("hour", F.col("ts"))
    bounds = ev.agg(
        F.min(hr).alias("lo"), F.max(hr).alias("hi")
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    counts = ev.groupBy("event_type", hr.alias("hr")).agg(
        F.count("*").cast("long").alias("n")
    )
    return grid.join(counts, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


def q_latest_event_per_user(spark, sf_dir):
    """CDC-style compaction read: each user's latest event (row_number
    over ts desc, event_id desc = 1) — the keep-last-version query
    every changelog consumer runs. Planned with WindowGroupLimit, so
    each partition discards non-latest rows before the full sort."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


def q_events_anomaly(spark, sf_dir):
    """Rolling z-score anomaly detection per event type: each day's
    total value against the trailing 7-day window (current day
    excluded), flagged at |z| > 2 — the alerting query every metrics
    pipeline runs. Daily totals are DECIMAL (exact, so both engines
    window over identical doubles); the first 3 warm-up days and
    zero-variance windows are excluded. Key-partitioned windows only —
    no global sort."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("_t"))
        .select("event_type", "day", F.col("_t").cast("double").alias("total"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    scored = daily.select(
        "event_type",
        "day",
        "total",
        F.avg("total").over(w).alias("_mu"),
        F.stddev_samp("total").over(w).alias("_sd"),
        F.count("total").over(w).alias("_n"),
    )
    z = (F.col("total") - F.col("_mu")) / F.col("_sd")
    return scored.where((F.col("_n") >= 3) & (F.col("_sd") > 0)).select(
        "event_type",
        "day",
        F.round("total", 4).alias("total"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > 2).alias("is_anomaly"),
    )


def q_events_ffill(spark, sf_dir):
    """Panel forward-fill: each user's last observed event value
    carried across the daily grid (NULL before the user's first
    observation) — the state-interpolation step a feature pipeline
    runs before training on per-user-day panels. Grid from a 1-row
    bounds broadcast (the dense-hours pattern), per-day last
    observation via the keep-last window, then one
    last(ignorenulls) window over the key-partitioned day order —
    everything keyed on user_id, no corpus-wide sort."""
    ev = _events(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts"))
    w1 = Window.partitionBy("user_id", "_day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        ev.select("user_id", day.alias("_day"), "ts", "event_id", "value")
        .withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") == 1)
        .select("user_id", "_day", F.col("value").alias("_obs"))
    )
    bounds = ev.agg(F.min(day).alias("lo"), F.max(day).alias("hi"))
    grid = (
        ev.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias(
                "_day"
            ),
        )
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = grid.join(daily, ["user_id", "_day"], "left")
    return j.select(
        "user_id",
        F.col("_day").alias("day"),
        F.last("_obs", ignorenulls=True).over(w2).alias("value_filled"),
        F.col("_obs").isNotNull().alias("is_observed"),
    )


def q_cdc_user_state(spark, sf_dir):
    """Changelog replay (SCD1): events as a keyed change stream —
    'error' is a delete tombstone, everything else upserts the user's
    state; each user's last change by (ts, event_id) wins
    (operators/cdc.changelog_state — same WindowGroupLimit plan as the
    keep-last-version compaction read)."""
    ev = _events(spark, sf_dir).withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("delete")).otherwise(
            F.lit("upsert")
        ),
    )
    st = CDC.changelog_state(ev, ["user_id"], ["ts", "event_id"], op_col="op")
    return st.select("user_id", "event_id", "ts", "event_type", "value")


def q_user_state_periods(spark, sf_dir):
    """SCD2 validity intervals: collapse each user's consecutive runs
    of equal event_type into (valid_from, valid_to, version,
    is_current, n_changes) rows — gaps-and-islands, two key-partitioned
    windows + one aggregate (operators/cdc.state_periods)."""
    p = CDC.state_periods(
        _events(spark, sf_dir),
        ["user_id"],
        seq_col="ts",
        state_col="event_type",
        tie_col="event_id",
    )
    return p.select(
        "user_id",
        "event_type",
        "valid_from",
        "valid_to",
        "version",
        "is_current",
        "n_changes",
    )


def q_sql_interface(spark, sf_dir):
    """The SQL front door: the same engine driven by ANSI SQL text
    over registered views (spark.sql) instead of the DataFrame API —
    a reference user who writes plain SQL needs nothing else. The
    text below runs verbatim-shaped on the oracle too."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_orders"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(avg(o_totalprice), 2) AS avg_price
        FROM v_orders
        GROUP BY o_orderstatus, o_orderpriority
        """
    )


def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: one tight conjunctive filter + a single global
    aggregate — the query whose entire cost is the scan, so every
    predicate must reach the parquet reader (PushedFilters pinned in
    test_plans). Revenue in DECIMAL for order-independence."""
    li = _t(spark, sf_dir, "lineitem")
    amt = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")
    return (
        li.where(
            (F.year("l_shipdate") == 1995)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.round(F.sum(amt), 2).cast("double").alias("revenue"),
        )
    )


def q_shipping_modes(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive (brand, size,
    quantity) windows evaluated after the part equi-join — the OR
    branches cannot all push to one scan, but the join stays a single
    hash join with the residual predicate on top (never one join per
    branch)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    branch = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#7") & (F.col("p_size") <= 20)
           & (F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 35))
        | ((F.col("p_brand") == "Brand#13") & (F.col("p_size") <= 30)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 50))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return j.where(branch).groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(F.sum(rev), 2).cast("double").alias("revenue"),
    )


PART_SHARE_BPS = 5.0  # keep parts above 5 basis points of total revenue


def q_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: per-part revenue kept only when it exceeds a
    fraction of the GLOBAL total — group-HAVING against a scalar
    subquery. The scalar re-aggregates the grouped table (no second
    fact scan) and broadcasts as one row."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    per_part = li.groupBy("l_partkey").agg(
        F.round(F.sum(rev), 2).cast("double").alias("part_rev")
    )
    total = per_part.agg(
        F.round(F.sum(F.col("part_rev").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("__tot")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_rev") > F.col("__tot") * (PART_SHARE_BPS / 10000.0))
        .select(
            "l_partkey",
            "part_rev",
            F.round(F.lit(10000.0) * F.col("part_rev") / F.col("__tot"), 4).alias(
                "share_bps"
            ),
        )
    )


def q_value_outliers(spark, sf_dir):
    """Per-type anomaly gate: how many events sit more than 3 rounded
    standard deviations from their type's rounded mean — the data-
    quality tripwire before values feed training. Two-phase: stats
    aggregate (1 shuffle), rounded stats broadcast back over the scan
    (no second shuffle of events). Rounding the stats BEFORE the
    comparison keeps the cut deterministic cross-engine."""
    ev = _events(spark, sf_dir)
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sigma"),
    )
    j = ev.join(F.broadcast(stats), "event_type")
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.max("mu").alias("mu"),
            F.max("sigma").alias("sigma"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("mu"))
                    > F.lit(3.0) * F.col("sigma")
                ).cast("int")
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


PASSAGE_GRAM = 20
PASSAGE_TOP = 20


def q_dedup_passages(spark, sf_dir):
    """Cross-document repeated passages: top char-20-grams by how many
    distinct documents they appear in (dedup.repeated_passages) — the
    passage-level signal whole-doc dedup misses (boilerplate headers,
    licence blocks). Top-k via TakeOrderedAndProject; ties broken by
    occurrence count then hash."""
    top = D.repeated_passages(
        _docs(spark, sf_dir), gram_len=PASSAGE_GRAM, min_docs=2
    )
    return top.orderBy(
        F.col("n_docs").desc(), F.col("n_occurrences").desc(), "h"
    ).limit(PASSAGE_TOP)


ATTRIB_WINDOW_S = 7 * 86400


def q_events_multitouch(spark, sf_dir):
    """Linear multi-touch attribution: each purchase's value splits
    evenly across the same user's views in the trailing 7 days (the
    fair-share counterpart of q_events_attrib's last-touch AS-OF).
    One RANGE-frame window per user counts trailing views — no
    self-join, one shuffle on user_id — then per-day attributed
    revenue. Purchases with no prior view keep their value under
    'unattributed'."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-ATTRIB_WINDOW_S, 0)
    )
    n_views = F.sum(
        F.when(F.col("event_type") == "view", 1).otherwise(0)
    ).over(w)
    p = (
        ev.withColumn("n_views", n_views)
        .where(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("value"),
            F.col("n_views").cast("long").alias("n_views"),
        )
    )
    return p.groupBy("day").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.round(
            F.sum(F.when(F.col("n_views") > 0, F.col("value")).otherwise(0.0)), 2
        ).alias("attributed_value"),
        F.round(
            F.sum(F.when(F.col("n_views") == 0, F.col("value")).otherwise(0.0)), 2
        ).alias("unattributed_value"),
        F.round(F.avg(F.col("n_views").cast("double")), 4).alias("avg_touches"),
    )


def q_revenue_mom(spark, sf_dir):
    """Month-over-month revenue: monthly totals (DECIMAL, rounded)
    with absolute and percent change via lag — the delta query every
    finance dashboard opens with. Percent divides two already-rounded
    doubles, so both engines divide identical inputs."""
    orders = _t(spark, sf_dir, "orders")
    m = (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    # first month: lag is NULL -> 0.0 (keeps result columns non-NULL,
    # which sort-based cross-engine compares need)
    return m.select(
        "month",
        "revenue",
        F.coalesce(F.round(F.col("revenue") - prev, 2), F.lit(0.0)).alias("delta"),
        F.coalesce(
            F.round((F.col("revenue") - prev) / prev * 100.0, 4), F.lit(0.0)
        ).alias("pct_change"),
    )


def q_lineitem_expectations(spark, sf_dir):
    """Data-contract gate over the fact table: declared rules →
    violation counts (operators/expectations.py) — nulls, ranges,
    domains, uniqueness of the line id, and referential integrity
    against orders. Row rules share ONE scan; the FK check is one
    anti-join."""
    from mapreduce_kmeans_clustering_spark.operators.expectations import expect

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    li2 = li.withColumn(
        "line_uid",
        F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")),
    )
    return expect(
        li2,
        [
            ("not_null", "l_orderkey"),
            ("between", "l_quantity", 1.0, 50.0),
            ("between", "l_discount", 0.0, 0.1),
            ("in_set", "l_returnflag", ["A", "N", "R"]),
            ("regex", "l_linestatus", "^[FO]$"),
            ("unique", "line_uid"),
            ("fk", "l_orderkey", orders, "o_orderkey"),
        ],
    )


def q_corpus_shard_manifest(spark, sf_dir):
    """Shard manifest with content checksums: per (split, shard) the
    doc count, char total, and an order-independent digest —
    md5 over the sorted doc-id list — so a consumer can verify a
    delivered shard matches what the producer cut without comparing
    rows. The digest is deterministic because the id list is sorted
    inside the aggregate (collect_list order is not stable; sort_array
    makes it canonical)."""
    docs = CU.split_assign(_docs(spark, sf_dir))
    return docs.groupBy("split", "shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.md5(
            F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col("doc_id")))
            )
        ).alias("content_digest"),
    )


def q_value_winsorized(spark, sf_dir):
    """Winsorization gate: clip event value at its type's rounded p99
    (outlier capping before values feed a model). Two-phase like the
    outlier query: exact percentile per type (rounded → deterministic
    threshold), broadcast back, clip with least() — one events
    shuffle total. Reports per type: rows clipped and the mass the
    cap removed."""
    ev = _events(spark, sf_dir)
    caps = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.99), 4).alias("cap")
    )
    j = ev.join(F.broadcast(caps), "event_type")
    clipped = F.least(F.col("value"), F.col("cap"))
    return j.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("cap").alias("cap"),
        F.sum((F.col("value") > F.col("cap")).cast("int"))
        .cast("long")
        .alias("n_clipped"),
        F.round(F.sum(F.col("value") - clipped), 2).alias("mass_removed"),
    )


# SCD2-style versioned rate table: (valid_from, rate) — each order
# takes the latest rate at or before its order date. Literal and
# identical in both engines.
FX_VERSIONS = [
    (f"{1995 + i // 2}-{'01' if i % 2 == 0 else '07'}-01 00:00:00", round(1.0 + 0.02 * i, 4))
    for i in range(14)
]


def q_orders_fx(spark, sf_dir):
    """Temporal dimension lookup (SCD2 / currency-rate shape): every
    order joined AS-OF to the latest version of a rates table valid at
    its order date, revenue restated under that rate. Same one-
    sort-shuffle asof_join machinery as event attribution — a
    versioned dimension is just an as-of join where the right side is
    tiny. Yearly rollup of restated revenue."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
        "o_totalprice",
        F.lit("usd").alias("ccy"),
    )
    rates = spark.createDataFrame(
        [(t, r) for t, r in FX_VERSIONS], "valid_from string, rate double"
    ).select(
        F.lit("usd").alias("ccy"),
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        "rate",
    )
    j = J.asof_join(
        orders,
        rates,
        on="ccy",
        left_ts="o_orderdate",
        right_ts="valid_from",
        payload=["rate"],
    )
    restated = (
        F.col("o_totalprice") * F.coalesce(F.col("rate"), F.lit(1.0))
    ).cast("decimal(18,4)")
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(restated), 2).cast("double").alias("restated_revenue"),
        )
    )


def q_user_lifetime(spark, sf_dir):
    """Engagement-tenure histogram: per-user first→last event span
    bucketed into weeks, with user counts and average activity per
    bucket — the lifetime table cohort/LTV analyses start from. One
    aggregate to user grain, one to bucket grain; integer week math
    so the bucket cut is exact."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.count("*").cast("long").alias("n_events"),
    )
    weeks = F.expr("datediff(last_ts, first_ts) div 7").cast("int")
    return (
        per_user.select(weeks.alias("tenure_weeks"), "n_events")
        .groupBy("tenure_weeks")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.round(F.avg(F.col("n_events").cast("double")), 4).alias(
                "avg_events"
            ),
        )
    )


OVERLAP_TOP = 15


def q_source_overlap(spark, sf_dir):
    """Vocabulary overlap between sources: Jaccard similarity of each
    source pair's distinct token sets — the corpus-composition check
    that flags two 'different' feeds scraping the same sites. Shape:
    distinct (source, token) inverted index, self-equi-join on token
    (never source x source), |A∪B| = |A|+|B|-|A∩B| from per-source
    counts. Top pairs by similarity."""
    docs = _docs(spark, sf_dir)
    st = docs.select(
        "source", F.explode(TX.tokens(F.col("text"))).alias("tok")
    ).distinct()
    sizes = st.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = st.select(F.col("source").alias("s1"), "tok")
    b = st.select(F.col("source").alias("s2"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("s1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("source").alias("s2"), F.col("n").alias("n2"))
    j = (
        inter.join(F.broadcast(sa), "s1")
        .join(F.broadcast(sb), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("n1") + F.col("n2") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return j.orderBy(F.col("jaccard").desc(), "s1", "s2").limit(OVERLAP_TOP)


ZIPF_TOP = 20


def q_token_zipf(spark, sf_dir):
    """Zipf head of the corpus: top tokens by frequency with their
    rank and rank*frequency product (roughly constant under Zipf's
    law — the sanity plot every corpus report includes). One token
    aggregate + a rank window over the rounded head."""
    docs = _docs(spark, sf_dir)
    tf = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), "tok")
    return (
        tf.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= ZIPF_TOP)
        .select(
            "rank", "tok", "freq", (F.col("rank") * F.col("freq")).alias("rf")
        )
    )


PMI_VOCAB = 50
PMI_MIN_PAIR = 5
BPE_TOP = 20


def q_token_pmi(spark, sf_dir):
    """Token co-occurrence PMI within documents over the top-PMI_VOCAB
    document-frequency vocabulary — the association-mining pass behind
    collocation extraction and topic seeding.

    Scale shape: the vocabulary is a V-row broadcast (V fixed, chosen
    by df rank with a deterministic tiebreak), so the pair key space
    is bounded by C(V,2) regardless of corpus size and the per-doc
    pair fanout by C(V_present,2). One distinct, one broadcast
    semi-join, one equi-join on doc_id, one hash aggregate; the corpus
    total is a 1-row broadcast, never a driver-side count."""
    docs = _docs(spark, sf_dir)
    dt = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    ).distinct()
    dfreq = dt.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    # top-V via orderBy+limit -> TakeOrderedAndProject (distributed
    # partial top-k), NOT an unpartitioned rank window (which would
    # funnel the whole corpus vocabulary through one task)
    vocab = dfreq.orderBy(F.col("df").desc(), "tok").limit(PMI_VOCAB)
    dv = dt.join(F.broadcast(vocab), "tok").select("doc_id", "tok", "df")
    a = dv.select("doc_id", F.col("tok").alias("ta"), F.col("df").alias("dfa"))
    b = dv.select("doc_id", F.col("tok").alias("tb"), F.col("df").alias("dfb"))
    nd = docs.agg(F.count("*").cast("long").alias("n_docs"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb", "dfa", "dfb")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= PMI_MIN_PAIR)
    )
    pmi = F.round(
        F.log(
            (F.col("n_ab").cast("double") * F.col("n_docs"))
            / (F.col("dfa").cast("double") * F.col("dfb"))
        ),
        4,
    )
    return pairs.crossJoin(F.broadcast(nd)).select(
        "ta", "tb", "n_ab", pmi.alias("pmi")
    )


def q_bpe_merge_pairs(spark, sf_dir):
    """First BPE merge iteration (Sennrich et al. 2016, arXiv:
    1508.07909): adjacent character-pair frequencies, counted per
    word occurrence — the argmax of this table IS the first merge a
    tokenizer trainer would learn.

    The word-level pre-aggregation is the classic trainer trick: the
    corpus-scale work is ONE token hash aggregate (map-side partials);
    the pair explosion then runs over the DISTINCT vocabulary weighted
    by word count, so generator cost is vocabulary-sized, not
    corpus-sized. Top-BPE_TOP via a rank window over the (tiny)
    aggregated pair table, ties broken lexicographically."""
    docs = _docs(spark, sf_dir)
    wf = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("wc"))
        .where(F.length("w") >= 2)
    )
    pos = F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("pos")
    pairs = wf.select("w", "wc", pos).select(
        F.col("w").substr(F.col("pos"), F.lit(2)).alias("pair"), "wc"
    )
    agg = pairs.groupBy("pair").agg(F.sum("wc").cast("long").alias("freq"))
    w = Window.orderBy(F.col("freq").desc(), "pair")
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= BPE_TOP)
        .select("rank", "pair", "freq")
    )


BPE_TRAIN_MERGES = 3


def q_bpe_train(spark, sf_dir):
    """Iterative BPE training (operators/text.bpe_train): the first
    BPE_TRAIN_MERGES merges actually LEARNED — each step's pair count
    runs over the vocabulary REWRITTEN by all previous merges, which
    is the part q_bpe_merge_pairs (single-step pair table) cannot
    show. One lazy plan: K chained vocab-sized iterations, each a
    pair aggregate + 1-row TakeOrdered broadcast anchor + scan-local
    replace; the oracle unrolls the identical three steps."""
    return TX.bpe_train(_docs(spark, sf_dir), n_merges=BPE_TRAIN_MERGES).orderBy(
        "step"
    )


VOCAB_CUTOFFS = (100, 1000, 10000)


def q_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve: what fraction of all token
    OCCURRENCES the top-V most frequent types cover, at the standard
    report cutoffs — the first number a tokenizer/vocab decision
    looks at (diminishing-returns knee).

    Scale shape: one token hash aggregate; the global rank is taken
    with orderBy+limit(max cutoff) — TakeOrderedAndProject, so only
    the CONSTANT-bounded head (10k rows) ever sits in one partition
    for the cumulative window; cutoffs and the corpus total are 1-3
    row broadcasts."""
    docs = _docs(spark, sf_dir)
    tf = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    total = tf.agg(F.sum("freq").cast("long").alias("total"))
    top = tf.orderBy(F.col("freq").desc(), "tok").limit(max(VOCAB_CUTOFFS))
    rank_w = Window.orderBy(F.col("freq").desc(), "tok")
    cum_w = rank_w.rowsBetween(Window.unboundedPreceding, 0)
    cum = top.select(
        F.row_number().over(rank_w).alias("r"),
        F.sum("freq").over(cum_w).alias("cum"),
    )
    cuts = spark.createDataFrame([(v,) for v in VOCAB_CUTOFFS], "vocab_size INT")
    cv = (
        cum.join(F.broadcast(cuts), F.col("r") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(F.max("cum").cast("long").alias("covered_tokens"))
    )
    return cv.crossJoin(F.broadcast(total)).select(
        "vocab_size",
        "covered_tokens",
        F.round(F.col("covered_tokens").cast("double") / F.col("total"), 6).alias(
            "coverage"
        ),
    )


def q_events_dow_hour(spark, sf_dir):
    """Activity heatmap: events by (day-of-week 1=Sunday, hour) — the
    load-pattern matrix behind capacity planning and bot detection.
    One hash aggregate on a 7x24 key domain."""
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def q_brand_type_share(spark, sf_dir):
    """Share-of-group via window ratio: each brand's revenue as a
    percent of its part type's total — the within-category share
    pattern (window sum over the grouped table, no second scan or
    self-join). DECIMAL totals rounded before the division."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    g = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_brand")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("brand_rev"))
    )
    w = Window.partitionBy("p_type")
    return g.select(
        "p_type",
        "p_brand",
        "brand_rev",
        # the window total goes through DECIMAL so the divisor is
        # partition-order-independent (same rule as every money sum)
        F.round(
            F.lit(100.0)
            * F.col("brand_rev")
            / F.sum(F.col("brand_rev").cast("decimal(18,2)"))
            .over(w)
            .cast("double"),
            4,
        ).alias("type_share_pct"),
    )


def q_customer_rfm(spark, sf_dir):
    """RFM segmentation: every customer scored into quartiles of
    Recency (days since last order, vs the corpus max date), Frequency
    (order count) and Monetary (total spend), rolled up per R-F-M
    segment code — the classic marketing cut, all ntile windows with
    custkey tie-breaks so the cut is deterministic."""
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("__mx"))
    per_cust = (
        orders.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.min(F.expr("datediff(__mx, o_orderdate)"))
            .cast("int")
            .alias("recency_days"),
            F.count("*").cast("long").alias("frequency"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("monetary"),
        )
    )
    r = F.ntile(4).over(
        Window.orderBy(F.col("recency_days"), F.col("o_custkey"))
    )
    f_ = F.ntile(4).over(
        Window.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    )
    m = F.ntile(4).over(
        Window.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    )
    scored = per_cust.select(
        "o_custkey",
        "monetary",
        F.concat(F.lit("R"), r, F.lit("F"), f_, F.lit("M"), m).alias("segment"),
    )
    return scored.groupBy("segment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.round(F.sum(F.col("monetary").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("segment_value"),
    )


def q_session_conversion(spark, sf_dir):
    """Per-day session conversion: sessions (30-min inactivity cut)
    grouped by their start day, with the share that contained a
    purchase — the KPI sitting on top of sessionization + funnel.
    Session ids come from a running sum of the new-session flag (one
    user_id shuffle); conversion is a per-session any-purchase flag
    rolled up to day grain."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = e.withColumn("sid", F.sum(new_s).over(run))
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.date_trunc("day", F.min("ts")).alias("day"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("converted"),
    )
    return per_sess.groupBy("day").agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.round(
            F.sum("converted") / F.count("*").cast("double") * 100.0, 4
        ).alias("conversion_pct"),
    )


def q_order_backlog(spark, sf_dir):
    """Backlog aging: non-final orders bucketed by age (180-day bands
    against the corpus max date), counts and value per (status, band)
    — the operations view of unfinished work. One broadcast anchor
    row, one aggregate."""
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("__mx"))
    age = F.expr("datediff(__mx, o_orderdate)")
    band = F.least(F.lit(4), F.floor(age / 180)).cast("int")
    return (
        orders.where(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(anchor))
        .groupBy(F.col("o_orderstatus").alias("status"), band.alias("age_band"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("backlog_value"),
        )
    )


def q_custdist(spark, sf_dir):
    """TPC-H Q13 shape: distribution of customers by order count,
    INCLUDING zero-order customers — the outer-join-then-double-
    aggregate pattern (left outer join, per-customer count where NULL
    keys count 0, then a second aggregate over the counts). Two
    shuffles: custkey, then c_count; both partial->final."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per = (
        cust.join(
            orders.select("o_custkey", "o_orderkey"),
            cust["c_custkey"] == orders["o_custkey"],
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_sole_return_supplier(spark, sf_dir):
    """TPC-H Q21 shape on our schema: suppliers who shipped a returned
    line (flag 'R') on a multi-supplier order where NO OTHER supplier
    had a return on that order — the EXISTS + NOT EXISTS pair over the
    same fact, planned as one semi and one anti equi-join on orderkey
    (never a per-row subquery). The two derived sides are built from
    one groupBy pass over the returns subset."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rets = (
        li.where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("ns"))
        .where(F.col("ns") > 1)
        .select("l_orderkey")
    )
    sole = (
        rets.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("nret"),
            F.min("l_suppkey").alias("the_supp"),
        )
        .where(F.col("nret") == 1)
        .join(multi, "l_orderkey", "left_semi")
    )
    return (
        sole.groupBy("the_supp")
        .agg(F.count("*").cast("long").alias("numwait"))
        .join(F.broadcast(supp), sole["the_supp"] == supp["s_suppkey"])
        .select(
            "s_name",
            "numwait",
        )
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
    )


def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape without a partsupp table: for each small part
    (p_size < 10), the supplier that shipped it at the minimum unit
    price — per-group argmin via one min(struct(price, suppkey))
    aggregate (deterministic suppkey tie-break), never a correlated
    per-part subquery or a window sort. The part/supplier dims
    broadcast into the fact aggregate's result."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    best = (
        li.groupBy("l_partkey")
        .agg(F.min(F.struct(unit.alias("u"), F.col("l_suppkey").alias("sk"))).alias("b"))
        .select(
            "l_partkey",
            (F.floor(F.col("b.u") * 1e4 + F.lit(0.5)) / 1e4).alias(
                "min_unit_price"
            ),
            F.col("b.sk").alias("l_suppkey"),
        )
    )
    return (
        best.join(
            F.broadcast(part.where(F.col("p_size") < 10)),
            best["l_partkey"] == part["p_partkey"],
        )
        .join(F.broadcast(supp), best["l_suppkey"] == supp["s_suppkey"])
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            "min_unit_price",
        )
    )


def q_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 shape: customers with above-average positive balance
    and no RECENT orders (none on/after IDLE_CUTOFF), per nation — the
    scalar-aggregate threshold (computed once, broadcast) plus an anti
    join against the date-filtered order set. The above-average test is
    done in integer cents cross-multiplied against (sum, n) —
    ``cents * n > sum_cents`` — so no engine ever compares a fractional
    average (a double-vs-decimal threshold could flip a customer
    sitting exactly on the mean).

    Round 6 de-vacuation: the original "no orders at all" anti join was
    EMPTY at sf0.001/sf0.01 (every synthetic customer has >= 1 order)
    and 1 row at sf0.1 — a 0-row hash match verified nothing. The
    recency cutoff keeps the Q22 shape (scalar threshold + anti join)
    while qualifying 2/14/148 customers at the three test SFs, and the
    date predicate is pushed into the anti join's build side scan."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = cust.where(F.col("c_acctbal") > 0).select(
        "c_custkey", "c_nationkey", cents.alias("__c")
    )
    thr = pos.agg(
        F.sum("__c").alias("__s"), F.count("*").cast("long").alias("__n")
    )
    recent = orders.where(
        F.col("o_orderdate") >= F.lit(IDLE_CUTOFF).cast("timestamp")
    ).select("o_custkey")
    return (
        pos.crossJoin(F.broadcast(thr))
        .where(F.col("__c") * F.col("__n") > F.col("__s"))
        .join(
            recent,
            pos["c_custkey"] == recent["o_custkey"],
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n_cust"),
            F.round(F.sum("__c") / 100.0, 2).alias("total_bal"),
        )
    )


def q_events_rollup_incremental(spark, sf_dir):
    """Continuous-rollup maintenance proved exact: the per-(day, type)
    aggregate computed as TWO batch summaries (facts split by event_id
    parity, so every group genuinely straddles both) merged with
    operators/incremental.merge_aggregates — O(batch)+O(aggregate)
    maintenance, never a history rescan. The oracle recomputes the
    aggregate from scratch; equality IS the mergeability claim.
    DECIMAL sums so the split/merge can't drift a low bit."""
    e = _events(spark, sf_dir)
    facts = e.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
        "event_id",
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    spec = {
        "n_events": ("count", ""),
        "sum_value": ("sum", "v"),
        "min_value": ("min", "v"),
        "max_value": ("max", "v"),
    }
    keys = ["day", "event_type"]
    base = INC.aggregate_batch(
        facts.where(F.col("event_id") % 2 == 0), keys, spec
    )
    delta = INC.aggregate_batch(
        facts.where(F.col("event_id") % 2 == 1), keys, spec
    )
    merged = INC.merge_aggregates([base, delta], keys, spec)
    return merged.select(
        "day",
        "event_type",
        "n_events",
        F.round("sum_value", 4).cast("double").alias("sum_value"),
        F.round("min_value", 4).cast("double").alias("min_value"),
        F.round("max_value", 4).cast("double").alias("max_value"),
    )


def q_incremental_join_view(spark, sf_dir):
    """Incremental maintenance of a JOIN view: per-customer lineitem
    revenue (orders ⋈ lineitem, grouped by o_custkey) maintained as
    base (orders before 1997) + delta (1997 onward) summaries merged
    with operators/incremental.merge_aggregates — the materialized-
    view pattern where appending a day of orders costs O(delta join) +
    O(aggregate), never a rescan of the joined history. Each order's
    lines ride with their order through the split (the join key is
    o_orderkey), so the two part-joins partition the fact exactly.
    The oracle recomputes the view from the FULL join; equality is the
    merge-law proof. DECIMAL revenue so the split can't drift a bit."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    spec = {"n_lines": ("count", ""), "revenue_sum": ("sum", "rev")}

    def part(orders_part):
        j = li.join(
            orders_part, F.col("l_orderkey") == F.col("o_orderkey")
        ).select("o_custkey", rev.alias("rev"))
        return INC.aggregate_batch(j, ["o_custkey"], spec)

    base = part(orders.where(F.year("o_orderdate") < 1997))
    delta = part(orders.where(F.year("o_orderdate") >= 1997))
    merged = INC.merge_aggregates([base, delta], ["o_custkey"], spec)
    return merged.select(
        "o_custkey",
        "n_lines",
        F.round("revenue_sum", 2).cast("double").alias("revenue"),
    )


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup verdicts over the embeddings corpus: assign to the
    first-k seed centroids, prune in-cluster cosine near-dups (min-id
    survivor). k=None → dedup.suggested_semantic_k(count) ~ sqrt(n),
    so expected block size is also ~sqrt(n) and total in-cluster pair
    work stays O(n·sqrt-block) — the fixed k=8 form this replaced
    measured e = 1.10 at ×10 (SCALE.md §8, VERDICT r9 item 2). The
    oracle mirrors k = greatest(8, round(sqrt(count(*)))) in SQL."""
    return D.semantic_dedup(
        _emb(spark, sf_dir), k=None, threshold=SEMDEDUP_THRESHOLD
    )


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: unshipped-revenue top-10 for one market segment
    — segment filter pushed into the (broadcastable) customer dim,
    date filters pushed to both the orders and lineitem scans, one
    hash aggregate on (orderkey, orderdate), top-10 via
    TakeOrderedAndProject (never a global sort). Deterministic
    orderkey tie-break so LIMIT is stable cross-engine."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cut = F.to_timestamp(F.lit("1996-07-01"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.where(F.col("l_shipdate") > cut)
        .join(
            orders.where(F.col("o_orderdate") < cut),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(
                cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 1996 revenue per nation where the customer and
    the supplier share a nation, market scoped to one region — the
    colocated-commerce join graph. The year filter is pushed to the
    orders scan; nation and the 1-row filtered region broadcast; the
    c_nationkey = s_nationkey equality rides the supplier hash join as
    an extra condition (no extra shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(
            orders.where(F.year("o_orderdate") == 1996),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_7's share of the ASIA ECONOMY-part
    market per order year — conditional aggregation (two DECIMAL sums
    from one pass) over the two-armed join graph, part/nation/region
    dims broadcast. The share divides the two sums as doubles at the
    very end; nothing iterates, nothing scans twice."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    return (
        li.join(
            F.broadcast(part.where(F.col("p_type") == "ECONOMY").select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(
            F.broadcast(region.where(F.col("r_name") == "ASIA")),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_7", rev).otherwise(zero))
            .alias("__num"),
            F.sum(rev).alias("__den"),
        )
        .select(
            "o_year",
            F.round(
                F.col("__num").cast("double") / F.col("__den").cast("double"), 6
            ).alias("mkt_share"),
        )
    )


def q_product_profit(spark, sf_dir):
    """TPC-H Q9 shape without a partsupp table: per (supplier nation,
    order year) profit on 'red' parts, where unit supply cost is
    proxied as 60% of p_retailprice — revenue and cost each cast to
    DECIMAL(18,4) per row so the group sums are order-independent.
    The name filter prunes the broadcast part dim before the fact
    join; one hash aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    cost = (F.col("p_retailprice") * F.col("l_quantity") * 0.6).cast(
        "decimal(18,4)"
    )
    return (
        li.join(
            F.broadcast(
                part.where(F.col("p_name").contains("red")).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(rev - cost), 2).cast("double").alias("profit"))
    )


def q_ship_lag_priority(spark, sf_dir):
    """TPC-H Q12 shape on our schema (no shipmode/commitdate columns):
    order-to-ship lag bands × order-priority class — the
    derived-band + conditional-count pattern. One equi-join on
    orderkey, the CASE band computed in codegen, two conditional sums
    in a single hash aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    band = (
        F.when(lag <= 30, "0-30d")
        .when(lag <= 90, "31-90d")
        .otherwise("90d+")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.select("l_orderkey", "l_shipdate")
        .join(
            orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(band.alias("lag_band"))
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


def q_part_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape with lineitem as the part-supplier bridge: how
    many distinct suppliers ever shipped each (brand, type, size)
    among small parts, excluding suppliers in arrears — the
    anti-join-then-count-distinct pattern. The 6-row exclusion list
    broadcasts into a LEFT ANTI before the distinct pairs are formed;
    NULL-safe by construction (keys are non-null, and the anti join —
    unlike NOT IN — would stay correct if they weren't)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    bad = supp.where(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .distinct()
    )
    return (
        pairs.join(
            F.broadcast(
                part.where(
                    (F.col("p_brand") != "Brand#15") & (F.col("p_size") <= 10)
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: yearly revenue locked in small-quantity lines
    — lines under 20% of their part's average quantity, for small
    parts. The per-part average is carried as exact integer (sum, n)
    partials and the threshold test cross-multiplies
    (5·qty·n < sum), so no engine ever compares against a fractional
    average. One per-part aggregate joined back to the fact — the
    decorrelated form of Q17's correlated subquery."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    qty = F.col("l_quantity").cast("long")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qty).alias("sq"), F.count("*").alias("nq")
    )
    return (
        li.join(
            F.broadcast(part.where(F.col("p_size") <= 5).select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(pa, F.col("l_partkey") == F.col("pk"))
        .where(qty * F.lit(5) * F.col("nq") < F.col("sq"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


def q_promotable_suppliers(spark, sf_dir):
    """TPC-H Q20 shape with lineitem as the availability signal:
    suppliers who shipped more than half of some 'red' part's 1996
    volume — the nested-semi-join chain (part filter → per-(part,
    supplier) volume → per-part total → majority test → supplier
    semi join). The per-part total reuses the per-pair aggregate
    (no second fact scan); integer quantity sums cross-multiply so
    the majority test is exact."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    red = part.where(F.col("p_name").startswith("red ")).select("p_partkey")
    pq = (
        li.where(F.year("l_shipdate") == 1996)
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sq"))
    )
    tot = pq.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("sq").alias("tq")
    )
    cand = (
        pq.join(tot, F.col("l_partkey") == F.col("pk"))
        .where(F.col("sq") * 2 > F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(cand, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TOK = "regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')"
_PAD = "(' ' || lower(coalesce(text, '')) || ' ')"


def _mcount(marker: str) -> str:
    esc = marker.replace("'", "''")
    return f"(length({_PAD}) - length(replace({_PAD}, '{esc}', ''))) / {len(marker)}"


def _lang_score(lang: str) -> str:
    return " + ".join(_mcount(m) for m in TX.LANG_MARKERS[lang])


_STOP_CNT = " + ".join(_mcount(m) for m in TX.EN_STOPWORDS)

def _sql_shingles(src: str = "documents") -> str:
    """toks/sh/shf CTEs: distinct word-3-gram sets per doc of ``src``."""
    return f"""
toks AS (SELECT doc_id, {_TOK} AS w FROM {src}),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
  FROM toks
),
shf AS (SELECT * FROM sh WHERE len(s) > 0)"""


_SQL_SHINGLES = _sql_shingles("documents")

_SIG_ITEMS = ", ".join(
    f"list_aggregate(list_transform(s, x -> md5('{i}:' || x)), 'min')" for i in range(8)
)
_SQL_SIG = f"sig AS (SELECT doc_id, [{_SIG_ITEMS}] AS g FROM shf)"
_SQL_BANDS = "bands AS (" + " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, g[{2*b+1}] || '|' || g[{2*b+2}] AS band_sig FROM sig"
    for b in range(4)
) + ")"

_SIMHASH_BITSUMS = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(SIMHASH_BITS)
)
_SIMHASH_FP = " + ".join(
    f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS)
)
_SQL_SIMHASH = f"""
tok AS (SELECT doc_id, unnest({_TOK}) AS t FROM documents),
th AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
bitsum AS (SELECT doc_id, {_SIMHASH_BITSUMS} FROM th GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({_SIMHASH_FP} AS BIGINT) AS simhash FROM bitsum)"""

_COS = (
    "list_inner_product(va, vb)"
    " / (sqrt(list_inner_product(va, va)) * sqrt(list_inner_product(vb, vb)))"
)

_PLANE_BUCKET = " + ".join(
    f"CASE WHEN list_inner_product(v, {lit}) > 0 THEN {1 << p} ELSE 0 END"
    for p, lit in enumerate(SIM.sql_plane_literal())
)

_PLANE_BUCKET4 = " + ".join(
    f"CASE WHEN list_inner_product(v, {lit}) > 0 THEN {1 << p} ELSE 0 END"
    for p, lit in enumerate(SIM.sql_plane_literal(planes=LSH_PLANES))
)

# Corpus-aware bucket: mirrors similarity.auto_planes — plane p
# contributes its bit only when p < npl (the data-dependent plane
# count computed in a `pl` CTE), over the full AUTO_PLANES_MAX=24
# plane set. Same rule as the Python side: 4 planes at or below the
# 2000-vector reference corpus, +1 per corpus doubling, capped at 24.
_PLANE_BUCKET_AUTO = " + ".join(
    f"CASE WHEN {p} < npl AND list_inner_product(v, {lit}) > 0 "
    f"THEN {1 << p} ELSE 0 END"
    for p, lit in enumerate(
        SIM.sql_plane_literal(planes=SIM.AUTO_PLANES_MAX)
    )
)
_AUTO_PLANES_SQL = (
    f"CASE WHEN count(*) <= {SIM.AUTO_PLANES_REF_N} "
    f"THEN {SIM.AUTO_PLANES_BASE} "
    f"ELSE least({SIM.AUTO_PLANES_MAX}, {SIM.AUTO_PLANES_BASE} "
    f"+ CAST(ceil(log2(count(*) / {SIM.AUTO_PLANES_REF_N}.0)) AS INT)) END"
)

_QUALITY = (
    f"0.4 * least(1.0, ntok / 100.0) + 0.3 * alpha + 0.3 * least(1.0, stop * 5.0)"
)

_LANGS = list(TX.LANG_MARKERS)
_LANG_CASE = (
    "CASE WHEN "
    + " AND ".join(f"s_{lang} = 0" for lang in _LANGS)
    + " THEN 'und' "
    + " ".join(
        "WHEN "
        + " AND ".join(f"s_{lang} >= s_{other}" for other in _LANGS[i + 1 :])
        + f" THEN '{lang}'"
        for i, lang in enumerate(_LANGS[:-1])
    )
    + f" ELSE '{_LANGS[-1]}' END"
)

_SQL_JACCARD = f"""
WITH {_SQL_SHINGLES},
sz AS (SELECT doc_id, len(s) AS n_sh FROM shf),
e AS (SELECT doc_id, unnest(s) AS shingle FROM shf),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
  FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT a, b, round(c / (sa.n_sh + sb.n_sh - c), 6) AS jaccard
FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
WHERE c / (sa.n_sh + sb.n_sh - c) >= {JACCARD_THRESHOLD}"""

def _pagerank_sql(iters: int, d: float) -> str:
    """Unrolled PageRank oracle: the same damped power iteration
    operators/graph.pagerank runs (uniform init, dangling mass shared
    uniformly, rank = (1-d)/n + d*dang/n + d*inflow), one CTE block
    per iteration — iterative algorithms stay oracle-checkable when
    the iteration count is a fixed plan constant."""
    head = f"""
WITH e AS (SELECT DISTINCT sn.n_name AS src, cn.n_name AS dst
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN supplier s ON l.l_suppkey = s.s_suppkey
           JOIN nation sn ON s.s_nationkey = sn.n_nationkey
           JOIN nation cn ON c.c_nationkey = cn.n_nationkey
           WHERE sn.n_name <> cn.n_name),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn)"""
    blocks = []
    for i in range(iters):
        blocks.append(
            f"""
d{i} AS (SELECT coalesce(sum(rank), 0.0) AS dang
         FROM r{i} LEFT JOIN deg ON node = src WHERE deg IS NULL),
c{i} AS (SELECT e.dst, sum(r.rank / deg.deg) AS inflow
         FROM r{i} r JOIN deg ON r.node = deg.src JOIN e ON e.src = r.node
         GROUP BY e.dst),
r{i + 1} AS (SELECT node,
             (1 - {d}) / n + {d} * dang / n + {d} * coalesce(inflow, 0.0) AS rank
             FROM nodes CROSS JOIN nn CROSS JOIN d{i}
             LEFT JOIN c{i} ON node = c{i}.dst)"""
        )
    return (
        head
        + ","
        + ",".join(blocks)
        + f"""
SELECT node AS nation, round(rank, 6) AS rank FROM r{iters} ORDER BY nation"""
    )


_SQL_ANN_TOPK = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS va FROM v WHERE vec_id < 10),
s AS (SELECT query_id, c.vec_id AS neighbor_id, va, c.v AS vb
      FROM q CROSS JOIN v c WHERE c.vec_id <> query_id),
r AS (SELECT query_id, neighbor_id, {_COS} AS cos,
             row_number() OVER (PARTITION BY query_id ORDER BY {_COS} DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 6) AS cos
FROM r WHERE rank <= {ANN_K}"""

# exact L2 top-k (the uncompressed ground truth for IVFADC recall):
# list_sum(list_transform(...)) reproduces the Spark HOF sum order
_SQL_ANN_L2_TOPK = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS va FROM v WHERE vec_id < 10),
s AS (SELECT query_id, c.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 65),
                      i -> (va[i] - c.v[i]) * (va[i] - c.v[i]))) AS d
      FROM q CROSS JOIN v c WHERE c.vec_id <> query_id),
r AS (SELECT query_id, neighbor_id, d,
             row_number() OVER (PARTITION BY query_id ORDER BY d, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(d, 6) AS d
FROM r WHERE rank <= {ANN_K}"""

_SQL_ANN_LSH = f"""
WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
vb AS (SELECT vec_id, v, {_PLANE_BUCKET4} AS bucket FROM ve),
q AS (SELECT vec_id AS query_id, v AS va, bucket AS qb FROM vb WHERE vec_id < 10),
s AS (SELECT query_id, c.vec_id AS neighbor_id, va, c.v AS vb
      FROM q JOIN vb c
        ON bit_count(xor(q.qb::BIGINT, c.bucket::BIGINT)) <= {LSH_PROBE_HAMMING}
      WHERE c.vec_id <> query_id),
r AS (SELECT query_id, neighbor_id, {_COS} AS cos,
             row_number() OVER (PARTITION BY query_id ORDER BY {_COS} DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 6) AS cos
FROM r WHERE rank <= {ANN_K}"""

_SQL_ANN_IVF = f"""
WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sd AS (SELECT vec_id AS list_id, v AS sv FROM ve WHERE vec_id < {IVF_NLIST}),
asg AS (
  SELECT vec_id, v, list_id FROM (
    SELECT a.vec_id, a.v, s.list_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_inner_product(a.v, s.sv)
                      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(s.sv, s.sv))) DESC,
                      s.list_id) AS rn
    FROM ve a CROSS JOIN sd s) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM ve WHERE vec_id < 10),
probes AS (
  SELECT query_id, qv, list_id FROM (
    SELECT q.query_id, q.qv, s.list_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_inner_product(q.qv, s.sv)
                      / (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(s.sv, s.sv))) DESC,
                      s.list_id) AS rn
    FROM q CROSS JOIN sd s) WHERE rn <= {IVF_NPROBE}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, p.qv AS va, a.v AS vb
  FROM probes p JOIN asg a USING (list_id)
  WHERE a.vec_id <> p.query_id),
r AS (SELECT query_id, neighbor_id, {_COS} AS cos,
             row_number() OVER (PARTITION BY query_id ORDER BY {_COS} DESC, neighbor_id) AS rank
      FROM cand)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(cos, 6) AS cos
FROM r WHERE rank <= {ANN_K}"""

def _pq_dsub(s: int, av: str = "a.v", cv: str = "b.c") -> str:
    """Subspace-s squared distance between two 64-dim arrays indexed
    at offset s*PQ_SUB — the DuckDB twin of operators/pq's HOF slice
    distance (same element-ascending left-associated sum)."""
    off = s * PQ_SUB
    t = f"({av}[{off}+i]-{cv}[{off}+i])"
    return f"list_sum(list_transform(range(1, {PQ_SUB + 1}), i -> {t}*{t}))"


# Shared PQ-encode CTE chain: codebooks = slices of the PQ_KSUB lowest-
# id vectors (codes = 0-based id rank — operators/pq.seeded_codebooks'
# policy), one cross join against the 16-row codebook computing all 8
# subspace distances, per-subspace argmin via row_number (dist, code).
_SQL_PQ_ENC = f"""ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS c
       FROM (SELECT vec_id, v FROM ve ORDER BY vec_id LIMIT {PQ_KSUB})),
p AS (SELECT a.vec_id, b.code,
{",".join(f"      {_pq_dsub(s)} AS d{s}" for s in range(PQ_M))}
      FROM ve a CROSS JOIN cb b),
r AS (SELECT vec_id, code, {", ".join(f"d{s}" for s in range(PQ_M))},
{",".join(f"      row_number() OVER (PARTITION BY vec_id ORDER BY d{s}, code) AS r{s}" for s in range(PQ_M))}
      FROM p),
enc AS (SELECT vec_id,
{",".join(f"      max(CASE WHEN r{s}=1 THEN code END)::INT AS c{s}" for s in range(PQ_M))},
      {" + ".join(f"max(CASE WHEN r{s}=1 THEN d{s} END)" for s in range(PQ_M))} AS recon
      FROM r GROUP BY vec_id)"""

_SQL_PQ_ENCODE = f"""
WITH {_SQL_PQ_ENC}
SELECT vec_id, {", ".join(f"c{s}" for s in range(PQ_M))},
       round(recon / 64, 6) AS mse
FROM enc"""

_SQL_PQ_ADC = f"""
WITH {_SQL_PQ_ENC},
q AS (SELECT vec_id AS query_id, v AS qv FROM ve WHERE vec_id < 10),
dx AS (SELECT e.vec_id AS neighbor_id,
       {" || ".join(f"cb{s}.c[{s * PQ_SUB + 1}:{(s + 1) * PQ_SUB}]" for s in range(PQ_M))} AS dec
       FROM enc e
{chr(10).join(f"       JOIN cb cb{s} ON cb{s}.code = e.c{s}" for s in range(PQ_M))}),
pr AS (SELECT q.query_id, dx.neighbor_id,
       list_sum(list_transform(range(1, 65),
                i -> (q.qv[i]-dx.dec[i])*(q.qv[i]-dx.dec[i]))) AS adist
       FROM q CROSS JOIN dx
       WHERE dx.neighbor_id <> q.query_id),
rk AS (SELECT query_id, neighbor_id, adist,
         row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
       FROM pr)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(adist, 6) AS adist
FROM rk WHERE rank <= {ANN_K}"""


# IVFADC (coarse inverted lists + product-quantized residuals +
# asymmetric distance): the coarse stage is _SQL_ANN_IVF's assignment,
# residual codebooks seed from the ksub lowest NON-seed ids (the
# seeds' own residuals are exactly zero), the PQ stage is the
# _SQL_PQ_ENC pattern over residual arrays, and candidates rank by
# ||query_residual - decoded_residual||^2 within probed lists.
_SQL_COSP = (
    "list_inner_product({a}, {b}) / (sqrt(list_inner_product({a}, {a}))"
    " * sqrt(list_inner_product({b}, {b})))"
)

_SQL_PQ_IVFADC = f"""
WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sd AS (SELECT vec_id AS list_id, v AS sv FROM ve WHERE vec_id < {IVF_NLIST}),
asg AS (
  SELECT vec_id, v, list_id, sv FROM (
    SELECT a.vec_id, a.v, s.list_id, s.sv,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY {_SQL_COSP.format(a="a.v", b="s.sv")} DESC,
                      s.list_id) AS rn
    FROM ve a CROSS JOIN sd s) WHERE rn = 1),
res AS (SELECT vec_id, list_id,
               list_transform(range(1, 65), i -> v[i] - sv[i]) AS r
        FROM asg),
rcb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, r AS c
        FROM (SELECT vec_id, r FROM res WHERE vec_id >= {IVF_NLIST}
              ORDER BY vec_id LIMIT {PQ_KSUB})),
p AS (SELECT a.vec_id, b.code,
{",".join(f"      {_pq_dsub(s, 'a.r', 'b.c')} AS d{s}" for s in range(PQ_M))}
      FROM res a CROSS JOIN rcb b),
r2 AS (SELECT vec_id, code, {", ".join(f"d{s}" for s in range(PQ_M))},
{",".join(f"      row_number() OVER (PARTITION BY vec_id ORDER BY d{s}, code) AS r{s}" for s in range(PQ_M))}
      FROM p),
enc AS (SELECT vec_id,
{",".join(f"      max(CASE WHEN r{s}=1 THEN code END)::INT AS c{s}" for s in range(PQ_M))}
      FROM r2 GROUP BY vec_id),
dx AS (SELECT e.vec_id AS neighbor_id, a2.list_id,
       {" || ".join(f"cb{s}.c[{s * PQ_SUB + 1}:{(s + 1) * PQ_SUB}]" for s in range(PQ_M))} AS dec
       FROM enc e
       JOIN res a2 ON a2.vec_id = e.vec_id
{chr(10).join(f"       JOIN rcb cb{s} ON cb{s}.code = e.c{s}" for s in range(PQ_M))}),
q AS (SELECT vec_id AS query_id, v AS qv FROM ve WHERE vec_id < 10),
probes AS (
  SELECT query_id, list_id,
         list_transform(range(1, 65), i -> qv[i] - psv[i]) AS qr FROM (
    SELECT q.query_id, q.qv, s.list_id, s.sv AS psv,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_SQL_COSP.format(a="q.qv", b="s.sv")} DESC,
                      s.list_id) AS rn
    FROM q CROSS JOIN sd s) WHERE rn <= {IVF_NPROBE}),
pr AS (SELECT p2.query_id, dx.neighbor_id,
       list_sum(list_transform(range(1, 65),
                i -> (p2.qr[i]-dx.dec[i])*(p2.qr[i]-dx.dec[i]))) AS adist
       FROM probes p2 JOIN dx USING (list_id)
       WHERE dx.neighbor_id <> p2.query_id),
rk AS (SELECT query_id, neighbor_id, adist,
         row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
       FROM pr)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(adist, 6) AS adist
FROM rk WHERE rank <= {ANN_K}"""


# numeric columns get min/max; others NULL (mirrors profile.column_profile)
_PROFILE_NUMERIC = {"l_orderkey", "l_quantity", "l_extendedprice", "l_discount"}
_SQL_PROFILE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, count(*) AS n_rows,"
    f" count(*) - count({c}) AS n_null,"
    f" count(DISTINCT {c}) AS n_distinct,"
    + (
        f" min({c})::DOUBLE AS min_val, max({c})::DOUBLE AS max_val"
        if c in _PROFILE_NUMERIC
        else " CAST(NULL AS DOUBLE) AS min_val, CAST(NULL AS DOUBLE) AS max_val"
    )
    + " FROM lineitem"
    for c in PROFILE_COLS
)

PIPELINE_ORACLES: dict[str, str] = {
    "q_text_stats": f"""
WITH t AS (SELECT source, len({_TOK}) AS ntok FROM documents)
SELECT source, count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS total_tokens,
       round(avg(ntok), 4) AS avg_tokens
FROM t GROUP BY source""",
    "q_text_quality": f"""
WITH t AS (
  SELECT doc_id, len({_TOK}) AS ntok,
         length(regexp_replace(lower(coalesce(text, '')), '[^a-z]', '', 'g')) * 1.0
           / greatest(length(coalesce(text, '')), 1) AS alpha,
         ({_STOP_CNT}) / greatest(len({_TOK}), 1) AS stop
  FROM documents)
SELECT doc_id, ntok::BIGINT AS n_words,
       floor(alpha * 1000000.0 + 0.5) / 1000000.0 AS alpha_ratio,
       floor(stop * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
       floor(({_QUALITY}) * 1000000.0 + 0.5) / 1000000.0 AS quality
FROM t""",
    "q_text_lang": f"""
WITH s AS (
  SELECT doc_id, {", ".join(f"{_lang_score(lang)} AS s_{lang}" for lang in _LANGS)}
  FROM documents)
SELECT doc_id, {_LANG_CASE} AS pred_lang FROM s""",
    "q_lang_confusion": f"""
WITH s AS (
  SELECT lang AS label_lang,
         {", ".join(f"{_lang_score(lang)} AS s_{lang}" for lang in _LANGS)}
  FROM documents),
p AS (SELECT label_lang, {_LANG_CASE} AS pred_lang FROM s),
cells AS (SELECT label_lang, pred_lang, count(*)::BIGINT AS n
          FROM p GROUP BY 1, 2),
t AS (SELECT label_lang, count(*) AS tt FROM p GROUP BY 1)
SELECT cells.label_lang, pred_lang, n,
       round(n / tt, 6) AS share_of_label
FROM cells JOIN t ON cells.label_lang = t.label_lang""",
    "q_text_fingerprint": """
SELECT doc_id,
       substr(md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')), 1, 16) AS fp
FROM documents""",
    "q_text_redact": """
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(coalesce(text, ''), 'https?://[^\\s]+', '<URL>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '[0-9]{6,}', '<NUM>', 'g') AS redacted
FROM documents""",
    "q_sample_mix": """
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
      < CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
                    WHEN 'src2' THEN 100 ELSE 0 END""",
    "q_text_winnow": f"""
WITH toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
pos_sh AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT AS h
  FROM toks CROSS JOIN unnest(range(1, greatest(len(w) - 1, 1))) AS t(i)
),
win AS (
  SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_WINDOW - 1} FOLLOWING) AS fp,
         max(pos) OVER (PARTITION BY doc_id) AS maxpos
  FROM pos_sh)
SELECT DISTINCT doc_id, fp FROM win WHERE pos <= maxpos - {WINNOW_WINDOW - 1}""",
    "q_text_repetition": f"""
WITH lines AS (
  SELECT doc_id, str_split(coalesce(text, ''), chr(10)) AS ls FROM documents),
lf AS (SELECT doc_id, 1.0 - len(list_distinct(ls)) / len(ls) AS dlf FROM lines),
toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
       FROM toks CROSS JOIN unnest(range(1, len(w))) AS t(i)),
bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
bf AS (SELECT doc_id, max(c) / sum(c) AS tbf FROM bc GROUP BY doc_id)
SELECT l.doc_id, round(dlf, 6) AS dup_line_frac,
       round(coalesce(bf.tbf, 0.0), 6) AS top_bigram_frac
FROM lf l LEFT JOIN bf ON l.doc_id = bf.doc_id""",
    "q_dedup_exact": """
SELECT md5(text) AS text_hash, count(*)::BIGINT AS n_copies, min(doc_id) AS keep_id
FROM documents GROUP BY md5(text)""",
    "q_dedup_minhash": f"""
WITH {_SQL_SHINGLES},
{_SQL_SIG},
{_SQL_BANDS}
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id""",
    "q_minhash_accuracy": f"""
WITH {_SQL_SHINGLES},
{_SQL_SIG},
{_SQL_BANDS},
cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig
          AND a.doc_id < b.doc_id),
ex AS (SELECT doc_id, unnest(s) AS shg FROM shf),
inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
          FROM ex x JOIN ex y ON x.shg = y.shg AND x.doc_id < y.doc_id
          GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM shf),
est AS (SELECT cand.a, cand.b,
          list_sum(list_transform(range(1, 9),
                   i -> CASE WHEN ga.g[i] = gb.g[i] THEN 1 ELSE 0 END)) / 8.0 AS e
        FROM cand JOIN sig ga ON ga.doc_id = cand.a
                  JOIN sig gb ON gb.doc_id = cand.b)
SELECT est.a, est.b, round(e, 6) AS est_jaccard,
       round(coalesce(i.c / (sa.n + sb.n - i.c), 0.0), 6) AS true_jaccard,
       round(e - coalesce(i.c / (sa.n + sb.n - i.c), 0.0), 6) AS err
FROM est LEFT JOIN inter i ON i.a = est.a AND i.b = est.b
JOIN sz sa ON sa.doc_id = est.a JOIN sz sb ON sb.doc_id = est.b""",
    "q_dedup_jaccard": _SQL_JACCARD,
    "q_pagerank_nations": _pagerank_sql(PAGERANK_ITERS, PAGERANK_DAMPING),
    "q_minhash_pr": f"""
WITH {_SQL_SHINGLES},
{_SQL_SIG},
{_SQL_BANDS},
cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig
          AND a.doc_id < b.doc_id),
truth AS (SELECT a, b FROM ({_SQL_JACCARD})),
m AS (SELECT
        (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
        (SELECT count(*) FROM truth)::BIGINT AS n_true,
        (SELECT count(*) FROM cand JOIN truth USING (a, b))::BIGINT AS n_hits)
SELECT n_candidates, n_true, n_hits,
       round(n_hits * 1.0 / n_candidates, 6) AS prec,
       round(n_hits * 1.0 / n_true, 6) AS recall
FROM m""",
    "q_dedup_groups": f"""
WITH RECURSIVE
pairs AS (SELECT a, b FROM ({_SQL_JACCARD})),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
reach(node, r) AS (
  SELECT u, v FROM edges
  UNION
  SELECT rr.node, e.v FROM reach rr JOIN edges e ON rr.r = e.u
)
SELECT node AS doc_id, least(node, min(r)) AS group_id
FROM reach GROUP BY node""",
    "q_dedup_simhash": f"WITH {_SQL_SIMHASH} SELECT doc_id, simhash FROM sh",
    "q_dedup_incremental": """
WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
b AS (SELECT * FROM d WHERE doc_id % 5 = 0),
c AS (SELECT DISTINCT h FROM d WHERE doc_id % 5 <> 0),
m AS (SELECT h, min(doc_id) AS first_id FROM b GROUP BY h)
SELECT b.doc_id,
       CASE WHEN b.h IN (SELECT h FROM c) THEN 'dup_of_corpus'
            WHEN b.doc_id <> m.first_id THEN 'dup_in_batch'
            ELSE 'new' END AS status
FROM b JOIN m USING (h)""",
    "q_dedup_pipeline": f"""
WITH exgrp AS (
  SELECT md5(text) AS h, min(doc_id) AS keep FROM documents GROUP BY md5(text)
),
exdrop AS (
  SELECT d.doc_id FROM documents d
  JOIN exgrp g ON md5(d.text) = g.h AND d.doc_id <> g.keep
),
survivors AS (
  SELECT * FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM exdrop)
),
{_sql_shingles("survivors")},
{_SQL_SIG},
{_SQL_BANDS},
cands AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sz AS (SELECT doc_id, len(s) AS n_sh FROM shf),
e AS (SELECT doc_id, unnest(s) AS shingle FROM shf),
vinter AS (
  SELECT c.a, c.b, count(*) AS c
  FROM cands c
  JOIN e ea ON ea.doc_id = c.a
  JOIN e eb ON eb.doc_id = c.b AND ea.shingle = eb.shingle
  GROUP BY c.a, c.b
),
neardrop AS (
  SELECT DISTINCT v.b AS doc_id
  FROM vinter v JOIN sz sa ON sa.doc_id = v.a JOIN sz sb ON sb.doc_id = v.b
  WHERE v.c / (sa.n_sh + sb.n_sh - v.c) >= {VERIFY_THRESHOLD}
)
SELECT doc_id,
       CASE WHEN doc_id IN (SELECT doc_id FROM exdrop) THEN 'exact_dup'
            WHEN doc_id IN (SELECT doc_id FROM neardrop) THEN 'near_dup'
            ELSE 'keep' END AS status
FROM documents""",
    "q_dedup_simhash_pairs": f"""
WITH {_SQL_SIMHASH}
SELECT a.doc_id AS a, b.doc_id AS b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {MAX_HAMMING}""",
    "q_dedup_embed": f"""
WITH ve0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ve AS (
  SELECT vec_id, v FROM ve0
  UNION ALL
  SELECT vec_id + {EMBED_PLANT_OFFSET} AS vec_id,
         list_concat([v[1] + {EMBED_PLANT_SHIFT}],
                     v[2:{EMBED_PLANT_DIM}]) AS v
  FROM ve0 WHERE vec_id % {EMBED_PLANT_MOD} = 0
),
pl AS (SELECT {_AUTO_PLANES_SQL} AS npl FROM ve),
vb AS (SELECT vec_id, v, {_PLANE_BUCKET_AUTO} AS bucket
       FROM ve CROSS JOIN pl),
p AS (SELECT a.vec_id AS a, b.vec_id AS b, a.v AS va, b.v AS vb
      FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT a, b, round({_COS}, 6) AS cos FROM p WHERE {_COS} >= {EMBED_DUP_THRESHOLD}""",
    "q_knn_graph": f"""
WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pl AS (SELECT {_AUTO_PLANES_SQL} AS npl FROM ve),
vb AS (SELECT vec_id, v, {_PLANE_BUCKET_AUTO} AS bucket
       FROM ve CROSS JOIN pl),
p AS (SELECT a.vec_id AS a, b.vec_id AS b, a.v AS va, b.v AS vb
      FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
c AS (SELECT a, b, {_COS} AS cos FROM p
      WHERE list_inner_product(va, va) <> 0 AND list_inner_product(vb, vb) <> 0),
e AS (SELECT a AS src, b AS dst, cos FROM c
      UNION ALL SELECT b AS src, a AS dst, cos FROM c),
r AS (SELECT src, dst, cos,
             row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
      FROM e)
SELECT src, dst, rank::INT AS rank, round(cos, 6) AS cos
FROM r WHERE rank <= {KNN_K}""",
    "q_ann_topk": _SQL_ANN_TOPK,
    "q_ann_lsh": _SQL_ANN_LSH,
    "q_ann_recall": f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({_SQL_ANN_TOPK})),
l AS (SELECT query_id, neighbor_id FROM ({_SQL_ANN_LSH})),
i AS (SELECT query_id, neighbor_id FROM ({_SQL_ANN_IVF})),
lm AS (SELECT 'lsh' AS method, count(l.query_id)::BIGINT AS hits,
              count(*)::BIGINT AS possible
       FROM exact e LEFT JOIN l
         ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id),
im AS (SELECT 'ivf' AS method, count(i.query_id)::BIGINT AS hits,
              count(*)::BIGINT AS possible
       FROM exact e LEFT JOIN i
         ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id)
SELECT method, hits, possible, round(hits * 1.0 / possible, 6) AS recall
FROM (SELECT * FROM lm UNION ALL SELECT * FROM im)""",
    "q_embed_quantize": """
WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
  FROM ve),
sq AS (
  SELECT vec_id, v, scale,
         CASE WHEN scale = 0 THEN 1.0 ELSE scale END AS safe
  FROM s),
qz AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(round(x / safe, 0) AS INT)) AS q,
         safe
  FROM sq)
SELECT vec_id, round(scale, 6) AS scale,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       round(list_sum(list_transform(range(1, len(v) + 1),
                      i -> (v[i] - q[i] * scale) * (v[i] - q[i] * scale)))
             / len(v), 6) AS mse
FROM qz""",
    "q_kmeans_nd_step": f"""
WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sd AS (SELECT vec_id AS cid, v AS c FROM ve WHERE vec_id < {KMEANS_ND_K}),
asg AS (
  SELECT v, cid AS cluster FROM (
    SELECT a.vec_id, a.v, s.cid,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_sum(list_transform(range(1, 65),
                               i -> (a.v[i] - s.c[i]) * (a.v[i] - s.c[i]))),
                      s.cid) AS rn
    FROM ve a CROSS JOIN sd s) WHERE rn = 1)
SELECT cluster, count(*)::BIGINT AS n,
       round(avg(v[1]), 6) AS d0, round(avg(v[2]), 6) AS d1,
       round({" + ".join(f"avg(v[{i}])" for i in range(1, 65))}, 4) AS mean_sum
FROM asg GROUP BY cluster""",
    "q_ann_ivf": _SQL_ANN_IVF,
    "q_ann_ivfpq_recall": f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({_SQL_ANN_L2_TOPK})),
a AS (SELECT query_id, neighbor_id FROM ({_SQL_PQ_IVFADC})),
m AS (SELECT 'ivfpq' AS method, count(a.query_id)::BIGINT AS hits,
             count(*)::BIGINT AS possible
      FROM exact e LEFT JOIN a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
SELECT method, hits, possible, round(hits * 1.0 / possible, 6) AS recall
FROM m""",
    "q_pq_encode": _SQL_PQ_ENCODE,
    "q_pq_adc": _SQL_PQ_ADC,
    "q_ann_ivfpq": _SQL_PQ_IVFADC,
    "q_fuzzy_suppliers": """
SELECT a.s_suppkey AS a, b.s_suppkey AS b,
       a.s_name AS name_a, b.s_name AS name_b,
       levenshtein(a.s_name, b.s_name)::INT AS dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 1""",
    "q_semantic_decontam": f"""
WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
vbk AS (SELECT vec_id, v, {_PLANE_BUCKET4} AS bucket FROM ve),
t AS (SELECT * FROM vbk WHERE vec_id % 10 <> 0),
bm AS (SELECT * FROM vbk WHERE vec_id % 10 = 0),
p AS (SELECT t.vec_id AS train_id, bm.vec_id AS bench_id,
             t.v AS va, bm.v AS vb
      FROM t JOIN bm ON t.bucket = bm.bucket),
h AS (SELECT train_id, bench_id, {_COS} AS cos FROM p
      WHERE {_COS} >= {SEM_DECON_THRESHOLD} AND NOT isnan({_COS})),
r AS (SELECT train_id, bench_id, cos,
        row_number() OVER (PARTITION BY train_id
                           ORDER BY cos DESC, bench_id) AS rn,
        count(*) OVER (PARTITION BY train_id) AS nm
      FROM h)
SELECT train_id, bench_id, round(cos, 6) AS cos, nm::BIGINT AS n_matches
FROM r WHERE rn = 1""",
    "q_embed_outliers": """
WITH ve AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT label, t.i AS i, avg(v[t.i]) AS a
      FROM ve, range(1, 65) t(i) GROUP BY label, t.i),
cent AS (SELECT label, list(round(a, 6) ORDER BY i) AS c FROM e GROUP BY label),
s AS (SELECT ve.label, ve.vec_id,
        list_inner_product(ve.v, cent.c)
          / (sqrt(list_inner_product(ve.v, ve.v))
             * sqrt(list_inner_product(cent.c, cent.c))) AS cos
      FROM ve JOIN cent USING (label)),
r AS (SELECT label, vec_id, cos,
        row_number() OVER (PARTITION BY label ORDER BY cos, vec_id) AS rank
      FROM s)
SELECT label, vec_id, CAST(rank AS INT) AS rank, round(cos, 6) AS cos
FROM r WHERE rank <= 3""",
    "q_events_hourly": """
WITH e AS (SELECT ts::TIMESTAMP AS ts, event_type, value FROM events)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS total_value
FROM e GROUP BY 1, 2""",
    "q_events_sessions": f"""
WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events),
l AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, count(*)::BIGINT AS n_events, sum(new_s)::BIGINT AS n_sessions
FROM l GROUP BY user_id""",
    "q_events_top_users": """
WITH t AS (SELECT user_id, round(sum(value), 4) AS total FROM events GROUP BY user_id),
r AS (SELECT user_id, total,
             row_number() OVER (ORDER BY total DESC, user_id) AS rank FROM t)
SELECT user_id, total, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10""",
    "q_events_json": """
SELECT event_type, count(*)::BIGINT AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
FROM events GROUP BY event_type""",
    "q_events_funnel": """
WITH e AS (SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events),
tv AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS tv
       FROM e GROUP BY user_id),
tc AS (SELECT e.user_id, any_value(tv.tv) AS tv,
              min(CASE WHEN event_type = 'click' AND ts >= tv.tv THEN ts END) AS tc
       FROM e JOIN tv ON e.user_id = tv.user_id GROUP BY e.user_id),
tp AS (SELECT e.user_id, any_value(tc.tv) AS tv, any_value(tc.tc) AS tc,
              min(CASE WHEN event_type = 'purchase' AND ts >= tc.tc THEN ts END) AS tp
       FROM e JOIN tc ON e.user_id = tc.user_id GROUP BY e.user_id)
SELECT CASE WHEN tp IS NOT NULL THEN 'purchase'
            WHEN tc IS NOT NULL THEN 'click'
            WHEN tv IS NOT NULL THEN 'view'
            ELSE 'none' END AS funnel_stage,
       count(*)::BIGINT AS n_users
FROM tp GROUP BY 1""",
    "q_sales_cube": """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*)::BIGINT AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q_customer_cumulative": """
SELECT o_orderkey, o_custkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
FROM orders""",
    "q_value_percentiles": """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type""",
    "q_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q_top_orders": """
WITH rev AS (
  SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem GROUP BY l_orderkey),
j AS (
  SELECT o_orderkey, c_custkey, c_mktsegment, revenue
  FROM rev JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey),
r AS (SELECT *, row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS rank FROM j)
SELECT o_orderkey, c_custkey, c_mktsegment, revenue, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10""",
    "q_brand_revenue": """
SELECT p_brand, n_name AS supp_nation,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE l_shipdate >= TIMESTAMP '1999-01-01'
GROUP BY p_brand, n_name""",
    "q_parts_no_discount": """
SELECT p_partkey, p_brand FROM part
WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_discount > 0.08)""",
    "q_media_features": """
WITH m AS (
  SELECT doc_id AS media_id,
         (['image','audio','video'])[(doc_id % 3 + 1)::int] AS kind,
         octet_length(encode(coalesce(text, ''))) AS n_bytes,
         md5(coalesce(text, '')) AS h
  FROM documents)
SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
       round((('0x' || substr(h, 1, 2))::INT + ('0x' || substr(h, 3, 2))::INT
            + ('0x' || substr(h, 5, 2))::INT + ('0x' || substr(h, 7, 2))::INT
            + ('0x' || substr(h, 9, 2))::INT + ('0x' || substr(h, 11, 2))::INT
            + ('0x' || substr(h, 13, 2))::INT + ('0x' || substr(h, 15, 2))::INT) / 256.0,
             6) AS feat_checksum
FROM m""",
    "q_region_rollup": """
SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
       count(*)::BIGINT AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)""",
    "q_events_attrib": """
WITH p AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
           WHERE event_type = 'purchase'),
     v AS (SELECT event_id AS view_event_id, user_id, ts::TIMESTAMP AS view_ts
           FROM events WHERE event_type = 'view')
SELECT p.event_id, p.user_id, v.view_event_id,
       (epoch_us(p.ts) - epoch_us(v.view_ts)) // 1000 AS ms_since_view
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.view_ts""",
    "q_events_campaign": f"""
WITH c AS (SELECT * FROM (VALUES {", ".join(f"({i}, TIMESTAMP '{s}', TIMESTAMP '{e}')" for i, s, e in CAMPAIGNS)})
           t(campaign_id, start_ts, end_ts)),
     e AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events)
SELECT campaign_id::INT AS campaign_id, count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       round(sum(value), 4) AS total_value
FROM e JOIN c ON e.ts BETWEEN c.start_ts AND c.end_ts
GROUP BY campaign_id""",
    "q_user_segments": """
(SELECT user_id FROM events WHERE event_type = 'purchase'
 INTERSECT
 SELECT user_id FROM events WHERE event_type = 'view')
EXCEPT
SELECT user_id FROM events
WHERE event_type = 'error' AND ts::TIMESTAMP < TIMESTAMP '2024-01-03'""",
    "q_priority_distinct": """
SELECT n_name,
       count(DISTINCT o_custkey)::BIGINT AS active_customers,
       count(DISTINCT o_orderpriority)::BIGINT AS n_priorities,
       count(*)::BIGINT AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name""",
    "q_events_pivot": f"""
SELECT user_id,
       {", ".join(f"round(sum(value) FILTER (event_type = '{t}'), 4) AS {t}" for t in PIVOT_EVENT_TYPES)}
FROM events GROUP BY user_id""",
    "q_approx_distinct": """
WITH d AS (SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem),
h AS (SELECT l_returnflag,
             ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 13))::BIGINT
               / 4503599627370496.0 AS hv
      FROM d),
r AS (SELECT l_returnflag, hv,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rk
      FROM h),
est AS (SELECT l_returnflag, count(*)::INT AS n_kept,
               round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                          ELSE 63.0 / max(hv) END, 4) AS est_distinct
        FROM r WHERE rk <= 64 GROUP BY l_returnflag),
ex AS (SELECT l_returnflag, count(DISTINCT l_orderkey)::BIGINT AS exact_distinct
       FROM lineitem GROUP BY l_returnflag)
SELECT est.l_returnflag, n_kept, est_distinct, exact_distinct
FROM est JOIN ex USING (l_returnflag)""",
    "q_text_tokens": f"""
SELECT doc_id,
       len({_TOK})::BIGINT AS word_tokens,
       len(regexp_extract_all(coalesce(text, ''),
           '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+'))::BIGINT
         AS bpe_tokens
FROM documents""",
    "q_engaged_customers": """
WITH buyers AS (
  SELECT c_mktsegment, 'big_order' AS via FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)),
rich AS (
  SELECT c_mktsegment, 'high_balance' AS via FROM customer WHERE c_acctbal > 5000)
SELECT c_mktsegment, via, count(*)::BIGINT AS n_customers
FROM (SELECT * FROM buyers UNION ALL SELECT * FROM rich)
GROUP BY c_mktsegment, via""",
    "q_doc_pack": f"""
WITH t AS (
  SELECT source, doc_id, len({_TOK})::BIGINT AS n_tokens FROM documents),
s AS (
  SELECT source, doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM t)
SELECT source, doc_id, n_tokens,
       (start // {PACK_LEN})::BIGINT AS pack_id,
       (start % {PACK_LEN})::BIGINT AS offset_in_pack,
       ((start + greatest(n_tokens, 1) - 1) // {PACK_LEN}
         - start // {PACK_LEN} + 1)::INT AS n_packs
FROM s""",
    "q_doc_chunks": f"""
WITH toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
n AS (SELECT doc_id, w, len(w) AS ntok FROM toks),
c AS (SELECT doc_id, w, ntok,
             unnest(range(0, 1 + CAST(ceil(greatest(ntok - {CHUNK_LEN}, 0)
                                           / {CHUNK_LEN - CHUNK_OVERLAP}) AS INT))) AS cid
      FROM n)
SELECT doc_id, cid::INT AS chunk_id,
       (cid * {CHUNK_LEN - CHUNK_OVERLAP})::BIGINT AS chunk_start,
       least(ntok - cid * {CHUNK_LEN - CHUNK_OVERLAP}, {CHUNK_LEN})::BIGINT AS chunk_tokens,
       md5(array_to_string(w[cid * {CHUNK_LEN - CHUNK_OVERLAP} + 1
                             : cid * {CHUNK_LEN - CHUNK_OVERLAP} + {CHUNK_LEN}], ' ')) AS chunk_md5
FROM c""",
    "q_basket_pairs": """
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pr AS (SELECT a.p AS pa, b.p AS pb, count(*)::BIGINT AS n_orders
       FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
       GROUP BY 1, 2)
SELECT pa, pb, n_orders FROM pr
ORDER BY n_orders DESC, pa, pb LIMIT 10""",
    "q_corpus_temperature": f"""
WITH t AS (SELECT lang, count(*)::BIGINT AS n_docs,
                  sum(len({_TOK}))::BIGINT AS mass
           FROM documents GROUP BY lang),
s AS (SELECT lang, n_docs, mass,
             mass::DOUBLE / sum(mass::DOUBLE) OVER () AS share FROM t),
p AS (SELECT lang, n_docs, mass, share,
             pow(share, {TEMP_ALPHA}) AS pw FROM s)
SELECT lang, n_docs, mass, round(share, 6) AS share,
       round(pw / sum(pw) OVER (), 6) AS sample_weight,
       round((pw / sum(pw) OVER ()) / share, 6) AS boost
FROM p""",
    "q_length_buckets": f"""
WITH t AS (SELECT doc_id, len({_TOK})::BIGINT AS n_tokens FROM documents),
b AS (SELECT doc_id, n_tokens,
             ntile({LEN_BUCKETS}) OVER (ORDER BY n_tokens, doc_id)::INT AS bucket
      FROM t),
g AS (SELECT max(n_tokens) AS gmax FROM t)
SELECT bucket, count(*)::BIGINT AS n_docs,
       min(n_tokens)::BIGINT AS min_tokens,
       max(n_tokens)::BIGINT AS max_tokens,
       sum(n_tokens)::BIGINT AS sum_tokens,
       round(1.0 - sum(n_tokens)::DOUBLE
               / (count(*) * max(n_tokens))::DOUBLE, 6) AS pad_waste,
       round(1.0 - sum(n_tokens)::DOUBLE
               / (count(*) * any_value(gmax))::DOUBLE, 6) AS global_waste
FROM b CROSS JOIN g GROUP BY bucket""",
    "q_source_kl": f"""
WITH t AS (SELECT source, unnest({_TOK}) AS tok FROM documents),
c AS (SELECT source, tok, count(*)::DOUBLE AS n_st FROM t GROUP BY 1, 2),
s AS (SELECT source, sum(n_st) AS n_s FROM c GROUP BY 1),
g AS (SELECT tok, sum(n_st) AS n_t FROM c GROUP BY 1),
tot AS (SELECT sum(n_st) AS n FROM c)
SELECT source, max(n_s)::BIGINT AS n_tokens,
       round(sum((n_st / n_s) * ln((n_st / n_s) / (n_t / n))), 6) AS kl
FROM c JOIN g USING (tok) JOIN s USING (source) CROSS JOIN tot
GROUP BY source ORDER BY source""",
    "q_length_ks": f"""
WITH t AS (SELECT source, len({_TOK})::BIGINT AS l FROM documents),
c AS (SELECT source, l, count(*)::DOUBLE AS n FROM t GROUP BY 1, 2),
tot AS (SELECT source, sum(n) AS ns FROM c GROUP BY 1),
p AS (SELECT a.source AS source_a, b.source AS source_b,
             a.ns AS na, b.ns AS nb
      FROM tot a JOIN tot b ON a.source < b.source),
u AS (
  SELECT source_a, source_b, na, nb, l, sum(d) AS d FROM (
    SELECT p.source_a, p.source_b, p.na, p.nb, c.l, c.n / p.na AS d
    FROM c JOIN p ON c.source = p.source_a
    UNION ALL
    SELECT p.source_a, p.source_b, p.na, p.nb, c.l, -c.n / p.nb AS d
    FROM c JOIN p ON c.source = p.source_b)
  GROUP BY 1, 2, 3, 4, 5),
e AS (SELECT source_a, source_b, na, nb,
             sum(d) OVER (PARTITION BY source_a, source_b ORDER BY l) AS gap
      FROM u)
SELECT source_a, source_b, max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
       round(max(abs(gap)), 6) AS ks
FROM e GROUP BY source_a, source_b ORDER BY source_a, source_b""",
    "q_length_buckets_approx": f"""
WITH t AS (SELECT doc_id, len({_TOK})::BIGINT AS n_tokens FROM documents),
c AS (SELECT [{", ".join(f"quantile_disc(n_tokens, {i}/{LEN_BUCKETS}.0)" for i in range(1, LEN_BUCKETS))}] AS cuts
      FROM t),
b AS (SELECT doc_id, n_tokens,
             (1 + len(list_filter(cuts, x -> n_tokens > x)))::INT AS bucket
      FROM t CROSS JOIN c),
g AS (SELECT max(n_tokens) AS gmax FROM t)
SELECT bucket, count(*)::BIGINT AS n_docs,
       min(n_tokens)::BIGINT AS min_tokens,
       max(n_tokens)::BIGINT AS max_tokens,
       sum(n_tokens)::BIGINT AS sum_tokens,
       round(1.0 - sum(n_tokens)::DOUBLE
               / (count(*) * max(n_tokens))::DOUBLE, 6) AS pad_waste,
       round(1.0 - sum(n_tokens)::DOUBLE
               / (count(*) * any_value(gmax))::DOUBLE, 6) AS global_waste
FROM b CROSS JOIN g GROUP BY bucket""",
    "q_order_grouping_sets": """
SELECT coalesce(o_orderpriority, 'ALL') AS priority,
       coalesce(o_orderstatus, 'ALL') AS status,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())""",
    "q_brand_top_parts": """
WITH r AS (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rank
  FROM part)
SELECT p_brand, p_partkey, p_retailprice, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3""",
    "q_decontam": f"""
WITH {_SQL_SHINGLES},
e AS (SELECT doc_id, unnest(s) AS sh FROM shf),
bsh AS (SELECT DISTINCT sh FROM e WHERE doc_id % {BENCH_MOD} = 0),
hits AS (
  SELECT e.doc_id, count(*) AS n_hits
  FROM e JOIN bsh USING (sh)
  WHERE e.doc_id % {BENCH_MOD} <> 0
  GROUP BY e.doc_id)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {BENCH_MOD} <> 0""",
    "q_text_perplexity": f"""
WITH toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
ug AS (SELECT doc_id, unnest(w) AS t FROM toks),
c1 AS (SELECT t AS w1, count(*) AS c1 FROM ug GROUP BY 1),
v AS (SELECT count(DISTINCT t) AS v FROM ug),
bgi AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks),
bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM bgi),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2)
SELECT bg.doc_id, count(*) AS n_bigrams,
       round(avg(-ln((c2.c2 + 1.0) / (c1.c1 + v.v))), 6) AS avg_nll
FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
GROUP BY bg.doc_id""",
    "q_corpus_split": """
WITH b AS (
  SELECT n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
           AS bucket
  FROM documents)
SELECT CASE WHEN bucket < 980 THEN 'train'
            WHEN bucket < 990 THEN 'val'
            ELSE 'test' END AS split,
       CAST(bucket % 8 AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM b GROUP BY 1, 2""",
    "q_returned_customers": """
WITH agg AS (
  SELECT c_custkey, c_name, n_name AS nation,
         round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))),
               2)::DOUBLE AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
  GROUP BY 1, 2, 3),
r AS (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank
  FROM agg)
SELECT c_custkey, c_name, nation, revenue, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 20""",
    "q_customers_no_orders": """
WITH ab AS (SELECT round(avg(c_acctbal), 2) AS ab
            FROM customer WHERE c_acctbal > 0)
SELECT c_mktsegment, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer CROSS JOIN ab
WHERE c_acctbal > ab
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
GROUP BY 1""",
    "q_tfidf_terms": f"""
WITH toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
ug AS (SELECT doc_id, unnest(w) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ug GROUP BY 1, 2),
dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
s AS (SELECT doc_id, term, tf, round(tf * ln(n.n / dfc.df), 6) AS tfidf
      FROM tf JOIN dfc USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rank
      FROM s)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 3""",
    "q_domain_caps": f"""
WITH r AS (
  SELECT source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT source, count(*) AS n_total,
       CAST(sum(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM r GROUP BY 1""",
    "q_length_hist": """
SELECT lang,
       CAST(least(floor(n_chars / 500), 9) AS INT) AS bucket,
       count(*) AS n_docs,
       round(avg(n_chars), 2) AS avg_chars
FROM documents GROUP BY 1, 2""",
    "q_user_moving_avg": """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY 1, 2)
SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events,
       round(avg(n_events) OVER (PARTITION BY user_id ORDER BY day
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
             6) AS avg_7d
FROM daily""",
    "q_supplier_volume": """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       count(*) AS n_items,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))),
             2)::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE year(l_shipdate) = 1995
GROUP BY 1, 2""",
    "q_above_avg_orders": """
WITH ca AS (SELECT o_custkey, round(avg(o_totalprice), 2) AS cavg
            FROM orders GROUP BY 1)
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS total
FROM orders JOIN ca USING (o_custkey)
WHERE o_totalprice > 1.5 * cavg
GROUP BY 1""",
    "q_embed_diverse": f"""
WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sd AS (SELECT vec_id AS list_id, v AS sv FROM ve WHERE vec_id < {IVF_NLIST}),
asg AS (
  SELECT vec_id, v, list_id FROM (
    SELECT a.vec_id, a.v, s.list_id,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_inner_product(a.v, s.sv)
                      / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(s.sv, s.sv))) DESC,
                      s.list_id) AS rn
    FROM ve a CROSS JOIN sd s) WHERE rn = 1),
sc AS (
  SELECT a.list_id, a.vec_id,
         list_inner_product(a.v, s.sv)
           / (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(s.sv, s.sv))) AS c
  FROM asg a JOIN sd s USING (list_id)),
r AS (
  SELECT list_id, vec_id, c,
         row_number() OVER (PARTITION BY list_id ORDER BY c DESC, vec_id) AS rn,
         count(*) OVER (PARTITION BY list_id) AS n
  FROM sc)
SELECT list_id, vec_id AS rep_id, round(c, 6) AS rep_cos,
       CAST(n AS BIGINT) AS n_members
FROM r WHERE rn = 1""",
    "q_events_sliding": """
WITH x AS (
  SELECT unnest([date_trunc('hour', ts),
                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start,
         value
  FROM events)
SELECT win_start, win_start + INTERVAL 2 HOUR AS win_end,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM x GROUP BY 1""",
    "q_key_skew": """
WITH c AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
t AS (SELECT sum(n_events) AS total FROM c),
r AS (SELECT user_id, n_events,
             row_number() OVER (ORDER BY n_events DESC, user_id) AS rank
      FROM c)
SELECT CAST(rank AS INT) AS rank, user_id,
       CAST(n_events AS BIGINT) AS n_events,
       round(n_events * 1.0 / total, 6) AS share
FROM r CROSS JOIN t WHERE rank <= 10""",
    "q_curation_pipeline": f"""
WITH {_SQL_SHINGLES},
e AS (SELECT doc_id, unnest(s) AS sh FROM shf),
bsh AS (SELECT DISTINCT sh FROM e WHERE doc_id % {BENCH_MOD} = 0),
ct AS (SELECT DISTINCT e.doc_id
       FROM e JOIN bsh USING (sh) WHERE e.doc_id % {BENCH_MOD} <> 0),
ex AS (SELECT doc_id FROM (
         SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
                count(*) OVER (PARTITION BY md5(text)) AS n
         FROM documents) WHERE n > 1 AND doc_id <> keep_id),
qt AS (
  SELECT doc_id, len({_TOK}) AS ntok,
         length(regexp_replace(lower(coalesce(text, '')), '[^a-z]', '', 'g')) * 1.0
           / greatest(length(coalesce(text, '')), 1) AS alpha,
         ({_STOP_CNT}) / greatest(len({_TOK}), 1) AS stop
  FROM documents),
lq AS (SELECT doc_id FROM qt WHERE round({_QUALITY}, 6) < {CURATION_QUALITY_MIN}),
fl AS (SELECT d.doc_id, d.source,
              (d.doc_id % {BENCH_MOD} = 0) AS is_bench,
              ex.doc_id IS NOT NULL AS is_ex,
              lq.doc_id IS NOT NULL AS is_lq,
              ct.doc_id IS NOT NULL AS is_ct
       FROM documents d
       LEFT JOIN ex ON d.doc_id = ex.doc_id
       LEFT JOIN lq ON d.doc_id = lq.doc_id
       LEFT JOIN ct ON d.doc_id = ct.doc_id),
cp AS (SELECT doc_id FROM (
         SELECT doc_id,
                row_number() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         FROM fl WHERE NOT (is_bench OR is_ex OR is_lq OR is_ct))
       WHERE rn <= {DOMAIN_CAP}),
bk AS (SELECT doc_id,
              ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
                AS b
       FROM documents)
SELECT f.doc_id,
       CASE WHEN is_bench THEN 'benchmark'
            WHEN is_ex THEN 'exact_dup'
            WHEN is_lq THEN 'quality'
            WHEN is_ct THEN 'contaminated'
            WHEN cp.doc_id IS NULL THEN 'domain_cap'
            ELSE 'keep' END AS verdict,
       CASE WHEN cp.doc_id IS NOT NULL
            THEN CASE WHEN b < 980 THEN 'train'
                      WHEN b < 990 THEN 'val'
                      ELSE 'test' END END AS split,
       CASE WHEN cp.doc_id IS NOT NULL THEN CAST(b % 8 AS INT) END AS shard
FROM fl f
LEFT JOIN cp ON f.doc_id = cp.doc_id
LEFT JOIN bk ON f.doc_id = bk.doc_id""",
    "q_text_hashtf": f"""
WITH toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
t AS (SELECT doc_id,
             ('0x' || substr(md5(unnest(w)), 1, 8))::BIGINT % {HASHTF_DIM}
               AS dim
      FROM toks)
SELECT doc_id, CAST(dim AS INT) AS dim, count(*) AS weight
FROM t GROUP BY 1, 2""",
    "q_events_trailing24h": """
SELECT event_id, user_id, ts,
       count(*) OVER w AS n_24h,
       round(sum(value) OVER w, 2) AS value_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)""",
    "q_customer_ntile": """
WITH d AS (
  SELECT c_mktsegment, c_acctbal,
         ntile(10) OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal DESC, c_custkey) AS decile
  FROM customer)
SELECT c_mktsegment, CAST(decile AS INT) AS decile,
       count(*) AS n_customers,
       round(avg(c_acctbal), 2) AS avg_bal,
       round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal
FROM d GROUP BY 1, 2""",
    "q_large_orders": f"""
WITH big AS (SELECT l_orderkey, sum(l_quantity) AS qty FROM lineitem
             GROUP BY 1 HAVING sum(l_quantity) > {LARGE_ORDER_QTY})
SELECT c_custkey, c_name, o_orderkey, o_totalprice, qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
    "q_promo_share": """
WITH j AS (
  SELECT year(l_shipdate)::INT AS ship_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey),
a AS (
  SELECT ship_year,
         round(sum(CASE WHEN p_type = 'PROMO' THEN rev
                        ELSE CAST(0 AS DECIMAL(18,4)) END), 2)::DOUBLE
           AS promo_rev,
         round(sum(rev), 2)::DOUBLE AS total_rev
  FROM j GROUP BY 1)
SELECT ship_year, promo_rev, total_rev,
       round(100 * promo_rev / total_rev, 4) AS promo_share
FROM a""",
    "q_returned_priority": """
SELECT o_orderpriority, count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE AS total
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
GROUP BY 1""",
    "q_top_supplier": f"""
WITH sr AS (
  SELECT l_suppkey,
         round(sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4))), 2)::DOUBLE AS total_rev
  FROM lineitem WHERE year(l_shipdate) = {TOP_SUPPLIER_YEAR} GROUP BY 1)
SELECT s_suppkey, s_name, total_rev
FROM sr JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM sr)""",
    "q_profile_lineitem": _SQL_PROFILE,
    "q_embed_dimstats": """
WITH x AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                  unnest(embedding::DOUBLE[]) AS val
           FROM embeddings)
SELECT CAST(dim AS INT) AS dim, count(*) AS n_vals,
       round(avg(val), 6) AS mean_val,
       round(min(val), 6) AS min_val,
       round(max(val), 6) AS max_val
FROM x GROUP BY 1""",
    "q_sample_weighted": f"""
WITH p AS (
  SELECT doc_id, source, n_chars,
         ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13))
           ::BIGINT::DOUBLE / n_chars AS pri
  FROM documents)
SELECT doc_id, source, n_chars, round(pri, 6) AS priority
FROM p ORDER BY pri, doc_id LIMIT {WEIGHTED_SAMPLE_K}""",
    "q_corpus_mix": f"""
WITH w(source, weight) AS (VALUES {", ".join(f"('{s}', {v})" for s, v in sorted(MIX_WEIGHTS.items()))}),
s AS (SELECT source, count(*) AS n_docs, sum(n_chars) AS chars
      FROM documents GROUP BY 1),
t AS (SELECT sum(chars) AS total_chars FROM s),
j AS (SELECT s.source, s.n_docs, s.chars, w.weight,
             least(1.0, CAST(w.weight AS DOUBLE) / {float(MIX_TOTAL_W)}
                        * t.total_chars / s.chars) AS rate
      FROM s JOIN w USING (source) CROSS JOIN t)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(chars AS BIGINT) AS chars, CAST(weight AS INT) AS weight,
       round(rate, 6) AS rate,
       CAST(floor(rate * chars) AS BIGINT) AS planned_chars
FROM j""",
    "q_customer_order_gaps": """
WITH g AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap
  FROM orders),
f AS (SELECT o_custkey, CAST(gap AS BIGINT) AS gap FROM g
      WHERE gap IS NOT NULL)
SELECT c_mktsegment, count(*) AS n_gaps,
       round(avg(gap), 2) AS avg_gap_days,
       CAST(max(gap) AS BIGINT) AS max_gap_days
FROM f JOIN customer ON o_custkey = c_custkey GROUP BY 1""",
    "q_dedup_cluster_sizes": f"""
WITH RECURSIVE
pairs AS (SELECT a, b FROM ({_SQL_JACCARD})),
edges AS (SELECT a AS u, b AS v FROM pairs
          UNION SELECT b AS u, a AS v FROM pairs),
reach(node, r) AS (
  SELECT u, v FROM edges
  UNION
  SELECT rr.node, e.v FROM reach rr JOIN edges e ON rr.r = e.u
),
grp AS (SELECT node, least(node, min(r)) AS group_id FROM reach GROUP BY node),
sz AS (SELECT group_id, count(*) AS grp_size FROM grp GROUP BY 1)
SELECT CAST(grp_size AS BIGINT) AS grp_size, count(*) AS n_groups
FROM sz GROUP BY 1""",
    "q_events_retention": """
WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts)::TIMESTAMP AS week
            FROM events),
f AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
SELECT cohort_week,
       CAST(date_diff('day', cohort_week, week) // 7 AS INT) AS week_n,
       count(DISTINCT user_id) AS n_users
FROM uw JOIN f USING (user_id)
GROUP BY 1, 2""",
    "q_nation_flow": f"""
WITH cb AS (SELECT c_nationkey AS nk, count(*) AS n_rich_cust
            FROM customer WHERE c_acctbal > {NATION_BAL_MIN} GROUP BY 1),
sb AS (SELECT s_nationkey AS nk, count(*) AS n_rich_supp
       FROM supplier WHERE s_acctbal > {NATION_BAL_MIN} GROUP BY 1),
j AS (SELECT coalesce(cb.nk, sb.nk) AS nk, n_rich_cust, n_rich_supp
      FROM cb FULL OUTER JOIN sb ON cb.nk = sb.nk)
SELECT n_name AS nation,
       CAST(coalesce(n_rich_cust, 0) AS BIGINT) AS n_rich_cust,
       CAST(coalesce(n_rich_supp, 0) AS BIGINT) AS n_rich_supp
FROM j JOIN nation ON nk = n_nationkey""",
    "q_events_rollup": """
SELECT day,
       coalesce(CAST(hr AS VARCHAR), 'ALL') AS hr,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS total_value
FROM (SELECT date_trunc('day', ts)::TIMESTAMP AS day,
             date_trunc('hour', ts)::TIMESTAMP AS hr, value
      FROM events)
GROUP BY ROLLUP (day, hr)
HAVING day IS NOT NULL""",
    "q_value_quantile_sketch": """
WITH c AS (
  SELECT event_type,
         CAST(least(99, greatest(0, floor((value - 0.0) / 5.0))) AS INT)
           AS bucket,
         count(*) AS n
  FROM events GROUP BY 1, 2),
w AS (SELECT event_type, bucket, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS total
      FROM c),
q(q) AS (VALUES (0.5::DOUBLE), (0.95::DOUBLE)),
j AS (SELECT event_type, q, bucket, n, cum, total, q * total AS qt
      FROM w CROSS JOIN q)
SELECT event_type, q,
       round(0.0 + 5.0 * (bucket + (qt - (cum - n)) / n), 6) AS est
FROM j WHERE cum >= qt AND (cum - n) < qt""",
    "q_text_lr_score": f"""
WITH toks AS (SELECT doc_id, unnest({_TOK}) AS tok FROM documents),
tf AS (SELECT doc_id,
              CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % {LR_DIM} AS INT)
                AS dim,
              count(*) AS n
       FROM toks GROUP BY 1, 2),
w(dim, wt) AS (VALUES {", ".join(f"({d}, '{w:.4f}'::DECIMAL(8,4))" for d, w in sorted(LR_WEIGHTS.items()))}),
s AS (SELECT doc_id, sum(CAST(n AS DECIMAL(18,4)) * wt) AS acc
      FROM tf JOIN w USING (dim) GROUP BY 1)
SELECT d.doc_id,
       round(coalesce(acc, 0)::DOUBLE + {LR_BIAS}, 4) AS logit,
       (coalesce(acc, 0)::DOUBLE + {LR_BIAS}) > 0 AS keep
FROM documents d LEFT JOIN s USING (doc_id)""",
    "q_user_heavy_hitters": """
WITH ex AS (SELECT user_id, count(*) AS true_n FROM events GROUP BY 1
            ORDER BY true_n DESC, user_id LIMIT 10),
cms AS (
  SELECT d,
         ('0x' || substr(md5('cms' || CAST(d AS VARCHAR) || ':'
                              || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % 256 AS b,
         count(*) AS cnt
  FROM events, range(4) r(d) GROUP BY 1, 2),
probes AS (
  SELECT user_id, d,
         ('0x' || substr(md5('cms' || CAST(d AS VARCHAR) || ':'
                              || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
           % 256 AS b
  FROM ex, range(4) r(d)),
est AS (SELECT user_id, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est_n
        FROM probes LEFT JOIN cms USING (d, b) GROUP BY 1)
SELECT ex.user_id, CAST(true_n AS BIGINT) AS true_n, est_n
FROM ex JOIN est USING (user_id)""",
    "q_events_dense_hours": """
WITH b AS (SELECT min(date_trunc('hour', ts))::TIMESTAMP AS lo,
                  max(date_trunc('hour', ts))::TIMESTAMP AS hi
           FROM events),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM (SELECT DISTINCT event_type FROM events), b),
c AS (SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS hr,
             count(*) AS n
      FROM events GROUP BY 1, 2)
SELECT g.event_type, g.hr,
       CAST(coalesce(n, 0) AS BIGINT) AS n_events
FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.hr = c.hr""",
    "q_latest_event_per_user": """
SELECT user_id, event_id, ts, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1""",
    "q_ann_dim_recall": f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS va FROM v WHERE vec_id < 10),
s AS (SELECT query_id, c.vec_id AS neighbor_id, va, c.v AS vb
      FROM q CROSS JOIN v c WHERE c.vec_id <> query_id),
exact AS (SELECT query_id, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {_COS} DESC, neighbor_id) AS rank
  FROM s) WHERE rank <= {ANN_K}),
vt AS (SELECT vec_id, v[1:{TRUNC_DIM}] AS v FROM v),
qt2 AS (SELECT vec_id AS query_id, v AS va FROM vt WHERE vec_id < 10),
st AS (SELECT query_id, c.vec_id AS neighbor_id, va, c.v AS vb
       FROM qt2 q2 CROSS JOIN vt c WHERE c.vec_id <> q2.query_id),
a AS (SELECT query_id, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {_COS} DESC, neighbor_id) AS rank
  FROM st) WHERE rank <= {ANN_K}),
m AS (SELECT 'dim{TRUNC_DIM}' AS method, count(a.query_id)::BIGINT AS hits,
             count(*)::BIGINT AS possible
      FROM exact e LEFT JOIN a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
SELECT method, hits, possible, round(hits * 1.0 / possible, 6) AS recall
FROM m""",
    "q_gopher_quality": f"""
WITH t AS (SELECT doc_id, {_TOK} AS w FROM documents),
s AS (SELECT doc_id, len(w)::BIGINT AS n_words,
        round(list_sum(list_transform(w, x -> length(x))) * 1.0
              / greatest(len(w), 1), 6) AS mean_word_len,
        len(list_filter(w, x -> x IN ('the','and','of','a','to','in')))::BIGINT
          AS n_stopwords,
        round(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1.0
              / greatest(len(w), 1), 6) AS alpha_word_frac
      FROM t)
SELECT doc_id, n_words, mean_word_len, n_stopwords, alpha_word_frac,
       (n_words >= 20 AND n_words <= 100000) AS ok_words,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_word_len,
       (n_stopwords >= 2) AS ok_stopwords,
       (alpha_word_frac >= 0.8) AS ok_alpha,
       ((n_words >= 20 AND n_words <= 100000)
        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
        AND n_stopwords >= 2 AND alpha_word_frac >= 0.8) AS keep
FROM s""",
    "q_revenue_pareto": """
WITH per AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
             FROM orders GROUP BY 1),
d AS (SELECT o_custkey, rev,
             ntile(10) OVER (ORDER BY rev DESC, o_custkey)::INT AS decile
      FROM per),
pd AS (SELECT decile, count(*)::BIGINT AS n_customers, sum(rev) AS drev
       FROM d GROUP BY 1),
t AS (SELECT sum(drev) AS tot FROM pd),
c AS (SELECT decile, n_customers, drev,
             sum(drev) OVER (ORDER BY decile) AS cum
      FROM pd)
SELECT decile, n_customers, round(drev, 2)::DOUBLE AS decile_revenue,
       round(cum::DOUBLE / tot::DOUBLE, 6) AS cum_share
FROM c CROSS JOIN t ORDER BY decile""",
    "q_event_transitions": """
WITH s AS (SELECT event_type AS prev_type,
                  lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS next_type
           FROM events),
t AS (SELECT prev_type, next_type, count(*)::BIGINT AS n
      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT prev_type, sum(n) AS tn FROM t GROUP BY 1)
SELECT prev_type, next_type, n, round(n * 1.0 / tn, 6) AS p
FROM t JOIN tot USING (prev_type)""",
    "q_events_anomaly": """
WITH e AS (SELECT event_type,
                  date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
                  value FROM events),
daily AS (SELECT event_type, day,
                 sum(CAST(value AS DECIMAL(18,4)))::DOUBLE AS total
          FROM e GROUP BY 1, 2),
s AS (SELECT event_type, day, total,
        avg(total) OVER w AS mu,
        stddev_samp(total) OVER w AS sd,
        count(total) OVER w AS n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT event_type, day, round(total, 4) AS total,
       round((total - mu) / sd, 4) AS z,
       abs((total - mu) / sd) > 2 AS is_anomaly
FROM s WHERE n >= 3 AND sd > 0""",
    "q_events_ffill": """
WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts, value,
                  date_trunc('day', ts::TIMESTAMP) AS d FROM events),
daily AS (SELECT user_id, d, value AS obs FROM (
    SELECT user_id, d, value,
           row_number() OVER (PARTITION BY user_id, d
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM e) WHERE rn = 1),
b AS (SELECT min(d) AS lo, max(d) AS hi FROM e),
grid AS (SELECT u.user_id,
                unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY))::TIMESTAMP AS d
         FROM (SELECT DISTINCT user_id FROM e) u CROSS JOIN b)
SELECT g.user_id, g.d AS day,
       last_value(daily.obs IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.d
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       daily.obs IS NOT NULL AS is_observed
FROM grid g LEFT JOIN daily ON daily.user_id = g.user_id AND daily.d = g.d""",
    "q_cdc_user_state": """
SELECT user_id, event_id, ts, event_type, value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1 AND event_type <> 'error'""",
    "q_user_state_periods": """
WITH e AS (SELECT user_id, event_id, ts, event_type FROM events),
m AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                     THEN 1 ELSE 0 END AS nr
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
r AS (SELECT *, sum(nr) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS run
      FROM m),
g AS (SELECT user_id, run, min(event_type) AS event_type,
             min(ts) AS valid_from, count(*)::BIGINT AS n_changes
      FROM r GROUP BY user_id, run)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       run::INT AS version,
       lead(valid_from) OVER w2 IS NULL AS is_current,
       n_changes
FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY run)""",
    "q_sql_interface": """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(avg(o_totalprice), 2) AS avg_price
FROM orders GROUP BY o_orderstatus, o_orderpriority""",
    "q_forecast_revenue": """
SELECT count(*) AS n_items,
       round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 2)
         ::DOUBLE AS revenue
FROM lineitem
WHERE year(l_shipdate) = 1995 AND l_discount >= 0.05
  AND l_discount <= 0.07 AND l_quantity < 24""",
    "q_shipping_modes": """
SELECT p_brand, count(*) AS n_items,
       round(sum(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#7' AND p_size <= 20
       AND l_quantity BETWEEN 5 AND 35)
   OR (p_brand = 'Brand#13' AND p_size <= 30
       AND l_quantity BETWEEN 10 AND 50)
GROUP BY 1""",
    "q_important_parts": f"""
WITH pp AS (
  SELECT l_partkey,
         round(sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4))), 2)::DOUBLE AS part_rev
  FROM lineitem GROUP BY 1),
t AS (SELECT round(sum(CAST(part_rev AS DECIMAL(18,2))), 2)::DOUBLE AS tot
      FROM pp)
SELECT l_partkey, part_rev,
       round(10000.0 * part_rev / tot, 4) AS share_bps
FROM pp CROSS JOIN t
WHERE part_rev > tot * ({PART_SHARE_BPS} / 10000.0)""",
    "q_value_outliers": """
WITH st AS (SELECT event_type, round(avg(value), 6) AS mu,
                   round(stddev_pop(value), 6) AS sigma
            FROM events GROUP BY 1)
SELECT event_type, count(*) AS n_events, max(mu) AS mu,
       max(sigma) AS sigma,
       CAST(sum(CASE WHEN abs(value - mu) > 3.0 * sigma
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events JOIN st USING (event_type)
GROUP BY 1""",
    "q_dedup_passages": """
WITH e AS (SELECT doc_id, coalesce(text, '') AS t FROM documents
           WHERE length(coalesce(text, '')) >= 20),
g AS (
  SELECT doc_id, md5(substr(t, CAST(pos AS INT), 20)) AS h
  FROM e, LATERAL (SELECT unnest(range(1, length(t) - 18)) AS pos)),
a AS (SELECT h, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS n_docs
      FROM g GROUP BY 1
      HAVING count(DISTINCT doc_id) >= 2)
SELECT h, CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(n_docs AS BIGINT) AS n_docs
FROM a ORDER BY n_docs DESC, n_occurrences DESC, h LIMIT 20""",
    "q_events_multitouch": """
WITH x AS (
  SELECT ts, user_id, event_type, value,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER (
           PARTITION BY user_id
           ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
           RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS n_views
  FROM events),
p AS (SELECT date_trunc('day', ts)::TIMESTAMP AS day, value,
             CAST(n_views AS BIGINT) AS n_views
      FROM x WHERE event_type = 'purchase')
SELECT day, count(*) AS n_purchases,
       round(sum(CASE WHEN n_views > 0 THEN value ELSE 0.0 END), 2)
         AS attributed_value,
       round(sum(CASE WHEN n_views = 0 THEN value ELSE 0.0 END), 2)
         AS unattributed_value,
       round(avg(n_views::DOUBLE), 4) AS avg_touches
FROM p GROUP BY 1""",
    "q_revenue_mom": """
WITH m AS (
  SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
         round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE
           AS revenue
  FROM orders GROUP BY 1)
SELECT month, revenue,
       coalesce(round(revenue - lag(revenue) OVER (ORDER BY month), 2),
                0.0) AS delta,
       coalesce(round((revenue - lag(revenue) OVER (ORDER BY month))
                      / lag(revenue) OVER (ORDER BY month) * 100.0, 4),
                0.0) AS pct_change
FROM m""",
    "q_lineitem_expectations": """
SELECT 'not_null:l_orderkey' AS rule,
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations FROM lineitem
UNION ALL
SELECT 'between:l_quantity',
       CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1.0
                       OR l_quantity > 50.0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'between:l_discount',
       CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0
                       OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'in_set:l_returnflag',
       CAST(sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'regex:l_linestatus',
       CAST(sum(CASE WHEN NOT regexp_matches(coalesce(l_linestatus, ''),
                                             '^[FO]$')
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'unique:line_uid',
       CAST(count(*) - count(DISTINCT l_orderkey || '-' || l_linenumber)
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'fk:l_orderkey',
       CAST(count(*) AS BIGINT)
FROM lineitem l WHERE l_orderkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey)""",
    "q_corpus_shard_manifest": """
WITH b AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
           AS bucket
  FROM documents)
SELECT CASE WHEN bucket < 980 THEN 'train'
            WHEN bucket < 990 THEN 'val'
            ELSE 'test' END AS split,
       CAST(bucket % 8 AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         AS content_digest
FROM b GROUP BY 1, 2""",
    "q_value_winsorized": """
WITH caps AS (SELECT event_type, round(quantile_cont(value, 0.99), 4)
                       AS cap
              FROM events GROUP BY 1)
SELECT event_type, count(*) AS n_events, max(cap) AS cap,
       CAST(sum(CASE WHEN value > cap THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped,
       round(sum(value - least(value, cap)), 2) AS mass_removed
FROM events JOIN caps USING (event_type)
GROUP BY 1""",
    "q_orders_fx": f"""
WITH r(vf, rate) AS (VALUES {", ".join(f"(TIMESTAMP '{t}', {r}::DOUBLE)" for t, r in FX_VERSIONS)}),
j AS (
  SELECT o.o_orderdate, o.o_totalprice, r.rate
  FROM orders o ASOF LEFT JOIN r ON o.o_orderdate >= r.vf)
SELECT year(o_orderdate)::INT AS order_year, count(*) AS n_orders,
       round(sum(CAST(o_totalprice * coalesce(rate, 1.0)
                      AS DECIMAL(18,4))), 2)::DOUBLE AS restated_revenue
FROM j GROUP BY 1""",
    "q_user_lifetime": """
WITH u AS (SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
                  count(*) AS n_events
           FROM events GROUP BY 1)
SELECT CAST(date_diff('day', CAST(first_ts AS DATE),
                      CAST(last_ts AS DATE)) // 7 AS INT) AS tenure_weeks,
       count(*) AS n_users,
       round(avg(n_events::DOUBLE), 4) AS avg_events
FROM u GROUP BY 1""",
    "q_source_overlap": f"""
WITH st AS (SELECT DISTINCT source, unnest({_TOK}) AS tok FROM documents),
sz AS (SELECT source, count(*) AS n FROM st GROUP BY 1),
inter AS (
  SELECT a.source AS s1, b.source AS s2, count(*) AS n_common
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2),
j AS (
  SELECT s1, s2, CAST(n_common AS BIGINT) AS n_common,
         round(n_common / CAST(sa.n + sb.n - n_common AS DOUBLE), 6)
           AS jaccard
  FROM inter
  JOIN sz sa ON inter.s1 = sa.source
  JOIN sz sb ON inter.s2 = sb.source)
SELECT * FROM j ORDER BY jaccard DESC, s1, s2 LIMIT {OVERLAP_TOP}""",
    "q_token_zipf": f"""
WITH tf AS (
  SELECT tok, count(*) AS freq
  FROM (SELECT unnest({_TOK}) AS tok FROM documents)
  GROUP BY 1),
r AS (SELECT tok, CAST(freq AS BIGINT) AS freq,
             CAST(row_number() OVER (ORDER BY freq DESC, tok) AS INT)
               AS rank
      FROM tf)
SELECT rank, tok, freq, CAST(rank * freq AS BIGINT) AS rf
FROM r WHERE rank <= {ZIPF_TOP}""",
    "q_token_pmi": f"""
WITH toks AS (SELECT doc_id, unnest({_TOK}) AS tok FROM documents),
dt AS (SELECT DISTINCT doc_id, tok FROM toks),
dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM dt GROUP BY tok),
vocab AS (
  SELECT tok, df FROM (
    SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS r
    FROM dfreq) WHERE r <= {PMI_VOCAB}),
dv AS (SELECT doc_id, tok, df FROM dt JOIN vocab USING (tok)),
nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
pairs AS (
  SELECT a.tok AS ta, b.tok AS tb, a.df AS dfa, b.df AS dfb,
         count(*)::BIGINT AS n_ab
  FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2, 3, 4 HAVING count(*) >= {PMI_MIN_PAIR})
SELECT ta, tb, n_ab,
       round(ln((n_ab::DOUBLE * n_docs) / (dfa::DOUBLE * dfb)), 4) AS pmi
FROM pairs CROSS JOIN nd""",
    "q_vocab_coverage": f"""
WITH tf AS (
  SELECT tok, count(*)::BIGINT AS freq
  FROM (SELECT unnest({_TOK}) AS tok FROM documents) GROUP BY tok),
tot AS (SELECT sum(freq)::BIGINT AS total FROM tf),
rk AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS r FROM tf),
top AS (SELECT r, sum(freq) OVER (ORDER BY r) AS cum
        FROM rk WHERE r <= {max(VOCAB_CUTOFFS)}),
cv AS (
  SELECT v.vocab_size, max(cum)::BIGINT AS covered_tokens
  FROM top JOIN (VALUES {", ".join(f"({v})" for v in VOCAB_CUTOFFS)}) v(vocab_size)
    ON top.r <= v.vocab_size
  GROUP BY 1)
SELECT vocab_size::INT AS vocab_size, covered_tokens,
       round(covered_tokens::DOUBLE / total, 6) AS coverage
FROM cv CROSS JOIN tot""",
    "q_bpe_merge_pairs": f"""
WITH wf AS (
  SELECT w, count(*)::BIGINT AS wc
  FROM (SELECT unnest({_TOK}) AS w FROM documents)
  WHERE len(w) >= 2 GROUP BY w),
p AS (
  SELECT substr(w, pos, 2) AS pair, wc
  FROM (SELECT w, wc, unnest(range(1, len(w))) AS pos FROM wf)),
agg AS (SELECT pair, sum(wc)::BIGINT AS freq FROM p GROUP BY pair),
r AS (SELECT pair, freq,
             (row_number() OVER (ORDER BY freq DESC, pair))::INT AS rank
      FROM agg)
SELECT rank, pair, freq FROM r WHERE rank <= {BPE_TOP}""",
    "q_events_dow_hour": """
SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hr,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2""",
    "q_brand_type_share": """
WITH g AS (
  SELECT p_type, p_brand,
         round(sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4))), 2)::DOUBLE AS brand_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2)
SELECT p_type, p_brand, brand_rev,
       round(100.0 * brand_rev
             / (sum(CAST(brand_rev AS DECIMAL(18,2)))
                  OVER (PARTITION BY p_type))::DOUBLE, 4)
         AS type_share_pct
FROM g""",
    "q_customer_rfm": """
WITH mx AS (SELECT max(o_orderdate) AS m FROM orders),
pc AS (
  SELECT o_custkey,
         CAST(min(date_diff('day', CAST(o_orderdate AS DATE),
                            CAST(m AS DATE))) AS INT) AS recency_days,
         count(*) AS frequency,
         round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE
           AS monetary
  FROM orders CROSS JOIN mx GROUP BY 1),
sc AS (
  SELECT o_custkey, monetary,
         'R' || ntile(4) OVER (ORDER BY recency_days, o_custkey)
         || 'F' || ntile(4) OVER (ORDER BY frequency DESC, o_custkey)
         || 'M' || ntile(4) OVER (ORDER BY monetary DESC, o_custkey)
           AS segment
  FROM pc)
SELECT segment, count(*) AS n_customers,
       round(sum(CAST(monetary AS DECIMAL(18,2))), 2)::DOUBLE
         AS segment_value
FROM sc GROUP BY 1""",
    "q_session_conversion": f"""
WITH e AS (SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts
           FROM events),
l AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_type, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM l),
ps AS (
  SELECT user_id, sid, date_trunc('day', min(ts))::TIMESTAMP AS day,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM s GROUP BY 1, 2)
SELECT day, count(*) AS n_sessions,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(sum(converted) / CAST(count(*) AS DOUBLE) * 100.0, 4)
         AS conversion_pct
FROM ps GROUP BY 1""",
    "q_order_backlog": """
WITH mx AS (SELECT max(o_orderdate) AS m FROM orders)
SELECT o_orderstatus AS status,
       CAST(least(4, date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(m AS DATE)) // 180) AS INT)
         AS age_band,
       count(*) AS n_orders,
       round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)::DOUBLE
         AS backlog_value
FROM orders CROSS JOIN mx
WHERE o_orderstatus <> 'F'
GROUP BY 1, 2""",
    "q_custdist": """
SELECT c_count, count(*)::BIGINT AS custdist
FROM (SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
GROUP BY c_count""",
    "q_sole_return_supplier": """
WITH rets AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
              WHERE l_returnflag = 'R'),
     multi AS (SELECT l_orderkey FROM lineitem
               GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) > 1),
     sole AS (SELECT l_orderkey, min(l_suppkey) AS the_supp FROM rets
              GROUP BY l_orderkey HAVING count(*) = 1)
SELECT s_name, count(*)::BIGINT AS numwait
FROM sole JOIN multi USING (l_orderkey)
          JOIN supplier ON the_supp = s_suppkey
GROUP BY s_name""",
    "q_min_cost_supplier": """
WITH u AS (SELECT l_partkey, l_suppkey,
                  l_extendedprice / l_quantity AS uprice FROM lineitem),
     b AS (SELECT l_partkey, min(uprice) AS mu FROM u GROUP BY l_partkey),
     c AS (SELECT u.l_partkey, b.mu, min(u.l_suppkey) AS the_supp
           FROM u JOIN b ON u.l_partkey = b.l_partkey AND u.uprice = b.mu
           GROUP BY u.l_partkey, b.mu)
SELECT p_partkey, p_brand, s_name,
       floor(mu * 10000.0 + 0.5) / 10000.0 AS min_unit_price
FROM c JOIN part ON l_partkey = p_partkey
       JOIN supplier ON the_supp = s_suppkey
WHERE p_size < 10""",
    "q_idle_rich_customers": f"""
WITH pos AS (SELECT c_custkey, c_nationkey,
                    CAST(round(c_acctbal * 100) AS BIGINT) AS c
             FROM customer WHERE c_acctbal > 0),
     thr AS (SELECT sum(c) AS s, count(*)::BIGINT AS n FROM pos)
SELECT c_nationkey, count(*)::BIGINT AS n_cust,
       round(sum(c) / 100.0, 2) AS total_bal
FROM pos CROSS JOIN thr
WHERE c * n > s
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{IDLE_CUTOFF}')
GROUP BY c_nationkey""",
    "q_events_rollup_incremental": """
SELECT date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day, event_type,
       count(*)::BIGINT AS n_events,
       round(sum(CAST(value AS DECIMAL(18,4))), 4)::DOUBLE AS sum_value,
       round(min(CAST(value AS DECIMAL(18,4))), 4)::DOUBLE AS min_value,
       round(max(CAST(value AS DECIMAL(18,4))), 4)::DOUBLE AS max_value
FROM events GROUP BY 1, 2""",
    "q_incremental_join_view": """
SELECT o_custkey, count(*)::BIGINT AS n_lines,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))),
             2)::DOUBLE AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_custkey""",
}

PIPELINE_ORACLES.update(
    {
        "q_dedup_semantic": f"""
WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
kk AS (SELECT greatest(8, CAST(round(sqrt(count(*)), 0) AS INT)) AS k
       FROM ve),
sd AS (SELECT cid, c FROM (
         SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid,
                v AS c
         FROM ve) seeds CROSS JOIN kk WHERE cid < k),
asg AS (
  SELECT vec_id, v, cid AS cluster FROM (
    SELECT a.vec_id, a.v, s.cid,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_sum(list_transform(range(1, 65),
                               i -> (a.v[i] - s.c[i]) * (a.v[i] - s.c[i]))),
                      s.cid) AS rn
    FROM ve a CROSS JOIN sd s) WHERE rn = 1),
pr AS (
  SELECT DISTINCT b.vec_id AS pruned
  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE CASE WHEN sqrt(list_inner_product(a.v, a.v))
                  * sqrt(list_inner_product(b.v, b.v)) <> 0
             THEN list_inner_product(a.v, b.v)
                  / (sqrt(list_inner_product(a.v, a.v))
                     * sqrt(list_inner_product(b.v, b.v)))
             END >= {SEMDEDUP_THRESHOLD})
SELECT vec_id, cluster,
       CASE WHEN vec_id IN (SELECT pruned FROM pr)
            THEN 'prune' ELSE 'keep' END AS status
FROM asg""",
        "q_shipping_priority": """
SELECT l_orderkey, o_orderdate,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))),
             2)::DOUBLE AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND l_shipdate > TIMESTAMP '1996-07-01'
GROUP BY 1, 2
ORDER BY revenue DESC, l_orderkey
LIMIT 10""",
        "q_local_supplier_volume": """
SELECT n_name,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))),
             2)::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
GROUP BY 1""",
        "q_market_share": """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
                           THEN CAST(l_extendedprice * (1 - l_discount)
                                     AS DECIMAL(18,4))
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE),
             6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY 1""",
        "q_product_profit": """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
               - CAST(p_retailprice * l_quantity * 0.6 AS DECIMAL(18,4))),
             2)::DOUBLE AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2""",
        "q_ship_lag_priority": """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN '0-30d'
            WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN '31-90d'
            ELSE '90d+' END AS lag_band,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1""",
        "q_part_supplier_variety": """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey
      FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM supplier s
                        WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 0))
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#15' AND p_size <= 10
GROUP BY 1, 2, 3""",
        "q_small_qty_revenue": """
WITH pa AS (SELECT l_partkey AS pk,
                   CAST(sum(l_quantity) AS BIGINT) AS sq,
                   count(*) AS nq
            FROM lineitem GROUP BY 1)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN pa ON l_partkey = pk
WHERE p_size <= 5
  AND CAST(l_quantity AS BIGINT) * 5 * nq < sq""",
        "q_promotable_suppliers": """
WITH pq AS (SELECT l_partkey, l_suppkey,
                   CAST(sum(l_quantity) AS BIGINT) AS sq
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red %' AND year(l_shipdate) = 1996
            GROUP BY 1, 2),
     tot AS (SELECT l_partkey AS pk, sum(sq) AS tq FROM pq GROUP BY 1)
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (SELECT l_suppkey FROM pq JOIN tot ON l_partkey = pk
                    WHERE sq * 2 > tq)
ORDER BY s_name""",
    }
)

# BM25 oracle: replays curation.bm25_search bit-for-bit — same Lucene
# idf, same (k1, b) literals built by the same double ops (1.2 + 1.0,
# 1.0 - 0.75), round(sum, 6) and the (score DESC, doc_id) tie-break.
PIPELINE_ORACLES["q_bm25_search"] = f"""
WITH q(query_id, term) AS (VALUES {", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERY_TERMS)}),
t AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM t GROUP BY 1, 2),
dl AS (SELECT doc_id, term, tf,
              sum(tf) OVER (PARTITION BY doc_id) AS dl
       FROM tf),
stats AS (SELECT count(*)::DOUBLE AS n_docs,
                 avg(len({_TOK}))::DOUBLE AS avgdl
          FROM documents),
m AS (SELECT q.query_id, d.doc_id, d.tf, d.dl, d.term,
             count(*) OVER (PARTITION BY q.query_id, d.term)::DOUBLE AS df
      FROM dl d JOIN q USING (term)),
s AS (SELECT query_id, doc_id,
             round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))), 6)
               AS score,
             count(*)::INT AS n_terms_matched
      FROM m CROSS JOIN stats GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, score, n_terms_matched,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id)::INT AS rank
      FROM s)
SELECT query_id, doc_id, score, n_terms_matched, rank
FROM r WHERE rank <= {BM25_K} ORDER BY query_id, rank"""

# Triangle oracle: same degree-oriented wedge join, declaratively.
PIPELINE_ORACLES["q_copurchase_triangles"] = f"""
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS s FROM lineitem
            WHERE l_orderkey % {TRIANGLE_ORDER_MOD} = 0),
e0 AS (SELECT DISTINCT a.s AS a, b.s AS b
       FROM li a JOIN li b ON a.o = b.o AND a.s < b.s),
deg AS (SELECT node, count(*)::BIGINT AS deg
        FROM (SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
        GROUP BY 1),
o AS (SELECT CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND e0.a < e0.b)
                  THEN e0.a ELSE e0.b END AS u,
             CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND e0.a < e0.b)
                  THEN e0.b ELSE e0.a END AS v,
             CASE WHEN (da.deg < db.deg)
                    OR (da.deg = db.deg AND e0.a < e0.b)
                  THEN db.deg ELSE da.deg END AS dv
      FROM e0 JOIN deg da ON e0.a = da.node JOIN deg db ON e0.b = db.node),
w AS (SELECT o1.u AS u, o1.v AS v1, o2.v AS v2
      FROM o o1 JOIN o o2 ON o1.u = o2.u
      WHERE (o1.dv < o2.dv) OR (o1.dv = o2.dv AND o1.v < o2.v)),
tri AS (SELECT w.u, w.v1, w.v2
        FROM w JOIN o ON w.v1 = o.u AND w.v2 = o.v),
tn AS (SELECT node, count(*)::BIGINT AS n_triangles
       FROM (SELECT u AS node FROM tri
             UNION ALL SELECT v1 AS node FROM tri
             UNION ALL SELECT v2 AS node FROM tri)
       GROUP BY 1)
SELECT deg.node AS p_partkey, deg.deg AS degree,
       coalesce(tn.n_triangles, 0)::BIGINT AS n_triangles,
       CASE WHEN deg.deg >= 2
            THEN round(coalesce(tn.n_triangles, 0) * 2.0
                       / (deg.deg * (deg.deg - 1)), 6)
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN tn ON deg.node = tn.node
ORDER BY p_partkey"""


def _bpe_chain_ctes(k: int) -> list[str]:
    """The shared K-step BPE merge-learning CTE chain (wf, s0, p_i,
    b_i, s_i): MATERIALIZED per-step state so DuckDB doesn't re-inline
    the iterative chain (SCALE.md finding 6), same bar-delimited
    replace semantics, same (count DESC, left, right) argmax tie-break
    as text.bpe_merge_anchors. Used by both the train oracle (reads
    b_1..b_k) and the encode oracle (applies b_1..b_k to documents)."""
    ctes = [
        f"""wf AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS wc
  FROM (SELECT unnest({_TOK}) AS w FROM documents) GROUP BY 1)""",
        r"""s0 AS MATERIALIZED (
  SELECT regexp_replace(w, '(.)', '|\1|', 'g') AS r, wc FROM wf)""",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"""p{i} AS (
  SELECT p.a AS a, p.b AS b, sum(wc)::BIGINT AS c
  FROM (SELECT unnest([{{'a': s[j], 'b': s[j+1]}}
                       for j in generate_series(1, len(s)-1)]) AS p, wc
        FROM (SELECT string_split(substring(r, 2, length(r)-2), '||') AS s,
                     wc
              FROM s{i - 1}))
  GROUP BY 1, 2)"""
        )
        ctes.append(
            f"b{i} AS MATERIALIZED (SELECT a, b, c FROM p{i} "
            f"ORDER BY c DESC, a, b LIMIT 1)"
        )
        if i < k:
            ctes.append(
                f"""s{i} AS MATERIALIZED (
  SELECT replace(r, '|' || a || '||' || b || '|',
                    '|' || a || b || '|') AS r, wc
  FROM s{i - 1} CROSS JOIN b{i})"""
            )
    return ctes


def _bpe_train_oracle(k: int) -> str:
    """Unrolled K-step BPE train: the shared chain's b_1..b_k rows."""
    union = "\nUNION ALL ".join(
        f"SELECT {i}::INT AS step, a AS left_sym, b AS right_sym, "
        f"c AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n".join(_bpe_chain_ctes(k))
        + f"\nSELECT * FROM (\n{union}\n) ORDER BY step"
    )


PIPELINE_ORACLES["q_bpe_train"] = _bpe_train_oracle(BPE_TRAIN_MERGES)

# Kaplan-Meier oracle: identical integer day/month arithmetic, same
# ordered ln-cumsum with the extinction flag.
PIPELINE_ORACLES["q_survival_km"] = f"""
WITH span AS (SELECT o_custkey, min(o_orderdate) AS first_o,
                     max(o_orderdate) AS last_o
              FROM orders GROUP BY 1),
ref AS (SELECT max(o_orderdate) AS max_d FROM orders),
life AS (SELECT c.c_mktsegment AS segment,
                (date_diff('day', first_o, last_o) // {KM_MONTH_DAYS})::INT
                  AS t,
                CASE WHEN date_diff('day', last_o, max_d) > {KM_CHURN_DAYS}
                     THEN 1 ELSE 0 END AS churned
         FROM span CROSS JOIN ref
              JOIN customer c ON span.o_custkey = c.c_custkey),
per_t AS (SELECT segment, t, sum(churned)::BIGINT AS d,
                 count(*)::BIGINT AS ended
          FROM life GROUP BY 1, 2),
staged AS (SELECT segment, t, d AS n_events,
                  (sum(ended) OVER (PARTITION BY segment)
                   - coalesce(sum(ended) OVER (
                        PARTITION BY segment ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0))::BIGINT AS n_risk
           FROM per_t),
sc AS (SELECT segment, t, n_risk, n_events,
              sum(CASE WHEN n_events < n_risk
                       THEN ln(1.0 - n_events / n_risk::DOUBLE)
                       ELSE 0.0 END) OVER w AS lns,
              max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END) OVER w AS x
       FROM staged
       WINDOW w AS (PARTITION BY segment ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT segment, t, n_risk, n_events,
       CASE WHEN x = 1 THEN 0.0 ELSE round(exp(lns), 6) END AS survival
FROM sc ORDER BY segment, t"""

# Association-rules oracle: same counts, same exact-integer ratios.
PIPELINE_ORACLES["q_basket_rules"] = f"""
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
nt AS (SELECT count(DISTINCT o)::BIGINT AS n_tot FROM li),
item AS (SELECT p, count(*)::BIGINT AS n_item FROM li GROUP BY 1),
pairs AS (SELECT a.p AS pa, b.p AS pb, count(*)::BIGINT AS n_ab
          FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          GROUP BY 1, 2 HAVING count(*) >= {RULE_MIN_PAIR}),
dirs AS (SELECT pa AS antecedent, pb AS consequent, n_ab FROM pairs
         UNION ALL
         SELECT pb AS antecedent, pa AS consequent, n_ab FROM pairs),
j AS (SELECT antecedent, consequent, n_ab, ia.n_item AS n_a,
             ic.n_item AS n_c, n_tot
      FROM dirs JOIN item ia ON dirs.antecedent = ia.p
                JOIN item ic ON dirs.consequent = ic.p
                CROSS JOIN nt)
SELECT antecedent, consequent, n_ab AS n_both,
       round(n_ab / n_a::DOUBLE, 6) AS confidence,
       round((n_ab * n_tot)::DOUBLE / (n_a * n_c)::DOUBLE, 6) AS lift
FROM j ORDER BY lift DESC, antecedent, consequent LIMIT {RULE_TOP}"""

# FD-profile oracle: one integer aggregate pair per candidate.
def _fd_oracle() -> str:
    parts = []
    for table, lhs, rhs in FD_CANDIDATES:
        parts.append(
            f"""SELECT '{lhs}->{rhs}' AS fd, count(*)::BIGINT AS n_groups,
       sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)::BIGINT
         AS violating_groups,
       sum(nrows - mx)::BIGINT AS violation_rows
FROM (SELECT {lhs}, sum(c) AS nrows, max(c) AS mx, count(*) AS n_rhs
      FROM (SELECT {lhs}, {rhs}, count(*)::BIGINT AS c
            FROM {table} GROUP BY 1, 2)
      GROUP BY 1)"""
        )
    return (
        "SELECT * FROM (\n" + "\nUNION ALL ".join(parts) + "\n) ORDER BY fd"
    )


PIPELINE_ORACLES["q_fd_profile"] = _fd_oracle()

# Benford oracle: first digit from the cents string, same ln ratio,
# chi2 total over the rounded terms.
PIPELINE_ORACLES["q_benford"] = """
WITH d AS (
  SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                1, 1)::INT AS digit
  FROM orders),
c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
t AS (SELECT sum(n)::BIGINT AS total FROM c),
s AS (
  SELECT digit, n,
         round(n / total::DOUBLE, 6) AS share,
         round((n - total * (ln(1.0 + 1.0 / digit) / ln(10.0)))
               * (n - total * (ln(1.0 + 1.0 / digit) / ln(10.0)))
               / (total * (ln(1.0 + 1.0 / digit) / ln(10.0))), 6)
           AS chi2_term
  FROM c CROSS JOIN t)
SELECT digit, n, share, chi2_term,
       round(sum(chi2_term) OVER (), 6) AS chi2
FROM s ORDER BY digit"""

# Gini oracle: identical integer numerators (HUGEINT = DECIMAL(38,0)).
PIPELINE_ORACLES["q_balance_gini"] = """
WITH c AS (SELECT c_nationkey, c_custkey,
                  CAST(round(c_acctbal * 100) AS BIGINT) AS cents
           FROM customer WHERE c_acctbal > 0),
r AS (SELECT c_nationkey, cents::HUGEINT AS x,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY cents, c_custkey)::BIGINT AS i
      FROM c),
a AS (SELECT c_nationkey, count(*)::BIGINT AS n,
             sum(x) AS sx, sum((2 * i - 1) * x) AS swx
      FROM r GROUP BY 1)
SELECT c_nationkey, n,
       round((swx - n * sx)::DOUBLE / (n * sx)::DOUBLE, 6) AS gini
FROM a ORDER BY c_nationkey"""

# Session-paths oracle: same gap rule, same (ts, event_id) total
# order, list sliced to the same step budget.
PIPELINE_ORACLES["q_session_paths"] = f"""
WITH e AS (SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts
           FROM events),
l AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, event_id, event_type, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM l),
p AS (
  SELECT user_id, sid,
         array_to_string(
           (list(event_type ORDER BY ts, event_id))[1:{PATH_STEPS}], '>')
           AS path
  FROM s GROUP BY 1, 2)
SELECT path, count(*)::BIGINT AS n_sessions
FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT {PATH_TOP}"""

# HLL oracle: identical 52-bit md5 split, string-length bit_length,
# exact power-of-two harmonic sum, same alpha expression text.


def _hll_hash_sql(group: str, src: str) -> str:
    """CTEs h, r, regs: the engine-exact HLL register build (md5 ->
    2^46 bucket/rho split) parameterized by grouping column — ONE
    copy of the constants for every oracle replaying
    functions/sketch.hll_registers."""
    return f"""h AS (SELECT {group},
             ('0x' || substr(md5('hll:' || user_id), 1, 13))::BIGINT AS h
      FROM {src}),
r AS (SELECT {group}, (h // 70368744177664)::INT AS bucket,
             (CASE WHEN h % 70368744177664 = 0 THEN 47
                   ELSE 47 - length(bin(h % 70368744177664)) END)::INT
               AS rho
      FROM h),
regs AS (SELECT {group}, bucket, max(rho) AS rho FROM r GROUP BY 1, 2)"""


def _hll_est_sql(group: str, regs_rel: str) -> str:
    """CTEs t, e, est: harmonic sum + linear-counting-corrected
    estimate over any (group, bucket, rho) register relation — the
    oracle twin of functions/sketch.hll_estimate; est exposes
    ({group}, v, raw)."""
    return f"""t AS (SELECT {group},
             sum(1::BIGINT << greatest(0, 46 - rho))::BIGINT AS s,
             count(*)::BIGINT AS nb
      FROM {regs_rel} GROUP BY 1),
e AS (SELECT {group}, (64 - nb)::INT AS v,
             (s + (64 - nb) * 70368744177664)::DOUBLE AS sfull
      FROM t),
est AS (SELECT {group}, v,
               CASE WHEN (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                         * 70368744177664.0 / sfull <= 160.0 AND v > 0
                    THEN 64.0 * ln(64.0 / v)
                    ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 4096.0
                         * 70368744177664.0 / sfull END AS raw
        FROM e)"""


PIPELINE_ORACLES["q_hll_distinct"] = f"""
WITH {_hll_hash_sql("event_type", "events")},
{_hll_est_sql("event_type", "regs")},
x AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
      FROM events GROUP BY 1)
SELECT event_type, v AS n_zero_registers,
       floor(raw * 10000.0 + 0.5) / 10000.0 AS est_distinct,
       exact_distinct,
       floor(((floor(raw * 10000.0 + 0.5) / 10000.0 - exact_distinct)
              / exact_distinct::DOUBLE) * 10000.0 + 0.5) / 10000.0
         AS rel_err
FROM est JOIN x USING (event_type) ORDER BY event_type"""

# Basket-triples oracle: the same 3-way within-order join.
PIPELINE_ORACLES["q_basket_triples"] = f"""
WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
SELECT a.p AS pa, b.p AS pb, c.p AS pc, count(*)::BIGINT AS n_orders
FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          JOIN li c ON b.o = c.o AND b.p < c.p
GROUP BY 1, 2, 3
ORDER BY n_orders DESC, pa, pb, pc LIMIT {BASKET_TRIPLE_TOP}"""

# Seasonal oracle: identical x7 decimal trick; Spark dayofweek is
# 1=Sunday..7 while DuckDB's is 0=Sunday..6, hence the +1.
PIPELINE_ORACLES["q_events_seasonal"] = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
         sum(CAST(value AS DECIMAL(18,4))) AS x
  FROM events GROUP BY 1, 2),
full_w AS (
  SELECT event_type, day, x,
         sum(x) OVER w AS t7, count(*) OVER w AS nw
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
base AS (
  SELECT event_type, day, x, t7,
         (dayofweek(day) + 1)::INT AS dow,
         7 * x - t7 AS dev7
  FROM full_w WHERE nw = 7),
seas AS (
  SELECT event_type, dow, sum(dev7) AS sdev7, count(*)::BIGINT AS nd
  FROM base GROUP BY 1, 2)
SELECT event_type, day, round(x::DOUBLE, 4) AS total,
       round(t7::DOUBLE / 7.0, 4) AS trend,
       round(sdev7::DOUBLE / (7.0 * nd), 4) AS seasonal,
       round(x::DOUBLE - t7::DOUBLE / 7.0
             - sdev7::DOUBLE / (7.0 * nd), 4) AS residual
FROM base JOIN seas USING (event_type, dow)
ORDER BY event_type, day"""

# Fellegi-Sunter oracle: BRUTE pairwise candidates (the blocking
# completeness proof, like q_fuzzy_suppliers) + identical integer u
# estimation. (1.0 - 0.9), never 0.1: the literal must be the same
# DOUBLE Spark computes.
PIPELINE_ORACLES["q_linkage_scores"] = f"""
WITH cust AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment
              FROM customer),
nn AS (SELECT count(*)::BIGINT AS n FROM cust),
un AS (SELECT sum(c * (c - 1))::BIGINT AS an
       FROM (SELECT count(*)::BIGINT AS c FROM cust GROUP BY c_nationkey)),
us AS (SELECT sum(c * (c - 1))::BIGINT AS asg
       FROM (SELECT count(*)::BIGINT AS c FROM cust GROUP BY c_mktsegment)),
consts AS (SELECT an::DOUBLE / (n * (n - 1))::DOUBLE AS u_nat,
                  asg::DOUBLE / (n * (n - 1))::DOUBLE AS u_seg
           FROM nn, un, us),
pairs AS (SELECT x.c_custkey AS a, y.c_custkey AS b,
                 levenshtein(x.c_name, y.c_name)::INT AS dist,
                 x.c_nationkey = y.c_nationkey AS nation_agree,
                 x.c_mktsegment = y.c_mktsegment AS segment_agree
          FROM cust x JOIN cust y ON x.c_custkey < y.c_custkey
          WHERE levenshtein(x.c_name, y.c_name) <= 1)
SELECT a, b, dist, nation_agree, segment_agree,
       round(CASE WHEN nation_agree THEN log2({FS_M} / u_nat)
                  ELSE log2((1.0 - {FS_M}) / (1.0 - u_nat)) END
           + CASE WHEN segment_agree THEN log2({FS_M} / u_seg)
                  ELSE log2((1.0 - {FS_M}) / (1.0 - u_seg)) END, 6) AS score
FROM pairs CROSS JOIN consts
ORDER BY score DESC, a, b LIMIT {FS_TOP}"""

# PSI oracle: identical integer binning + smoothed-share arithmetic.
PIPELINE_ORACLES["q_psi_drift"] = f"""
WITH base AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         date_trunc('day', ts::TIMESTAMP) AS day
  FROM events),
ext AS (
  SELECT event_type, min(cents) AS lo, max(cents) AS hi,
         min(day) AS d0, max(day) AS d1
  FROM base GROUP BY 1),
binned AS (
  SELECT b.event_type,
         least({PSI_BINS - 1},
               ((cents - lo) * {PSI_BINS}) // (hi - lo + 1))::INT AS bin,
         date_diff('day', d0, day) * 2 < date_diff('day', d0, d1) AS is_a
  FROM base b JOIN ext USING (event_type)),
counts AS (
  SELECT event_type, bin,
         sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS n_b
  FROM binned GROUP BY 1, 2),
tots AS (SELECT event_type, sum(n_a) AS ta, sum(n_b) AS tb
         FROM counts GROUP BY 1),
scored AS (
  SELECT event_type, bin, n_a, n_b,
         round((
             (n_a + 1)::DOUBLE / (ta + {PSI_BINS})::DOUBLE
           - (n_b + 1)::DOUBLE / (tb + {PSI_BINS})::DOUBLE
         ) * ln(((n_a + 1)::DOUBLE / (ta + {PSI_BINS})::DOUBLE)
              / ((n_b + 1)::DOUBLE / (tb + {PSI_BINS})::DOUBLE)), 6)
           AS contrib
  FROM counts JOIN tots USING (event_type))
SELECT event_type, bin, n_a, n_b, contrib,
       round(sum(contrib) OVER (PARTITION BY event_type), 6) AS psi
FROM scored ORDER BY event_type, bin"""

# Trending oracle: identical scaled-integer step decay.
PIPELINE_ORACLES["q_events_trending"] = f"""
WITH daily AS (
  SELECT event_type, user_id, date_trunc('day', ts::TIMESTAMP) AS day,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2, 3),
ref AS (SELECT max(day) AS ref_day FROM daily),
sc AS (
  SELECT event_type, user_id,
         sum(cents * (1::BIGINT << ({TREND_MAX_WEEKS} - least(
             CAST(floor(date_diff('day', day, ref_day) / 7.0) AS INT),
             {TREND_MAX_WEEKS})))) AS sv,
         sum(n * (1::BIGINT << ({TREND_MAX_WEEKS} - least(
             CAST(floor(date_diff('day', day, ref_day) / 7.0) AS INT),
             {TREND_MAX_WEEKS})))) AS sc
  FROM daily CROSS JOIN ref GROUP BY 1, 2),
o AS (
  SELECT event_type, user_id,
         ((sv * 625 + 800) // 1600)::DOUBLE / 10000.0 AS decayed_value,
         ((sc * 625 + 8) // 16)::DOUBLE / 10000.0 AS decayed_events
  FROM sc),
r AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY decayed_value DESC, user_id)::INT AS rank
  FROM o)
SELECT event_type, user_id, decayed_value, decayed_events, rank
FROM r WHERE rank <= {TREND_TOP} ORDER BY event_type, rank"""

# Z-order oracle: the identical shift/mask interleave as SQL text.
def _zorder_locality_oracle() -> str:
    from mapreduce_kmeans_clustering_spark.functions.zorder import (
        zorder_key_sql,
    )

    zexpr = zorder_key_sql("x", "y", 10)
    n = ZORDER_MASK + 1

    def spans(key: str, scheme: str) -> str:
        return f"""
SELECT '{scheme}' AS scheme, ({key}) >> {ZORDER_BUCKET_SHIFT} AS bucket,
       count(*)::BIGINT AS n,
       (max(x) - min(x))::BIGINT AS x_span,
       (max(y) - min(y))::BIGINT AS y_span
FROM pts GROUP BY 2"""

    return f"""
WITH pts AS (SELECT DISTINCT (l_partkey % {n})::BIGINT AS x,
                             (l_suppkey % {n})::BIGINT AS y
             FROM lineitem)
SELECT * FROM ({spans(zexpr, "zorder")}
UNION ALL {spans(f"x * {n} + y", "linear")})
ORDER BY scheme, bucket"""


PIPELINE_ORACLES["q_zorder_locality"] = _zorder_locality_oracle()

# Neyman oracle: identical cents-integer moments (HUGEINT is exact,
# like Spark's DECIMAL(38,0)), identical sqrt/round/floor doubles,
# identical md5 rank order.
PIPELINE_ORACLES["q_sample_neyman"] = f"""
WITH c AS (SELECT o_orderkey, o_orderpriority,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
m AS (SELECT o_orderpriority AS stratum, count(*)::BIGINT AS nh,
             sum(cents) AS s1, sum(cents * cents) AS s2
      FROM c GROUP BY 1),
wt AS (SELECT stratum, nh,
              round(sqrt((nh * s2 - s1 * s1)::DOUBLE), 2) AS w
       FROM m),
tot AS (SELECT sum(w) AS sw FROM wt),
alloc AS (SELECT stratum, nh AS n_stratum,
                 CAST(floor({NEYMAN_N}.0 * w / sw) AS BIGINT) AS n_alloc
          FROM wt CROSS JOIN tot
          WHERE floor({NEYMAN_N}.0 * w / sw) > 0),
r AS (SELECT o_orderkey, o_orderpriority,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY ('0x' || substr(md5('ns:' || o_orderkey), 1, 13))::BIGINT,
                        o_orderkey)::BIGINT AS rank
      FROM c)
SELECT o_orderkey, o_orderpriority, rank, n_alloc, n_stratum
FROM r JOIN alloc ON o_orderpriority = stratum
WHERE rank <= n_alloc
ORDER BY o_orderpriority, rank"""

# CUSUM oracle: the same closed form (prefix sum minus clamped prefix
# min) in pure DECIMAL — 1.02/0.98/0.10 are exactly (1±α) and β.
PIPELINE_ORACLES["q_events_cusum"] = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts::TIMESTAMP)::TIMESTAMP AS day,
         sum(CAST(value AS DECIMAL(18,4))) AS x
  FROM events GROUP BY 1, 2),
b AS (
  SELECT event_type, day, x,
         count(*) OVER (PARTITION BY event_type)::DECIMAL(10,0) AS n,
         sum(x) OVER (PARTITION BY event_type) AS s
  FROM daily),
y AS (
  SELECT event_type, day, x, s,
         n * x - 1.02 * s AS yp,
         0.98 * s - n * x AS yn,
         0.10 * n::DOUBLE * s::DOUBLE AS h
  FROM b),
c AS (
  SELECT event_type, day, x, s, h,
         sum(yp) OVER w AS cp, sum(yn) OVER w AS cn
  FROM y
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
f AS (
  SELECT event_type, day, x, s, h,
         cp - least(0, min(cp) OVER w) AS sp,
         cn - least(0, min(cn) OVER w) AS sn
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, day, round(x::DOUBLE, 4) AS total,
       round(sp::DOUBLE / s::DOUBLE, 6) AS cusum_pos,
       round(sn::DOUBLE / s::DOUBLE, 6) AS cusum_neg,
       sp::DOUBLE > h AS alarm_pos, sn::DOUBLE > h AS alarm_neg
FROM f ORDER BY event_type, day"""

PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_text_stats": q_text_stats,
    "q_text_quality": q_text_quality,
    "q_text_lang": q_text_lang,
    "q_lang_confusion": q_lang_confusion,
    "q_text_fingerprint": q_text_fingerprint,
    "q_text_winnow": q_text_winnow,
    "q_text_redact": q_text_redact,
    "q_text_repetition": q_text_repetition,
    "q_sample_mix": q_sample_mix,
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_minhash": q_dedup_minhash,
    "q_minhash_accuracy": q_minhash_accuracy,
    "q_dedup_jaccard": q_dedup_jaccard,
    "q_dedup_groups": q_dedup_groups,
    "q_dedup_incremental": q_dedup_incremental,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_simhash_pairs": q_dedup_simhash_pairs,
    "q_dedup_pipeline": q_dedup_pipeline,
    "q_dedup_embed": q_dedup_embed,
    "q_knn_graph": q_knn_graph,
    "q_ann_topk": q_ann_topk,
    "q_ann_lsh": q_ann_lsh,
    "q_ann_ivf": q_ann_ivf,
    "q_ann_recall": q_ann_recall,
    "q_kmeans_nd_step": q_kmeans_nd_step,
    "q_embed_quantize": q_embed_quantize,
    "q_pq_encode": q_pq_encode,
    "q_pq_adc": q_pq_adc,
    "q_ann_ivfpq": q_ann_ivfpq,
    "q_ann_ivfpq_recall": q_ann_ivfpq_recall,
    "q_fuzzy_suppliers": q_fuzzy_suppliers,
    "q_semantic_decontam": q_semantic_decontam,
    "q_embed_outliers": q_embed_outliers,
    "q_events_hourly": q_events_hourly,
    "q_events_sessions": q_events_sessions,
    "q_events_top_users": q_events_top_users,
    "q_events_json": q_events_json,
    "q_events_funnel": q_events_funnel,
    "q_sales_cube": q_sales_cube,
    "q_customer_cumulative": q_customer_cumulative,
    "q_value_percentiles": q_value_percentiles,
    "q_pricing_summary": q_pricing_summary,
    "q_top_orders": q_top_orders,
    "q_region_rollup": q_region_rollup,
    "q_brand_revenue": q_brand_revenue,
    "q_parts_no_discount": q_parts_no_discount,
    "q_media_features": q_media_features,
    "q_events_attrib": q_events_attrib,
    "q_events_campaign": q_events_campaign,
    "q_user_segments": q_user_segments,
    "q_priority_distinct": q_priority_distinct,
    "q_events_pivot": q_events_pivot,
    "q_brand_top_parts": q_brand_top_parts,
    "q_approx_distinct": q_approx_distinct,
    "q_order_grouping_sets": q_order_grouping_sets,
    "q_doc_pack": q_doc_pack,
    "q_doc_chunks": q_doc_chunks,
    "q_basket_pairs": q_basket_pairs,
    "q_corpus_temperature": q_corpus_temperature,
    "q_length_buckets": q_length_buckets,
    "q_length_buckets_approx": q_length_buckets_approx,
    "q_source_kl": q_source_kl,
    "q_length_ks": q_length_ks,
    "q_minhash_pr": q_minhash_pr,
    "q_pagerank_nations": q_pagerank_nations,
    "q_event_transitions": q_event_transitions,
    "q_revenue_pareto": q_revenue_pareto,
    "q_gopher_quality": q_gopher_quality,
    "q_ann_dim_recall": q_ann_dim_recall,
    "q_engaged_customers": q_engaged_customers,
    "q_text_tokens": q_text_tokens,
    "q_decontam": q_decontam,
    "q_text_perplexity": q_text_perplexity,
    "q_corpus_split": q_corpus_split,
    "q_returned_customers": q_returned_customers,
    "q_customers_no_orders": q_customers_no_orders,
    "q_tfidf_terms": q_tfidf_terms,
    "q_domain_caps": q_domain_caps,
    "q_length_hist": q_length_hist,
    "q_user_moving_avg": q_user_moving_avg,
    "q_supplier_volume": q_supplier_volume,
    "q_above_avg_orders": q_above_avg_orders,
    "q_embed_diverse": q_embed_diverse,
    "q_events_sliding": q_events_sliding,
    "q_key_skew": q_key_skew,
    "q_customer_ntile": q_customer_ntile,
    "q_events_trailing24h": q_events_trailing24h,
    "q_text_hashtf": q_text_hashtf,
    "q_curation_pipeline": q_curation_pipeline,
    "q_large_orders": q_large_orders,
    "q_promo_share": q_promo_share,
    "q_returned_priority": q_returned_priority,
    "q_top_supplier": q_top_supplier,
    "q_profile_lineitem": q_profile_lineitem,
    "q_embed_dimstats": q_embed_dimstats,
    "q_sample_weighted": q_sample_weighted,
    "q_corpus_mix": q_corpus_mix,
    "q_customer_order_gaps": q_customer_order_gaps,
    "q_dedup_cluster_sizes": q_dedup_cluster_sizes,
    "q_events_retention": q_events_retention,
    "q_nation_flow": q_nation_flow,
    "q_events_rollup": q_events_rollup,
    "q_value_quantile_sketch": q_value_quantile_sketch,
    "q_text_lr_score": q_text_lr_score,
    "q_user_heavy_hitters": q_user_heavy_hitters,
    "q_events_dense_hours": q_events_dense_hours,
    "q_latest_event_per_user": q_latest_event_per_user,
    "q_events_anomaly": q_events_anomaly,
    "q_events_ffill": q_events_ffill,
    "q_cdc_user_state": q_cdc_user_state,
    "q_user_state_periods": q_user_state_periods,
    "q_sql_interface": q_sql_interface,
    "q_forecast_revenue": q_forecast_revenue,
    "q_shipping_modes": q_shipping_modes,
    "q_important_parts": q_important_parts,
    "q_value_outliers": q_value_outliers,
    "q_dedup_passages": q_dedup_passages,
    "q_events_multitouch": q_events_multitouch,
    "q_revenue_mom": q_revenue_mom,
    "q_lineitem_expectations": q_lineitem_expectations,
    "q_corpus_shard_manifest": q_corpus_shard_manifest,
    "q_value_winsorized": q_value_winsorized,
    "q_orders_fx": q_orders_fx,
    "q_user_lifetime": q_user_lifetime,
    "q_source_overlap": q_source_overlap,
    "q_token_zipf": q_token_zipf,
    "q_token_pmi": q_token_pmi,
    "q_bpe_merge_pairs": q_bpe_merge_pairs,
    "q_vocab_coverage": q_vocab_coverage,
    "q_events_dow_hour": q_events_dow_hour,
    "q_brand_type_share": q_brand_type_share,
    "q_customer_rfm": q_customer_rfm,
    "q_session_conversion": q_session_conversion,
    "q_order_backlog": q_order_backlog,
    "q_custdist": q_custdist,
    "q_sole_return_supplier": q_sole_return_supplier,
    "q_min_cost_supplier": q_min_cost_supplier,
    "q_idle_rich_customers": q_idle_rich_customers,
    "q_events_rollup_incremental": q_events_rollup_incremental,
    "q_incremental_join_view": q_incremental_join_view,
    "q_dedup_semantic": q_dedup_semantic,
    "q_shipping_priority": q_shipping_priority,
    "q_local_supplier_volume": q_local_supplier_volume,
    "q_market_share": q_market_share,
    "q_product_profit": q_product_profit,
    "q_ship_lag_priority": q_ship_lag_priority,
    "q_part_supplier_variety": q_part_supplier_variety,
    "q_small_qty_revenue": q_small_qty_revenue,
    "q_promotable_suppliers": q_promotable_suppliers,
    "q_bm25_search": q_bm25_search,
    "q_copurchase_triangles": q_copurchase_triangles,
    "q_bpe_train": q_bpe_train,
    "q_events_cusum": q_events_cusum,
    "q_sample_neyman": q_sample_neyman,
    "q_zorder_locality": q_zorder_locality,
    "q_events_trending": q_events_trending,
    "q_psi_drift": q_psi_drift,
    "q_linkage_scores": q_linkage_scores,
    "q_basket_triples": q_basket_triples,
    "q_events_seasonal": q_events_seasonal,
    "q_hll_distinct": q_hll_distinct,
    "q_session_paths": q_session_paths,
    "q_fd_profile": q_fd_profile,
    "q_benford": q_benford,
    "q_balance_gini": q_balance_gini,
    "q_basket_rules": q_basket_rules,
    "q_survival_km": q_survival_km,
}


# ---------------------------------------------------------------------------
# Round-5 late batch 2: frontier / allocation / reconciliation / experiment
# analytics. Registered at the tail — the round-6 DRIVER_ROTATION picks
# them up (QUERIES.md "driver coverage cap + rotation").
# ---------------------------------------------------------------------------

from mapreduce_kmeans_clustering_spark.operators import allocation as AL
from mapreduce_kmeans_clustering_spark.operators import diff as DF
from mapreduce_kmeans_clustering_spark.operators import skyline as SKY

PROMO_UNITS = 10_000
DIFF_BUCKETS = 64
COV_DIMS = 8
# conversion = any purchase above this value: splits users ~45-55%
# at every SF (purchase-count thresholds don't separate — every
# synthetic user buys; the per-user max purchase value has its
# median near 145)
AB_CONV_VALUE = 150.0


def q_skyline_parts(spark, sf_dir):
    """Pareto frontier of parts under (minimize price, maximize
    size): the multi-objective shortlist — no returned part has
    another both cheaper and at least as large. Distributed skyline
    (operators/skyline.py): distinct (price, size) aggregate, a
    bucketed local-frontier window, then one global window over the
    per-bucket survivors — dominance by sort order, never a pairwise
    join (the brute NOT EXISTS form is only the oracle)."""
    p = _t(spark, sf_dir, "part")
    sky = SKY.skyline_2d(
        p.select(
            F.col("p_retailprice").alias("price"),
            F.col("p_size").alias("size"),
            "p_partkey",
        ),
        "price",
        "size",
        aggs=[
            F.count("*").cast("long").alias("n_parts"),
            F.min("p_partkey").alias("min_partkey"),
        ],
    )
    return sky.select("price", "size", "n_parts", "min_partkey")


def q_budget_allocation(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment: split a 10,000-unit
    promo budget across nations proportional to order revenue, summing
    EXACTLY to the budget — floor shares + one extra unit to the
    largest remainders (operators/allocation.py largest_remainder).
    Integer cents end-to-end; the rank window runs over 25 nation
    rows, never the fact table."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("rev_cents")
        )
    )
    alloc = AL.largest_remainder(rev, "c_nationkey", "rev_cents", PROMO_UNITS)
    return (
        alloc.join(
            F.broadcast(n), alloc["c_nationkey"] == n["n_nationkey"]
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_nationkey").cast("int").alias("nationkey"),
            "floor_units",
            "got_extra",
            "units",
        )
    )


def q_fifo_match(spark, sf_dir):
    """FIFO lot attribution: per part, returned quantities (R flag)
    consume shipped lots (N flag) strictly in shipdate order —
    matched pairs come from cumulative-sum interval overlap, an
    equi-join on partkey with a range residual, never a nested-loop
    scan (operators/allocation.py fifo_match). Integer quantities;
    per-part summary keeps the output one row per returned part."""
    li = _t(spark, sf_dir, "lineitem")
    seq = ["l_shipdate", "l_orderkey", "l_linenumber"]
    # mirror fifo_match's qty>0 drop on the demand-total side so the
    # summary stays consistent if a non-positive quantity ever appears
    lots = li.where((F.col("l_returnflag") == "N") & (F.col("l_quantity") > 0))
    dems = li.where((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 0))
    m = AL.fifo_match(lots, dems, "l_partkey", seq, "l_quantity")
    matched = m.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("matched_qty").alias("matched_qty"),
    )
    demand = dems.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("demand_qty")
    )
    return (
        demand.join(matched, "l_partkey", "left")
        .select(
            F.col("l_partkey").alias("partkey"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("matched_qty", F.lit(0))
            .cast("long")
            .alias("matched_qty"),
            "demand_qty",
            (
                F.col("demand_qty")
                - F.coalesce("matched_qty", F.lit(0))
            ).cast("long").alias("unfilled_qty"),
        )
    )


def q_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation: two deterministic versions of orders
    (B adds the keys A lacks, drops every 89th, bumps every 97th
    price) classified added/removed/changed by fingerprint full-outer
    join, plus Merkle-leaf bucket digests that localize the damage
    without shipping rows (operators/diff.py). Single summary row —
    the anti-entropy gate a 100 TB mirror runs before a sync."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("price_cents"),
        "o_orderstatus",
        "o_orderpriority",
    )
    snap_a = o.where(F.col("o_orderkey") % 101 != 0)
    snap_b = o.where(F.col("o_orderkey") % 89 != 0).withColumn(
        "price_cents",
        F.col("price_cents")
        + F.when(F.col("o_orderkey") % 97 == 0, F.lit(100)).otherwise(
            F.lit(0)
        ),
    )
    keys, vals = ["o_orderkey"], [
        "price_cents",
        "o_orderstatus",
        "o_orderpriority",
    ]
    d = DF.snapshot_diff(snap_a, snap_b, keys, vals)
    counts = d.agg(
        F.coalesce(
            F.sum((F.col("change") == "added").cast("long")), F.lit(0)
        ).alias("n_added"),
        F.coalesce(
            F.sum((F.col("change") == "removed").cast("long")), F.lit(0)
        ).alias("n_removed"),
        F.coalesce(
            F.sum((F.col("change") == "changed").cast("long")), F.lit(0)
        ).alias("n_changed"),
    )
    da = DF.bucket_digests(snap_a, keys, vals, DIFF_BUCKETS)
    db = DF.bucket_digests(snap_b, keys, vals, DIFF_BUCKETS)
    bd = (
        da.withColumnRenamed("n_rows", "na")
        .withColumnRenamed("digest", "ga")
        .join(
            db.withColumnRenamed("n_rows", "nb").withColumnRenamed(
                "digest", "gb"
            ),
            "bucket",
            "full_outer",
        )
        .where(
            F.col("na").isNull()
            | F.col("nb").isNull()
            | (F.col("na") != F.col("nb"))
            | (F.col("ga") != F.col("gb"))
        )
        .agg(F.count("*").cast("long").alias("n_buckets_differ"))
    )
    return counts.crossJoin(F.broadcast(bd))


def q_ab_lift(spark, sf_dir):
    """Two-arm conversion experiment read-out: users split by
    user_id parity, conversion = any purchase event; per-arm rates,
    absolute lift, and the pooled two-proportion z statistic. Counts
    are exact integers; every double is ONE division chain written
    identically in the oracle, rounded half-up in integer arithmetic
    (the Neyman/Gini recipe — Spark and DuckDB round(double) disagree
    near .5 ties, SCALE.md §5)."""
    e = _events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONV_VALUE)
            ).cast("int")
        ).alias("converted")
    )
    arms = per_user.select(
        (F.col("user_id") % 2).cast("int").alias("arm"), "converted"
    )
    agg = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("conv_b"),
    )

    pa = F.col("conv_a") / F.col("n_a")
    pb = F.col("conv_b") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")) / (
        F.col("n_a") + F.col("n_b")
    )
    z = (pb - pa) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return agg.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        _h6(pa).alias("rate_a"),
        _h6(pb).alias("rate_b"),
        _h6(pb - pa).alias("lift"),
        _h6(z).alias("z_score"),
    )


def q_quantile_normalize(spark, sf_dir):
    """Cross-source quantile normalization of document lengths (the
    batch-effect remover: rank within source, replace each value by
    the cross-source mean at its rank). Rank-mean is kept RATIONAL
    (sum, count) until one half-up integer division at 6 dp — the
    '(2x·scale + d) div 2d' recipe — so no float accumulates across
    rows. Output: per (source, rank-decile) mean normalized length."""
    docs = _docs(spark, sf_dir)
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.row_number().over(w_rank).alias("r"),
        F.count("*")
        .over(Window.partitionBy("source"))
        .alias("n_src"),
    )
    rank_stats = ranked.groupBy("r").agg(
        F.sum("n_chars").alias("sum_r"),
        F.count("*").cast("long").alias("cnt_r"),
    )
    # norm_q6 = half-up((sum_r / cnt_r) * 1e6) in pure integers
    norm = ranked.join(rank_stats, "r").select(
        "source",
        F.expr("(r - 1) * 10 div n_src").cast("int").alias("decile"),
        F.expr(
            "(2 * sum_r * 1000000 + cnt_r) div (2 * cnt_r)"
        ).alias("norm_q6"),
    )
    out = norm.groupBy("source", "decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("norm_q6").alias("sum_norm"),
    )
    avg_norm = _h6(F.col("sum_norm") / F.col("n_docs") / F.lit(1e6))
    return out.select(
        "source", "decile", "n_docs", avg_norm.alias("avg_norm")
    )


def q_embed_cov(spark, sf_dir):
    """Quantized covariance of the first 8 embedding dimensions: the
    feature-correlation gate before a training run (collapsed or
    redundant dims show up as off-diagonal mass). Values quantize
    half-up at 6 dp to integers so all moment sums are EXACT and
    order-independent; the covariance combination rides DECIMAL(38,0)
    (n·P_ij − S_i·S_j overflows long past ~sf1) with one final
    double division chain. Single map-side-combined aggregate — no
    explode, no join, 45 accumulator columns; the BLAS-twin for the
    full 64-dim Gram lives in operators/pca.py moments_nd."""
    e = _emb(spark, sf_dir)
    D = COV_DIMS
    qs = [
        F.floor(
            F.element_at("embedding", i + 1).cast("double") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias(f"q{i}")
        for i in range(D)
    ]
    st = e.select(*qs)
    aggs = [F.count("*").cast("long").alias("n")]
    aggs += [F.sum(f"q{i}").alias(f"s{i}") for i in range(D)]
    aggs += [
        F.sum(F.col(f"q{i}") * F.col(f"q{j}")).alias(f"p{i}_{j}")
        for i in range(D)
        for j in range(i, D)
    ]
    row = st.agg(*aggs)
    dec = "decimal(38,0)"
    triples = []
    for i in range(D):
        for j in range(i, D):
            num = F.col("n").cast(dec) * F.col(f"p{i}_{j}").cast(
                dec
            ) - F.col(f"s{i}").cast(dec) * F.col(f"s{j}").cast(dec)
            cov = (
                num.cast("double")
                / F.col("n")
                / F.col("n")
                / F.lit(1e12)
            )
            cov_q6 = _h6(cov)
            triples.append(
                F.struct(
                    F.lit(i).cast("int").alias("dim_i"),
                    F.lit(j).cast("int").alias("dim_j"),
                    F.col("n").alias("n_vecs"),
                    cov_q6.alias("cov_q6"),
                )
            )
    return row.select(
        F.explode(F.array(*triples)).alias("t")
    ).select("t.dim_i", "t.dim_j", "t.n_vecs", "t.cov_q6")


# Skyline oracle: brute-force dominance NOT EXISTS — the quadratic
# form the operator's sort-order formulation replaces.
PIPELINE_ORACLES["q_skyline_parts"] = """
WITH pts AS (
  SELECT p_retailprice AS price, p_size AS size,
         count(*)::BIGINT AS n_parts, min(p_partkey) AS min_partkey
  FROM part GROUP BY 1, 2)
SELECT price, size, n_parts, min_partkey
FROM pts a
WHERE NOT EXISTS (
  SELECT 1 FROM pts b
  WHERE b.price <= a.price AND b.size >= a.size
    AND (b.price < a.price OR b.size > a.size))
ORDER BY price"""

# Largest-remainder oracle: same integer floor/remainder math; the
# extra-unit rank breaks ties (rem DESC, nationkey ASC) identically.
PIPELINE_ORACLES["q_budget_allocation"] = f"""
WITH w AS (
  SELECT c_nationkey,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS wgt
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1),
t AS (SELECT sum(wgt)::BIGINT AS wt FROM w),
s AS (SELECT c_nationkey, ({PROMO_UNITS} * wgt) // wt AS fl,
             ({PROMO_UNITS} * wgt) % wt AS rem
      FROM w CROSS JOIN t),
r AS (SELECT c_nationkey, fl,
             row_number() OVER (ORDER BY rem DESC, c_nationkey)::BIGINT AS rk,
             ({PROMO_UNITS} - (SELECT sum(fl) FROM s))::BIGINT AS short
      FROM s)
SELECT n_name AS nation, c_nationkey::INT AS nationkey,
       fl::BIGINT AS floor_units,
       (CASE WHEN rk <= short THEN 1 ELSE 0 END)::INT AS got_extra,
       (fl + CASE WHEN rk <= short THEN 1 ELSE 0 END)::BIGINT AS units
FROM r JOIN nation ON n_nationkey = c_nationkey"""

# FIFO oracle: identical cumulative-interval construction in SQL
# windows; HUGEINT intermediates cast back at the output boundary.
PIPELINE_ORACLES["q_fifo_match"] = """
WITH lots AS (
  SELECT l_partkey,
         sum(CAST(l_quantity AS BIGINT)) OVER w AS hi,
         sum(CAST(l_quantity AS BIGINT)) OVER w
           - CAST(l_quantity AS BIGINT) AS lo
  FROM lineitem WHERE l_returnflag = 'N' AND l_quantity > 0
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
dems AS (
  SELECT l_partkey,
         sum(CAST(l_quantity AS BIGINT)) OVER w AS hi,
         sum(CAST(l_quantity AS BIGINT)) OVER w
           - CAST(l_quantity AS BIGINT) AS lo
  FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 0
  WINDOW w AS (PARTITION BY l_partkey
               ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
m AS (
  SELECT l.l_partkey,
         least(l.hi, d.hi) - greatest(l.lo, d.lo) AS mq
  FROM lots l JOIN dems d ON l.l_partkey = d.l_partkey
  WHERE d.lo < l.hi AND l.lo < d.hi),
ms AS (SELECT l_partkey, count(*)::BIGINT AS n_pairs,
              sum(mq)::BIGINT AS matched_qty
       FROM m GROUP BY 1),
dd AS (SELECT l_partkey,
              sum(CAST(l_quantity AS BIGINT))::BIGINT AS demand_qty
       FROM lineitem WHERE l_returnflag = 'R' AND l_quantity > 0
       GROUP BY 1)
SELECT dd.l_partkey AS partkey,
       coalesce(ms.n_pairs, 0)::BIGINT AS n_pairs,
       coalesce(ms.matched_qty, 0)::BIGINT AS matched_qty,
       dd.demand_qty,
       (dd.demand_qty - coalesce(ms.matched_qty, 0))::BIGINT AS unfilled_qty
FROM dd LEFT JOIN ms ON dd.l_partkey = ms.l_partkey"""

# Snapshot-diff oracle: md5 fingerprints and 48-bit digest sums
# replayed in SQL ('0x'||substr trick — the portable hash family).
PIPELINE_ORACLES["q_snapshot_diff"] = f"""
WITH o AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
         o_orderstatus, o_orderpriority
  FROM orders),
a AS (SELECT * FROM o WHERE o_orderkey % 101 != 0),
b AS (SELECT o_orderkey,
             pc + CASE WHEN o_orderkey % 97 = 0 THEN 100 ELSE 0 END AS pc,
             o_orderstatus, o_orderpriority
      FROM o WHERE o_orderkey % 89 != 0),
fa AS (SELECT o_orderkey,
              md5(pc::VARCHAR || '|' || o_orderstatus || '|'
                  || o_orderpriority) AS fp FROM a),
fb AS (SELECT o_orderkey,
              md5(pc::VARCHAR || '|' || o_orderstatus || '|'
                  || o_orderpriority) AS fp FROM b),
cls AS (
  SELECT CASE WHEN fa.fp IS NULL THEN 'added'
              WHEN fb.fp IS NULL THEN 'removed'
              WHEN fa.fp != fb.fp THEN 'changed' END AS change
  FROM fa FULL OUTER JOIN fb ON fa.o_orderkey = fb.o_orderkey),
cnt AS (
  SELECT sum(CASE WHEN change = 'added' THEN 1 ELSE 0 END)::BIGINT
           AS n_added,
         sum(CASE WHEN change = 'removed' THEN 1 ELSE 0 END)::BIGINT
           AS n_removed,
         sum(CASE WHEN change = 'changed' THEN 1 ELSE 0 END)::BIGINT
           AS n_changed
  FROM cls),
ga AS (
  SELECT ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 12))::BIGINT % {DIFF_BUCKETS}
           AS bucket,
         count(*)::BIGINT AS n_rows,
         (sum(('0x' || substr(md5(o_orderkey::VARCHAR || '|' || pc::VARCHAR
               || '|' || o_orderstatus || '|' || o_orderpriority), 1, 12)
             )::BIGINT) % 281474976710656)::BIGINT AS digest
  FROM a GROUP BY 1),
gb AS (
  SELECT ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 12))::BIGINT % {DIFF_BUCKETS}
           AS bucket,
         count(*)::BIGINT AS n_rows,
         (sum(('0x' || substr(md5(o_orderkey::VARCHAR || '|' || pc::VARCHAR
               || '|' || o_orderstatus || '|' || o_orderpriority), 1, 12)
             )::BIGINT) % 281474976710656)::BIGINT AS digest
  FROM b GROUP BY 1),
bd AS (
  SELECT count(*)::BIGINT AS n_buckets_differ
  FROM ga FULL OUTER JOIN gb ON ga.bucket = gb.bucket
  WHERE ga.n_rows IS NULL OR gb.n_rows IS NULL
     OR ga.n_rows != gb.n_rows OR ga.digest != gb.digest)
SELECT n_added, n_removed, n_changed, n_buckets_differ
FROM cnt CROSS JOIN bd"""

# A/B oracle: identical division chains; half-up 6-dp via
# floor(x*1e6 + 0.5)/1e6 both sides (round() ties differ cross-engine).
PIPELINE_ORACLES["q_ab_lift"] = f"""
WITH u AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > {AB_CONV_VALUE}
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1),
a AS (
  SELECT sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)::BIGINT
           AS conv_a,
         sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END)::BIGINT
           AS conv_b
  FROM u)
SELECT n_a, conv_a, n_b, conv_b,
  floor((conv_a / n_a) * 1000000.0 + 0.5) / 1000000.0 AS rate_a,
  floor((conv_b / n_b) * 1000000.0 + 0.5) / 1000000.0 AS rate_b,
  floor(((conv_b / n_b) - (conv_a / n_a)) * 1000000.0 + 0.5) / 1000000.0
    AS lift,
  floor((((conv_b / n_b) - (conv_a / n_a))
         / sqrt(((conv_a + conv_b) / (n_a + n_b))
                * (1.0 - ((conv_a + conv_b) / (n_a + n_b)))
                * ((1.0 / n_a) + (1.0 / n_b))))
        * 1000000.0 + 0.5) / 1000000.0 AS z_score
FROM a"""

# Quantile-normalization oracle: same rank windows, same pure-integer
# half-up '(2x*scale + d) div 2d' rank means.
PIPELINE_ORACLES["q_quantile_normalize"] = """
WITH ranked AS (
  SELECT source, n_chars::BIGINT AS n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r,
         count(*) OVER (PARTITION BY source) AS n_src
  FROM documents),
rs AS (SELECT r, sum(n_chars)::BIGINT AS sum_r, count(*)::BIGINT AS cnt_r
       FROM ranked GROUP BY 1),
norm AS (
  SELECT source, CAST((r - 1) * 10 // n_src AS INT) AS decile,
         (2 * sum_r * 1000000 + cnt_r) // (2 * cnt_r) AS norm_q6
  FROM ranked JOIN rs USING (r)),
o AS (SELECT source, decile, count(*)::BIGINT AS n_docs,
             sum(norm_q6)::BIGINT AS sum_norm
      FROM norm GROUP BY 1, 2)
SELECT source, decile, n_docs,
       floor((sum_norm / n_docs / 1000000.0) * 1000000.0 + 0.5)
         / 1000000.0 AS avg_norm
FROM o"""


def _embed_cov_oracle(d: int) -> str:
    """Quantized-covariance oracle: 6-dp half-up integer moments,
    HUGEINT combination (= the Spark DECIMAL(38,0) channel), one
    final double division chain — written by loop so the 36 pair
    expressions stay literally identical to the Spark side."""
    qs = ",\n         ".join(
        f"CAST(floor(embedding[{i + 1}]::DOUBLE * 1000000.0 + 0.5)"
        f" AS BIGINT) AS q{i}"
        for i in range(d)
    )
    aggs = ["count(*)::BIGINT AS n"]
    aggs += [f"sum(q{i})::BIGINT AS s{i}" for i in range(d)]
    aggs += [
        f"sum(q{i} * q{j})::BIGINT AS p{i}_{j}"
        for i in range(d)
        for j in range(i, d)
    ]
    rows = []
    for i in range(d):
        for j in range(i, d):
            num = (
                f"(n::HUGEINT * p{i}_{j}::HUGEINT"
                f" - s{i}::HUGEINT * s{j}::HUGEINT)"
            )
            cov = f"{num}::DOUBLE / n / n / 1e12"
            rows.append(
                f"SELECT {i}::INT AS dim_i, {j}::INT AS dim_j,"
                f" n AS n_vecs,"
                f" floor(({cov}) * 1000000.0 + 0.5) / 1000000.0 AS cov_q6"
                f" FROM a"
            )
    return (
        "WITH q AS (SELECT " + qs + " FROM embeddings),\n"
        "a AS (SELECT " + ", ".join(aggs) + " FROM q)\n"
        + "\nUNION ALL\n".join(rows)
    )


PIPELINE_ORACLES["q_embed_cov"] = _embed_cov_oracle(COV_DIMS)

PIPELINE_QUERIES.update(
    {
        "q_skyline_parts": q_skyline_parts,
        "q_budget_allocation": q_budget_allocation,
        "q_fifo_match": q_fifo_match,
        "q_snapshot_diff": q_snapshot_diff,
        "q_ab_lift": q_ab_lift,
        "q_quantile_normalize": q_quantile_normalize,
        "q_embed_cov": q_embed_cov,
    }
)


# ---------------------------------------------------------------------------
# Round-5 late batch 3: graph reach, hybrid retrieval fusion, grouped OLS.
# ---------------------------------------------------------------------------

from mapreduce_kmeans_clustering_spark.operators.graph import bfs_levels

HOPS_TOP_EDGES = 3
HOPS_MAX = 3
HOPS_SOURCE = 0
HOPS_YEAR = 2000
RRF_SHIFT = 60
RRF_CAND = 50
RRF_TOP = 10
RRF_TERMS = ["hash", "join", "merge"]
TREND_BASE_YEAR = 1995


def _trade_edges(spark, sf_dir):
    """Top-HOPS_TOP_EDGES revenue destinations per supplier nation
    over the HOPS_YEAR trade season: the SF-stable sparsifier
    (absolute/relative revenue thresholds flip between empty and
    complete graphs as SF grows — measured). The year filter reaches
    the parquet scan, so the 4-way fact join reads one season, not
    the history."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.year("l_shipdate") == HOPS_YEAR)
        .select("l_orderkey", "l_suppkey", "l_extendedprice")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cents").desc(), F.col("dst").asc()
    )
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= HOPS_TOP_EDGES)
        .select("src", "dst")
    )


def q_nation_hops(spark, sf_dir):
    """Trade-reach BFS: hop levels from nation 0 over the top-3
    revenue-destination graph (operators/graph.py bfs_levels — fixed
    3-round min-plus unroll, frontier ⋈ edges equi-join + min
    aggregate per round; edges are a 75-row broadcast). The graph
    sparsifier is rank-based so the query means the same thing at
    every SF. Unreached nations are absent, not sentineled."""
    nation = _t(spark, sf_dir, "nation")
    # the 75-row edge relation is referenced once per BFS round:
    # without the pin each round replays the 4-way fact join (the
    # PageRank edge-list lesson — deferred checkpoint materializes
    # the DAG once on first action)
    edges = _trade_edges(spark, sf_dir).localCheckpoint(eager=False)
    # out-degree is pinned at HOPS_TOP_EDGES, so path-enumeration mode
    # (<= 1+3+9+27 frontier rows, ONE min shuffle) beats 3 rounds of
    # dedup shuffles
    d = bfs_levels(edges, [HOPS_SOURCE], HOPS_MAX, frontier_dedup=False)
    return d.join(
        F.broadcast(nation), d["nk"] == nation["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        F.col("nk").cast("int").alias("nationkey"),
        "hops",
    )


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al.) of a
    BM25 keyword ranking and a length-prior ranking over the same
    candidate pool — the two-retriever fusion every RAG/dedup
    pipeline runs. rrf = 1/(60+r_bm25) + 1/(60+r_len): ranks are
    exact ints, each fused score a fixed two-term double sum,
    half-up 6 dp. Candidates = BM25 top-50, so the len-rank window
    is a 50-row single task, never corpus-wide."""
    docs = _docs(spark, sf_dir)
    qdf = spark.createDataFrame(
        [("q", t) for t in RRF_TERMS], "query_id string, term string"
    )
    cand = CU.bm25_search(docs, qdf, k=RRF_CAND).select(
        "doc_id", F.col("rank").alias("rank_bm25")
    )
    withlen = cand.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    w_len = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    staged = withlen.withColumn(
        "rank_len", F.row_number().over(w_len).cast("int")
    )
    rrf = F.lit(1.0) / (F.lit(RRF_SHIFT) + F.col("rank_bm25")) + F.lit(
        1.0
    ) / (F.lit(RRF_SHIFT) + F.col("rank_len"))
    scored = staged.select(
        "doc_id",
        "rank_bm25",
        "rank_len",
        _h6(rrf).alias("rrf_q6"),
    )
    w_f = Window.orderBy(F.col("rrf_q6").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w_f).cast("int"))
        .where(F.col("rank") <= RRF_TOP)
        .select("doc_id", "rank_bm25", "rank_len", "rrf_q6", "rank")
    )


def q_revenue_trend(spark, sf_dir):
    """Per-nation OLS trend of monthly order revenue: slope,
    intercept, R² from EXACT integer moments (cents, global month
    index) — the grouped-regression primitive behind every
    drift/forecast dashboard. Sums ride DECIMAL(38,0) (Σy² overflows
    long past ~sf1); each output is one double division chain
    written identically in the oracle, half-up 6 dp. Degenerate
    groups (constant x or y) are filtered symmetrically, not
    divided."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation")
    dec = "decimal(38,0)"
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "c_nationkey",
            (
                (F.year("o_orderdate") - TREND_BASE_YEAR) * 12
                + (F.month("o_orderdate") - 1)
            )
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("y")
        )
    )
    mom = monthly.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("syy"),
    )
    num = F.col("n").cast(dec) * F.col("sxy").cast(dec) - F.col(
        "sx"
    ).cast(dec) * F.col("sy").cast(dec)
    denx = F.col("n").cast(dec) * F.col("sxx").cast(dec) - F.col(
        "sx"
    ).cast(dec) * F.col("sx").cast(dec)
    deny = F.col("n").cast(dec) * F.col("syy") - F.col("sy").cast(
        dec
    ) * F.col("sy").cast(dec)
    staged = mom.select(
        "c_nationkey",
        "n",
        "sx",
        "sy",
        num.alias("num"),
        denx.alias("denx"),
        deny.alias("deny"),
    ).where(
        (F.col("n") >= 3) & (F.col("denx") != 0) & (F.col("deny") != 0)
    )
    slope = F.col("num").cast("double") / F.col("denx").cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n")
    r2 = (F.col("num").cast("double") * F.col("num").cast("double")) / (
        F.col("denx").cast("double") * F.col("deny").cast("double")
    )

    out = staged.select(
        "c_nationkey",
        F.col("n").alias("n_months"),
        _h6(slope).alias("slope_q6"),
        _h6(intercept).alias("intercept_q6"),
        _h6(r2).alias("r2_q6"),
    )
    return out.join(
        F.broadcast(n), out["c_nationkey"] == n["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        F.col("c_nationkey").cast("int").alias("nationkey"),
        "n_months",
        "slope_q6",
        "intercept_q6",
        "r2_q6",
    )


def _nation_hops_oracle() -> str:
    """Unrolled min-plus BFS in SQL: the same HOPS_MAX rounds the
    Spark loop runs, as chained CTEs (no recursive CTE — identical
    fixed-depth semantics both engines by construction)."""
    prev = "d0"
    rounds = []
    for i in range(1, HOPS_MAX + 1):
        rounds.append(
            f"d{i} AS (SELECT nk, min(hops)::INT AS hops FROM (\n"
            f"  SELECT nk, hops FROM {prev}\n"
            f"  UNION ALL\n"
            f"  SELECT e.dst AS nk, {prev}.hops + 1 AS hops\n"
            f"  FROM {prev} JOIN e ON {prev}.nk = e.src) GROUP BY nk)"
        )
        prev = f"d{i}"
    return f"""
WITH rev AS (
  SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
         sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))::BIGINT AS cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE year(l.l_shipdate) = {HOPS_YEAR}
  GROUP BY 1, 2),
e AS (SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cents DESC, dst) AS rk
        FROM rev)
      WHERE rk <= {HOPS_TOP_EDGES}),
d0(nk, hops) AS (SELECT {HOPS_SOURCE}, 0),
{",".join(rounds)}
SELECT n_name AS nation, nk::INT AS nationkey, hops
FROM {prev} JOIN nation ON n_nationkey = nk"""


PIPELINE_ORACLES["q_nation_hops"] = _nation_hops_oracle()

# RRF oracle: the BM25 CTE chain (same contract as q_bm25_search's
# oracle) for the single fused query, then the 50-row length rank and
# the fixed two-term reciprocal sum.
PIPELINE_ORACLES["q_hybrid_rrf"] = f"""
WITH q(query_id, term) AS (VALUES {", ".join(f"('q', '{t}')" for t in RRF_TERMS)}),
t AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM t GROUP BY 1, 2),
dl AS (SELECT doc_id, term, tf,
              sum(tf) OVER (PARTITION BY doc_id) AS dl
       FROM tf),
stats AS (SELECT count(*)::DOUBLE AS n_docs,
                 avg(len({_TOK}))::DOUBLE AS avgdl
          FROM documents),
m AS (SELECT q.query_id, d.doc_id, d.tf, d.dl, d.term,
             count(*) OVER (PARTITION BY q.query_id, d.term)::DOUBLE AS df
      FROM dl d JOIN q USING (term)),
s AS (SELECT query_id, doc_id,
             round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))), 6)
               AS score
      FROM m CROSS JOIN stats GROUP BY 1, 2),
r AS (SELECT doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id)::INT
               AS rank_bm25
      FROM s),
cand AS (SELECT doc_id, rank_bm25 FROM r WHERE rank_bm25 <= {RRF_CAND}),
wl AS (SELECT c.doc_id, c.rank_bm25,
              row_number() OVER (ORDER BY d.n_chars DESC, c.doc_id)::INT
                AS rank_len
       FROM cand c JOIN documents d USING (doc_id)),
sc AS (SELECT doc_id, rank_bm25, rank_len,
              floor((1.0 / ({RRF_SHIFT} + rank_bm25)
                     + 1.0 / ({RRF_SHIFT} + rank_len))
                    * 1000000.0 + 0.5) / 1000000.0 AS rrf_q6
       FROM wl),
f AS (SELECT doc_id, rank_bm25, rank_len, rrf_q6,
             row_number() OVER (ORDER BY rrf_q6 DESC, doc_id)::INT AS rank
      FROM sc)
SELECT doc_id, rank_bm25, rank_len, rrf_q6, rank
FROM f WHERE rank <= {RRF_TOP}"""

# Grouped-OLS oracle: identical integer moments (HUGEINT = the Spark
# DECIMAL(38,0) channel), identical double division chains.
PIPELINE_ORACLES["q_revenue_trend"] = f"""
WITH monthly AS (
  SELECT c_nationkey,
         ((year(o_orderdate) - {TREND_BASE_YEAR}) * 12
          + (month(o_orderdate) - 1))::BIGINT AS x,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
mom AS (
  SELECT c_nationkey, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
         sum(x * x)::BIGINT AS sxx,
         sum(y::HUGEINT * y::HUGEINT) AS syy
  FROM monthly GROUP BY 1),
st AS (
  SELECT c_nationkey, n, sx, sy,
         (n::HUGEINT * sxy::HUGEINT - sx::HUGEINT * sy::HUGEINT) AS num,
         (n::HUGEINT * sxx::HUGEINT - sx::HUGEINT * sx::HUGEINT) AS denx,
         (n::HUGEINT * syy - sy::HUGEINT * sy::HUGEINT) AS deny
  FROM mom WHERE n >= 3),
f AS (SELECT * FROM st WHERE denx != 0 AND deny != 0)
SELECT n_name AS nation, c_nationkey::INT AS nationkey, n AS n_months,
  floor((num::DOUBLE / denx::DOUBLE) * 1000000.0 + 0.5) / 1000000.0
    AS slope_q6,
  floor(((sy::DOUBLE - (num::DOUBLE / denx::DOUBLE) * sx::DOUBLE) / n)
        * 1000000.0 + 0.5) / 1000000.0 AS intercept_q6,
  floor(((num::DOUBLE * num::DOUBLE) / (denx::DOUBLE * deny::DOUBLE))
        * 1000000.0 + 0.5) / 1000000.0 AS r2_q6
FROM f JOIN nation ON n_nationkey = c_nationkey"""

PIPELINE_QUERIES.update(
    {
        "q_nation_hops": q_nation_hops,
        "q_hybrid_rrf": q_hybrid_rrf,
        "q_revenue_trend": q_revenue_trend,
    }
)


# ---------------------------------------------------------------------------
# Round-5 late batch 4: sketch set operations + isotonic calibration.
# ---------------------------------------------------------------------------

from mapreduce_kmeans_clustering_spark.operators.calibrate import isotonic_fit

KMV_SETOPS_K = 64
KMV_YEAR_A = 1997
KMV_YEAR_B = 1998
ISO_BUCKET_WIDTH = 50
ISO_BUCKET_CAP = 9


def q_kmv_setops(spark, sf_dir):
    """Set-operation cardinality gate: repeat-customer overlap between
    the 1997 and 1998 order cohorts, estimated from two 64-row KMV
    sketches (functions/sketch.kmv_set_ops — union minima ⊆ the two
    sides' minima, so the merge is ≤2k rows at any corpus size;
    intersection via union-sketch membership ratio, Beyer et al.)
    next to the exact distinct-merge counts. Deterministic md5
    hashing keeps every estimate a pure function of the key sets, so
    the oracle replays estimates AND truth."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.year("o_orderdate") == KMV_YEAR_A).select("o_custkey")
    b = o.where(F.year("o_orderdate") == KMV_YEAR_B).select("o_custkey")
    return SK.kmv_set_ops(a, b, "o_custkey", KMV_SETOPS_K)


def q_conversion_isotonic(spark, sf_dir):
    """Monotone conversion calibration: the empirical conversion rate
    per (event_type, value bucket) fitted by grouped isotonic
    regression (operators/calibrate.py — PAV in applyInPandas,
    integer cross-multiplication pooling). The oracle evaluates the
    minimax characterization ŷ = max_{j<=i} min_{k>=i} mean[j..k]
    declaratively, so the Arrow path is value-pinned against pure
    SQL — the strongest check a Python-side operator can get."""
    e = _events(spark, sf_dir)
    per_user = e.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONV_VALUE)
            ).cast("int")
        ).alias("conv")
    )
    pts = (
        e.join(per_user, "user_id")
        .groupBy(
            "event_type",
            F.least(
                F.floor(F.col("value") / ISO_BUCKET_WIDTH),
                F.lit(ISO_BUCKET_CAP),
            )
            .cast("int")
            .alias("bucket"),
        )
        .agg(
            F.sum("conv").cast("long").alias("n_conv"),
            F.count("*").cast("long").alias("n_events"),
        )
    )
    fit = isotonic_fit(
        pts, ["event_type"], "bucket", "n_conv", "n_events"
    )

    return fit.select(
        "event_type",
        "bucket",
        "n_events",
        "n_conv",
        _h6(F.col("n_conv") / F.col("n_events")).alias("rate_q6"),
        _h6(F.col("y_hat")).alias("iso_q6"),
    )


PIPELINE_ORACLES["q_kmv_setops"] = f"""
WITH va AS (SELECT DISTINCT o_custkey AS v FROM orders
            WHERE year(o_orderdate) = {KMV_YEAR_A}),
vb AS (SELECT DISTINCT o_custkey AS v FROM orders
       WHERE year(o_orderdate) = {KMV_YEAR_B}),
ha AS (SELECT v, ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 13))::BIGINT
                 / 4503599627370496.0 AS h FROM va),
hb AS (SELECT v, ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 13))::BIGINT
                 / 4503599627370496.0 AS h FROM vb),
ma AS (SELECT v, h FROM (SELECT v, h, row_number() OVER (ORDER BY h) AS r
                         FROM ha) WHERE r <= {KMV_SETOPS_K}),
mb AS (SELECT v, h FROM (SELECT v, h, row_number() OVER (ORDER BY h) AS r
                         FROM hb) WHERE r <= {KMV_SETOPS_K}),
merged AS (
  SELECT coalesce(ma.v, mb.v) AS v, coalesce(ma.h, mb.h) AS h,
         CASE WHEN ma.v IS NOT NULL THEN 1 ELSE 0 END AS ia,
         CASE WHEN mb.v IS NOT NULL THEN 1 ELSE 0 END AS ib
  FROM ma FULL OUTER JOIN mb ON ma.v = mb.v),
topu AS (SELECT * FROM (SELECT *, row_number() OVER (ORDER BY h) AS r
                        FROM merged) WHERE r <= {KMV_SETOPS_K}),
ea AS (SELECT round(CASE WHEN count(*) < {KMV_SETOPS_K}
                         THEN count(*)::DOUBLE
                         ELSE {KMV_SETOPS_K - 1}.0 / max(h) END, 4)
                AS est_a FROM ma),
eb AS (SELECT round(CASE WHEN count(*) < {KMV_SETOPS_K}
                         THEN count(*)::DOUBLE
                         ELSE {KMV_SETOPS_K - 1}.0 / max(h) END, 4)
                AS est_b FROM mb),
eu AS (SELECT count(*)::INT AS n_kept, sum(ia * ib)::INT AS n_both,
              round(CASE WHEN count(*) < {KMV_SETOPS_K}
                         THEN count(*)::DOUBLE
                         ELSE {KMV_SETOPS_K - 1}.0 / max(h) END, 4)
                AS est_union
       FROM topu),
eu2 AS (SELECT n_kept, n_both, est_union,
               round(CASE WHEN n_kept < {KMV_SETOPS_K}
                          THEN n_both::DOUBLE
                          ELSE n_both::DOUBLE / {KMV_SETOPS_K}.0
                               * est_union END, 4) AS est_inter
        FROM eu),
ex AS (
  SELECT sum(CASE WHEN va.v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS exact_a,
         sum(CASE WHEN vb.v IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           AS exact_b,
         count(*)::BIGINT AS exact_union,
         sum(CASE WHEN va.v IS NOT NULL AND vb.v IS NOT NULL
                  THEN 1 ELSE 0 END)::BIGINT AS exact_inter
  FROM va FULL OUTER JOIN vb ON va.v = vb.v)
SELECT est_a, est_b, n_kept, n_both, est_union, est_inter,
       exact_a, exact_b, exact_union, exact_inter
FROM ea CROSS JOIN eb CROSS JOIN eu2 CROSS JOIN ex"""

# Isotonic oracle: the minimax characterization evaluated over
# prefix sums — pure SQL, no recursion; the PAV block mean is the
# (j=block start, k=block end) candidate, and monotone IEEE rounding
# makes the double-valued max-min pick exactly that division.
PIPELINE_ORACLES["q_conversion_isotonic"] = f"""
WITH u AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > {AB_CONV_VALUE}
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1),
g AS (
  SELECT e.event_type,
         least(floor(e.value / {ISO_BUCKET_WIDTH}), {ISO_BUCKET_CAP})::INT
           AS bucket,
         sum(u.conv)::BIGINT AS n_conv, count(*)::BIGINT AS n_events
  FROM events e JOIN u USING (user_id)
  GROUP BY 1, 2),
p AS (
  SELECT event_type, bucket, n_conv, n_events,
         sum(n_conv) OVER w AS sn, sum(n_events) OVER w AS sd
  FROM g
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
mn AS (
  SELECT i.event_type, i.bucket,
         j.sn - j.n_conv AS snj, j.sd - j.n_events AS sdj,
         min((k.sn - (j.sn - j.n_conv))::DOUBLE
             / (k.sd - (j.sd - j.n_events))) AS m
  FROM p i
  JOIN p j ON j.event_type = i.event_type AND j.bucket <= i.bucket
  JOIN p k ON k.event_type = i.event_type AND k.bucket >= i.bucket
  GROUP BY 1, 2, 3, 4),
f AS (SELECT event_type, bucket, max(m) AS y FROM mn GROUP BY 1, 2)
SELECT g.event_type, g.bucket, g.n_events, g.n_conv,
       floor((g.n_conv::DOUBLE / g.n_events) * 1000000.0 + 0.5)
         / 1000000.0 AS rate_q6,
       floor(f.y * 1000000.0 + 0.5) / 1000000.0 AS iso_q6
FROM g JOIN f USING (event_type, bucket)"""

PIPELINE_QUERIES.update(
    {
        "q_kmv_setops": q_kmv_setops,
        "q_conversion_isotonic": q_conversion_isotonic,
    }
)


# ---------------------------------------------------------------------------
# Round-5 late batch 5: activity streaks + cohort LTV curves.
# ---------------------------------------------------------------------------

STREAK_EPOCH = "2024-01-01"
LTV_BASE_YEAR = 1995


def q_user_streaks(spark, sf_dir):
    """Consecutive-day activity streaks per user — the
    gaps-and-islands classic (day − dense row number is constant
    within a run): longest streak, current number of runs, active-day
    count. One distinct-reduce on (user, day), one partitioned
    window, two aggregates; everything integer day arithmetic."""
    e = _events(spark, sf_dir)
    days = (
        e.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit(STREAK_EPOCH)).alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    runs = days.withColumn(
        "anchor", F.col("d") - F.row_number().over(w)
    ).groupBy("user_id", "anchor").agg(
        F.count("*").cast("long").alias("run_len")
    )
    return runs.groupBy("user_id").agg(
        F.sum("run_len").cast("long").alias("n_active_days"),
        F.count("*").cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("longest_streak"),
    )


def q_cohort_ltv(spark, sf_dir):
    """Cohort lifetime-value triangle: customers cohorted by first
    order month; per (cohort, months-since-first) the cohort's
    cumulative revenue per customer — the retention economics chart.
    Integer cents cumsum over an ordered window; the per-customer
    LTV is the exact-integer half-up '(2x + n) div 2n' division, so
    no float ever accumulates."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            (F.year("o_orderdate") - LTV_BASE_YEAR) * 12
            + (F.month("o_orderdate") - 1)
        ).alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    sized = first.groupBy("cohort").agg(
        F.count("*").cast("long").alias("n_customers")
    )
    aged = (
        o.join(first, "o_custkey")
        .groupBy("cohort", (F.col("m") - F.col("cohort")).alias("age"))
        .agg(F.sum("cents").alias("rev_cents"))
    )
    wc = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = aged.withColumn("cum_rev_cents", F.sum("rev_cents").over(wc))
    return (
        cum.join(F.broadcast(sized), "cohort")
        .select(
            F.col("cohort").cast("int").alias("cohort"),
            F.col("age").cast("int").alias("age"),
            "n_customers",
            F.col("rev_cents").cast("long").alias("rev_cents"),
            F.col("cum_rev_cents").cast("long").alias("cum_rev_cents"),
            F.expr(
                "(2 * cum_rev_cents + n_customers) div (2 * n_customers)"
            )
            .cast("long")
            .alias("ltv_cents"),
        )
    )


PIPELINE_ORACLES["q_user_streaks"] = f"""
WITH days AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '{STREAK_EPOCH}', ts::DATE)::INT AS d
  FROM events),
runs AS (
  SELECT user_id,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS anchor
  FROM days),
r AS (SELECT user_id, anchor, count(*)::BIGINT AS run_len
      FROM runs GROUP BY 1, 2)
SELECT user_id, sum(run_len)::BIGINT AS n_active_days,
       count(*)::BIGINT AS n_runs, max(run_len)::BIGINT AS longest_streak
FROM r GROUP BY user_id"""

PIPELINE_ORACLES["q_cohort_ltv"] = f"""
WITH o AS (
  SELECT o_custkey,
         (year(o_orderdate) - {LTV_BASE_YEAR}) * 12
           + (month(o_orderdate) - 1) AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders),
first AS (SELECT o_custkey, min(m) AS cohort FROM o GROUP BY 1),
sized AS (SELECT cohort, count(*)::BIGINT AS n_customers
          FROM first GROUP BY 1),
aged AS (
  SELECT f.cohort, o.m - f.cohort AS age, sum(o.cents)::BIGINT AS rev_cents
  FROM o JOIN first f USING (o_custkey)
  GROUP BY 1, 2),
cum AS (
  SELECT cohort, age, rev_cents,
         sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)::BIGINT AS cum_rev_cents
  FROM aged)
SELECT c.cohort::INT AS cohort, c.age::INT AS age, s.n_customers,
       c.rev_cents, c.cum_rev_cents,
       ((2 * c.cum_rev_cents + s.n_customers)
        // (2 * s.n_customers))::BIGINT AS ltv_cents
FROM cum c JOIN sized s USING (cohort)"""

PIPELINE_QUERIES.update(
    {
        "q_user_streaks": q_user_streaks,
        "q_cohort_ltv": q_cohort_ltv,
    }
)


# ---------------------------------------------------------------------------
# Round-5 late batch 6: robust trend statistics (Theil-Sen + Mann-Kendall).
# ---------------------------------------------------------------------------


def q_trend_robust(spark, sf_dir):
    """Robust per-nation revenue trend: Theil-Sen median slope and the
    Mann-Kendall monotone-trend test over monthly revenue — the
    outlier-proof twin of q_revenue_trend's OLS (one wild month moves
    OLS, not the pairwise median). Everything flows from integer pair
    statistics: MK S is a sum of signs, its tie-corrected variance is
    pure integer until one /18.0, the median slope is a per-nation
    rank selection over exact int/int divisions with (slope, xi, xj)
    total order, and the even-count middle pair rides commutative
    two-term addition. Pair space is C(months, 2) per nation (~3.2k
    rows) — an equi-join on nation with an x< residual, never
    corpus-scale."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "c_nationkey",
            (
                (F.year("o_orderdate") - TREND_BASE_YEAR) * 12
                + (F.month("o_orderdate") - 1)
            )
            .cast("long")
            .alias("x"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("y")
        )
    )
    a = monthly.select(
        F.col("c_nationkey").alias("nk"),
        F.col("x").alias("xi"),
        F.col("y").alias("yi"),
    )
    b = monthly.select(
        F.col("c_nationkey").alias("nk2"),
        F.col("x").alias("xj"),
        F.col("y").alias("yj"),
    )
    pairs = a.join(
        b, (F.col("nk") == F.col("nk2")) & (F.col("xi") < F.col("xj"))
    ).select(
        "nk",
        "xi",
        "xj",
        F.when(F.col("yj") > F.col("yi"), 1)
        .when(F.col("yj") < F.col("yi"), -1)
        .otherwise(0)
        .alias("sgn"),
        (
            (F.col("yj") - F.col("yi")).cast("double")
            / (F.col("xj") - F.col("xi"))
        ).alias("slope"),
    )
    w_rk = Window.partitionBy("nk").orderBy("slope", "xi", "xj")
    w_m = Window.partitionBy("nk")
    ranked = pairs.select(
        "nk",
        "sgn",
        "slope",
        F.row_number().over(w_rk).alias("rk"),
        F.count("*").over(w_m).alias("m"),
    )
    med = (
        ranked.where(
            (F.col("rk") == F.expr("(m + 1) div 2"))
            | (F.col("rk") == F.expr("(m + 2) div 2"))
        )
        .groupBy("nk")
        .agg(F.avg("slope").alias("slope_ts"))
    )
    s_stat = ranked.groupBy("nk").agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.count("*").cast("long").alias("n_pairs"),
    )
    sizes = monthly.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("nm")
    )
    ties = (
        monthly.groupBy("c_nationkey", "y")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("c_nationkey")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    staged = (
        s_stat.join(med, "nk")
        .join(sizes, s_stat["nk"] == sizes["c_nationkey"])
        .drop(sizes["c_nationkey"])
        .join(ties, s_stat["nk"] == ties["c_nationkey"])
        .drop(ties["c_nationkey"])
        .select(
            "nk",
            "nm",
            "n_pairs",
            "s_stat",
            "slope_ts",
            (
                (
                    F.col("nm")
                    * (F.col("nm") - 1)
                    * (2 * F.col("nm") + 5)
                    - F.col("tie_term")
                ).cast("double")
                / F.lit(18.0)
            ).alias("var_s"),
        )
    )
    z = (
        F.when(
            (F.col("var_s") > 0) & (F.col("s_stat") > 0),
            (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            (F.col("var_s") > 0) & (F.col("s_stat") < 0),
            (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    out = staged.select(
        "nk",
        F.col("nm").alias("n_months"),
        "n_pairs",
        "s_stat",
        _h6(F.col("slope_ts")).alias("ts_slope_q6"),
        _h6(z).alias("mk_z_q6"),
    )
    return out.join(
        F.broadcast(n), out["nk"] == n["n_nationkey"]
    ).select(
        F.col("n_name").alias("nation"),
        F.col("nk").cast("int").alias("nationkey"),
        "n_months",
        "n_pairs",
        "s_stat",
        "ts_slope_q6",
        "mk_z_q6",
    )


PIPELINE_ORACLES["q_trend_robust"] = f"""
WITH monthly AS (
  SELECT c_nationkey,
         ((year(o_orderdate) - {TREND_BASE_YEAR}) * 12
          + (month(o_orderdate) - 1))::BIGINT AS x,
         sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
pairs AS (
  SELECT a.c_nationkey AS nk, a.x AS xi, b.x AS xj,
         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END
           AS sgn,
         (b.y - a.y)::DOUBLE / (b.x - a.x) AS slope
  FROM monthly a JOIN monthly b
    ON a.c_nationkey = b.c_nationkey AND a.x < b.x),
ranked AS (
  SELECT nk, sgn, slope,
         row_number() OVER (PARTITION BY nk
                            ORDER BY slope, xi, xj) AS rk,
         count(*) OVER (PARTITION BY nk) AS m
  FROM pairs),
med AS (
  SELECT nk, avg(slope) AS slope_ts
  FROM ranked
  WHERE rk = (m + 1) // 2 OR rk = (m + 2) // 2
  GROUP BY nk),
s AS (SELECT nk, sum(sgn)::BIGINT AS s_stat, count(*)::BIGINT AS n_pairs
      FROM ranked GROUP BY nk),
sizes AS (SELECT c_nationkey, count(*)::BIGINT AS nm
          FROM monthly GROUP BY 1),
ties AS (
  SELECT c_nationkey,
         sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie_term
  FROM (SELECT c_nationkey, y, count(*)::BIGINT AS t
        FROM monthly GROUP BY 1, 2)
  GROUP BY 1),
staged AS (
  SELECT s.nk, sz.nm, s.n_pairs, s.s_stat, med.slope_ts,
         (sz.nm * (sz.nm - 1) * (2 * sz.nm + 5) - ties.tie_term)::DOUBLE
           / 18.0 AS var_s
  FROM s JOIN med USING (nk)
         JOIN sizes sz ON s.nk = sz.c_nationkey
         JOIN ties ON s.nk = ties.c_nationkey)
SELECT n_name AS nation, nk::INT AS nationkey, nm AS n_months,
       n_pairs, s_stat,
       floor(slope_ts * 1000000.0 + 0.5) / 1000000.0 AS ts_slope_q6,
       floor((CASE WHEN var_s > 0 AND s_stat > 0
                   THEN (s_stat - 1) / sqrt(var_s)
                   WHEN var_s > 0 AND s_stat < 0
                   THEN (s_stat + 1) / sqrt(var_s)
                   ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0
         AS mk_z_q6
FROM staged JOIN nation ON n_nationkey = nk"""

PIPELINE_QUERIES.update({"q_trend_robust": q_trend_robust})


# ---------------------------------------------------------------------------
# Round-5 late batch 7: sliding-window distinct users via HLL merge.
# ---------------------------------------------------------------------------

SLIDE_DAYS = 3


def q_uniques_sliding(spark, sf_dir):
    """Trailing 3-day distinct users per day WITHOUT re-scanning 3
    days of events per output row: daily HLL register tables merge
    across the window by max(rho) per bucket — the mergeable-sketch x
    window-frame composition that makes sliding distinct counts
    affordable at 100 TB (state per day is 64 registers, not a user
    set). The bucket grid densifies by scan-local explode (no join),
    the merge is one RANGE window per bucket, and the estimate reuses
    hll_estimate's exact-long harmonic sum. The exact twin explodes
    each (day, user) to the <= 3 windows it serves — an equi join,
    never a range scan."""
    ev = _events(spark, sf_dir)
    day = F.datediff(F.to_date("ts"), F.lit(STREAK_EPOCH)).alias("d")
    regs = SK.hll_registers(ev.select(day, "user_id"), ["d"], "user_id")
    day_dim = ev.select(day).distinct()
    grid = day_dim.select(
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bucket"),
    )
    cells = grid.join(regs, ["d", "bucket"], "left")
    wm = (
        Window.partitionBy("bucket")
        .orderBy("d")
        .rangeBetween(-(SLIDE_DAYS - 1), 0)
    )
    merged = cells.select(
        "d", "bucket", F.max("rho").over(wm).alias("rho")
    ).where(F.col("rho").isNotNull())
    est = SK.hll_estimate(merged, ["d"])
    du = ev.select(day, "user_id").distinct()
    tgt = du.select(
        F.explode(
            F.sequence(F.col("d"), F.col("d") + (SLIDE_DAYS - 1))
        ).alias("d0"),
        "user_id",
    )
    exact = (
        tgt.join(day_dim.withColumnRenamed("d", "d0"), "d0")
        .groupBy("d0")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
        .withColumnRenamed("d0", "d")
    )
    rel = (F.col("est_distinct") - F.col("exact_distinct")) / F.col(
        "exact_distinct"
    ).cast("double")
    return est.join(exact, "d").select(
        "d",
        "n_zero_registers",
        "est_distinct",
        "exact_distinct",
        (F.floor(rel * 1e4 + F.lit(0.5)) / 1e4).alias("rel_err"),
    )


# Sliding-HLL oracle: per-day registers from the shared hash
# fragment; the densified grid, RANGE-window merge and estimate tail
# (shared fragment again, over the merged relation) mirror Spark.
PIPELINE_ORACLES["q_uniques_sliding"] = f"""
WITH ev AS (SELECT datediff('day', DATE '{STREAK_EPOCH}', ts::DATE)::INT
              AS d, user_id
            FROM events),
{_hll_hash_sql("d", "ev")},
days AS (SELECT DISTINCT d FROM ev),
grid AS (SELECT d, unnest(range(0, 64))::INT AS bucket FROM days),
cells AS (SELECT g.d, g.bucket, regs.rho
          FROM grid g LEFT JOIN regs
            ON g.d = regs.d AND g.bucket = regs.bucket),
merged AS (
  SELECT d, bucket,
         max(rho) OVER (PARTITION BY bucket ORDER BY d
                        RANGE BETWEEN {SLIDE_DAYS - 1} PRECEDING
                        AND CURRENT ROW) AS rho
  FROM cells),
m2 AS (SELECT d, bucket, rho FROM merged WHERE rho IS NOT NULL),
{_hll_est_sql("d", "m2")},
du AS (SELECT DISTINCT d, user_id FROM ev),
tgt AS (SELECT unnest(generate_series(d, d + {SLIDE_DAYS - 1}))::INT
          AS d0, user_id
        FROM du),
x AS (SELECT t.d0 AS d, count(DISTINCT t.user_id)::BIGINT
        AS exact_distinct
      FROM tgt t JOIN days ON t.d0 = days.d GROUP BY 1)
SELECT est.d, v AS n_zero_registers,
       floor(raw * 10000.0 + 0.5) / 10000.0 AS est_distinct,
       exact_distinct,
       floor(((floor(raw * 10000.0 + 0.5) / 10000.0 - exact_distinct)
              / exact_distinct) * 10000.0 + 0.5) / 10000.0 AS rel_err
FROM est JOIN x USING (d)"""

PIPELINE_QUERIES.update({"q_uniques_sliding": q_uniques_sliding})


# ---------------------------------------------------------------------------
# Round-5 late batch 8: difference-in-differences experiment read-out.
# ---------------------------------------------------------------------------

DID_POST_YEAR = 1998


def q_did(spark, sf_dir):
    """Difference-in-differences on order revenue: treated nations
    (even keys) vs control, pre/post 1998 — the quasi-experimental
    read-out when there is no randomized arm. All four cell moments
    (n, Σcents, Σcents²) are exact integers (the square sums ride
    DECIMAL(38,0) — cents² sums pass 2^63 around sf0.1); cell means,
    the DiD estimate, per-cell sample variances and the Welch-style
    z are each ONE double division chain written identically in the
    oracle, half-up 6 dp. Single scan, one conditional aggregate —
    the ab_lift shape with a second factor."""
    dec = "decimal(38,0)"
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") >= DID_POST_YEAR).alias("post"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", (F.col("c_nationkey") % 2 == 0).alias("treated")
    )
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    aggs = []
    for t in (0, 1):
        for p in (0, 1):
            cond = (F.col("treated") == bool(t)) & (
                F.col("post") == bool(p)
            )
            name = f"{'t' if t else 'c'}_{'post' if p else 'pre'}"
            aggs += [
                F.sum(F.when(cond, 1).otherwise(0))
                .cast("long")
                .alias(f"n_{name}"),
                F.sum(F.when(cond, F.col("cents")).otherwise(0))
                .cast("long")
                .alias(f"s_{name}"),
                F.sum(
                    F.when(
                        cond,
                        F.col("cents").cast(dec) * F.col("cents").cast(dec),
                    ).otherwise(F.lit(0).cast(dec))
                ).alias(f"ss_{name}"),
            ]
    row = j.agg(*aggs)

    def mean(name):
        return F.col(f"s_{name}") / F.col(f"n_{name}")

    def var(name):
        num = F.col(f"n_{name}").cast(dec) * F.col(f"ss_{name}") - F.col(
            f"s_{name}"
        ).cast(dec) * F.col(f"s_{name}").cast(dec)
        return (
            num.cast("double")
            / F.col(f"n_{name}")
            / (F.col(f"n_{name}") - 1)
        )

    did = (mean("t_post") - mean("t_pre")) - (
        mean("c_post") - mean("c_pre")
    )
    se = F.sqrt(
        var("t_post") / F.col("n_t_post")
        + var("t_pre") / F.col("n_t_pre")
        + var("c_post") / F.col("n_c_post")
        + var("c_pre") / F.col("n_c_pre")
    )
    out = [F.col(f"n_{n}") for n in ("c_pre", "c_post", "t_pre", "t_post")]
    out += [
        _h6(mean(n)).alias(f"mean_{n}")
        for n in ("c_pre", "c_post", "t_pre", "t_post")
    ]
    out += [_h6(did).alias("did_q6"), _h6(did / se).alias("z_q6")]
    return row.select(*out)


PIPELINE_ORACLES["q_did"] = f"""
WITH j AS (
  SELECT (c_nationkey % 2 = 0) AS treated,
         (year(o_orderdate) >= {DID_POST_YEAR}) AS post,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey),
a AS (
  SELECT
    {", ".join(
        f"sum(CASE WHEN treated = {bool(t)} AND post = {bool(p)} THEN 1 ELSE 0 END)::BIGINT AS n_{n}, "
        f"sum(CASE WHEN treated = {bool(t)} AND post = {bool(p)} THEN cents ELSE 0 END)::BIGINT AS s_{n}, "
        f"sum(CASE WHEN treated = {bool(t)} AND post = {bool(p)} THEN cents::HUGEINT * cents::HUGEINT ELSE 0::HUGEINT END) AS ss_{n}"
        for t, p, n in [(0, 0, "c_pre"), (0, 1, "c_post"),
                        (1, 0, "t_pre"), (1, 1, "t_post")]
    )}
  FROM j)
SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
  {", ".join(
      f"floor((s_{n} / n_{n}) * 1000000.0 + 0.5) / 1000000.0 AS mean_{n}"
      for n in ("c_pre", "c_post", "t_pre", "t_post")
  )},
  floor((((s_t_post / n_t_post) - (s_t_pre / n_t_pre))
         - ((s_c_post / n_c_post) - (s_c_pre / n_c_pre)))
        * 1000000.0 + 0.5) / 1000000.0 AS did_q6,
  floor(((((s_t_post / n_t_post) - (s_t_pre / n_t_pre))
          - ((s_c_post / n_c_post) - (s_c_pre / n_c_pre)))
         / sqrt(
             ((n_t_post::HUGEINT * ss_t_post
               - s_t_post::HUGEINT * s_t_post::HUGEINT)::DOUBLE
              / n_t_post / (n_t_post - 1)) / n_t_post
           + ((n_t_pre::HUGEINT * ss_t_pre
               - s_t_pre::HUGEINT * s_t_pre::HUGEINT)::DOUBLE
              / n_t_pre / (n_t_pre - 1)) / n_t_pre
           + ((n_c_post::HUGEINT * ss_c_post
               - s_c_post::HUGEINT * s_c_post::HUGEINT)::DOUBLE
              / n_c_post / (n_c_post - 1)) / n_c_post
           + ((n_c_pre::HUGEINT * ss_c_pre
               - s_c_pre::HUGEINT * s_c_pre::HUGEINT)::DOUBLE
              / n_c_pre / (n_c_pre - 1)) / n_c_pre))
        * 1000000.0 + 0.5) / 1000000.0 AS z_q6
FROM a"""

PIPELINE_QUERIES.update({"q_did": q_did})


# ---------------------------------------------------------------------------
# Round-5 late batch 8b: two-group log-rank survival test.
# ---------------------------------------------------------------------------

LOGRANK_SEGMENT = "BUILDING"


def q_survival_logrank(spark, sf_dir):
    """Two-group log-rank test on customer churn (BUILDING segment vs
    the rest) — the hypothesis test that belongs next to
    q_survival_km's curves: at every event month, observed group-1
    events against the at-risk-proportional expectation,

        Z = Σ_t (d1 − d·n1/n) / sqrt(Σ_t d·n1·n0·(n−d) / (n²(n−1)))

    Per-month numerators are EXACT integers (d1·n − d·n1 and the
    variance product ride DECIMAL(38,0) past ~sf1); each per-month
    ratio is one double division, and both sums run over an ORDERED
    cumulative window so the summation order is pinned cross-engine
    (the KM/KS fixed-order argument). The month grid densifies via a
    1-row max anchor + sequence explode, so each group's at-risk
    count exists at every event time even when that group has no row
    there."""
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    span = o.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("first_o"),
        F.max("o_orderdate").alias("last_o"),
    )
    ref = o.agg(F.max("o_orderdate").alias("max_d"))
    life = (
        span.crossJoin(F.broadcast(ref))
        .join(cust, span["o_custkey"] == cust["c_custkey"])
        .select(
            (F.col("c_mktsegment") == LOGRANK_SEGMENT)
            .cast("int")
            .alias("grp"),
            F.expr(f"datediff(last_o, first_o) div {KM_MONTH_DAYS}")
            .cast("int")
            .alias("t"),
            (F.datediff(F.col("max_d"), F.col("last_o")) > KM_CHURN_DAYS)
            .cast("int")
            .alias("churned"),
        )
    )
    per = life.groupBy("grp", "t").agg(
        F.count("*").cast("long").alias("ended"),
        F.sum("churned").cast("long").alias("d"),
    )
    tmax = life.agg(F.max("t").alias("tmax"))
    grid = (
        spark.createDataFrame([(0,), (1,)], "grp int")
        .crossJoin(F.broadcast(tmax))
        .select(
            "grp",
            F.explode(F.sequence(F.lit(0), F.col("tmax"))).alias("t"),
        )
    )
    cells = grid.join(per, ["grp", "t"], "left").select(
        "grp",
        "t",
        F.coalesce("ended", F.lit(0)).alias("ended"),
        F.coalesce("d", F.lit(0)).alias("d"),
    )
    tot = Window.partitionBy("grp")
    cum_prev = (
        Window.partitionBy("grp")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risky = cells.select(
        "grp",
        "t",
        "d",
        (
            F.sum("ended").over(tot)
            - F.coalesce(F.sum("ended").over(cum_prev), F.lit(0))
        ).alias("n_risk"),
    )
    byt = risky.groupBy("t").agg(
        F.sum(F.when(F.col("grp") == 1, F.col("n_risk")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("n_risk")).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("grp") == 1, F.col("d")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum(F.when(F.col("grp") == 0, F.col("d")).otherwise(0))
        .cast("long")
        .alias("d0"),
    )
    dec = "decimal(38,0)"
    ev = byt.select(
        "t",
        (F.col("n1") + F.col("n0")).alias("n"),
        (F.col("d1") + F.col("d0")).alias("d"),
        "n1",
        "n0",
        "d1",
    ).where((F.col("d1") + F.col("d0") > 0) & (F.col("n1") + F.col("n0") >= 2))
    o_term = (
        F.col("d1").cast(dec) * F.col("n").cast(dec)
        - F.col("d").cast(dec) * F.col("n1").cast(dec)
    ).cast("double") / F.col("n")
    v_term = (
        F.col("d").cast(dec)
        * F.col("n1").cast(dec)
        * F.col("n0").cast(dec)
        * (F.col("n") - F.col("d")).cast(dec)
    ).cast("double") / F.col("n") / F.col("n") / (F.col("n") - 1)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    cum = ev.select(
        "t",
        F.sum(o_term).over(wcum).alias("cum_o"),
        F.sum(v_term).over(wcum).alias("cum_v"),
        F.count("*").over(wcum).alias("n_times"),
    )
    fin = cum.agg(
        F.max(F.struct("t", "n_times", "cum_o", "cum_v")).alias("f")
    )
    return fin.select(
        F.col("f.n_times").cast("long").alias("n_event_months"),
        _h6(F.col("f.cum_o")).alias("o_minus_e_q6"),
        _h6(F.col("f.cum_v")).alias("var_q6"),
        _h6(F.col("f.cum_o") / F.sqrt(F.col("f.cum_v"))).alias("z_q6"),
    )


PIPELINE_ORACLES["q_survival_logrank"] = f"""
WITH span AS (
  SELECT o_custkey, min(o_orderdate) AS first_o, max(o_orderdate) AS last_o
  FROM orders GROUP BY 1),
ref AS (SELECT max(o_orderdate) AS max_d FROM orders),
life AS (
  SELECT (CASE WHEN c_mktsegment = '{LOGRANK_SEGMENT}' THEN 1 ELSE 0 END)
           AS grp,
         (datediff('day', first_o, last_o) // {KM_MONTH_DAYS})::INT AS t,
         CASE WHEN datediff('day', last_o, max_d) > {KM_CHURN_DAYS}
              THEN 1 ELSE 0 END AS churned
  FROM span CROSS JOIN ref
  JOIN customer ON o_custkey = c_custkey),
per AS (SELECT grp, t, count(*)::BIGINT AS ended,
               sum(churned)::BIGINT AS d
        FROM life GROUP BY 1, 2),
tmax AS (SELECT max(t) AS tmax FROM life),
grid AS (SELECT grp, unnest(generate_series(0, tmax))::INT AS t
         FROM (VALUES (0), (1)) g(grp) CROSS JOIN tmax),
cells AS (
  SELECT grid.grp, grid.t,
         coalesce(per.ended, 0) AS ended, coalesce(per.d, 0) AS d
  FROM grid LEFT JOIN per ON grid.grp = per.grp AND grid.t = per.t),
risky AS (
  SELECT grp, t, d,
         sum(ended) OVER (PARTITION BY grp)
           - coalesce(sum(ended) OVER (PARTITION BY grp ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS n_risk
  FROM cells),
byt AS (
  SELECT t,
         sum(CASE WHEN grp = 1 THEN n_risk ELSE 0 END)::BIGINT AS n1,
         sum(CASE WHEN grp = 0 THEN n_risk ELSE 0 END)::BIGINT AS n0,
         sum(CASE WHEN grp = 1 THEN d ELSE 0 END)::BIGINT AS d1,
         sum(CASE WHEN grp = 0 THEN d ELSE 0 END)::BIGINT AS d0
  FROM risky GROUP BY 1),
ev AS (
  SELECT t, n1 + n0 AS n, d1 + d0 AS d, n1, n0, d1
  FROM byt WHERE d1 + d0 > 0 AND n1 + n0 >= 2),
terms AS (
  SELECT t,
         (d1::HUGEINT * n::HUGEINT - d::HUGEINT * n1::HUGEINT)::DOUBLE
           / n AS o_term,
         (d::HUGEINT * n1::HUGEINT * n0::HUGEINT
          * (n - d)::HUGEINT)::DOUBLE / n / n / (n - 1) AS v_term
  FROM ev),
cum AS (
  SELECT t,
         sum(o_term) OVER w AS cum_o, sum(v_term) OVER w AS cum_v,
         count(*) OVER w AS n_times
  FROM terms
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)),
fin AS (SELECT * FROM cum ORDER BY t DESC LIMIT 1)
SELECT n_times::BIGINT AS n_event_months,
       floor(cum_o * 1000000.0 + 0.5) / 1000000.0 AS o_minus_e_q6,
       floor(cum_v * 1000000.0 + 0.5) / 1000000.0 AS var_q6,
       floor((cum_o / sqrt(cum_v)) * 1000000.0 + 0.5) / 1000000.0 AS z_q6
FROM fin"""

PIPELINE_QUERIES.update({"q_survival_logrank": q_survival_logrank})


# ---------------------------------------------------------------------------
# Round-7 registrations: seeding, contrastive mining, rebalancing,
# ranking quality, scorecard binning (tail keys — ride the round-8
# driver window per the QUERIES.md rotation policy).
# ---------------------------------------------------------------------------

import math as _math

from mapreduce_kmeans_clustering_spark.operators import profile as PROF
from mapreduce_kmeans_clustering_spark.plans import kmeans_nd as KND

# farthest-first seeding: k seeds over the embedding corpus
KCENTER_K = 6
# hard negatives per anchor
HARDNEG_K = 3


def q_kcenter_seeds(spark, sf_dir):
    """Gonzalez farthest-first k-center seeding over the embedding
    corpus (plans/kmeans_nd.farthest_trace_nd): start from the
    lowest-id vector, repeatedly add the vector farthest (squared
    Euclidean) from its nearest chosen seed, ties to the lowest id.
    The RNG-free seeding the library offers when no seed file exists
    (the reference can only read seeds from a side file — SURVEY §2.1
    O2); k driver rounds of scan-local distance projection + one-row
    max(struct) aggregate, O(k·dim) driver state. The oracle replays
    the identical stage chain in SQL, so this is a full VALUE check of
    an iterative algorithm (the isotonic-PAV precedent). d2 snapped
    half-up to the 1e-6 grid; rank 0 has no previous set, so its d2 is
    0.0 by convention (NULL would be more honest but mixed None/float
    columns break the hash comparator's row sort)."""
    emb = _t(spark, sf_dir, "embeddings")
    trace = KND.farthest_trace_nd(emb, KCENTER_K)
    rows = [
        (
            r,
            i,
            0.0 if d is None else _math.floor(d * 1000000.0 + 0.5) / 1000000.0,
        )
        for r, i, d, _ in trace
    ]
    return spark.createDataFrame(
        rows, schema="rank INT, vec_id BIGINT, d2_q6 DOUBLE"
    )


def _kcenter_oracle(k: int) -> str:
    d2 = (
        "list_sum(list_transform(range(1, 65),"
        " i -> (a.v[i] - s.v[i]) * (a.v[i] - s.v[i])))"
    )
    ctes = [
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "s0 AS (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 1)",
        f"p1 AS (SELECT a.vec_id, a.v, {d2} AS dmin FROM v a, s0 s)",
    ]
    for i in range(1, k):
        ctes.append(
            f"s{i} AS (SELECT vec_id, v, dmin FROM p{i}"
            " ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        if i < k - 1:
            ctes.append(
                f"p{i + 1} AS (SELECT a.vec_id, a.v,"
                f" least(a.dmin, {d2}) AS dmin FROM p{i} a, s{i} s)"
            )
    sel = [
        "SELECT CAST(0 AS INT) AS rank, vec_id, 0.0::DOUBLE AS d2_q6 FROM s0"
    ]
    for i in range(1, k):
        sel.append(
            f"SELECT CAST({i} AS INT) AS rank, vec_id,"
            f" floor(dmin * 1000000.0 + 0.5) / 1000000.0 AS d2_q6 FROM s{i}"
        )
    return ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sel)


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: per anchor, the
    top-k highest-cosine vectors with a DIFFERENT label inside the
    anchor's hyperplane-LSH bucket (operators/similarity.hard_negatives
    — bucket equi-join + post-join label filter, never all-pairs). The
    confusable-but-wrong pairs a triplet/InfoNCE loss learns most
    from; recall < 1 by design, mirrored exactly by the oracle's
    identical bucketing."""
    t = SIM.hard_negatives(
        _t(spark, sf_dir, "embeddings"),
        ANN_QUERY_IDS,
        k=HARDNEG_K,
        planes=LSH_PLANES,
    )
    return t.select(
        "anchor_id",
        "negative_id",
        "anchor_label",
        "negative_label",
        "rank",
        F.round("cos", 6).alias("cos"),
    )


def q_class_balance(spark, sf_dir):
    """Deterministic oversampling plan to class parity over the
    embedding labels (operators/sampling.parity_copy_counts): each
    row's copy count for a balanced epoch — base = target div n_label for
    everyone, +1 for the first (target mod n_label) rows in
    (md5(id), id) hash order. No RNG: engines, retries, and
    partitionings agree on exactly which rows replicate."""
    return S.parity_copy_counts(
        _t(spark, sf_dir, "embeddings"),
        label_col="label",
        id_col="vec_id",
    )


def q_retrieval_metrics(spark, sf_dir):
    """MRR@k and nDCG@k of both ANN paths (multi-probe LSH, IVF-flat)
    against the exact cosine top-k as binary relevance — the ranking-
    quality companion to q_ann_recall (recall can't see WHERE in the
    list the hits landed; these weight early ranks). Per-rank terms
    are Python-precomputed 1e-6-grid integers embedded on both engines
    (operators/similarity.ranking_term_tables), so the whole
    comparison reduces to integer sums + one division per metric."""
    emb = _emb(spark, sf_dir)
    exact = _exact_topk(spark, sf_dir)
    lsh = SIM.lsh_topk(
        emb,
        ANN_QUERY_IDS,
        k=ANN_K,
        planes=LSH_PLANES,
        probe_hamming=LSH_PROBE_HAMMING,
        vec_dim=_ann_vec_dim(sf_dir),
    )
    ivf = SIM.ivf_topk(
        emb,
        ANN_QUERY_IDS,
        k=ANN_K,
        nlist=IVF_NLIST,
        nprobe=IVF_NPROBE,
        assigned=_ivf_assigned(spark, sf_dir),
    )
    return SIM.ranking_metrics(exact, lsh, "lsh", ANN_K).unionByName(
        SIM.ranking_metrics(exact, ivf, "ivf", ANN_K)
    )


def q_woe_binning(spark, sf_dir):
    """Weight-of-evidence / information-value scorecard profile of the
    discount percentage against the return flag
    (operators/profile.woe_iv): per discount bin, exact class counts
    plus woe = ln((bad/bad_tot)/(good/good_tot)) and its IV
    contribution — the classic does-this-feature-separate diagnostic.
    One hash aggregate + broadcast-anchor totals; ln applied once per
    bin to a ratio of exact integer products, snapped to the 1e-6
    grid."""
    li = _t(spark, sf_dir, "lineitem")
    out = PROF.woe_iv(
        li,
        F.floor(F.col("l_discount") * F.lit(100.0) + F.lit(0.5)).cast("int"),
        (F.col("l_returnflag") == "R").cast("int"),
    )
    return out.select(
        F.col("bin").alias("discount_pct"),
        "n_good",
        "n_bad",
        "woe_q6",
        "iv_q6",
    )


_RR_TERMS, _DCG_TERMS, _IDCG_Q6 = SIM.ranking_term_tables(ANN_K)
_RR_SQL = "[" + ", ".join(str(t) for t in _RR_TERMS) + "]"
_DCG_SQL = "[" + ", ".join(str(t) for t in _DCG_TERMS) + "]"


def _ranking_oracle_arm(src_sql: str, method: str) -> str:
    return f"""
SELECT '{method}' AS method, n_queries, mrr_sum_q6, dcg_sum_q6,
       CAST({_IDCG_Q6} AS BIGINT) AS idcg_q6,
       floor((mrr_sum_q6 / (n_queries * 1000000.0)) * 1000000.0 + 0.5)
         / 1000000.0 AS mrr,
       floor((dcg_sum_q6 / CAST(n_queries * {_IDCG_Q6} AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS ndcg
FROM (
  SELECT (SELECT count(DISTINCT query_id)
          FROM ({_SQL_ANN_TOPK}))::BIGINT AS n_queries,
         coalesce(sum(rr_q6), 0)::BIGINT AS mrr_sum_q6,
         coalesce(sum(dcg_q6), 0)::BIGINT AS dcg_sum_q6
  FROM (
    SELECT h.query_id,
           ({_RR_SQL})[min(h.rank)] AS rr_q6,
           sum(({_DCG_SQL})[h.rank]) AS dcg_q6
    FROM (
      SELECT e.query_id, a.rank
      FROM (SELECT query_id, neighbor_id FROM ({_SQL_ANN_TOPK})) e
      JOIN (SELECT query_id, neighbor_id, rank FROM ({src_sql})) a
        USING (query_id, neighbor_id)) h
    GROUP BY h.query_id))"""


PIPELINE_ORACLES["q_kcenter_seeds"] = _kcenter_oracle(KCENTER_K)

PIPELINE_ORACLES["q_hard_negatives"] = f"""
WITH ve AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
vbk AS (SELECT vec_id, label, v, {_PLANE_BUCKET4} AS bucket FROM ve),
q AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS va, bucket
      FROM vbk WHERE vec_id < 10),
s AS (SELECT anchor_id, anchor_label, c.vec_id AS negative_id,
             c.label AS negative_label, va, c.v AS vb
      FROM q JOIN vbk c USING (bucket)
      WHERE c.label <> anchor_label),
r AS (SELECT anchor_id, negative_id, anchor_label, negative_label,
             {_COS} AS cos,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY {_COS} DESC, negative_id) AS rank
      FROM s
      WHERE sqrt(list_inner_product(va, va))
              * sqrt(list_inner_product(vb, vb)) <> 0
        AND NOT isnan({_COS}))
SELECT anchor_id, negative_id, anchor_label, negative_label,
       CAST(rank AS INT) AS rank, round(cos, 6) AS cos
FROM r WHERE rank <= {HARDNEG_K}"""
# ^ the WHERE mirrors the engine's undefined-cosine MINING exclusion
# (similarity.hard_negatives filters cos IS NOT NULL, i.e.
# functions/distance.safe_cosine's den==0 / NaN-den / NaN-quotient
# cases — a NaN den forces a NaN quotient, so den<>0 + NOT isnan(cos)
# covers all three). Vacuous on the test fixtures (zero degenerate
# vectors), verified row-identical at all 3 SFs when added (ADVICE
# r9): the latent parity break only fired on corpora with zero/Inf
# vectors, where the oracle ranked undefined-cos rows first.

PIPELINE_ORACLES["q_class_balance"] = """
WITH e AS (SELECT vec_id, label FROM embeddings),
c AS (SELECT label, count(*)::BIGINT AS n FROM e GROUP BY 1),
t AS (SELECT max(n) AS target FROM c),
quota AS (SELECT label, n, target // n AS base, target % n AS extra
          FROM c, t),
r AS (SELECT vec_id, label,
             row_number() OVER (PARTITION BY label
                                ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn
      FROM e)
SELECT r.vec_id, r.label,
       CAST(base + CASE WHEN rn <= extra THEN 1 ELSE 0 END AS INT)
         AS n_copies
FROM r JOIN quota USING (label)"""

PIPELINE_ORACLES["q_retrieval_metrics"] = (
    _ranking_oracle_arm(_SQL_ANN_LSH, "lsh")
    + "\nUNION ALL\n"
    + _ranking_oracle_arm(_SQL_ANN_IVF, "ivf")
)

PIPELINE_ORACLES["q_woe_binning"] = """
WITH b AS (SELECT CAST(floor(l_discount * 100.0 + 0.5) AS INT) AS bin,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
           FROM lineitem),
per AS (SELECT bin, sum(1 - bad)::BIGINT AS n_good,
               sum(bad)::BIGINT AS n_bad
        FROM b GROUP BY 1),
tot AS (SELECT sum(n_good)::BIGINT AS gt, sum(n_bad)::BIGINT AS bt
        FROM per),
w AS (SELECT bin, n_good, n_bad,
             CASE WHEN n_good > 0 AND n_bad > 0 THEN
               floor(ln((n_bad * gt)::DOUBLE / (n_good * bt)::DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0
             END AS woe_q6,
             gt, bt
      FROM per, tot)
SELECT bin AS discount_pct, n_good, n_bad, woe_q6,
       floor(((n_bad::DOUBLE / bt) - (n_good::DOUBLE / gt)) * woe_q6
             * 1000000.0 + 0.5) / 1000000.0 AS iv_q6
FROM w"""

PIPELINE_QUERIES.update(
    {
        "q_kcenter_seeds": q_kcenter_seeds,
        "q_hard_negatives": q_hard_negatives,
        "q_class_balance": q_class_balance,
        "q_retrieval_metrics": q_retrieval_metrics,
        "q_woe_binning": q_woe_binning,
    }
)


def q_bpe_encode(spark, sf_dir):
    """Tokenizer APPLICATION over the corpus (text.bpe_encode): every
    document encoded with the BPE_TRAIN_MERGES merges learned by
    q_bpe_train's chain — per doc, the pretoken count, the post-merge
    token count, and md5 of the full bar-delimited encoding (compact
    but value-exact: one flipped merge anywhere changes the hash).
    The document side is k scan-local replaces riding the trainer's
    1-row broadcast anchors: no shuffle, no collect, no Python — the
    shape that tokenizes 100 TB at scan speed once the (tiny) merge
    table exists."""
    return TX.bpe_encode(
        _docs(spark, sf_dir), n_merges=BPE_TRAIN_MERGES
    )


def _bpe_encode_oracle(k: int) -> str:
    ctes = _bpe_chain_ctes(k)
    ctes.append(
        rf"""d0 AS (
  SELECT doc_id,
         len({_TOK})::INT AS n_pretokens,
         array_to_string(list_transform({_TOK},
             t -> regexp_replace(t, '(.)', '|\1|', 'g')), ' ') AS r
  FROM documents)"""
    )
    for i in range(1, k + 1):
        ctes.append(
            f"""d{i} AS (
  SELECT doc_id, n_pretokens,
         replace(r, '|' || a || '||' || b || '|',
                    '|' || a || b || '|') AS r
  FROM d{i - 1} CROSS JOIN b{i})"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT doc_id, n_pretokens,
       ((length(r) - length(replace(r, '|', ''))) // 2)::INT AS n_tokens,
       md5(r) AS enc_md5
FROM d{k}"""
    )


PIPELINE_ORACLES["q_bpe_encode"] = _bpe_encode_oracle(BPE_TRAIN_MERGES)
PIPELINE_QUERIES.update({"q_bpe_encode": q_bpe_encode})


CCF_MAX_LAG = 2
CCF_X_TYPE = "view"
CCF_Y_TYPE = "purchase"


def q_events_ccf(spark, sf_dir):
    """Lagged cross-correlation between the daily view and purchase
    series: Pearson r of (views_t, purchases_{t+L}) for L in
    [-CCF_MAX_LAG, +CCF_MAX_LAG] — the does-traffic-lead-revenue
    diagnostic. The calendar grid is densified from a 1-row min/max
    anchor (missing days count 0, so lags align on real days, not on
    whatever days happened to have rows); one ordered window builds
    all five lag columns in a single pass, stack() longs them to
    (lag, x, yl) rows, and one aggregate per lag produces exact
    integer moments (counts are BIGINTs). r is assembled as
    n·Σxy−ΣxΣy over sqrt(nΣx²−(Σx)²)·sqrt(nΣy²−(Σy)²) — two IEEE
    sqrts and one division on identical exact operands both engines —
    and snapped to the 1e-6 grid. Degenerate zero-variance lags yield
    NULL, not a fake 0. The daily series is calendar-bounded, so the
    single-partition ordered window is a non-issue at any corpus
    size."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.where(F.col("event_type").isin(CCF_X_TYPE, CCF_Y_TYPE))
        .groupBy(F.to_date(F.col("ts")).alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == CCF_X_TYPE, 1).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == CCF_Y_TYPE, 1).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    span = ev.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    grid = span.select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
        ).alias("day")
    )
    dense = grid.join(daily, "day", "left").select(
        "day",
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    w = Window.orderBy("day")
    lag_cols = []
    for L in range(-CCF_MAX_LAG, CCF_MAX_LAG + 1):
        c = (
            F.lag("y", -L).over(w)
            if L < 0
            else F.lead("y", L).over(w)
        )
        lag_cols.append(c.alias(f"yl_{L + CCF_MAX_LAG}"))
    stacked = dense.select("day", "x", *lag_cols).select(
        "x",
        F.expr(
            "stack("
            + str(2 * CCF_MAX_LAG + 1)
            + ", "
            + ", ".join(
                f"{L}, yl_{L + CCF_MAX_LAG}"
                for L in range(-CCF_MAX_LAG, CCF_MAX_LAG + 1)
            )
            + ") as (lag, yl)"
        ),
    ).where(F.col("yl").isNotNull())
    m = stacked.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("yl").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("yl")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("yl") * F.col("yl")).cast("long").alias("syy"),
    )
    num = (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    denx = (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    r = F.when(
        (denx > 0) & (deny > 0),
        F.floor(
            num / (F.sqrt(denx) * F.sqrt(deny)) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0),
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"), "n_days", r.alias("r_q6")
    ).orderBy("lag")


def _ccf_oracle(max_lag: int) -> str:
    arms = "\nUNION ALL ".join(
        f"SELECT {L}::INT AS lag, x, "
        + (f"lag(y, {-L})" if L < 0 else f"lead(y, {L})")
        + " OVER (ORDER BY day) AS yl FROM dense"
        for L in range(-max_lag, max_lag + 1)
    )
    return f"""
WITH ev AS (SELECT ts, event_type FROM events),
daily AS (
  SELECT ts::DATE AS day,
         sum(CASE WHEN event_type = '{CCF_X_TYPE}' THEN 1 ELSE 0 END)::BIGINT AS x,
         sum(CASE WHEN event_type = '{CCF_Y_TYPE}' THEN 1 ELSE 0 END)::BIGINT AS y
  FROM ev WHERE event_type IN ('{CCF_X_TYPE}', '{CCF_Y_TYPE}')
  GROUP BY 1),
span AS (SELECT min(ts)::DATE AS d0, max(ts)::DATE AS d1 FROM ev),
grid AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
         FROM span),
dense AS (
  SELECT grid.day, coalesce(x, 0)::BIGINT AS x, coalesce(y, 0)::BIGINT AS y
  FROM grid LEFT JOIN daily ON grid.day = daily.day),
stacked AS ({arms}),
m AS (
  SELECT lag, count(*)::BIGINT AS n_days,
         sum(x)::BIGINT AS sx, sum(yl)::BIGINT AS sy,
         sum(x * yl)::BIGINT AS sxy,
         sum(x * x)::BIGINT AS sxx, sum(yl * yl)::BIGINT AS syy
  FROM stacked WHERE yl IS NOT NULL GROUP BY 1)
SELECT lag, n_days,
       CASE WHEN (n_days * sxx - sx * sx) > 0
             AND (n_days * syy - sy * sy) > 0 THEN
         floor((n_days * sxy - sx * sy)::DOUBLE
               / (sqrt((n_days * sxx - sx * sx)::DOUBLE)
                  * sqrt((n_days * syy - sy * sy)::DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0
       END AS r_q6
FROM m ORDER BY lag"""


PIPELINE_ORACLES["q_events_ccf"] = _ccf_oracle(CCF_MAX_LAG)
PIPELINE_QUERIES.update({"q_events_ccf": q_events_ccf})


def q_quality_ensemble(spark, sf_dir):
    """Calibrated quality-ensemble keep score per document
    (operators/curation.quality_ensemble): the Gopher rule gate +
    lang-id/metadata agreement + the doc's decile under the corpus
    bigram LM, combined as the integer-arithmetic weighted vote
    36·gopher + 27·lang + 3·(9−decile) out of 90 (≙ 0.4/0.3/0.3),
    keep ⇔ the vote reaches half. The decile calibration is a 1-row
    percentile_approx anchor broadcast into a scan-local bucket
    lookup — no global sort (the length_buckets_approx discipline);
    the oracle replays every stage, cutpoints via quantile_disc
    (exact-sketch regime, the established equivalence)."""
    return CU.quality_ensemble(_docs(spark, sf_dir)).orderBy("doc_id")


def _quality_ensemble_oracle() -> str:
    deciles = ", ".join(
        f"quantile_disc(avg_nll, {i}/10.0)" for i in range(1, 10)
    )
    lang_scores = ", ".join(
        f"{_lang_score(lang)} AS s_{lang}" for lang in _LANGS
    )
    return f"""
WITH t AS (SELECT doc_id, lang, {_TOK} AS w FROM documents),
g AS (SELECT doc_id,
        (len(w) >= 20 AND len(w) <= 100000
         AND round(list_sum(list_transform(w, x -> length(x))) * 1.0
                   / greatest(len(w), 1), 6) BETWEEN 3.0 AND 10.0
         AND len(list_filter(w, x -> x IN ('the','and','of','a','to','in'))) >= 2
         AND round(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 1.0
                   / greatest(len(w), 1), 6) >= 0.8) AS gopher_keep
      FROM t),
ls AS (SELECT doc_id, lang, {lang_scores} FROM documents),
l AS (SELECT doc_id, ({_LANG_CASE}) = lang AS lang_ok FROM ls),
ug AS (SELECT doc_id, unnest(w) AS tk FROM t),
c1 AS (SELECT tk AS w1, count(*) AS c1 FROM ug GROUP BY 1),
v AS (SELECT count(DISTINCT tk) AS v FROM ug),
bgi AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM t),
bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2 FROM bgi),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
ppl AS (
  SELECT bg.doc_id,
         round(avg(-ln((c2.c2 + 1.0) / (c1.c1 + v.v))), 6) AS avg_nll
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
  GROUP BY bg.doc_id),
cuts AS (SELECT [{deciles}] AS cuts FROM ppl),
j AS (
  SELECT g.doc_id, gopher_keep, lang_ok,
         CASE WHEN p.avg_nll IS NULL THEN 9
              ELSE len(list_filter(cuts, c -> p.avg_nll > c)) END AS b
  FROM g JOIN l USING (doc_id)
  LEFT JOIN ppl p USING (doc_id) CROSS JOIN cuts),
n AS (SELECT doc_id, gopher_keep, lang_ok, b,
             (CASE WHEN gopher_keep THEN 36 ELSE 0 END
              + CASE WHEN lang_ok THEN 27 ELSE 0 END
              + 3 * (9 - b))::BIGINT AS num
      FROM j)
SELECT doc_id, gopher_keep, lang_ok, b::INT AS ppl_bucket,
       ((num * 1000000 + 45) // 90)::DOUBLE / 1000000.0 AS score,
       num * 2 >= 90 AS keep
FROM n ORDER BY doc_id"""


PIPELINE_ORACLES["q_quality_ensemble"] = _quality_ensemble_oracle()
PIPELINE_QUERIES.update({"q_quality_ensemble": q_quality_ensemble})


def q_contamination_sources(spark, sf_dir):
    """Benchmark-contamination report rolled up per data source
    (operators/curation.contamination_source_report): training-doc
    count, contaminated count, half-up 6-dp rate, total/max
    shared-3-gram hits, and the worst document (most hits, lowest id;
    −1 sentinel for clean sources). The actionable view over
    q_decontam's per-doc verdicts — same shingle equi-join, plus one
    doc_id join and one source-key aggregate. Worst-doc argmax is the
    integer packing n_hits·PACK − doc_id under plain max, so the tie
    rule is engine-independent."""
    return CU.contamination_source_report(
        _docs(spark, sf_dir), F.col("doc_id") % BENCH_MOD == 0
    ).orderBy("source")


def _contamination_sources_oracle() -> str:
    pack = CU.CONTAM_PACK
    return f"""
WITH {_SQL_SHINGLES},
e AS (SELECT doc_id, unnest(s) AS sh FROM shf),
bsh AS (SELECT DISTINCT sh FROM e WHERE doc_id % {BENCH_MOD} = 0),
hits AS (
  SELECT e.doc_id, count(*) AS n_hits
  FROM e JOIN bsh USING (sh)
  WHERE e.doc_id % {BENCH_MOD} <> 0
  GROUP BY e.doc_id),
rep AS (
  SELECT d.doc_id, d.source,
         coalesce(h.n_hits, 0)::BIGINT AS n_hits
  FROM documents d LEFT JOIN hits h USING (doc_id)
  WHERE d.doc_id % {BENCH_MOD} <> 0),
agg AS (
  SELECT source,
         count(*)::BIGINT AS n_train_docs,
         sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END)::BIGINT
           AS n_contaminated,
         sum(n_hits)::BIGINT AS total_hits,
         max(n_hits)::BIGINT AS max_hits,
         max(n_hits * {pack} - doc_id)::BIGINT AS pack
  FROM rep GROUP BY source)
SELECT source, n_train_docs, n_contaminated,
       ((n_contaminated * 2000000 + n_train_docs)
        // (2 * n_train_docs))::DOUBLE / 1000000.0 AS contamination_rate,
       total_hits, max_hits,
       CASE WHEN max_hits = 0 THEN -1
            ELSE ((pack + {pack - 1}) // {pack}) * {pack} - pack
       END::BIGINT AS worst_doc_id
FROM agg ORDER BY source"""


PIPELINE_ORACLES["q_contamination_sources"] = _contamination_sources_oracle()
PIPELINE_QUERIES.update({"q_contamination_sources": q_contamination_sources})


def q_quality_auc(spark, sf_dir):
    """Exact ROC-AUC of the hashed-feature linear quality classifier
    (q_text_lr_score's logit) against the Gopher rule gate as the
    reference label — the agreement read-out between the two
    INDEPENDENT quality systems, via the Mann-Whitney rank statistic
    in pure integer arithmetic (operators/profile.binary_auc: 2U over
    distinct 4-dp logit grid values, ties half; the only ordered
    window runs over the bounded score grid, the q_length_ks
    discipline)."""
    docs = _docs(spark, sf_dir)
    lr = CU.linear_score(
        docs, LR_WEIGHTS, bias=LR_BIAS, n_features=LR_DIM
    ).select("doc_id", "logit")
    g = TX.gopher_quality(docs).select(
        "doc_id", F.col("keep").alias("label")
    )
    return PROF.binary_auc(lr.join(g, "doc_id"), "logit", "label")


def _quality_auc_oracle() -> str:
    return f"""
WITH sc AS (SELECT doc_id, logit
            FROM ({PIPELINE_ORACLES["q_text_lr_score"]})),
lb AS (SELECT doc_id, gopher_keep
       FROM ({PIPELINE_ORACLES["q_quality_ensemble"]})),
j AS (SELECT floor(logit * 10000.0 + 0.5)::BIGINT AS q,
             CASE WHEN gopher_keep THEN 1 ELSE 0 END AS y
      FROM sc JOIN lb USING (doc_id)),
grp AS (SELECT q, sum(y)::BIGINT AS n1, sum(1 - y)::BIGINT AS n0
        FROM j GROUP BY q),
c AS (SELECT n1, n0,
             coalesce(sum(n0) OVER (ORDER BY q
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS cum0
      FROM grp),
tot AS (SELECT sum(n1)::BIGINT AS n_pos, sum(n0)::BIGINT AS n_neg,
               sum(n1::HUGEINT * (2 * cum0 + n0)) AS u2h
        FROM c)
-- TRY_CAST (ADVICE r9): the engine's u2 nulls beyond long range
-- (Spark non-ANSI decimal->long cast); a plain ::BIGINT would THROW
-- DuckDB OutOfRange there instead of mirroring the NULL
SELECT n_pos, n_neg, TRY_CAST(u2h AS BIGINT) AS u2,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         ((u2h * 2000000 + 2 * n_pos::HUGEINT * n_neg)
          // (4 * n_pos::HUGEINT * n_neg))::BIGINT::DOUBLE / 1000000.0
       END AS auc
FROM tot"""


PIPELINE_ORACLES["q_quality_auc"] = _quality_auc_oracle()
PIPELINE_QUERIES.update({"q_quality_auc": q_quality_auc})


def q_quality_calibration(spark, sf_dir):
    """Reliability diagram of the [0,1] ensemble keep score against
    the linear classifier's verdict as the comparison label
    (operators/profile.calibration_bins): ten fixed-width bins —
    scan-local, no data-dependent cutpoints — with each bin's count,
    6-dp mean score, and empirical agreement rate, every division the
    shared half-up integer recipe. Monotone pos_rate across bins is
    what 'the ensemble score ranks quality' looks like when the two
    systems agree."""
    docs = _docs(spark, sf_dir)
    es = CU.quality_ensemble(docs).select("doc_id", "score")
    lr = CU.linear_score(
        docs, LR_WEIGHTS, bias=LR_BIAS, n_features=LR_DIM
    ).select("doc_id", F.col("keep").alias("label"))
    return PROF.calibration_bins(es.join(lr, "doc_id"), "score", "label")


def _quality_calibration_oracle() -> str:
    return f"""
WITH es AS (SELECT doc_id, score
            FROM ({PIPELINE_ORACLES["q_quality_ensemble"]})),
lr AS (SELECT doc_id, keep FROM ({PIPELINE_ORACLES["q_text_lr_score"]})),
j AS (SELECT least(9, floor(score * 10.0))::INT AS bin,
             floor(score * 1000000.0 + 0.5)::BIGINT AS s_q6,
             (CASE WHEN lr.keep THEN 1 ELSE 0 END)::BIGINT AS y
      FROM es JOIN lr USING (doc_id)),
g AS (SELECT bin, count(*)::BIGINT AS n, sum(s_q6)::BIGINT AS sum_s_q6,
             sum(y)::BIGINT AS n_pos
      FROM j GROUP BY bin)
SELECT bin, n,
       ((sum_s_q6 * 2 + n) // (2 * n))::DOUBLE / 1000000.0 AS mean_score,
       ((n_pos * 2000000 + n) // (2 * n))::DOUBLE / 1000000.0 AS pos_rate
FROM g ORDER BY bin"""


PIPELINE_ORACLES["q_quality_calibration"] = _quality_calibration_oracle()
PIPELINE_QUERIES.update({"q_quality_calibration": q_quality_calibration})


def q_linkage_entities(spark, sf_dir):
    """Entity resolution on top of the record-linkage candidates: the
    ed<=1 name pairs (operators/joins.fuzzy_self_join_ed1 — deletion-
    neighborhood blocking, never a pairwise loop) that ALSO agree on
    both nation and market segment are treated as same-entity links
    and promoted to connected components via the dedup family's
    min-label propagation (operators/dedup.dup_groups). Per entity:
    canonical id (minimum member key), member count, max member key.
    The match rule is pure boolean agreement — no float score
    threshold, so no transcendental can flip a membership between
    engines; the brute levenshtein oracle doubles as the blocking
    completeness proof (the q_linkage_scores precedent), and the
    recursive-CTE closure replays the propagation exactly (the
    q_dedup_groups precedent). Only linked entities appear
    (singletons are the identity clusters)."""
    # split=True: deletion-neighborhood explode before the first join
    cust = _t(spark, sf_dir, "customer", split=True).select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    pairs = J.fuzzy_self_join_ed1(
        cust.select("c_custkey", "c_name"),
        name_col="c_name",
        id_col="c_custkey",
    )
    attrs_a = cust.select(
        F.col("c_custkey").alias("a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )
    attrs_b = cust.select(
        F.col("c_custkey").alias("b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
    )
    links = (
        pairs.join(attrs_a, "a")
        .join(attrs_b, "b")
        .where(
            (F.col("nat_a") == F.col("nat_b"))
            & (F.col("seg_a") == F.col("seg_b"))
        )
        .select("a", "b")
    )
    g = D.dup_groups(links)
    return (
        g.groupBy("group_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.max("node").cast("long").alias("max_member"),
        )
        .select(
            F.col("group_id").cast("long").alias("entity_id"),
            "n_members",
            "max_member",
        )
        .orderBy("entity_id")
    )


PIPELINE_ORACLES["q_linkage_entities"] = """
WITH RECURSIVE
cust AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment
         FROM customer),
cand AS (SELECT x.c_custkey AS a, y.c_custkey AS b
         FROM cust x JOIN cust y ON x.c_custkey < y.c_custkey
         WHERE levenshtein(x.c_name, y.c_name) <= 1
           AND x.c_nationkey = y.c_nationkey
           AND x.c_mktsegment = y.c_mktsegment),
edges AS (SELECT a AS u, b AS v FROM cand
          UNION SELECT b AS u, a AS v FROM cand),
reach(node, r) AS (
  SELECT u, v FROM edges
  UNION
  SELECT rr.node, e.v FROM reach rr JOIN edges e ON rr.r = e.u
),
lab AS (SELECT node, least(node, min(r)) AS group_id
        FROM reach GROUP BY node)
SELECT group_id::BIGINT AS entity_id, count(*)::BIGINT AS n_members,
       max(node)::BIGINT AS max_member
FROM lab GROUP BY group_id ORDER BY entity_id"""
PIPELINE_QUERIES.update({"q_linkage_entities": q_linkage_entities})


def q_dup_fraction(spark, sf_dir):
    """Cross-document duplication fraction per doc — the corpus-level
    Gopher/RefinedWeb leakage signal q_text_repetition's WITHIN-doc
    stats can't see: of a document's distinct word-3-grams, the
    fraction that also appear in at least one OTHER document. Shape:
    the dedup family's distinct shingle explode, one shingle-keyed
    doc-count aggregate (heavy-hitter shingles are AQE-skew territory,
    same as every shingle join here), one equi-join back, one per-doc
    aggregate; rate on the shared half-up 6-dp grid. Docs with < 3
    tokens have no shingles and are reported with n_shingles = 0,
    frac 0.0 (by the same totality convention as q_decontam)."""
    docs = _docs(spark, sf_dir)
    sh = D.exploded_shingles(docs)
    counts = sh.groupBy("sh").agg(F.count("*").cast("long").alias("n_docs"))
    per = (
        sh.join(counts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("n_docs") > 1).cast("long"))
            .cast("long")
            .alias("n_shared"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.when(F.coalesce("n_shingles", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.expr(
                    "(n_shared * 2000000 + n_shingles) div (2 * n_shingles)"
                )
                / F.lit(1e6)
            )
            .alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


PIPELINE_ORACLES["q_dup_fraction"] = f"""
WITH {_SQL_SHINGLES},
e AS (SELECT doc_id, unnest(s) AS sh FROM shf),
c AS (SELECT sh, count(*)::BIGINT AS n_docs FROM e GROUP BY sh),
per AS (
  SELECT e.doc_id, count(*)::BIGINT AS n_shingles,
         sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared
  FROM e JOIN c USING (sh) GROUP BY e.doc_id)
SELECT d.doc_id,
       coalesce(per.n_shingles, 0)::BIGINT AS n_shingles,
       coalesce(per.n_shared, 0)::BIGINT AS n_shared,
       CASE WHEN coalesce(per.n_shingles, 0) = 0 THEN 0.0
            ELSE ((n_shared * 2000000 + n_shingles)
                  // (2 * n_shingles))::DOUBLE / 1000000.0
       END AS dup_frac
FROM documents d LEFT JOIN per USING (doc_id)
ORDER BY d.doc_id"""
PIPELINE_QUERIES.update({"q_dup_fraction": q_dup_fraction})


KEEP_BEST_PACK = 10_000_000_000


def q_dedup_keep_best(spark, sf_dir):
    """Representative selection per near-dup cluster — the decision a
    dedup pipeline actually ships: within each transitive Jaccard
    group (the q_dedup_groups components), KEEP the longest document
    (most n_chars, ties to the lowest doc_id — the RefinedWeb-style
    keep-longest policy), drop the rest; singletons keep themselves.
    Per doc: its group id (own id when unpaired) and the keep verdict.
    The argmax is the integer packing n_chars·PACK − doc_id under
    plain max (the q_contamination_sources recipe), so the winner is
    engine-deterministic; the only new work over the memoized group
    relation is one group-keyed aggregate and two equi-joins."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    g = _dup_groups_df(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "group_id"
    )
    dg = docs.join(g, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("group_id", F.col("doc_id")).alias("group_id"),
    )
    win = dg.groupBy("group_id").agg(
        F.max(
            F.col("n_chars") * F.lit(KEEP_BEST_PACK) - F.col("doc_id")
        ).alias("pack")
    )
    # integer-exact decode (ADVICE r8): n_chars·1e10 clears 2^53 at
    # n_chars ≈ 9e5, a plausible document length
    kept = CU.unpack_min_id("pack", KEEP_BEST_PACK)
    return (
        dg.join(win, "group_id")
        .select(
            "doc_id",
            F.col("group_id").cast("long").alias("group_id"),
            (F.col("doc_id") == kept).alias("keep"),
        )
        .orderBy("doc_id")
    )


PIPELINE_ORACLES["q_dedup_keep_best"] = f"""
WITH RECURSIVE
pairs AS (SELECT a, b FROM ({_SQL_JACCARD})),
edges AS (SELECT a AS u, b AS v FROM pairs
          UNION SELECT b AS u, a AS v FROM pairs),
reach(node, r) AS (
  SELECT u, v FROM edges
  UNION
  SELECT rr.node, e.v FROM reach rr JOIN edges e ON rr.r = e.u
),
lab AS (SELECT node, least(node, min(r)) AS group_id
        FROM reach GROUP BY node),
dg AS (SELECT d.doc_id, d.n_chars,
              coalesce(lab.group_id, d.doc_id) AS group_id
       FROM documents d LEFT JOIN lab ON d.doc_id = lab.node),
win AS (SELECT group_id,
               max(n_chars * {KEEP_BEST_PACK} - doc_id) AS pack
        FROM dg GROUP BY group_id)
SELECT dg.doc_id, dg.group_id::BIGINT AS group_id,
       dg.doc_id = (((pack + {KEEP_BEST_PACK - 1}) // {KEEP_BEST_PACK})
                    * {KEEP_BEST_PACK} - pack) AS keep
FROM dg JOIN win USING (group_id) ORDER BY dg.doc_id"""
PIPELINE_QUERIES.update({"q_dedup_keep_best": q_dedup_keep_best})


# ---------------------------------------------------------------------------
# Round 9: incremental index-vs-delta near-dedup + per-source quality drift
# ---------------------------------------------------------------------------

INDEX_DELTA_MOD = 5  # docs with doc_id % 5 == 0 play the arriving shard


def q_dedup_index_delta(spark, sf_dir):
    """Index-vs-delta NEAR-dedup (operators/dedup.
    incremental_minhash_dedup): the arriving shard (doc_id % 5 == 0 —
    the same batch split as the exact-hash q_dedup_incremental) is
    checked against the already-ingested corpus through its banded
    MinHash table only. Per delta doc: near_dup/new, the best-matching
    index doc (highest verified Jaccard, ties to the lowest id) and
    its Jaccard. The daily shape of a continuously-fed 100 TB corpus:
    work scales with the DELTA (plus one equi-join into the stored
    band index), never with the corpus — and verification re-shingles
    only candidate participants (semi-join pruning). Argmax is the
    two-hash-aggregate pattern, never min(struct) (SCALE.md §8)."""
    d = _docs(spark, sf_dir)
    return D.incremental_minhash_dedup(
        d.where(F.col("doc_id") % INDEX_DELTA_MOD == 0),
        d.where(F.col("doc_id") % INDEX_DELTA_MOD != 0),
        verify_threshold=VERIFY_THRESHOLD,
    ).orderBy("doc_id")


PIPELINE_ORACLES["q_dedup_index_delta"] = f"""
WITH {_SQL_SHINGLES},
{_SQL_SIG},
{_SQL_BANDS},
bd AS (SELECT * FROM bands WHERE doc_id % {INDEX_DELTA_MOD} = 0),
bi AS (SELECT * FROM bands WHERE doc_id % {INDEX_DELTA_MOD} <> 0),
cands AS (
  SELECT DISTINCT d.doc_id AS a, i.doc_id AS b
  FROM bd d JOIN bi i ON d.band = i.band AND d.band_sig = i.band_sig),
sz AS (SELECT doc_id, len(s) AS n_sh FROM shf),
e AS (SELECT doc_id, unnest(s) AS shingle FROM shf),
vinter AS (
  SELECT c.a, c.b, count(*) AS c
  FROM cands c
  JOIN e ea ON ea.doc_id = c.a
  JOIN e eb ON eb.doc_id = c.b AND ea.shingle = eb.shingle
  GROUP BY c.a, c.b),
hits AS (
  SELECT v.a, v.b, v.c / (sa.n_sh + sb.n_sh - v.c) AS jaccard
  FROM vinter v
  JOIN sz sa ON sa.doc_id = v.a
  JOIN sz sb ON sb.doc_id = v.b
  WHERE v.c / (sa.n_sh + sb.n_sh - v.c) >= {VERIFY_THRESHOLD}),
best AS (
  SELECT a, jaccard, b,
         row_number() OVER (PARTITION BY a
                            ORDER BY jaccard DESC, b) AS rn
  FROM hits)
SELECT d.doc_id,
       CASE WHEN best.b IS NOT NULL THEN 'near_dup' ELSE 'new' END AS status,
       best.b AS dup_of,
       round(best.jaccard, 6) AS jaccard
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) best ON d.doc_id = best.a
WHERE d.doc_id % {INDEX_DELTA_MOD} = 0
ORDER BY d.doc_id"""
PIPELINE_QUERIES.update({"q_dedup_index_delta": q_dedup_index_delta})


QUALITY_DRIFT_SHARD = 100  # docs per ingest shard (doc_id is assignment order)


def q_source_quality_drift(spark, sf_dir):
    """Per-source quality drift across ingest shards — the monitoring
    read-out a 100 TB pipeline watches to catch a source going bad
    BETWEEN crawls: for every (source, shard) cell (shard = doc_id div
    100 — the documents table carries no timestamp, and doc_id is
    assignment order, so the id axis IS the ingestion axis), the doc
    count, the mean quality-ensemble score, the keep rate, and the
    shard-over-shard drift of the mean score (0.0 with has_prev=false
    on each source's first shard — null-free by design, see the
    comparator note below).

    Engine-exactness: per-doc ensemble scores are recovered onto the
    6-dp integer grid (floor(score·1e6 + .5) — exact: score IS k/1e6),
    summed as longs (order-independent, the PSI recipe), and divided
    half-up in integer arithmetic; drift is an integer difference.
    The only window runs over the (source, shard) grain — bounded
    cells, never rows (the q_length_ks discipline)."""
    docs = _docs(spark, sf_dir)
    ens = CU.quality_ensemble(docs).select("doc_id", "score", "keep")
    j = ens.join(docs.select("doc_id", "source"), "doc_id").select(
        "source",
        F.expr(f"doc_id div {QUALITY_DRIFT_SHARD}").alias("shard"),
        F.floor(F.col("score") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("q6"),
        F.col("keep").cast("int").alias("k"),
    )
    g = j.groupBy("source", "shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("q6").cast("long").alias("sq"),
        F.sum("k").cast("long").alias("nk"),
    )
    m = g.select(
        "source",
        "shard",
        "n_docs",
        F.expr("(sq * 2 + n_docs) div (2 * n_docs)").alias("_mq"),
        F.expr("(nk * 2000000 + n_docs) div (2 * n_docs)").alias("_kq"),
    )
    w = Window.partitionBy("source").orderBy("shard")
    prev = F.lag("_mq", 1).over(w)
    # drift is 0.0 (not NULL) on each source's first shard, with
    # has_prev marking which zeros are real transitions — a NULL here
    # would be the alphabetically-first output column, and a
    # leading-NULL sort cell is exactly the comparator edge the
    # None-safe mirror fix guards; the driver's own comparator is not
    # ours to patch, so the query avoids the shape outright
    return m.select(
        "source",
        F.col("shard").cast("long").alias("shard"),
        "n_docs",
        (F.col("_mq") / F.lit(1e6)).alias("mean_score"),
        (F.col("_kq") / F.lit(1e6)).alias("keep_rate"),
        (
            (F.col("_mq") - F.coalesce(prev, F.col("_mq"))) / F.lit(1e6)
        ).alias("drift"),
        prev.isNotNull().alias("has_prev"),
    ).orderBy("source", "shard")


PIPELINE_ORACLES["q_source_quality_drift"] = f"""
WITH ens AS (SELECT doc_id, score, keep
             FROM ({PIPELINE_ORACLES["q_quality_ensemble"]})),
j AS (SELECT d.source, d.doc_id // {QUALITY_DRIFT_SHARD} AS shard,
             CAST(floor(e.score * 1000000 + 0.5) AS BIGINT) AS q6,
             CASE WHEN e.keep THEN 1 ELSE 0 END AS k
      FROM ens e JOIN documents d USING (doc_id)),
g AS (SELECT source, shard, count(*)::BIGINT AS n_docs,
             sum(q6)::BIGINT AS sq, sum(k)::BIGINT AS nk
      FROM j GROUP BY source, shard),
m AS (SELECT source, shard, n_docs,
             ((sq * 2 + n_docs) // (2 * n_docs))::BIGINT AS mq,
             ((nk * 2000000 + n_docs) // (2 * n_docs))::BIGINT AS kq
      FROM g)
SELECT source, shard::BIGINT AS shard, n_docs,
       mq::DOUBLE / 1000000.0 AS mean_score,
       kq::DOUBLE / 1000000.0 AS keep_rate,
       (mq - coalesce(lag(mq) OVER w, mq))::DOUBLE / 1000000.0 AS drift,
       lag(mq) OVER w IS NOT NULL AS has_prev
FROM m WINDOW w AS (PARTITION BY source ORDER BY shard)
ORDER BY source, shard"""
PIPELINE_QUERIES.update({"q_source_quality_drift": q_source_quality_drift})


def q_leakage_safe_split(spark, sf_dir):
    """Group-aware train/val/test split — the eval-leakage guard a
    real pipeline runs INSTEAD of the naive per-doc hash split: docs
    in the same transitive near-dup group must land in the same split
    (else a train doc's near-copy sits in test and the eval is
    contaminated). Split is the standard md5 bucket of the GROUP
    REPRESENTATIVE (min id — singletons hash their own id, so this
    extends q_corpus_split rather than replacing it: a doc with no
    dups keeps exactly its naive split, and membership stays stable
    under corpus growth). Output per doc: group_id, the group-aware
    split, the naive per-doc split, and moved = the two differ —
    true exactly for the leak candidates the guard repairs (1/1/6
    docs at the three SFs, non-vacuous everywhere). Only new work
    over the memoized group relation is one scan-local md5 bucket
    projection."""
    from mapreduce_kmeans_clustering_spark.operators.sampling import (
        hash_bucket,
    )

    docs = _docs(spark, sf_dir).select("doc_id")
    g = _dup_groups_df(spark, sf_dir).select(
        F.col("node").alias("doc_id"), "group_id"
    )
    dg = docs.join(g, "doc_id", "left").select(
        "doc_id",
        F.coalesce("group_id", F.col("doc_id")).alias("group_id"),
    )

    def split_of(bucket):
        return (
            F.when(bucket < CU.SPLITS[0][1], F.lit(CU.SPLITS[0][0]))
            .when(bucket < CU.SPLITS[1][1], F.lit(CU.SPLITS[1][0]))
            .otherwise(F.lit("test"))
        )

    return dg.select(
        "doc_id",
        F.col("group_id").cast("long").alias("group_id"),
        split_of(hash_bucket("group_id")).alias("split"),
        split_of(hash_bucket("doc_id")).alias("naive_split"),
        (
            split_of(hash_bucket("group_id"))
            != split_of(hash_bucket("doc_id"))
        ).alias("moved"),
    ).orderBy("doc_id")


_SQL_SPLIT_CASE = (
    "CASE WHEN {b} < 980 THEN 'train' "
    "WHEN {b} < 990 THEN 'val' ELSE 'test' END"
)

PIPELINE_ORACLES["q_leakage_safe_split"] = f"""
WITH RECURSIVE
pairs AS (SELECT a, b FROM ({_SQL_JACCARD})),
edges AS (SELECT a AS u, b AS v FROM pairs
          UNION SELECT b AS u, a AS v FROM pairs),
reach(node, r) AS (
  SELECT u, v FROM edges
  UNION
  SELECT rr.node, e.v FROM reach rr JOIN edges e ON rr.r = e.u
),
lab AS (SELECT node, least(node, min(r)) AS group_id
        FROM reach GROUP BY node),
dg AS (SELECT d.doc_id, coalesce(lab.group_id, d.doc_id) AS group_id
       FROM documents d LEFT JOIN lab ON d.doc_id = lab.node),
s AS (SELECT doc_id, group_id,
        ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
          AS nb,
        ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 8))::BIGINT % 1000
          AS gb
      FROM dg)
SELECT doc_id, group_id::BIGINT AS group_id,
       {_SQL_SPLIT_CASE.format(b="gb")} AS split,
       {_SQL_SPLIT_CASE.format(b="nb")} AS naive_split,
       {_SQL_SPLIT_CASE.format(b="gb")} <> {_SQL_SPLIT_CASE.format(b="nb")}
         AS moved
FROM s ORDER BY doc_id"""
PIPELINE_QUERIES.update({"q_leakage_safe_split": q_leakage_safe_split})


# ---------------------------------------------------------------------------
# Round 11: URL/domain-level curation + multi-benchmark contamination
# (VERDICT r9/r10 item 5). The documents fixture has no URL column, so
# the registered queries PLANT one deterministically from (doc_id,
# source) — the q_dedup_embed planted-input pattern — covering the
# parse shapes that matter: multi-part public suffix (co.uk), port,
# userinfo, www., deep subdomains, scheme-less, query + fragment.
# Operators take a real URL column (operators/web.py).
# ---------------------------------------------------------------------------

URL_CAP = 3  # per-domain document budget for q_domain_quality_caps


def _url_col():
    """The planted URL column (Spark side; _SQL_URL is the DuckDB
    twin — keep the two in lockstep)."""
    d = F.col("doc_id")
    s = F.col("source")

    def n(x):
        return x.cast("string")

    return (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("https://sub"), n(d % 3), F.lit("."), s,
                F.lit(".co.uk:8443/p/"), n(d % 50), F.lit("?sid="), n(d),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(F.lit("http://www."), s, F.lit(".com/p/"), n(d % 50)),
        )
        .when(
            d % 4 == 2,
            F.concat(s, n(d % 5), F.lit(".example.com/x/"), n(d % 20)),
        )
        .otherwise(
            F.concat(
                F.lit("https://u:p@deep.a."), s, F.lit(".org/p/"),
                n(d % 50), F.lit("#f"),
            )
        )
    )


_SQL_URL = """CASE
  WHEN doc_id % 4 = 0 THEN 'https://sub' || (doc_id % 3) || '.' || source
       || '.co.uk:8443/p/' || (doc_id % 50) || '?sid=' || doc_id
  WHEN doc_id % 4 = 1 THEN 'http://www.' || source || '.com/p/'
       || (doc_id % 50)
  WHEN doc_id % 4 = 2 THEN source || (doc_id % 5) || '.example.com/x/'
       || (doc_id % 20)
  ELSE 'https://u:p@deep.a.' || source || '.org/p/' || (doc_id % 50)
       || '#f' END"""

_SQL_HOST_RE = "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/:?#]+)"
_SQL_HOST = f"lower(regexp_extract(url, '{_SQL_HOST_RE}', 1))"
_SQL_SUFFIX_IN = ", ".join(f"'{sfx}'" for sfx in W.MULTI_SUFFIXES)
_SQL_DOMAIN = f"""CASE
  WHEN array_to_string(string_split(host, '.')[-2:], '.')
       IN ({_SQL_SUFFIX_IN})
  THEN CASE WHEN len(string_split(host, '.')) >= 3
            THEN array_to_string(string_split(host, '.')[-3:], '.')
            ELSE host END
  WHEN len(string_split(host, '.')) >= 2
  THEN array_to_string(string_split(host, '.')[-2:], '.')
  ELSE host END"""
_SQL_NORM_URL = (
    f"regexp_replace({_SQL_HOST}, '^www\\.', '') || "
    f"regexp_replace(regexp_extract(url, "
    f"'{_SQL_HOST_RE}(?::[0-9]+)?([^?#]*)', 2), '/+$', '')"
)


def q_url_host_parse(spark, sf_dir):
    """URL anatomy over the planted column: host + registrable domain
    (operators/web.host_expr / registrable_domain_expr) — scan-local
    string projections, zero shuffles; the suffix list is a plan
    literal. Exercises co.uk + port, www + com, scheme-less, and
    userinfo + deep-subdomain shapes at every SF."""
    d = _docs(spark, sf_dir).select("doc_id", _url_col().alias("url"))
    return d.select(
        "doc_id",
        "url",
        W.host_expr(F.col("url")).alias("host"),
        W.registrable_domain_expr(F.col("url")).alias("domain"),
    )


def q_url_dedup(spark, sf_dir):
    """URL-exact dedup verdicts (operators/web.url_dedup): lowest
    doc_id per NORMALIZED url (scheme/port/query/fragment/www
    stripped, trailing slash dropped) survives; re-crawls point at it.
    Combiner-friendly groupBy-min + one equi-join back — never a
    window over the raw rows."""
    d = _docs(spark, sf_dir).select("doc_id", _url_col().alias("url"))
    return W.url_dedup(d).orderBy("doc_id")


def q_domain_quality_caps(spark, sf_dir):
    """Per-domain document budget (operators/web.domain_quality_caps):
    keep the top-URL_CAP docs per registrable domain by (n_chars desc,
    doc_id) — the RefinedWeb-style cap that stops one mega-domain from
    dominating a corpus. One rank window partitioned by domain."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", _url_col().alias("url")
    )
    return W.domain_quality_caps(d, cap=URL_CAP).orderBy("doc_id")


def q_domain_stats(spark, sf_dir):
    """Per-registrable-domain curation dashboard row
    (operators/web.domain_stats): doc count, distinct hosts, mean
    n_chars (half-up 4-dp so both engines agree). One hash aggregate."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", _url_col().alias("url")
    )
    dom = W.registrable_domain_expr(F.col("url"))
    return (
        d.select(
            dom.alias("domain"),
            W.host_expr(F.col("url")).alias("_host"),
            "n_chars",
        )
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("_host").cast("long").alias("n_hosts"),
            F.sum("n_chars").cast("long").alias("_sum"),
        )
        .select(
            "domain",
            "n_docs",
            "n_hosts",
            (
                F.floor(
                    F.col("_sum").cast("double")
                    / F.col("n_docs")
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("avg_chars"),
        )
    )


PIPELINE_ORACLES.update(
    {
        "q_url_host_parse": f"""
WITH d AS (SELECT doc_id, {_SQL_URL} AS url FROM documents),
h AS (SELECT doc_id, url, {_SQL_HOST} AS host FROM d)
SELECT doc_id, url, host, {_SQL_DOMAIN} AS domain FROM h""",
        "q_url_dedup": f"""
WITH d AS (SELECT doc_id, {_SQL_URL} AS url FROM documents),
n AS (SELECT doc_id, {_SQL_NORM_URL} AS norm_url FROM d),
w AS (SELECT norm_url, min(doc_id) AS keep_id FROM n GROUP BY 1)
SELECT doc_id, norm_url,
       CASE WHEN doc_id = keep_id THEN 'keep' ELSE 'dup' END AS status,
       CASE WHEN doc_id <> keep_id THEN keep_id END AS dup_of
FROM n JOIN w USING (norm_url) ORDER BY doc_id""",
        "q_domain_quality_caps": f"""
WITH d AS (SELECT doc_id, n_chars, {_SQL_URL} AS url FROM documents),
h AS (SELECT doc_id, n_chars, {_SQL_HOST} AS host FROM d),
g AS (SELECT doc_id, n_chars, {_SQL_DOMAIN} AS domain FROM h),
r AS (SELECT doc_id, domain,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id)::INT
               AS domain_rank
      FROM g)
SELECT doc_id, domain, domain_rank FROM r
WHERE domain_rank <= {URL_CAP} ORDER BY doc_id""",
        "q_domain_stats": f"""
WITH d AS (SELECT doc_id, n_chars, {_SQL_URL} AS url FROM documents),
h AS (SELECT doc_id, n_chars, {_SQL_HOST} AS host FROM d),
g AS (SELECT doc_id, n_chars, host, {_SQL_DOMAIN} AS domain FROM h)
SELECT domain, count(*)::BIGINT AS n_docs,
       count(DISTINCT host)::BIGINT AS n_hosts,
       floor(sum(n_chars)::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0
         AS avg_chars
FROM g GROUP BY domain""",
    }
)
PIPELINE_QUERIES.update(
    {
        "q_url_host_parse": q_url_host_parse,
        "q_url_dedup": q_url_dedup,
        "q_domain_quality_caps": q_domain_quality_caps,
        "q_domain_stats": q_domain_stats,
    }
)


MULTI_BENCH_MOD_A = 41  # verbatim benchmark subset (cos 1.0 hits)
MULTI_BENCH_MOD_B = 43  # shifted benchmark (the q_dedup_embed plant)
MULTI_BENCH_THRESHOLD = 0.9


def q_multi_bench_decontam(spark, sf_dir):
    """ONE-PASS multi-benchmark contamination sweep
    (operators/curation.multi_semantic_decontam): the train corpus is
    probed ONCE against the UNION of N named benchmark tables over
    auto_planes hyperplane buckets; per contaminated (train vector,
    benchmark): best match + hit count. Benchmarks are planted
    deterministically — bench_a is a verbatim corpus subset
    (vec_id % MULTI_BENCH_MOD_A == 0 → cos = 1.0 contamination),
    bench_b shifts element 1 by +0.25 (exact double arithmetic both
    engines → near-verbatim paraphrase contamination, same recipe as
    q_dedup_embed). planes=None → auto_planes(train count): the
    corpus-aware blocking, mirrored in SQL via the count(*)-derived
    gated 24-plane bucket."""
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    bench_a = e.where(F.col("vec_id") % MULTI_BENCH_MOD_A == 0)
    bench_b = e.where(F.col("vec_id") % MULTI_BENCH_MOD_B == 0).select(
        "vec_id",
        F.concat(
            F.array(
                F.element_at("embedding", 1) + F.lit(EMBED_PLANT_SHIFT)
            ),
            F.slice("embedding", 2, EMBED_PLANT_DIM - 1),
        ).alias("embedding"),
    )
    out = CU.multi_semantic_decontam(
        e,
        {"bench_a": bench_a, "bench_b": bench_b},
        threshold=MULTI_BENCH_THRESHOLD,
        planes=None,
    )
    return out.select(
        "train_id",
        "benchmark",
        "bench_id",
        F.round("cos", 6).alias("cos"),
        "n_matches",
    )


PIPELINE_ORACLES["q_multi_bench_decontam"] = f"""
WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pl AS (SELECT {_AUTO_PLANES_SQL} AS npl FROM ve),
tb AS (SELECT vec_id AS train_id, v, {_PLANE_BUCKET_AUTO} AS bucket
       FROM ve CROSS JOIN pl),
ba AS (SELECT vec_id, v FROM ve WHERE vec_id % {MULTI_BENCH_MOD_A} = 0),
bb AS (SELECT vec_id,
              list_concat([v[1] + {EMBED_PLANT_SHIFT}],
                          v[2:{EMBED_PLANT_DIM}]) AS v
       FROM ve WHERE vec_id % {MULTI_BENCH_MOD_B} = 0),
bu AS (SELECT 'bench_a' AS benchmark, vec_id, v FROM ba
       UNION ALL SELECT 'bench_b', vec_id, v FROM bb),
bk AS (SELECT benchmark, vec_id AS bench_id, v,
              {_PLANE_BUCKET_AUTO} AS bucket
       FROM bu CROSS JOIN pl),
p AS (SELECT t.train_id, b.benchmark, b.bench_id,
             t.v AS va, b.v AS vb
      FROM tb t JOIN bk b USING (bucket)),
c AS (SELECT train_id, benchmark, bench_id, {_COS} AS cos FROM p
      WHERE sqrt(list_inner_product(va, va))
              * sqrt(list_inner_product(vb, vb)) <> 0
        AND NOT isnan({_COS})),
hits AS (SELECT * FROM c WHERE cos >= {MULTI_BENCH_THRESHOLD}),
a1 AS (SELECT train_id, benchmark, max(cos) AS cos,
              count(*)::BIGINT AS n_matches
       FROM hits GROUP BY 1, 2)
SELECT h.train_id, h.benchmark, min(h.bench_id) AS bench_id,
       round(a1.cos, 6) AS cos, a1.n_matches
FROM hits h JOIN a1 ON h.train_id = a1.train_id
  AND h.benchmark = a1.benchmark AND h.cos = a1.cos
GROUP BY h.train_id, h.benchmark, a1.cos, a1.n_matches"""
PIPELINE_QUERIES.update({"q_multi_bench_decontam": q_multi_bench_decontam})


def q_web_curation(spark, sf_dir):
    """End-to-end URL-level curation verdicts
    (operators/web.web_curation): url_dup → over_domain_cap → keep in
    fixed precedence over the planted URL column — the capstone that
    composes q_url_dedup's winner selection with q_domain_quality_caps'
    budget, ranking only URL-survivors (each stage shrinks the next
    stage's input, the at-scale execution order)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", _url_col().alias("url")
    )
    return W.web_curation(d, cap=URL_CAP).orderBy("doc_id")


PIPELINE_ORACLES["q_web_curation"] = f"""
WITH d AS (SELECT doc_id, n_chars, {_SQL_URL} AS url FROM documents),
n AS (SELECT doc_id, n_chars, url, {_SQL_NORM_URL} AS norm_url FROM d),
w AS (SELECT norm_url, min(doc_id) AS keep_id FROM n GROUP BY 1),
v AS (SELECT n.doc_id, n.n_chars, n.url, w.keep_id FROM n
      JOIN w USING (norm_url)),
h AS (SELECT doc_id, n_chars, keep_id, {_SQL_HOST} AS host FROM v),
g AS (SELECT doc_id, n_chars, keep_id, {_SQL_DOMAIN} AS domain FROM h),
surv AS (SELECT doc_id, domain,
                row_number() OVER (PARTITION BY domain
                                   ORDER BY n_chars DESC, doc_id)::INT
                  AS domain_rank
         FROM g WHERE doc_id = keep_id),
out AS (
  SELECT doc_id, domain,
         CASE WHEN domain_rank <= {URL_CAP} THEN 'keep'
              ELSE 'over_domain_cap' END AS status,
         CAST(NULL AS BIGINT) AS dup_of, domain_rank
  FROM surv
  UNION ALL
  SELECT doc_id, domain, 'url_dup' AS status, keep_id AS dup_of,
         CAST(NULL AS INT) AS domain_rank
  FROM g WHERE doc_id <> keep_id)
SELECT * FROM out ORDER BY doc_id"""
PIPELINE_QUERIES.update({"q_web_curation": q_web_curation})


# ---------------------------------------------------------------------------
# Round 11 continuation: span-level contamination audit
# ---------------------------------------------------------------------------


def q_decontam_spans(spark, sf_dir):
    """Span-level decontamination audit (curation.contamination_spans):
    for every training doc sharing any word-3-gram with the held-out
    benchmark partition, the matched positions merged into MAXIMAL
    token spans — (n_spans, max_span_tokens, covered_tokens, n_tokens,
    coverage). q_decontam says WHETHER a doc is contaminated; this
    says WHERE and HOW MUCH (the audit a removal/redaction pass needs).
    One positioned shingle explosion + one equi-join + two window
    passes sharing the doc-id partitioning — never pairwise."""
    docs = _docs(spark, sf_dir)
    return CU.contamination_spans(docs, F.col("doc_id") % BENCH_MOD == 0)


# Shared span-CTE chain (toks -> maximal matched spans `sp`): used by
# BOTH q_decontam_spans (audit) and q_decontam_scrub (removal) so the
# two oracles replay identical span semantics — the SQL twin of the
# engine's _matched_spans helper.
_SQL_SPAN_CTES = f"""toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
bsh AS (
  SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks
        WHERE doc_id % {BENCH_MOD} = 0)),
tp AS (
  SELECT doc_id, i - 1 AS pos,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks
        WHERE doc_id % {BENCH_MOD} <> 0)),
m AS (SELECT doc_id, pos FROM tp JOIN bsh USING (sh)),
g AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) > 3
                  THEN 1 ELSE 0 END AS brk
      FROM m),
s AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      FROM g),
sp AS (SELECT doc_id, span_id, min(pos) AS st, max(pos) + 2 AS en
       FROM s GROUP BY 1, 2)"""

PIPELINE_ORACLES["q_decontam_spans"] = f"""
WITH {_SQL_SPAN_CTES},
agg AS (SELECT doc_id,
               count(*)::BIGINT AS n_spans,
               max(en - st + 1)::BIGINT AS max_span_tokens,
               sum(en - st + 1)::BIGINT AS covered_tokens
        FROM sp GROUP BY 1),
nt AS (SELECT doc_id, len(w)::BIGINT AS n_tokens FROM toks
       WHERE doc_id % {BENCH_MOD} <> 0)
SELECT agg.doc_id, n_spans, max_span_tokens, covered_tokens, n_tokens,
       floor(covered_tokens::DOUBLE / n_tokens * 1000000.0 + 0.5)
         / 1000000.0 AS coverage
FROM agg JOIN nt USING (doc_id)"""
PIPELINE_QUERIES.update({"q_decontam_spans": q_decontam_spans})


def q_dedup_source_flow(spark, sf_dir):
    """Cross-source duplicate flow (dedup.cross_source_dup_flow):
    LSH near-dup candidate pairs rolled up to an unordered source-pair
    matrix with per-pair duplication rates — "which feeds re-crawl
    each other", the document-level verdict q_source_overlap's
    vocabulary Jaccard can only hint at. Banded equi-join candidates,
    two id-keyed source attaches, one |sources|²-key hash rollup."""
    return D.cross_source_dup_flow(_docs(spark, sf_dir))


PIPELINE_ORACLES["q_dedup_source_flow"] = f"""
WITH {_SQL_SHINGLES},
{_SQL_SIG},
{_SQL_BANDS},
cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig
          AND a.doc_id < b.doc_id),
ps AS (SELECT least(da.source, db.source) AS s1,
              greatest(da.source, db.source) AS s2
       FROM cand JOIN documents da ON da.doc_id = cand.a
                 JOIN documents db ON db.doc_id = cand.b),
flow AS (SELECT s1, s2, count(*)::BIGINT AS n_pairs FROM ps GROUP BY 1, 2),
sz AS (SELECT source AS s, count(*)::BIGINT AS n FROM documents GROUP BY 1)
SELECT s1, s2, n_pairs, za.n AS n_docs_s1, zb.n AS n_docs_s2,
       -- double BEFORE the multiply, mirroring the engine's
       -- overflow-safe denominator (n*(n-1) overflows BIGINT at ~3e9)
       CASE WHEN (CASE WHEN s1 = s2 THEN za.n::DOUBLE * (za.n - 1) / 2.0
                       ELSE za.n::DOUBLE * zb.n END) > 0
            THEN floor(n_pairs
                       / (CASE WHEN s1 = s2 THEN za.n::DOUBLE * (za.n - 1) / 2.0
                               ELSE za.n::DOUBLE * zb.n END)
                       * 100000000.0 + 0.5) / 100000000.0
       END AS dup_rate
FROM flow JOIN sz za ON za.s = flow.s1 JOIN sz zb ON zb.s = flow.s2"""
PIPELINE_QUERIES.update({"q_dedup_source_flow": q_dedup_source_flow})


def q_decontam_scrub(spark, sf_dir):
    """Contamination removal (curation.scrub_contaminated_spans): every
    training doc re-emitted as its token stream with the
    benchmark-matching maximal spans excised — the surgical consumer
    of q_decontam_spans' audit (drop the span, not the doc). One row
    per training doc: (scrubbed_text, n_kept, n_removed); clean docs
    pass through with n_removed = 0. Shared _matched_spans core +
    covered-position explode + (doc, pos) equi-anti-join + one
    sort_array(collect_list) rebuild — never a range-predicate join."""
    docs = _docs(spark, sf_dir)
    return CU.scrub_contaminated_spans(docs, F.col("doc_id") % BENCH_MOD == 0)


PIPELINE_ORACLES["q_decontam_scrub"] = f"""
WITH {_SQL_SPAN_CTES},
cov AS (SELECT doc_id, unnest(range(st, en + 1)) AS pos FROM sp),
tokpos AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS tok
  FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM toks
        WHERE doc_id % {BENCH_MOD} <> 0)),
keptt AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tokpos t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL),
reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text,
               count(*)::BIGINT AS n_kept
        FROM keptt GROUP BY 1),
nt AS (SELECT doc_id, len(w)::BIGINT AS n FROM toks
       WHERE doc_id % {BENCH_MOD} <> 0)
SELECT nt.doc_id,
       coalesce(reb.scrubbed_text, '') AS scrubbed_text,
       coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
       (nt.n - coalesce(reb.n_kept, 0))::BIGINT AS n_removed
FROM nt LEFT JOIN reb USING (doc_id)"""
PIPELINE_QUERIES.update({"q_decontam_scrub": q_decontam_scrub})


# ---------------------------------------------------------------------------
# Round 11 continuation: boilerplate removal, DSIR selection, distinct-n
# ---------------------------------------------------------------------------

# Planted boilerplate (the fixture corpus has no real site chrome, so
# the queries plant it deterministically — the planted-URL /
# planted-near-dup precedent): every doc gets a domain-consistent
# 3-token nav line prepended ("nav <doc_id%4> home" — each registrable
# domain of _url_col maps to exactly one doc_id%4 residue class, so
# the line recurs in 100% of its domain's docs), and every 7th doc a
# rarer 3-token promo line (~14% of a domain — BELOW the 30% bar, the
# in-data negative case). Both plants are whole pseudo-lines
# (tokens_per_line = 3), so chunk alignment of the original text is
# preserved.
BOILER_LINE_TOKENS = 3
BOILER_MIN_FRAC = 0.3
BOILER_MIN_DF = 2


def _boiler_docs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    planted = F.concat_ws(
        " ",
        F.concat(
            F.lit("nav "), (F.col("doc_id") % 4).cast("string"),
            F.lit(" home"),
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit("promo footer link")),
        F.col("text"),
    )
    return d.select(
        "doc_id", _url_col().alias("url"), planted.alias("text")
    )


_SQL_BOILER_BASE = f"""bd AS (
  SELECT doc_id, {_SQL_URL} AS url,
         'nav ' || (doc_id % 4) || ' home'
           || CASE WHEN doc_id % 7 = 0 THEN ' promo footer link'
                   ELSE '' END
           || ' ' || coalesce(text, '') AS text
  FROM documents),
bh AS (SELECT doc_id, text, {_SQL_HOST} AS host FROM bd),
bg AS (SELECT doc_id, text, {_SQL_DOMAIN} AS domain FROM bh),
btok AS (SELECT doc_id, domain,
                regexp_extract_all(lower(coalesce(text, '')),
                                   '[a-z0-9]+') AS w
         FROM bg),
bln AS (
  SELECT doc_id, domain, i AS line_no,
         array_to_string(w[i*{BOILER_LINE_TOKENS}+1
                          : i*{BOILER_LINE_TOKENS}+{BOILER_LINE_TOKENS}],
                         ' ') AS line
  FROM (SELECT doc_id, domain, w,
               unnest(range(0, (len(w) + {BOILER_LINE_TOKENS} - 1)
                               // {BOILER_LINE_TOKENS})) AS i
        FROM btok)),
bsz AS (SELECT domain, count(*)::BIGINT AS domain_docs
        FROM bg GROUP BY 1),
bcnt AS (SELECT domain, line, count(DISTINCT doc_id)::BIGINT AS n_docs
         FROM bln GROUP BY 1, 2),
bflag AS (
  SELECT bcnt.domain, line, n_docs, domain_docs
  FROM bcnt JOIN bsz USING (domain)
  WHERE n_docs >= greatest({BOILER_MIN_DF},
                           ceil({BOILER_MIN_FRAC} * domain_docs)))"""


def q_boilerplate_audit(spark, sf_dir):
    """Boilerplate-line audit (web.boilerplate_lines): lines recurring
    in >= max(2, ceil(30% of domain docs)) distinct documents of one
    registrable domain, over the planted nav/promo chrome — the
    CCNet/RefinedWeb site-chrome detector. (domain, line)-keyed
    two-phase distinct count + an AQE-sized domain-size attach; the
    planted nav line (100% of every domain) is flagged at every SF,
    the planted promo line (~14%) never is."""
    return W.boilerplate_lines(
        _boiler_docs(spark, sf_dir),
        tokens_per_line=BOILER_LINE_TOKENS,
        min_frac=BOILER_MIN_FRAC,
        min_df=BOILER_MIN_DF,
    ).orderBy("domain", "line")


PIPELINE_ORACLES["q_boilerplate_audit"] = f"""
WITH {_SQL_BOILER_BASE}
SELECT domain, line, n_docs, domain_docs,
       floor(n_docs::DOUBLE / domain_docs * 1000000.0 + 0.5) / 1000000.0
         AS df_frac
FROM bflag ORDER BY domain, line"""
PIPELINE_QUERIES.update({"q_boilerplate_audit": q_boilerplate_audit})


def q_boilerplate_scrub(spark, sf_dir):
    """Boilerplate-line removal (web.remove_boilerplate): every doc
    re-emitted with its domain's flagged lines excised — one broadcast
    anti-join on (domain, line) + one sorted-collect rebuild per doc.
    Every doc loses exactly its planted nav line (n_removed >= 1);
    promo and content lines survive (except coincidental
    over-threshold repeats, which the oracle mirrors)."""
    return W.remove_boilerplate(
        _boiler_docs(spark, sf_dir),
        tokens_per_line=BOILER_LINE_TOKENS,
        min_frac=BOILER_MIN_FRAC,
        min_df=BOILER_MIN_DF,
    ).orderBy("doc_id")


PIPELINE_ORACLES["q_boilerplate_scrub"] = f"""
WITH {_SQL_BOILER_BASE},
bkept AS (
  SELECT l.doc_id, l.line_no, l.line
  FROM bln l LEFT JOIN bflag f
    ON l.domain = f.domain AND l.line = f.line
  WHERE f.line IS NULL),
breb AS (SELECT doc_id,
                string_agg(line, ' ' ORDER BY line_no) AS clean_text,
                count(*)::BIGINT AS n_kept
         FROM bkept GROUP BY 1),
bnl AS (SELECT doc_id, count(*)::BIGINT AS n_lines FROM bln GROUP BY 1)
SELECT bg.doc_id,
       coalesce(breb.clean_text, '') AS clean_text,
       coalesce(bnl.n_lines, 0)::BIGINT AS n_lines,
       (coalesce(bnl.n_lines, 0) - coalesce(breb.n_kept, 0))::BIGINT
         AS n_removed
FROM bg LEFT JOIN breb USING (doc_id) LEFT JOIN bnl USING (doc_id)
ORDER BY bg.doc_id"""
PIPELINE_QUERIES.update({"q_boilerplate_scrub": q_boilerplate_scrub})


DSIR_BUCKETS = 8192


def q_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (curation.dsir_logweights, Xie et
    al. 2023): raw docs scored by hashed unigram+bigram log-ratio
    against the doc_id % BENCH_MOD == 0 target partition. Two
    bucket-keyed counts + one broadcast ratio attach + one id-keyed
    integer-microunit sum (summation-order-free by construction)."""
    return (
        CU.dsir_logweights(
            _docs(spark, sf_dir),
            F.col("doc_id") % BENCH_MOD == 0,
            n_buckets=DSIR_BUCKETS,
        )
        .orderBy("doc_id")
    )


# Shared DSIR CTE chain ending in `wts` (one row per raw doc with
# n_feats/logweight) — used by BOTH q_dsir_weights and q_dsir_select
# so weight semantics can never drift between scoring and selection.
_SQL_DSIR_CORE = f"""toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
f AS (
  SELECT doc_id, unnest(w) AS feat FROM toks
  UNION ALL
  SELECT doc_id, w[i] || ' ' || w[i+1] AS feat
  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM toks)),
b AS (SELECT doc_id,
             CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT)
               % {DSIR_BUCKETS} AS bkt,
             doc_id % {BENCH_MOD} = 0 AS tgt
      FROM f),
cr AS (SELECT bkt, count(*)::BIGINT AS c FROM b WHERE NOT tgt GROUP BY 1),
ct AS (SELECT bkt, count(*)::BIGINT AS c FROM b WHERE tgt GROUP BY 1),
tot AS (SELECT (SELECT coalesce(sum(c), 0) FROM ct) AS t,
               (SELECT coalesce(sum(c), 0) FROM cr) AS r),
ratio AS (
  SELECT cr.bkt,
         CAST(floor((ln((coalesce(ct.c, 0) + 1)::DOUBLE
                        / (tot.t + {DSIR_BUCKETS}))
                     - ln((cr.c + 1)::DOUBLE / (tot.r + {DSIR_BUCKETS})))
                    * 1000000.0 + 0.5) AS BIGINT) AS micro
  FROM cr LEFT JOIN ct USING (bkt), tot),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_feats,
         sum(micro)::BIGINT / 1000000.0 AS logweight
  FROM b JOIN ratio USING (bkt)
  WHERE NOT tgt
  GROUP BY doc_id),
-- one row per raw doc even with zero features (engine contract):
wts AS (
  SELECT d.doc_id,
         coalesce(agg.n_feats, 0)::BIGINT AS n_feats,
         coalesce(agg.logweight, 0.0) AS logweight
  FROM (SELECT doc_id FROM documents WHERE doc_id % {BENCH_MOD} <> 0) d
  LEFT JOIN agg USING (doc_id))"""

PIPELINE_ORACLES["q_dsir_weights"] = f"""
WITH {_SQL_DSIR_CORE}
SELECT doc_id, n_feats, logweight FROM wts ORDER BY doc_id"""
PIPELINE_QUERIES.update({"q_dsir_weights": q_dsir_weights})


DSIR_SELECT_K = 50


def q_dsir_select(spark, sf_dir):
    """DSIR selection (curation.dsir_gumbel_select): the top-50 raw
    docs by Gumbel-top-k over the importance log-weights — sampling
    without replacement proportional to exp(logweight), with the
    Gumbel noise derived from a 52-bit hashed uniform so the selected
    SET is reproducible across engines and retries. One scan-local
    key projection + TakeOrderedAndProject; the weights chain is
    q_dsir_weights' verbatim."""
    w = CU.dsir_logweights(
        _docs(spark, sf_dir),
        F.col("doc_id") % BENCH_MOD == 0,
        n_buckets=DSIR_BUCKETS,
    )
    return CU.dsir_gumbel_select(w, k=DSIR_SELECT_K).orderBy(
        F.col("sel_key").desc(), "doc_id"
    )


# Selection (which k rows) is by the RAW Gumbel key — exactly the
# engine's orderBy(_key desc).limit(k) — but the presented order is
# the ROUNDED sel_key + doc_id, matching q_dsir_select's final
# orderBy: two selected rows whose raw keys differ by <1e-6 round to
# the same sel_key, and ordering the two sides by different key forms
# made the parity hash flakeable on such a near-tie (ADVICE r11).
PIPELINE_ORACLES["q_dsir_select"] = f"""
WITH {_SQL_DSIR_CORE},
g AS (
  SELECT doc_id, logweight,
         logweight / 1.0
           + -ln(-ln((CAST(('0x' || substr(md5('dsir:' || doc_id), 1, 13))
                           AS BIGINT)::DOUBLE + 0.5)
                     / 4503599627370496.0)) AS key
  FROM wts)
SELECT doc_id, logweight, sel_key FROM (
  SELECT doc_id, logweight,
         floor(key * 1000000.0 + 0.5) / 1000000.0 AS sel_key
  FROM g ORDER BY key DESC, doc_id LIMIT {DSIR_SELECT_K})
ORDER BY sel_key DESC, doc_id"""
PIPELINE_QUERIES.update({"q_dsir_select": q_dsir_select})


def q_ngram_diversity(spark, sf_dir):
    """Distinct-n corpus diversity per source (text.ngram_diversity):
    unique/total n-gram ratio for n = 1, 2, 3 — the template-collapse
    health metric. Three scan-local n-gram projections unioned into
    (source, gram)-keyed two-phase distinct counts."""
    return TX.ngram_diversity(_docs(spark, sf_dir)).orderBy("source", "n")


PIPELINE_ORACLES["q_ngram_diversity"] = f"""
WITH toks AS (SELECT source, {_TOK} AS w FROM documents),
g1 AS (SELECT source, unnest(w) AS g FROM toks),
g2 AS (SELECT source, w[i] || ' ' || w[i+1] AS g
       FROM (SELECT source, w, unnest(range(1, len(w))) AS i FROM toks)),
g3 AS (SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
       FROM (SELECT source, w, unnest(range(1, len(w) - 1)) AS i
             FROM toks)),
u AS (
  SELECT source, 1 AS n, g FROM g1
  UNION ALL SELECT source, 2 AS n, g FROM g2
  UNION ALL SELECT source, 3 AS n, g FROM g3),
h AS (SELECT source, n,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS gh
      FROM u)
SELECT source, n::INT AS n,
       count(*)::BIGINT AS total_ngrams,
       count(DISTINCT gh)::BIGINT AS distinct_ngrams,
       floor(count(DISTINCT gh)::DOUBLE / count(*) * 1000000.0 + 0.5)
         / 1000000.0 AS diversity
FROM h GROUP BY source, n ORDER BY source, n"""
PIPELINE_QUERIES.update({"q_ngram_diversity": q_ngram_diversity})


# ---------------------------------------------------------------------------
# Round 12: the full web-corpus curation DAG as ONE registered query
# ---------------------------------------------------------------------------

# quality bar for the capstone: the post-boilerplate survivor quality
# distribution spans 0.41-0.76 (median ~0.64) at every SF, so 0.5
# splits it non-trivially (5-7 low_quality docs) where the corpus-wide
# CURATION_QUALITY_MIN = 0.35 would be vacuous on this cleaner subset
WEB_PIPE_QUALITY_MIN = 0.5
WEB_PIPE_SELECT_K = 5


def q_web_pipeline(spark, sf_dir):
    """The capstone composition (web.web_corpus_pipeline, VERDICT r11
    item 7): URL dedup → domain caps → boilerplate scrub → quality
    gate → benchmark-span scrub → DSIR Gumbel-top-k selection, every
    stage running only on the previous stage's survivors, ONE verdict
    row per input doc. Certifies what the per-stage oracles cannot:
    stage ORDERING (boilerplate frequencies counted over URL-keeps
    only; quality scored on the scrubbed text; DSIR scored on the
    final clean text), column contracts across the joins, and that no
    doc is double-counted or dropped between stages. Inputs are the
    planted-URL + planted-boilerplate corpus (_boiler_docs), so every
    stage is non-vacuous at every SF."""
    d = _boiler_docs(spark, sf_dir).join(
        _docs(spark, sf_dir).select("doc_id", "n_chars"), "doc_id"
    )
    out = W.web_corpus_pipeline(
        d,
        F.col("doc_id") % BENCH_MOD == 0,
        cap=URL_CAP,
        quality_min=WEB_PIPE_QUALITY_MIN,
        tokens_per_line=BOILER_LINE_TOKENS,
        min_frac=BOILER_MIN_FRAC,
        min_df=BOILER_MIN_DF,
        n_buckets=DSIR_BUCKETS,
        select_k=WEB_PIPE_SELECT_K,
    )
    return out.orderBy("doc_id")


PIPELINE_ORACLES["q_web_pipeline"] = f"""
WITH bd AS (
  SELECT doc_id, n_chars, {_SQL_URL} AS url,
         'nav ' || (doc_id % 4) || ' home'
           || CASE WHEN doc_id % 7 = 0 THEN ' promo footer link'
                   ELSE '' END
           || ' ' || coalesce(text, '') AS text
  FROM documents),
bench AS (SELECT doc_id, text FROM bd WHERE doc_id % {BENCH_MOD} = 0),
tr AS (SELECT * FROM bd WHERE doc_id % {BENCH_MOD} <> 0),
-- stage 1+2: URL dedup then domain caps on URL survivors
nu AS (SELECT doc_id, n_chars, url, {_SQL_NORM_URL} AS norm_url FROM tr),
w AS (SELECT norm_url, min(doc_id) AS keep_id FROM nu GROUP BY 1),
v AS (SELECT nu.doc_id, nu.n_chars, nu.url, w.keep_id FROM nu
      JOIN w USING (norm_url)),
h AS (SELECT doc_id, n_chars, url, keep_id, {_SQL_HOST} AS host FROM v),
g AS (SELECT doc_id, n_chars, url, keep_id, {_SQL_DOMAIN} AS domain
      FROM h),
surv0 AS (SELECT doc_id, domain,
                 row_number() OVER (PARTITION BY domain
                                    ORDER BY n_chars DESC, doc_id) AS rnk
          FROM g WHERE doc_id = keep_id),
urldup AS (SELECT doc_id FROM g WHERE doc_id <> keep_id),
overcap AS (SELECT doc_id FROM surv0 WHERE rnk > {URL_CAP}),
keeps AS (SELECT doc_id FROM surv0 WHERE rnk <= {URL_CAP}),
-- stage 3: boilerplate detect + scrub over the keeps only
kd AS (SELECT tr.doc_id, tr.url, tr.text FROM tr JOIN keeps USING (doc_id)),
kh AS (SELECT doc_id, text, {_SQL_HOST} AS host FROM kd),
kg AS (SELECT doc_id, text, {_SQL_DOMAIN} AS domain FROM kh),
ktok AS (SELECT doc_id, domain, {_TOK} AS w FROM kg),
kln AS (
  SELECT doc_id, domain, i AS line_no,
         array_to_string(w[i*{BOILER_LINE_TOKENS}+1
                          : i*{BOILER_LINE_TOKENS}+{BOILER_LINE_TOKENS}],
                         ' ') AS line
  FROM (SELECT doc_id, domain, w,
               unnest(range(0, (len(w) + {BOILER_LINE_TOKENS} - 1)
                               // {BOILER_LINE_TOKENS})) AS i
        FROM ktok)),
ksz AS (SELECT domain, count(*)::BIGINT AS domain_docs FROM kg GROUP BY 1),
kcnt AS (SELECT domain, line, count(DISTINCT doc_id)::BIGINT AS n_docs
         FROM kln GROUP BY 1, 2),
kflag AS (
  SELECT kcnt.domain, line
  FROM kcnt JOIN ksz USING (domain)
  WHERE n_docs >= greatest({BOILER_MIN_DF},
                           ceil({BOILER_MIN_FRAC} * domain_docs))),
kkept AS (
  SELECT l.doc_id, l.line_no, l.line
  FROM kln l LEFT JOIN kflag f
    ON l.domain = f.domain AND l.line = f.line
  WHERE f.line IS NULL),
kreb AS (SELECT doc_id,
                string_agg(line, ' ' ORDER BY line_no) AS clean_text,
                count(*)::BIGINT AS n_kept_lines
         FROM kkept GROUP BY 1),
kbn AS (SELECT doc_id, count(*)::BIGINT AS n_lines FROM kln GROUP BY 1),
rb AS (SELECT kd.doc_id,
              coalesce(kreb.clean_text, '') AS text,
              (coalesce(kbn.n_lines, 0)
               - coalesce(kreb.n_kept_lines, 0))::BIGINT
                AS n_boiler_removed
       FROM kd LEFT JOIN kreb USING (doc_id) LEFT JOIN kbn USING (doc_id)),
-- stage 4: quality over the SCRUBBED text (fragments bind to `text`)
qt AS (
  SELECT doc_id, text, n_boiler_removed, len({_TOK}) AS ntok,
         length(regexp_replace(lower(coalesce(text, '')), '[^a-z]', '',
                               'g')) * 1.0
           / greatest(length(coalesce(text, '')), 1) AS alpha,
         ({_STOP_CNT}) / greatest(len({_TOK}), 1) AS stop
  FROM rb),
qs AS (SELECT doc_id, text, n_boiler_removed,
              floor(({_QUALITY}) * 1000000.0 + 0.5) / 1000000.0
                AS quality
       FROM qt),
qs2 AS (SELECT *, quality < {WEB_PIPE_QUALITY_MIN} AS lowq FROM qs),
lowq AS (SELECT doc_id, n_boiler_removed, quality FROM qs2 WHERE lowq),
qual AS (SELECT doc_id, text, n_boiler_removed, quality
         FROM qs2 WHERE NOT lowq),
-- stage 5: benchmark word-3-gram span scrub of the qualified docs
btk AS (SELECT doc_id, {_TOK} AS w FROM bench),
bsh AS (SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
        FROM (SELECT w, unnest(range(1, len(w) - 1)) AS i FROM btk)),
ttk AS (SELECT doc_id, {_TOK} AS w FROM qual),
tp AS (SELECT doc_id, i - 1 AS pos,
              w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
       FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
             FROM ttk)),
m AS (SELECT doc_id, pos FROM tp JOIN bsh USING (sh)),
gg AS (SELECT doc_id, pos,
              CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                             ORDER BY pos) > 3
                   THEN 1 ELSE 0 END AS brk
       FROM m),
ss AS (SELECT doc_id, pos,
              sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
       FROM gg),
sp AS (SELECT doc_id, span_id, min(pos) AS st, max(pos) + 2 AS en
       FROM ss GROUP BY 1, 2),
cov AS (SELECT doc_id, unnest(range(st, en + 1)) AS pos FROM sp),
ptok AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
         FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
               FROM ttk)),
keptt AS (SELECT p.doc_id, p.pos, p.tok
          FROM ptok p LEFT JOIN cov c
            ON p.doc_id = c.doc_id AND p.pos = c.pos
          WHERE c.pos IS NULL),
scr AS (SELECT doc_id,
               string_agg(tok, ' ' ORDER BY pos) AS text,
               count(*)::BIGINT AS n_kept
        FROM keptt GROUP BY 1),
covn AS (SELECT doc_id, count(*)::BIGINT AS n_cov FROM cov GROUP BY 1),
sc AS (SELECT q.doc_id,
              coalesce(scr.text, '') AS text,
              coalesce(scr.n_kept, 0)::BIGINT AS clean_tokens,
              coalesce(covn.n_cov, 0)::BIGINT AS n_contam_removed,
              q.n_boiler_removed, q.quality
       FROM qual q LEFT JOIN scr USING (doc_id)
       LEFT JOIN covn USING (doc_id)),
-- stage 6: DSIR weights (target = bench) + Gumbel-top-k selection
du AS (SELECT doc_id, text, TRUE AS tgt FROM bench
       UNION ALL SELECT doc_id, text, FALSE AS tgt FROM sc),
dtk AS (SELECT doc_id, tgt, {_TOK} AS w FROM du),
df AS (
  SELECT doc_id, tgt, unnest(w) AS feat FROM dtk
  UNION ALL
  SELECT doc_id, tgt, w[i] || ' ' || w[i+1] AS feat
  FROM (SELECT doc_id, tgt, w, unnest(range(1, len(w))) AS i FROM dtk)),
db AS (SELECT doc_id, tgt,
              CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT)
                % {DSIR_BUCKETS} AS bkt
       FROM df),
dcr AS (SELECT bkt, count(*)::BIGINT AS c FROM db WHERE NOT tgt
        GROUP BY 1),
dct AS (SELECT bkt, count(*)::BIGINT AS c FROM db WHERE tgt GROUP BY 1),
dtot AS (SELECT (SELECT coalesce(sum(c), 0) FROM dct) AS t,
                (SELECT coalesce(sum(c), 0) FROM dcr) AS r),
dratio AS (
  SELECT dcr.bkt,
         CAST(floor((ln((coalesce(dct.c, 0) + 1)::DOUBLE
                        / (dtot.t + {DSIR_BUCKETS}))
                     - ln((dcr.c + 1)::DOUBLE
                          / (dtot.r + {DSIR_BUCKETS})))
                    * 1000000.0 + 0.5) AS BIGINT) AS micro
  FROM dcr LEFT JOIN dct USING (bkt), dtot),
dagg AS (
  SELECT doc_id, sum(micro)::BIGINT / 1000000.0 AS logweight
  FROM db JOIN dratio USING (bkt)
  WHERE NOT tgt
  GROUP BY doc_id),
wts AS (
  SELECT s.doc_id, coalesce(dagg.logweight, 0.0) AS logweight
  FROM sc s LEFT JOIN dagg ON s.doc_id = dagg.doc_id),
gk AS (
  SELECT doc_id,
         logweight / 1.0
           + -ln(-ln((CAST(('0x' || substr(md5('dsir:' || doc_id), 1, 13))
                           AS BIGINT)::DOUBLE + 0.5)
                     / 4503599627370496.0)) AS key
  FROM wts),
selk AS (SELECT doc_id FROM gk ORDER BY key DESC, doc_id
         LIMIT {WEB_PIPE_SELECT_K}),
-- verdict assembly: one row per input doc
out AS (
  SELECT doc_id, 'benchmark' AS status,
         CAST(NULL AS BIGINT) AS n_boiler_removed,
         CAST(NULL AS DOUBLE) AS quality,
         CAST(NULL AS BIGINT) AS n_contam_removed,
         CAST(NULL AS BIGINT) AS clean_tokens,
         CAST(NULL AS DOUBLE) AS logweight
  FROM bench
  UNION ALL
  SELECT doc_id, 'url_dup', NULL, NULL, NULL, NULL, NULL FROM urldup
  UNION ALL
  SELECT doc_id, 'over_domain_cap', NULL, NULL, NULL, NULL, NULL
  FROM overcap
  UNION ALL
  SELECT doc_id, 'low_quality', n_boiler_removed, quality,
         NULL, NULL, NULL
  FROM lowq
  UNION ALL
  SELECT s.doc_id,
         CASE WHEN k.doc_id IS NOT NULL THEN 'selected'
              ELSE 'passed' END,
         s.n_boiler_removed, s.quality, s.n_contam_removed,
         s.clean_tokens, w2.logweight
  FROM sc s JOIN wts w2 ON s.doc_id = w2.doc_id
  LEFT JOIN selk k ON s.doc_id = k.doc_id)
SELECT * FROM out ORDER BY doc_id"""
PIPELINE_QUERIES.update({"q_web_pipeline": q_web_pipeline})


# ---------------------------------------------------------------------------
# Round 12: token-budget epoch allocation (the pretraining mixture table)
# ---------------------------------------------------------------------------

MIX_BUDGET_EPOCHS = 3.0  # budget = 3x total corpus mass (scale-free)
MIX_MAX_EPOCHS = 4.0


def q_mix_epochs(spark, sf_dir):
    """Token-budget epoch allocation per language
    (sampling.epoch_allocation): the q_corpus_temperature mixture
    extended to the table a pretraining run actually reads — at a
    budget of MIX_BUDGET_EPOCHS x the corpus, how many tokens each
    language contributes, the epochs that implies, the max-epochs cap
    on over-repeated low-resource groups, and the realized mixture
    after capping. Corpus-scale work is the same ONE hash aggregate;
    every derived column is window arithmetic over the G language
    rows."""
    stats = (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(TX.token_count(F.col("text")).cast("long")).alias("mass"),
        )
    )
    t = S.epoch_allocation(
        stats,
        MIX_BUDGET_EPOCHS,
        mass_col="mass",
        alpha=TEMP_ALPHA,
        max_epochs=MIX_MAX_EPOCHS,
    )
    # half-up floor chain, not round(double, n): the engines'
    # BigDecimal-vs-DuckDB round disagree on .5 ties at the grid
    # digit — the rounding-contract class (code-review r12)
    from mapreduce_kmeans_clustering_spark.functions.rounding import (
        half_up,
        half_up6,
    )

    return t.select(
        "lang",
        "mass",
        half_up6(F.col("sample_weight")).alias("sample_weight"),
        half_up(F.col("requested_tokens"), 2).alias("requested_tokens"),
        half_up6(F.col("epochs")).alias("epochs"),
        half_up(F.col("allocated_tokens"), 2).alias("allocated_tokens"),
        "capped",
        half_up6(F.col("realized_share")).alias("realized_share"),
    ).orderBy("lang")


PIPELINE_ORACLES["q_mix_epochs"] = f"""
WITH t AS (SELECT lang, count(*)::BIGINT AS n_docs,
                  sum(len({_TOK}))::BIGINT AS mass
           FROM documents GROUP BY lang),
s AS (SELECT lang, n_docs, mass,
             mass::DOUBLE / sum(mass::DOUBLE) OVER () AS share FROM t),
p AS (SELECT lang, n_docs, mass, share,
             pow(share, {TEMP_ALPHA}) AS pw FROM s),
sw AS (SELECT lang, n_docs, mass, share,
              pw / sum(pw) OVER () AS sample_weight FROM p),
a AS (SELECT lang, mass, sample_weight,
             ({MIX_BUDGET_EPOCHS} * sum(mass::DOUBLE) OVER ())
               * sample_weight AS requested_tokens
      FROM sw),
b AS (SELECT lang, mass, sample_weight, requested_tokens,
             requested_tokens / mass::DOUBLE AS epochs,
             least(requested_tokens,
                   {MIX_MAX_EPOCHS} * mass::DOUBLE) AS allocated_tokens,
             requested_tokens > {MIX_MAX_EPOCHS} * mass::DOUBLE AS capped
      FROM a)
SELECT lang, mass,
       floor(sample_weight * 1000000.0 + 0.5) / 1000000.0
         AS sample_weight,
       floor(requested_tokens * 100.0 + 0.5) / 100.0
         AS requested_tokens,
       floor(epochs * 1000000.0 + 0.5) / 1000000.0 AS epochs,
       floor(allocated_tokens * 100.0 + 0.5) / 100.0
         AS allocated_tokens, capped,
       floor(allocated_tokens / sum(allocated_tokens) OVER ()
             * 1000000.0 + 0.5) / 1000000.0 AS realized_share
FROM b ORDER BY lang"""
PIPELINE_QUERIES.update({"q_mix_epochs": q_mix_epochs})


# ---------------------------------------------------------------------------
# Round 12: Bloom-filter exact-dup screen (memory-bounded ingest gate)
# ---------------------------------------------------------------------------

BLOOM_K = 3
BLOOM_BITS_PER_KEY = 16
BLOOM_PLANT_OFFSET = 1_000_000


def q_dedup_bloom(spark, sf_dir):
    """Memory-bounded batch-vs-corpus exact-dup screen
    (dedup.bloom_screen): the arriving doc_id % 5 == 0 shard probed
    against the packed Bloom filter of the rest of the corpus —
    'maybe_dup' (all k md5-derived bits set: a true dup or a designed
    -rate false positive) or 'new' (GUARANTEED absent — Bloom filters
    have no false negatives, which is what lets 'new' docs skip the
    exact-verification lookup at ingest). The filter is sized from
    the corpus (next power of two >= 16 bits/key — a fixed m is the
    same saturation cliff as fixed LSH planes), and the query carries
    the exact-truth column so the oracle certifies the
    no-false-negative guarantee row-by-row: is_true_dup => maybe_dup
    on every row, at every SF. The %5 split alone yields no exact
    cross-split dup at the small SFs, so the batch additionally
    carries planted clones of every corpus doc_id % 25 == 1 doc (the
    q_dedup_embed plant recipe, offset BLOOM_PLANT_OFFSET) — the
    guaranteed-caught rows; sf0.1 also shows the designed-rate false
    positives (3 of 1000 probes at 16 bits/key)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = d.where(F.col("doc_id") % 5 != 0)
    planted = corpus.where(F.col("doc_id") % 25 == 1).select(
        (F.col("doc_id") + F.lit(BLOOM_PLANT_OFFSET)).alias("doc_id"),
        "text",
    )
    batch = d.where(F.col("doc_id") % 5 == 0).unionByName(planted)
    v = D.bloom_screen(
        corpus, batch, k=BLOOM_K, bits_per_key=BLOOM_BITS_PER_KEY
    )
    ch = (
        corpus.select(F.md5("text").alias("_h"))
        .distinct()
        .withColumn("_t", F.lit(True))
    )
    flag = (
        batch.select("doc_id", F.md5("text").alias("_h"))
        .join(ch, "_h", "left")
        .select(
            "doc_id", F.coalesce("_t", F.lit(False)).alias("is_true_dup")
        )
    )
    return v.join(flag, "doc_id").select(
        "doc_id", "verdict", "is_true_dup"
    ).orderBy("doc_id")


# m is bracket-corrected after the float ceil(log2()): pow/log in
# doubles can land one step off on exact powers of two, and the CASE
# re-anchors m to the true smallest power of two >= x — so the oracle
# and the engine's exact integer sizing can never disagree.
PIPELINE_ORACLES["q_dedup_bloom"] = f"""
WITH c AS (SELECT text FROM documents WHERE doc_id % 5 <> 0),
nn AS (SELECT greatest(1, count(*) * {BLOOM_BITS_PER_KEY}) AS x FROM c),
m0 AS (SELECT x,
              greatest(64, CAST(pow(2, CAST(ceil(log2(x::DOUBLE)) AS INT))
                               AS BIGINT)) AS m0
       FROM nn),
mm AS (SELECT CAST(CASE WHEN m0 < x THEN m0 * 2
                        WHEN m0 >= 128 AND m0 // 2 >= x THEN m0 // 2
                        ELSE m0 END AS BIGINT) AS m
       FROM m0),
js AS (SELECT unnest([{", ".join(str(j) for j in range(BLOOM_K))}]) AS j),
cp AS (SELECT (('0x' || substr(md5(j || ':' || text), 1, 15))::BIGINT)
               % m AS pos
       FROM c CROSS JOIN mm CROSS JOIN js),
cw AS (SELECT pos // 63 AS word,
              (1::BIGINT << CAST(pos % 63 AS INT)) AS mask
       FROM cp),
filt AS (SELECT word, bit_or(mask) AS bits FROM cw GROUP BY 1),
b AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 5 <> 0 AND doc_id % 25 = 1),
bp AS (SELECT doc_id,
              (('0x' || substr(md5(j || ':' || text), 1, 15))::BIGINT)
               % m AS pos
       FROM b CROSS JOIN mm CROSS JOIN js),
bw AS (SELECT doc_id, pos // 63 AS word,
              (1::BIGINT << CAST(pos % 63 AS INT)) AS mask
       FROM bp),
hits AS (SELECT bw.doc_id,
                sum(CASE WHEN (coalesce(f.bits, 0) & bw.mask) <> 0
                         THEN 1 ELSE 0 END) AS nhit,
                count(*) AS kk
         FROM bw LEFT JOIN filt f USING (word)
         GROUP BY 1),
truth AS (SELECT DISTINCT md5(text) AS h FROM c)
SELECT b.doc_id,
       CASE WHEN h.nhit = h.kk THEN 'maybe_dup' ELSE 'new' END AS verdict,
       md5(b.text) IN (SELECT h FROM truth) AS is_true_dup
FROM b JOIN hits h USING (doc_id)
ORDER BY b.doc_id"""
PIPELINE_QUERIES.update({"q_dedup_bloom": q_dedup_bloom})


# ---------------------------------------------------------------------------
# Round 12: tokenizer fertility by language
# ---------------------------------------------------------------------------


def q_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility per language: tokens-per-word and
    chars-per-token under the corpus-trained BPE (text.bpe_encode at
    BPE_TRAIN_MERGES) — the number multilingual tokenizer evaluations
    report first (a language whose fertility is 2x another's pays 2x
    the context window for the same text; the standard evidence for
    vocab-size / merge-budget decisions). Character counts come from
    the raw token stream (merges never change characters), so the
    extra work over q_bpe_encode is one scan-local length projection
    + one G-row hash aggregate."""
    enc = TX.bpe_encode(_docs(spark, sf_dir), n_merges=BPE_TRAIN_MERGES)
    base = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.length(F.concat_ws("", TX.tokens(F.col("text"))))
        .cast("long")
        .alias("_chars"),
    )
    g = (
        enc.join(base, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_pretokens").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("_chars").cast("long").alias("n_chars"),
        )
    )
    from mapreduce_kmeans_clustering_spark.functions.rounding import (
        half_up6,
    )

    return g.select(
        "lang",
        "n_docs",
        "n_words",
        "n_tokens",
        "n_chars",
        half_up6(F.col("n_tokens") / F.col("n_words")).alias(
            "tokens_per_word"
        ),
        half_up6(F.col("n_chars") / F.col("n_tokens")).alias(
            "chars_per_token"
        ),
    ).orderBy("lang")


def _bpe_fertility_oracle(k: int) -> str:
    enc = _bpe_encode_oracle(k)
    return f"""
WITH enc AS ({enc}),
base AS (SELECT doc_id, lang,
                length(array_to_string({_TOK}, ''))::BIGINT AS n_chars
         FROM documents),
g AS (SELECT lang, count(*)::BIGINT AS n_docs,
             sum(n_pretokens)::BIGINT AS n_words,
             sum(n_tokens)::BIGINT AS n_tokens,
             sum(n_chars)::BIGINT AS n_chars
      FROM enc JOIN base USING (doc_id) GROUP BY lang)
SELECT lang, n_docs, n_words, n_tokens, n_chars,
       floor(n_tokens::DOUBLE / n_words * 1000000.0 + 0.5) / 1000000.0
         AS tokens_per_word,
       floor(n_chars::DOUBLE / n_tokens * 1000000.0 + 0.5) / 1000000.0
         AS chars_per_token
FROM g ORDER BY lang"""


PIPELINE_ORACLES["q_bpe_fertility"] = _bpe_fertility_oracle(
    BPE_TRAIN_MERGES
)
PIPELINE_QUERIES.update({"q_bpe_fertility": q_bpe_fertility})


# ---------------------------------------------------------------------------
# Round 12: URL blocklist filter
# ---------------------------------------------------------------------------

BLOCK_DOMAINS = ("src0.co.uk", "example.com")
BLOCK_PREFIXES = ("/p/7", "/x/1")


def q_url_blocklist(spark, sf_dir):
    """Blocklist verdicts over the planted URL column
    (web.url_blocklist_filter) — the first gate of a crawl pipeline:
    two domain bans (a source's co.uk site and the shared
    example.com) and two SEGMENT-ALIGNED path bans ('/p/7' blocks
    path /p/7 and /p/7/sub but never /p/70). Precedence
    blocked_domain > blocked_path > pass; the matched rule travels in
    the row; ties resolve to the smallest pattern. Rules are deduped
    and equi-joined (domain exact; path on its first segment with the
    aligned comparison as the hash join's residual predicate — never
    a nested loop), unhinted so AQE sizes real million-row
    blocklists."""
    rules = spark.createDataFrame(
        [("domain", d) for d in BLOCK_DOMAINS]
        + [("path_prefix", p) for p in BLOCK_PREFIXES],
        "kind STRING, pattern STRING",
    )
    d = _docs(spark, sf_dir).select("doc_id", _url_col().alias("url"))
    return W.url_blocklist_filter(d, rules).orderBy("doc_id")


_SQL_PATH = (
    f"regexp_replace(regexp_extract(url, "
    f"'{_SQL_HOST_RE}(?::[0-9]+)?([^?#]*)', 2), '/+$', '')"
)

PIPELINE_ORACLES["q_url_blocklist"] = f"""
WITH d AS (SELECT doc_id, {_SQL_URL} AS url FROM documents),
h AS (SELECT doc_id, url, {_SQL_HOST} AS host FROM d),
g AS (SELECT doc_id, url, {_SQL_DOMAIN} AS domain FROM h),
p AS (SELECT doc_id, domain, {_SQL_PATH} AS path FROM g),
dr AS (SELECT unnest([{", ".join(f"'{x}'" for x in BLOCK_DOMAINS)}])
         AS dpat),
pr AS (SELECT unnest([{", ".join(f"'{x}'" for x in BLOCK_PREFIXES)}])
         AS ppat),
dm AS (SELECT doc_id, min(dpat) AS drule
       FROM p JOIN dr ON p.domain = dr.dpat GROUP BY 1),
pm AS (SELECT doc_id, min(ppat) AS prule
       FROM p JOIN pr
         ON p.path = pr.ppat OR starts_with(p.path, pr.ppat || '/')
       GROUP BY 1)
SELECT p.doc_id, p.domain, p.path,
       CASE WHEN dm.drule IS NOT NULL THEN 'blocked_domain'
            WHEN pm.prule IS NOT NULL THEN 'blocked_path'
            ELSE 'pass' END AS status,
       coalesce(dm.drule, pm.prule) AS rule
FROM p LEFT JOIN dm USING (doc_id) LEFT JOIN pm USING (doc_id)
ORDER BY p.doc_id"""
PIPELINE_QUERIES.update({"q_url_blocklist": q_url_blocklist})


def q_bloom_fill(spark, sf_dir):
    """The Bloom screen's sizing dashboard (dedup.bloom_fill_stats):
    one row of (m_bits, words, set_bits, fill_ratio, est_fp_rate)
    over the q_dedup_bloom corpus filter — the number DEPLOY.md tells
    an operator to watch (rebuild at the next power of two when fill
    passes ~50%). est_fp is fill^k computed as k explicit
    multiplications, never libm pow (cross-engine determinism)."""
    corpus = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .where(F.col("doc_id") % 5 != 0)
    )
    filt, _ = D.bloom_filter_words(
        corpus, k=BLOOM_K, bits_per_key=BLOOM_BITS_PER_KEY
    )
    return D.bloom_fill_stats(filt, k=BLOOM_K)


PIPELINE_ORACLES["q_bloom_fill"] = f"""
WITH c AS (SELECT text FROM documents WHERE doc_id % 5 <> 0),
nn AS (SELECT greatest(1, count(*) * {BLOOM_BITS_PER_KEY}) AS x FROM c),
m0 AS (SELECT x,
              greatest(64, CAST(pow(2, CAST(ceil(log2(x::DOUBLE)) AS INT))
                               AS BIGINT)) AS m0
       FROM nn),
mm AS (SELECT CAST(CASE WHEN m0 < x THEN m0 * 2
                        WHEN m0 >= 128 AND m0 // 2 >= x THEN m0 // 2
                        ELSE m0 END AS BIGINT) AS m
       FROM m0),
js AS (SELECT unnest([{", ".join(str(j) for j in range(BLOOM_K))}]) AS j),
cp AS (SELECT (('0x' || substr(md5(j || ':' || text), 1, 15))::BIGINT)
               % m AS pos
       FROM c CROSS JOIN mm CROSS JOIN js),
cw AS (SELECT pos // 63 AS word,
              (1::BIGINT << CAST(pos % 63 AS INT)) AS mask
       FROM cp),
filt AS (SELECT word, bit_or(mask) AS bits FROM cw GROUP BY 1),
agg AS (SELECT count(*)::BIGINT AS words,
               sum(bit_count(bits))::BIGINT AS set_bits
        FROM filt),
r AS (SELECT m::BIGINT AS m_bits, words, set_bits,
             set_bits::DOUBLE / m AS fill
      FROM agg CROSS JOIN mm)
SELECT m_bits, words, set_bits,
       floor(fill * 1000000.0 + 0.5) / 1000000.0 AS fill_ratio,
       floor(fill * fill * fill * 1000000.0 + 0.5) / 1000000.0
         AS est_fp_rate
FROM r"""
PIPELINE_QUERIES.update({"q_bloom_fill": q_bloom_fill})


# ---------------------------------------------------------------------------
# Round 12 continuation: cross-document repeated-passage removal
# ---------------------------------------------------------------------------

# Word-8-gram passages: long enough that shared grams are genuine
# repeated passages, not common phrases (the fixture docs run 10-99
# tokens, so 8 words is a substantial span), short enough to be
# non-vacuous at every SF (24 affected docs at sf0.001).
PASSAGE_N = 8


def q_passage_scrub(spark, sf_dir):
    """Cross-document repeated-passage removal (dedup.passage_scrub):
    every word-8-gram occurring in >= 2 distinct docs is excised from
    all but the minimum-id canonical copy — the ExactSubstr-style
    scrub consumer of q_dedup_passages' audit (Lee et al. 2022:
    repeated passages, not whole-doc copies, dominate web corpora).
    One row per input doc: (scrubbed_text, n_kept, n_removed); an
    exact clone of a kept doc scrubs to empty, the canonical copy is
    untouched. Inverted-index shape keyed on the gram's 60-bit md5
    prefix — 8-byte shuffle keys, never doc x doc pairs."""
    return D.passage_scrub(_docs(spark, sf_dir), n=PASSAGE_N)


PIPELINE_ORACLES["q_passage_scrub"] = f"""
WITH toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
tp AS (SELECT doc_id, i - 1 AS pos,
              w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                   || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
                   || ' ' || w[i+7] AS sh
       FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
             FROM toks)),
h AS (SELECT doc_id, pos,
             (('0x' || substr(md5(sh), 1, 15))::BIGINT) AS gh
      FROM tp),
ks AS (SELECT gh, min(doc_id) AS keeper
       FROM (SELECT DISTINCT gh, doc_id FROM h)
       GROUP BY gh HAVING count(*) >= 2),
m AS (SELECT h.doc_id, h.pos FROM h JOIN ks USING (gh)
      WHERE h.doc_id <> ks.keeper),
g AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                            ORDER BY pos) > {PASSAGE_N}
                  THEN 1 ELSE 0 END AS brk
      FROM m),
s AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      FROM g),
sp AS (SELECT doc_id, span_id, min(pos) AS st,
              max(pos) + {PASSAGE_N - 1} AS en
       FROM s GROUP BY 1, 2),
cov AS (SELECT doc_id, unnest(range(st, en + 1)) AS pos FROM sp),
tokpos AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok
           FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
                 FROM toks)),
keptt AS (SELECT t.doc_id, t.pos, t.tok
          FROM tokpos t
          LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
          WHERE c.pos IS NULL),
reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text,
               count(*)::BIGINT AS n_kept
        FROM keptt GROUP BY 1),
nt AS (SELECT doc_id, len(w)::BIGINT AS n FROM toks)
SELECT nt.doc_id,
       coalesce(reb.scrubbed_text, '') AS scrubbed_text,
       coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
       (nt.n - coalesce(reb.n_kept, 0))::BIGINT AS n_removed
FROM nt LEFT JOIN reb USING (doc_id)"""
PIPELINE_QUERIES.update({"q_passage_scrub": q_passage_scrub})


# 5-gram leakage audit: at word-3-grams the templated fixture corpus
# shares SOME gram between almost every eval/train doc pair (measured:
# every eval doc crossed leak_frac 0.5 at sf0.01+), so the audit runs
# at n=5 where the measured distribution spans 0..1 with both verdicts
# live at every SF (p90 ~0.04-0.12, max 0.875-1.0).
SPLIT_LEAK_N = 5


def q_split_leakage(spark, sf_dir):
    """Train→eval split-leakage audit (curation.split_leakage): for
    every val/test doc under the md5-bucket split, the fraction of its
    distinct word-5-grams that appear in ANY train doc, leaked at
    >= 0.5 — the eval-inflation measurement q_leakage_safe_split's
    repair exists to fix (audit the naive split, repair, re-audit).
    Two shingle explosions + one distinct + one shingle equi-join +
    per-doc aggregate; never pairwise, train side AQE-sized."""
    docs = CU.split_assign(_docs(spark, sf_dir))
    return CU.split_leakage(docs, n=SPLIT_LEAK_N).orderBy("doc_id")


PIPELINE_ORACLES["q_split_leakage"] = f"""
WITH toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
shf5 AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4] AS sh
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM toks)),
spl AS (
  SELECT doc_id,
         CASE WHEN bucket < 980 THEN 'train'
              WHEN bucket < 990 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 1000 AS bucket
        FROM documents)),
tsh AS (SELECT DISTINCT
               CAST(('0x' || substr(md5(e.sh), 1, 15)) AS BIGINT) AS gh
        FROM shf5 e JOIN spl USING (doc_id)
        WHERE spl.split = 'train'),
ev AS (SELECT e.doc_id,
              CAST(('0x' || substr(md5(e.sh), 1, 15)) AS BIGINT) AS gh
       FROM shf5 e JOIN spl USING (doc_id)
       WHERE spl.split <> 'train'),
per AS (SELECT ev.doc_id, count(*)::BIGINT AS n_shingles,
               sum(CASE WHEN t.gh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                 AS n_shared
        FROM ev LEFT JOIN tsh t ON ev.gh = t.gh GROUP BY 1),
frac AS (
  SELECT spl.doc_id, spl.split,
         coalesce(per.n_shingles, 0)::BIGINT AS n_shingles,
         coalesce(per.n_shared, 0)::BIGINT AS n_shared,
         CASE WHEN coalesce(per.n_shingles, 0) = 0 THEN 0.0
              ELSE ((n_shared * 2000000 + n_shingles)
                    // (2 * n_shingles))::DOUBLE / 1000000.0
         END AS leak_frac
  FROM spl LEFT JOIN per USING (doc_id)
  WHERE spl.split <> 'train')
SELECT doc_id, split, n_shingles, n_shared, leak_frac,
       leak_frac >= 0.5 AS leaked
FROM frac ORDER BY doc_id"""
PIPELINE_QUERIES.update({"q_split_leakage": q_split_leakage})


def q_cluster_mix(spark, sf_dir):
    """Semantic topic-mix per source (dedup.semantic_clusters × the
    documents dim): the corpus partitioned into k ~ √n semantic
    clusters (q_dedup_semantic's exact blocking — same seeds, same
    argmin ties), rolled up to a (cluster, source) composition matrix
    with each cell's share of its source — the read-out that shows a
    feed collapsing onto one topic before any quality score does.
    Scan-local literal argmin (no join for assignment), one id-keyed
    equi-join to attach source, one k×S hash aggregate, one window
    over the aggregated (bounded) table."""
    from pyspark.sql.window import Window

    cl = D.semantic_clusters(_emb(spark, sf_dir), k=None)
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    cell = (
        cl.join(docs, cl["vec_id"] == docs["doc_id"])
        .groupBy("cluster", "source")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    tot = F.sum("n_docs").over(Window.partitionBy("source"))
    return cell.select(
        "cluster",
        "source",
        "n_docs",
        _h6(F.col("n_docs") / tot).alias("source_share"),
    ).orderBy("cluster", "source")


PIPELINE_ORACLES["q_cluster_mix"] = f"""
WITH ve AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
kk AS (SELECT greatest(8, CAST(round(sqrt(count(*)), 0) AS INT)) AS k
       FROM ve),
sd AS (SELECT cid, c FROM (
         SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid,
                v AS c
         FROM ve) seeds CROSS JOIN kk WHERE cid < k),
asg AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT a.vec_id, s.cid,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_sum(list_transform(range(1, 65),
                               i -> (a.v[i] - s.c[i]) * (a.v[i] - s.c[i]))),
                      s.cid) AS rn
    FROM ve a CROSS JOIN sd s) WHERE rn = 1),
cell AS (SELECT cluster, source, count(*)::BIGINT AS n_docs
         FROM asg JOIN documents ON vec_id = doc_id
         GROUP BY 1, 2)
SELECT cluster, source, n_docs,
       floor(n_docs::DOUBLE
             / sum(n_docs) OVER (PARTITION BY source)
             * 1000000.0 + 0.5) / 1000000.0 AS source_share
FROM cell ORDER BY cluster, source"""
PIPELINE_QUERIES.update({"q_cluster_mix": q_cluster_mix})


def q_lsh_occupancy(spark, sf_dir):
    """LSH band-bucket occupancy dashboard (dedup.lsh_occupancy): per
    band, the bucket count, hottest bucket, and implied candidate-pair
    volume sum(c·(c−1)/2) — the pre-flight skew read-out for the
    banded near-dup join (q_key_skew's twin for the dedup family).
    One (band, band_sig)-keyed map-side-combined count + one B-row
    rollup; pair volume in DECIMAL(38,0) with the even factor halved
    before the multiply so a catastrophic bucket is REPORTED, not an
    ANSI overflow."""
    return D.lsh_occupancy(_docs(spark, sf_dir))


PIPELINE_ORACLES["q_lsh_occupancy"] = f"""
WITH {_SQL_SHINGLES},
{_SQL_SIG},
{_SQL_BANDS},
bs AS (SELECT band, band_sig, count(*)::BIGINT AS c
       FROM bands GROUP BY 1, 2),
pb AS (SELECT band, c,
              CAST(CASE WHEN c % 2 = 0
                        THEN CAST(c // 2 AS DECIMAL(19,0)) * (c - 1)
                        ELSE CAST(c AS DECIMAL(19,0)) * ((c - 1) // 2)
                   END AS DECIMAL(38,0)) AS pairs
       FROM bs)
SELECT CAST(band AS INT) AS band,
       count(*)::BIGINT AS n_buckets,
       sum(c)::BIGINT AS n_docs,
       max(c)::BIGINT AS max_bucket,
       CAST(sum(pairs) AS DECIMAL(38,0)) AS candidate_pairs
FROM pb GROUP BY band ORDER BY band"""
PIPELINE_QUERIES.update({"q_lsh_occupancy": q_lsh_occupancy})


def q_passage_hotlist(spark, sf_dir):
    """The human-readable top of the repeated-passage audit: the 20
    hottest cross-document char-20-grams WITH an example of the
    actual text (q_dedup_passages ranks hashes an operator cannot
    read; this is the table that says WHAT the boilerplate is before
    q_passage_scrub removes it). Two-phase text recovery keeps it
    scale-correct: phase 1 is the hash-keyed stats aggregate (8-byte
    to 32-byte shuffle keys, never gram text) + TakeOrdered to 20
    rows; phase 2 re-scans the corpus and joins the 20-row hash list
    BROADCAST, so gram TEXT is shuffled only for rows matching the
    hot hashes. Example text is min(gram) per hash — deterministic,
    and exact modulo md5 collisions (identical grams by construction
    otherwise)."""
    docs = _docs(spark, sf_dir)
    top = (
        D.repeated_passages(docs, gram_len=PASSAGE_GRAM, min_docs=2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), "h"
        )
        .limit(20)
    )
    t = F.coalesce(F.col("text"), F.lit(""))
    eligible = docs.where(F.length(t) >= PASSAGE_GRAM)
    pos = F.explode(
        F.sequence(F.lit(1), F.length(t) - F.lit(PASSAGE_GRAM - 1))
    ).alias("pos")
    gram = F.substring(F.col("__t"), F.col("pos"), F.lit(PASSAGE_GRAM))
    grams = (
        eligible.select(pos, t.alias("__t"))
        .select(gram.alias("gram"))
        .select("gram", F.md5(F.col("gram")).alias("h"))
    )
    ex = (
        grams.join(F.broadcast(top.select("h")), "h")
        .groupBy("h")
        .agg(F.min("gram").alias("example"))
    )
    return (
        top.join(ex, "h")
        .select("h", "example", "n_occurrences", "n_docs")
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), "h"
        )
    )


PIPELINE_ORACLES["q_passage_hotlist"] = """
WITH e AS (SELECT doc_id, coalesce(text, '') AS t FROM documents
           WHERE length(coalesce(text, '')) >= 20),
g AS (
  SELECT doc_id, substr(t, CAST(pos AS INT), 20) AS gram
  FROM e, LATERAL (SELECT unnest(range(1, length(t) - 18)) AS pos)),
a AS (SELECT md5(gram) AS h, count(*) AS n_occurrences,
             count(DISTINCT doc_id) AS n_docs
      FROM g GROUP BY 1
      HAVING count(DISTINCT doc_id) >= 2),
top AS (SELECT h, CAST(n_occurrences AS BIGINT) AS n_occurrences,
               CAST(n_docs AS BIGINT) AS n_docs
        FROM a ORDER BY n_docs DESC, n_occurrences DESC, h LIMIT 20),
ex AS (SELECT md5(gram) AS h, min(gram) AS example
       FROM g WHERE md5(gram) IN (SELECT h FROM top) GROUP BY 1)
SELECT t.h, ex.example, t.n_occurrences, t.n_docs
FROM top t JOIN ex USING (h)
ORDER BY t.n_docs DESC, t.n_occurrences DESC, t.h"""
PIPELINE_QUERIES.update({"q_passage_hotlist": q_passage_hotlist})
