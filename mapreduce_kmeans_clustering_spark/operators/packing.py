"""Sequence packing: lay documents end-to-end into fixed-size training
sequences (the concatenate-then-chunk strategy LLM pretraining loaders
use). Each doc gets the pack it *starts* in plus its token offset
there; docs longer than the remaining space straddle into the next
pack(s) — chunking, not bin-packing, so no doc is reordered or dropped
and the layout is a pure function of (ordering key, token counts).

Expressed as one running-sum window per pack group:

    offset      = sum(ntok) over rows before this doc
    pack_id     = offset div pack_len
    offset_in_pack = offset mod pack_len

Scale shape: a global ORDER BY would funnel 100 TB through one
partition, so packing is grouped (default: per source) — one window
sort per group, partition-parallel across groups, matching how corpus
shards are packed independently in practice. Everything is built-in
exprs inside whole-stage codegen; determinism comes from ordering by
the unique doc id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.operators.text import token_count, tokens


def pack_sequences(
    docs: DataFrame,
    pack_len: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Assign every doc its pack id and offset within ``group_col``.

    Output: group, id, n_tokens, pack_id, offset_in_pack (+ n_packs
    the doc spans — >1 when it straddles pack boundaries).
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    ntok = token_count(text_col)
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    # `div` (integer division), not `/`: cumulative offsets are longs
    # and double division would round above 2^53.
    return (
        docs.select(group_col, id_col, ntok.cast("long").alias("n_tokens"))
        .withColumn("__start", start)
        .withColumn("__last", F.col("__start") + F.greatest("n_tokens", F.lit(1)) - 1)
        .select(
            group_col,
            id_col,
            "n_tokens",
            F.expr(f"__start div {pack_len}").alias("pack_id"),
            (F.col("__start") % pack_len).alias("offset_in_pack"),
            (
                F.expr(f"__last div {pack_len}") - F.expr(f"__start div {pack_len}") + 1
            ).cast("int").alias("n_packs"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_len: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-token-count chunks with optional
    overlap — the per-document context-window strategy (vs
    pack_sequences' concatenate-then-chunk): chunk c covers tokens
    [c*(chunk_len-overlap), ...+chunk_len), the last chunk may be
    short, and a document shorter than chunk_len yields exactly one
    chunk. Output (id, chunk_id, chunk_start, chunk_tokens, chunk_text)
    where chunk_text re-joins the covered word tokens.

    Scale shape: tokenization happens ONCE per doc, chunk ids explode
    from a sequence expression, and each chunk slices the token array —
    scan-local projections + one generator, no shuffle at all (the
    plan has no Exchange). The stride guard (overlap < chunk_len) keeps
    the chunk count finite."""
    if not 0 <= overlap < chunk_len:
        raise ValueError("require 0 <= overlap < chunk_len")
    stride = chunk_len - overlap
    toks = tokens(F.col(text_col))
    ntok = F.size("__toks")
    # number of chunks: 1 + ceil(max(ntok - chunk_len, 0) / stride)
    extra = F.greatest(ntok - F.lit(chunk_len), F.lit(0))
    nchunks = F.lit(1) + F.ceil(extra / F.lit(stride)).cast("int")
    start = F.col("chunk_id") * stride
    return (
        docs.select(F.col(id_col), toks.alias("__toks"))
        .withColumn("chunk_id", F.explode(F.sequence(F.lit(0), nchunks - 1)))
        .select(
            id_col,
            "chunk_id",
            start.cast("long").alias("chunk_start"),
            F.least(ntok - start, F.lit(chunk_len)).cast("long").alias("chunk_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("__toks"), start + 1, F.lit(chunk_len))
            ).alias("chunk_text"),
        )
    )


def length_buckets(
    docs: DataFrame,
    n_buckets: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-bucketed batching planner: ntile buckets over per-doc
    token counts, with the padding waste a loader pays if it batches
    each bucket to the bucket max versus batching everything to the
    global max. Bucketing by length before batching is the standard
    pad-efficiency move for variable-length training; this query is
    the evidence for choosing the bucket count.

    Per bucket: n_docs, min/max/sum tokens, ``pad_waste``
    (1 - sum/(n*max), the padded-token fraction inside the bucket) and
    ``global_waste`` (same docs padded to the corpus max — the cost of
    NOT bucketing).

    Scale: ntile needs a total order, but over (n_tokens, id) pairs
    ONLY — two longs per doc, never the text; at 100 TB swap the exact
    ntile for approx_percentile cutpoints (scan-local bucket via one
    broadcast of n_buckets-1 cutoffs) — same downstream aggregate; the
    exact form is kept because the oracle can replay it."""
    t = docs.select(
        F.col(id_col), token_count(F.col(text_col)).cast("long").alias("n_tokens")
    )
    w = Window.orderBy("n_tokens", id_col)
    b = t.withColumn("bucket", F.ntile(n_buckets).over(w).cast("int"))
    return _bucket_waste(b)


def _bucket_waste(b: DataFrame) -> DataFrame:
    """Shared downstream aggregate of the bucketing planners: from
    (.., n_tokens, bucket) rows to per-bucket
    (n_docs, min/max/sum tokens, pad_waste, global_waste)."""
    gmax = b.groupBy().agg(F.max("n_tokens").alias("gmax"))
    per = b.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("sum_tokens"),
    )
    per = per.crossJoin(F.broadcast(gmax))
    n, mx, s = F.col("n_docs"), F.col("max_tokens"), F.col("sum_tokens")
    return per.select(
        "bucket",
        "n_docs",
        "min_tokens",
        "max_tokens",
        "sum_tokens",
        (F.lit(1.0) - s.cast("double") / (n * mx).cast("double")).alias("pad_waste"),
        (F.lit(1.0) - s.cast("double") / (n * F.col("gmax")).cast("double")).alias(
            "global_waste"
        ),
    )


def length_buckets_approx(
    docs: DataFrame,
    n_buckets: int = 8,
    accuracy: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The 100 TB hatch documented on ``length_buckets``: replace
    ntile's global (n_tokens, id) pair sort with
    ``percentile_approx`` cutpoints — ONE aggregate produces the
    n_buckets-1 boundary values, which ride a 1-row broadcast into a
    scan-local bucket projection (``bucket = 1 + #cutpoints strictly
    below n_tokens``). No global sort, no pair shuffle: the only
    exchange left is the per-bucket summary aggregate.

    LABELED NON-PARITY with the exact form: ntile splits TIED lengths
    across adjacent buckets to equalize counts; a value-cutpoint
    bucketing necessarily keeps equal lengths together, so per-bucket
    counts differ wherever ties straddle a boundary (and GK-sketch
    cutpoints are approximate at scale, exact here because corpus <<
    accuracy). tests/test_packing.py pins what IS shared: identical
    bucket ids and global totals, value-contiguous buckets, and each
    non-final bucket's max equal to its percentile cutpoint."""
    t = docs.select(
        F.col(id_col), token_count(F.col(text_col)).cast("long").alias("n_tokens")
    )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = t.groupBy().agg(
        F.percentile_approx("n_tokens", probs, accuracy).alias("cuts")
    )
    b = t.crossJoin(F.broadcast(cuts)).select(
        id_col,
        "n_tokens",
        (
            F.lit(1)
            + F.aggregate(
                F.col("cuts"),
                F.lit(0),
                lambda acc, c: acc + F.when(F.col("n_tokens") > c, 1).otherwise(0),
            )
        )
        .cast("int")
        .alias("bucket"),
    )
    return _bucket_waste(b)
