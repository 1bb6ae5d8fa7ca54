"""What every family module shares: the ``query`` decorator and the
registry it fills, the scan helpers with their split policy, and the
SQL fragments that more than one family's oracles use.

Determinism notes (the package docstring has the full rules): md5 as
the portable hash family, identical arithmetic shapes both sides,
rounding on aggregates, ranks computed over pre-rounded measures.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.memo import memo
from mapreduce_kmeans_clustering_spark.operators import text as TX

# Every registered query, in declaration order (family-module import
# order, see the package __init__); filled by ``query``.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def query(oracle: str):
    """Register the decorated ``(spark, sf_dir) -> DataFrame`` function
    under its own name, with ``oracle`` — the DuckDB SQL that must return
    the same rows — kept as ``fn.oracle``. A name registers once."""

    def register(fn):
        if fn.__name__ in QUERIES:
            raise ValueError(f"query {fn.__name__!r} is already registered")
        fn.oracle = oracle
        QUERIES[fn.__name__] = fn
        return fn

    return register


JACCARD_THRESHOLD = 0.2


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
# Arrow operators (kmeans_nd, PCA, PQ), where each task
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


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "embeddings")


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
