"""Documents-relation sources: the ingest formats a training-data
pipeline actually receives — JSONL (one JSON object per line), ORC
and CSV — all landing on the canonical schemas.DOCUMENTS shape so every
text/dedup operator runs unchanged on any of them.

Scale notes: json/csv readers are scan-local and splittable by line;
explicit schemas keep Catalyst from running an inference pass over the
data (which at 100 TB would be a full extra scan). Malformed-line
policy is explicit per reader, mirroring the engine's points/seeds
split (FAILFAST for data, tolerant for side files, SURVEY §1.2):
JSONL defaults to PERMISSIVE with a _corrupt_record column so bad rows
are quarantined, not silently dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_kmeans_clustering_spark import schemas

CORRUPT_COL = "_corrupt_record"


def read_documents_jsonl(
    spark: SparkSession, path: str, mode: str = "PERMISSIVE"
) -> DataFrame:
    """JSON-lines documents reader: a line-splittable text scan + a
    from_json projection (scan-local, no inference pass; Spark's
    internal _corrupt_record column is deliberately avoided because it
    cannot be queried without caching the raw parse).

    mode:
    - "PERMISSIVE" (default): malformed lines get null fields and keep
      their raw text in _corrupt_record — inspect with
      ``corrupt_documents``, strip with ``clean_documents``;
    - "DROPMALFORMED": malformed lines vanish;
    - "FAILFAST": raise on the first malformed line.
    Well-formed rows are identical across modes.
    """
    lines = spark.read.text(path)
    doc_cols = [f.name for f in schemas.DOCUMENTS.fields]
    schema = T.StructType(
        schemas.DOCUMENTS.fields + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    # from_json supports only PERMISSIVE and FAILFAST; DROPMALFORMED is
    # PERMISSIVE + a filter on the quarantine column.
    parse_mode = "FAILFAST" if mode == "FAILFAST" else "PERMISSIVE"
    opts = {"mode": parse_mode, "columnNameOfCorruptRecord": CORRUPT_COL}
    parsed = lines.select(F.from_json("value", schema, opts).alias("j"))
    if mode == "DROPMALFORMED":
        return parsed.where(F.col(f"j.{CORRUPT_COL}").isNull()).select(
            *[f"j.{c}" for c in doc_cols]
        )
    if mode == "FAILFAST":
        return parsed.select(*[f"j.{c}" for c in doc_cols])
    return parsed.select("j.*")


def corrupt_documents(docs: DataFrame) -> DataFrame:
    """The quarantined malformed lines of a PERMISSIVE jsonl read."""
    if CORRUPT_COL not in docs.columns:
        raise ValueError("corrupt_documents needs a PERMISSIVE jsonl read")
    return docs.where(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)


def clean_documents(docs: DataFrame) -> DataFrame:
    """Well-formed rows of a PERMISSIVE jsonl read, on the canonical
    schema (corrupt column stripped)."""
    if CORRUPT_COL in docs.columns:
        docs = docs.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    return docs


def read_documents_csv(spark: SparkSession, path: str) -> DataFrame:
    """Headered CSV on the canonical schema (tolerates quoted newlines
    via multiLine=false default — training dumps should prefer JSONL)."""
    return (
        spark.read.schema(schemas.DOCUMENTS)
        .option("header", "true")
        .option("escape", '"')
        .csv(path)
    )


def read_documents_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC documents reader — Spark-native columnar alternative to
    parquet (predicate pushdown / column pruning work identically;
    useful when the upstream lake standardized on ORC)."""
    return spark.read.schema(schemas.DOCUMENTS).orc(path)


def write_documents_orc(docs: DataFrame, path: str) -> None:
    """ORC writer for the canonical documents shape."""
    docs.select(*[f.name for f in schemas.DOCUMENTS.fields]).write.mode(
        "overwrite"
    ).orc(path)


def write_documents_jsonl_sharded(
    docs: DataFrame,
    path: str,
    split_col: str = "split",
    shard_col: str = "shard",
) -> None:
    """The training-handoff sink: documents as JSON-lines text files
    hive-partitioned by (split, shard) — the layout a downstream
    tokenizer/loader consumes (one directory per split, one file set
    per shard, one JSON object per line; round-trips through
    read_documents_jsonl).

    Scale shape: ``to_json`` is a codegen projection; repartition on
    the partition columns keeps it to ONE file per (split, shard)
    (without it every input partition opens a writer per pair —
    thousands of small files at 100 TB, the classic small-files
    failure). Writer-side shuffle is the only exchange.
    """
    doc_cols = [f.name for f in schemas.DOCUMENTS.fields]
    (
        docs.repartition(F.col(split_col), F.col(shard_col))
        .select(
            F.to_json(F.struct(*doc_cols)).alias("value"),
            F.col(split_col),
            F.col(shard_col),
        )
        .write.mode("overwrite")
        .partitionBy(split_col, shard_col)
        .text(path)
    )
