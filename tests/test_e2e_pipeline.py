"""Capstone integration: the full pretraining-data build — raw corpus
→ curation verdicts → kept docs packed into training sequences →
hive-partitioned shard layout → read back pruned. Every stage is an
operator tested elsewhere; this pins that they COMPOSE."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.operators.curation import curation_pipeline
from mapreduce_kmeans_clustering_spark.operators.packing import pack_sequences
from mapreduce_kmeans_clustering_spark.sinks.partitioned import upsert_partitions

SF = "/root/testdata/sf0.001"


def test_corpus_to_training_shards(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()

    verdicts = curation_pipeline(
        docs, F.col("doc_id") % 50 == 0, quality_min=0.35, domain_cap=15
    )
    # every doc got exactly one verdict
    assert verdicts.count() == n_docs
    assert verdicts.select("doc_id").distinct().count() == n_docs

    keeps = verdicts.where(F.col("verdict") == "keep")
    n_keep = keeps.count()
    assert 0 < n_keep < n_docs  # the gates actually fired

    kept_docs = docs.join(keeps.select("doc_id", "split", "shard"), "doc_id")
    packed = pack_sequences(kept_docs, pack_len=128, group_col="split")
    # packing covers every kept doc exactly once
    assert packed.count() == n_keep
    # offsets stay inside the pack
    bad = packed.where(
        (F.col("offset_in_pack") < 0) | (F.col("offset_in_pack") >= 128)
    )
    assert bad.count() == 0

    out = str(tmp_path / "shards")
    final = kept_docs.join(
        packed.select("doc_id", "pack_id", "offset_in_pack"), "doc_id"
    )
    upsert_partitions(final, out, ["split", "shard"])

    # layout: one directory per (split, shard); pruned read sees one split
    assert glob.glob(f"{out}/split=*/shard=*/*.parquet")
    back = spark.read.parquet(out)
    assert back.count() == n_keep
    train = back.where("split = 'train'")
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert train.count() == keeps.where("split = 'train'").count()
