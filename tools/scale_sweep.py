"""sf0.1 → sf1.0 scaling sweep (SCALE.md §8): measure wall-time
scaling EXPONENTS for the headline heavy operators instead of arguing
plan shapes — ``t ~ n^e`` with ``e = log10(t_sf1 / t_sf0.1)`` over a
10× row-count step.

The driver ships no sf1.0 directory, so this harness synthesizes one
under /tmp from 10 PERTURBED replicas of the sf0.1 tables. Replication
is designed so the workload's combinatorics scale the way a true 10×
corpus would, never degenerately:

* documents — per-replica token suffix (``regexp_replace(text, ' ',
  '<i> ')``) changes every shingle, so replicas are NOT near-dups of
  each other: dup-pair counts scale with corpus structure, not with
  the 45 artificial cross-replica pairs per doc a verbatim copy would
  plant.
* embeddings — replica i rotates each vector by i positions (norm-
  and distribution-preserving, decorrelates the copies) so LSH/IVF
  bucket occupancies grow ~10×, not 10-deep identical stacks.
* events — user_id/event_id offset per replica (distinct-user count
  really grows 10×, the HLL's whole workload), ts shifted i seconds.
* lineitem — all three keys offset per replica: the TPC-H scaling
  model itself (orders AND parts grow with SF; per-part degree stays
  constant, so triangle work scales like real SF growth).

Timing: min of 2 runs per (query, sf) after a JVM warm-up — the same
steady-state protocol as bench.py. Output: one JSON line per query
plus a markdown table ready for SCALE.md.

Run:  python tools/scale_sweep.py [--replicas 10]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
DST = "/tmp/sweep_sf1"
BIG = 10_000_000
DIMS = ["region", "nation", "customer", "supplier", "part", "orders"]

SWEEP_QUERIES = [
    "q_ann_topk",
    "q_ann_lsh",
    "q_ann_ivfpq",
    "q_dedup_passages",
    "q_dedup_jaccard",
    "q_bm25_search",
    "q_copurchase_triangles",
    "q_hll_distinct",
    # round-8 additions (VERDICT r7 item 3): the next-heaviest
    # unswept families
    "q_linkage_scores",
    "q_minhash_accuracy",
    "q_pq_adc",
    "q_semantic_decontam",
    "q_kcenter_seeds",
    # round-9 additions (VERDICT r8 items 3+5): the remaining unswept
    # quality-curation heavies, plus the auto-planes defaults of the
    # other two hyperplane-bucket family members — the decontam cliff
    # measurement, mirrored (the operator now sizes planes from the
    # corpus when planes=None; these rows confirm that default is
    # sub-linear, not just the decontam-specific variant)
    "q_quality_auc",
    "q_quality_calibration",
    "q_contamination_sources",
    "q_dedup_embed_auto_planes",
    "q_hard_negatives_auto_planes",
    # round-9 continuation: the next-heaviest registered keys still
    # without a measured row (BENCH_DETAIL_r08 ordering)
    "q_basket_rules",
    "q_basket_triples",
    "q_minhash_pr",
    "q_dedup_semantic",
    "q_dedup_semantic_auto_k",
    "q_dedup_pipeline",
    "q_dedup_index_delta",
    "q_knn_graph_auto_planes",
    "q_embed_cov",
    "q_approx_distinct",
    "q_conversion_isotonic",
    # the flagship itself: convergent 3-D Lloyd over the
    # lineitem-derived points relation, full build (scan + derive +
    # iterate-to-convergence + label)
    "fit_converge_kmeans",
    "q_curation_pipeline",
    "q_bpe_train",
    # round-11 additions (VERDICT r10 item 7 + the new registrations):
    # the remaining registered keys without a measured row, plus the
    # URL/domain family and the multi-benchmark sweep
    "q_pq_encode",
    "q_snapshot_diff",
    "q_survival_logrank",
    "q_url_dedup",
    "q_domain_quality_caps",
    "q_domain_stats",
    "q_multi_bench_decontam",
    "q_web_curation",
    # round-11 continuation: span-level contamination audit +
    # cross-source duplicate flow
    "q_decontam_spans",
    "q_dedup_source_flow",
    "q_decontam_scrub",
    # round-11 continuation: boilerplate removal, DSIR selection,
    # distinct-n diversity
    "q_boilerplate_audit",
    "q_boilerplate_scrub",
    "q_dsir_weights",
    "q_ngram_diversity",
    "q_dsir_select",
    # round-11 continuation: the last two >2.9s keys without a row
    # (swept round 12 — e = 0.30/0.44 and 0.20/0.48 at ×10/×100)
    "q_source_quality_drift",
    "q_profile_lineitem",
    # round-12 registrations: the full web-corpus curation DAG and
    # the token-budget mixture table
    "q_web_pipeline",
    "q_mix_epochs",
    "q_dedup_bloom",
    "q_bpe_fertility",
    "q_url_blocklist",
    "q_bloom_fill",
    # round-12 continuation: cross-document repeated-passage removal
    # + the split-leakage audit
    "q_passage_scrub",
    "q_split_leakage",
    "q_cluster_mix",
    "q_lsh_occupancy",
    "q_passage_hotlist",
    # round-12 continuation: the remaining >1.8s keys without a row
    "q_bpe_encode",
    "q_retrieval_metrics",
    "q_dedup_minhash",
    "q_lineitem_expectations",
    "q_embed_quantize",
    "q_sole_return_supplier",
]


QUERY_TABLES = {
    "q_ann_topk": {"embeddings"},
    "q_ann_lsh": {"embeddings"},
    "q_ann_ivfpq": {"embeddings"},
    "q_dedup_passages": {"documents"},
    "q_dedup_jaccard": {"documents"},
    "q_bm25_search": {"documents"},
    "q_copurchase_triangles": {"lineitem"},
    "q_hll_distinct": {"events"},
    "q_linkage_scores": {"customer"},
    "q_minhash_accuracy": {"documents"},
    "q_pq_adc": {"embeddings"},
    "q_semantic_decontam": {"embeddings"},
    "q_semantic_decontam_scaled_planes": {"embeddings"},
    "q_kcenter_seeds": {"embeddings"},
    "q_dup_fraction": {"documents"},
    "q_quality_ensemble": {"documents"},
    "q_linkage_entities": {"customer"},
    "q_dedup_keep_best": {"documents"},
    "q_quality_auc": {"documents"},
    "q_quality_calibration": {"documents"},
    "q_contamination_sources": {"documents"},
    "q_dedup_embed_auto_planes": {"embeddings"},
    "q_hard_negatives_auto_planes": {"embeddings"},
    "q_basket_rules": {"lineitem"},
    "q_basket_triples": {"lineitem"},
    "q_minhash_pr": {"documents"},
    "q_dedup_semantic": {"embeddings"},
    "q_dedup_semantic_auto_k": {"embeddings"},
    "q_dedup_pipeline": {"documents"},
    "q_dedup_index_delta": {"documents"},
    "q_knn_graph_auto_planes": {"embeddings"},
    "q_embed_cov": {"embeddings"},
    "q_approx_distinct": {"lineitem"},
    "q_conversion_isotonic": {"events"},
    "fit_converge_kmeans": {"lineitem"},
    "q_curation_pipeline": {"documents"},
    "q_bpe_train": {"documents"},
    "q_pq_encode": {"embeddings"},
    "q_snapshot_diff": {"orders"},
    "q_survival_logrank": {"orders", "customer"},
    "q_url_dedup": {"documents"},
    "q_domain_quality_caps": {"documents"},
    "q_domain_stats": {"documents"},
    "q_multi_bench_decontam": {"embeddings"},
    "q_web_curation": {"documents"},
    "q_decontam_spans": {"documents"},
    "q_dedup_source_flow": {"documents"},
    "q_decontam_scrub": {"documents"},
    "q_boilerplate_audit": {"documents"},
    "q_boilerplate_scrub": {"documents"},
    "q_dsir_weights": {"documents"},
    "q_ngram_diversity": {"documents"},
    "q_dsir_select": {"documents"},
    "q_source_quality_drift": {"documents"},
    "q_profile_lineitem": {"lineitem"},
    "q_web_pipeline": {"documents"},
    "q_mix_epochs": {"documents"},
    "q_dedup_bloom": {"documents"},
    "q_bpe_fertility": {"documents"},
    "q_url_blocklist": {"documents"},
    "q_bloom_fill": {"documents"},
    "q_passage_scrub": {"documents"},
    "q_split_leakage": {"documents"},
    "q_cluster_mix": {"documents", "embeddings"},
    "q_lsh_occupancy": {"documents"},
    "q_passage_hotlist": {"documents"},
    "q_bpe_encode": {"documents"},
    "q_retrieval_metrics": {"documents"},
    "q_dedup_minhash": {"documents"},
    "q_lineitem_expectations": {"lineitem"},
    "q_embed_quantize": {"embeddings"},
    "q_sole_return_supplier": {"lineitem"},

}


def build_sf1(spark, replicas: int, tables: set[str]) -> None:
    from pyspark.sql import functions as F

    if os.path.isdir(DST):
        shutil.rmtree(DST)
    os.makedirs(DST)
    for t in DIMS:
        if t not in tables:
            os.symlink(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    # replicate only what the targeted queries read — a 100x lineitem
    # build for an embeddings-only sweep just fragments the heap and
    # perturbs the measurements
    for t in {"documents", "embeddings", "events", "lineitem"} - tables:
        os.symlink(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")

    if "customer" in tables:
        # TPC-H's own growth model for customers: interleaved keys
        # (k*replicas + i) keep the key range CONTIGUOUS, and c_name
        # is re-derived from the new key exactly as dbgen derives it
        # ("Customer#%09d"), so the ed<=1 name-pair density scales the
        # way a real 10x customer table's would. A same-name replica
        # stack would instead plant C(replicas,2) cross-copy matches
        # per customer — quadratic in replicas, the degenerate shape
        # this builder exists to avoid.
        cust = spark.read.parquet(f"{SRC}/customer.parquet")
        parts = []
        for i in range(replicas):
            key = F.col("c_custkey") * replicas + i
            parts.append(
                cust.select(
                    key.alias("c_custkey"),
                    F.format_string("Customer#%09d", key).alias("c_name"),
                    *[
                        c
                        for c in cust.columns
                        if c not in ("c_custkey", "c_name")
                    ],
                )
            )
        _union(parts).write.mode("overwrite").parquet(
            f"{DST}/customer.parquet"
        )

    if "documents" in tables:
        docs = spark.read.parquet(f"{SRC}/documents.parquet")
        parts = []
        for i in range(replicas):
            txt = (
                F.col("text")
                if i == 0
                else F.regexp_replace("text", " ", f"{i} ")
            )
            parts.append(
                docs.select(
                    (F.col("doc_id") + F.lit(i * BIG)).alias("doc_id"),
                    txt.alias("text"),
                    "lang",
                    "source",
                    F.length(txt).cast("long").alias("n_chars"),
                )
            )
        _union(parts).write.mode("overwrite").parquet(
            f"{DST}/documents.parquet"
        )

    if "embeddings" in tables:
        emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
        parts = []
        for i in range(replicas):
            r = i % 64  # rotation wraps past the 64-dim vector length
            vec = (
                F.col("embedding")
                if r == 0
                else F.concat(
                    F.slice("embedding", r + 1, 64 - r),
                    F.slice("embedding", 1, r),
                )
            )
            parts.append(
                emb.select(
                    (F.col("vec_id") + F.lit(i * BIG)).alias("vec_id"),
                    vec.alias("embedding"),
                    "label",
                )
            )
        _union(parts).write.mode("overwrite").parquet(
            f"{DST}/embeddings.parquet"
        )

    if "orders" in tables:
        # TPC-H's own growth model, FK-consistent with the customer
        # rule: interleaved o_orderkey (k*replicas + i) keeps the key
        # range contiguous, and o_custkey interleaves the SAME way, so
        # replica-i orders attach to replica-i customers — per-customer
        # order counts (the survival-analysis workload shape) stay
        # constant while both tables grow ×replicas. Dates unchanged:
        # the churn/snapshot distributions are preserved per replica.
        orders = spark.read.parquet(f"{SRC}/orders.parquet")
        parts = []
        for i in range(replicas):
            parts.append(
                orders.select(
                    (F.col("o_orderkey") * replicas + i).alias(
                        "o_orderkey"
                    ),
                    (F.col("o_custkey") * replicas + i).alias("o_custkey"),
                    *[
                        c
                        for c in orders.columns
                        if c not in ("o_orderkey", "o_custkey")
                    ],
                )
            )
        _union(parts).write.mode("overwrite").parquet(
            f"{DST}/orders.parquet"
        )

    if "events" in tables:
        ev = spark.read.parquet(f"{SRC}/events.parquet")
        parts = []
        for i in range(replicas):
            parts.append(
                ev.select(
                    (F.col("event_id") + F.lit(i * BIG)).alias("event_id"),
                    (F.col("ts") + F.expr(f"INTERVAL {i} SECOND")).alias(
                        "ts"
                    ),
                    (F.col("user_id") + F.lit(i * BIG)).alias("user_id"),
                    "event_type",
                    "value",
                    "props",
                )
            )
        _union(parts).write.mode("overwrite").parquet(
            f"{DST}/events.parquet"
        )

    if "lineitem" in tables:
        li = spark.read.parquet(f"{SRC}/lineitem.parquet")
        parts = []
        for i in range(replicas):
            parts.append(
                li.select(
                    (F.col("l_orderkey") + F.lit(i * BIG)).alias(
                        "l_orderkey"
                    ),
                    (F.col("l_partkey") + F.lit(i * BIG)).alias(
                        "l_partkey"
                    ),
                    (F.col("l_suppkey") + F.lit(i * BIG)).alias(
                        "l_suppkey"
                    ),
                    "l_linenumber",
                    "l_quantity",
                    "l_extendedprice",
                    "l_discount",
                    "l_tax",
                    "l_returnflag",
                    "l_linestatus",
                    "l_shipdate",
                )
            )
        _union(parts).write.mode("overwrite").parquet(
            f"{DST}/lineitem.parquet"
        )


def _union(dfs):
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _semantic_decontam_planed(planes: int):
    """q_semantic_decontam with the LSH plane count as the SCALE
    LEVER the operator documents: fixed planes mean fixed bucket
    count, so per-bucket occupancy grows linearly with the corpus and
    candidate pairs grow QUADRATICALLY — the one genuine super-linear
    cliff this sweep found (236M pairs at x100 under the registered
    query's 4 planes / 16 buckets). Scaling planes with log2(corpus)
    holds occupancy – and therefore pair count per row – constant.
    The registered query keeps planes fixed for oracle continuity;
    this variant exists to MEASURE the documented mitigation."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators import curation as CU
    from mapreduce_kmeans_clustering_spark.queries_pipeline import (
        SEM_DECON_THRESHOLD,
    )

    def run(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = CU.semantic_decontam(
            emb.where(F.col("vec_id") % 10 != 0),
            emb.where(F.col("vec_id") % 10 == 0),
            threshold=SEM_DECON_THRESHOLD,
            planes=planes,
        )
        return out.select(
            "train_id", "bench_id", F.round("cos", 6).alias("cos"), "n_matches"
        )

    return run


def _embed_near_dup_auto():
    """embedding_near_dup_pairs with planes=None — the SHIPPED
    corpus-aware default (similarity.auto_planes). This row measures
    what a caller who keeps the default actually gets at ×10/×100;
    since round 12 the registered q_dedup_embed resolves planes the
    same way (the fixed planes=8 pin is retired), so this row IS the
    registered key's scale evidence."""
    from mapreduce_kmeans_clustering_spark.operators import dedup as D
    from mapreduce_kmeans_clustering_spark.queries_pipeline import (
        EMBED_DUP_THRESHOLD,
    )

    def run(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return D.embedding_near_dup_pairs(
            emb, threshold=EMBED_DUP_THRESHOLD
        )

    return run


def _fit_converge():
    """Convergent K-Means fit over the lineitem-derived points — the
    reference workload itself at ×10/×100. time_query clears the memos
    so each timed run pays the FULL build (scan + derive + persist +
    iterate + label), the number a cluster operator actually
    budgets."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark import queries as Q
    from mapreduce_kmeans_clustering_spark.plans.kmeans import fit, label

    def run(spark, sf_dir):
        pts = Q.scale_points(spark, sf_dir)
        res = fit(pts, Q.scale_seeds(spark, sf_dir), max_iter=30, threshold=5.0)
        return label(pts, res.centroids).groupBy("cluster").agg(
            F.count("*").alias("n")
        )

    return run


def _knn_graph_auto():
    """knn_graph with planes=None — the shipped corpus-aware default;
    the all-vectors in-bucket self-join is the third fixed-blocking
    cliff member, so this row measures the default's exponent. The
    registered q_knn_graph pins planes=8 for oracle continuity."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators import (
        similarity as SIM,
    )
    from mapreduce_kmeans_clustering_spark.queries_pipeline import KNN_K

    def run(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        return SIM.knn_graph(emb, k=KNN_K)

    return run


def _semantic_dedup_auto_k():
    """semantic_dedup with k=None — the shipped corpus-aware default
    (suggested_semantic_k ~ sqrt(n)). The registered q_dedup_semantic
    pins k=8 for oracle continuity, and at fixed k the in-cluster
    pair space is quadratic (measured e = 1.10 at ×10 — the same
    cliff family as fixed LSH planes); this row measures the
    default."""
    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators import dedup as D
    from mapreduce_kmeans_clustering_spark.queries_pipeline import (
        SEMDEDUP_THRESHOLD,
    )

    def run(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        return D.semantic_dedup(emb, threshold=SEMDEDUP_THRESHOLD)

    return run


def _hard_negatives_auto():
    """hard_negatives with planes=None — the shipped corpus-aware
    default; the registered q_hard_negatives pins planes=LSH_PLANES
    for oracle continuity."""
    from mapreduce_kmeans_clustering_spark.operators import (
        similarity as SIM,
    )
    from mapreduce_kmeans_clustering_spark.queries_pipeline import (
        ANN_QUERY_IDS,
        HARDNEG_K,
    )

    def run(spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return SIM.hard_negatives(emb, ANN_QUERY_IDS, k=HARDNEG_K)

    return run


def time_query(fn, spark, sf_dir: str) -> float:
    from mapreduce_kmeans_clustering_spark.memo import clear_memos

    best = float("inf")
    for run in range(2):
        # min-of-2 is noise control AND first-run-cost control: the
        # big-scale run often recompiles (AQE picks a different final
        # plan at 100x input, re-triggering codegen + broadcast
        # builds), so even a >60 s first reading can be mostly
        # one-time cost — q_dsir_select measured 177 s cold vs 17.5 s
        # steady at x100 under the old >60s single-run rule. Only a
        # genuinely huge first run (>300 s) skips the repeat.
        if run and best > 300:
            break
        # the derived-relation memos would otherwise make run 2 — and
        # every later scale — probe-only; release them so each timed
        # run pays the full build+probe cost at its own scale
        clear_memos()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def index_delta_sweep(spark, scales=(1, 10, 100)) -> None:
    """Measure the O(delta) claim of incremental_minhash_dedup
    (VERDICT r9 item 3): FIXED sf0.1 delta (doc_id % 5 == 0, 1000
    docs), index side grown ×1/×10/×100 from perturbed replicas of
    the sf0.1 remainder, with the band table PRE-BUILT and stored as
    parquet (the at-ingest artifact the operator's contract assumes).
    The timed run is the daily cost: read stored band index + delta
    shingle/band + equi-join + candidate-only verification. The
    exponent is in INDEX size at constant delta — the operator claim
    is that it stays scan-bound (well under e=1), since the only
    index-proportional terms are the band-table read and the
    verification semi-join's corpus scan."""
    import math

    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        incremental_minhash_dedup,
        lsh_bands,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    delta = docs.where(F.col("doc_id") % 5 == 0)
    base = docs.where(F.col("doc_id") % 5 != 0)
    root = "/tmp/sweep_index_delta"
    if os.path.isdir(root):
        shutil.rmtree(root)
    rows = []
    for s in scales:
        # replica 0 is the verbatim sf0.1 index (the delta's true
        # near-dup structure is identical at every scale); further
        # replicas perturb every shingle (build_sf1's documents rule)
        # so corpus mass grows without planting cross-scale matches
        parts = []
        for i in range(s):
            txt = (
                F.col("text")
                if i == 0
                else F.regexp_replace("text", " ", f"{i} ")
            )
            parts.append(
                base.select(
                    (F.col("doc_id") + F.lit(i * BIG)).alias("doc_id"),
                    txt.alias("text"),
                    "lang",
                    "source",
                    F.length(txt).cast("long").alias("n_chars"),
                )
            )
        idx_path = f"{root}/x{s}/index_docs.parquet"
        band_path = f"{root}/x{s}/band_index.parquet"
        _union(parts).write.parquet(idx_path)
        index_docs = spark.read.parquet(idx_path)
        lsh_bands(minhash_signatures(index_docs)).write.parquet(band_path)

        def run(spark_, _sf_dir):
            return incremental_minhash_dedup(
                delta,
                spark.read.parquet(idx_path),
                index_band_table=spark.read.parquet(band_path),
            )

        t = time_query(run, spark, SRC)
        rows.append({"index_scale": s, "t_sec": t})
        print(json.dumps(rows[-1]), flush=True)
    e = math.log10(
        max(rows[-1]["t_sec"], 1e-3) / max(rows[0]["t_sec"], 1e-3)
    ) / math.log10(scales[-1] / scales[0])
    print(
        json.dumps(
            {
                "sweep": "index_delta_fixed_delta",
                "delta_docs": delta.count(),
                "rows": rows,
                "exponent_in_index_size": round(e, 2),
            }
        ),
        flush=True,
    )


def ivf_extend_sweep(spark, scales=(1, 10, 100)) -> None:
    """Measure the O(batch) claim of similarity.ivf_extend_index
    (round 11): FIXED 500-vector delta, stored index grown x1/x10/x100
    from rotated replicas of the sf0.1 embeddings (build_sf1's
    norm-preserving rule), timing ONLY the extension call. The only
    index-proportional inputs the extension reads are the <= nlist
    _centroids rows, so the exponent in index size should be ~0 —
    append files never rewrite existing ones."""
    import math

    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        ivf_extend_index,
        ivf_write_index,
    )

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    delta = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + BIG * 1000).alias("vec_id"), "embedding"
    ).localCheckpoint(eager=True)
    root = "/tmp/sweep_ivf_extend"
    if os.path.isdir(root):
        shutil.rmtree(root)
    rows = []
    for s in scales:
        parts = []
        for i in range(s):
            # rotate each replica's vectors by i positions (the
            # build_sf1 embeddings rule: norm- and distribution-
            # preserving, decorrelates copies)
            v = F.col("embedding")
            if i:
                rot = F.concat(
                    F.slice(v, i % 64 + 1, 64 - i % 64), F.slice(v, 1, i % 64)
                )
                v = rot
            parts.append(
                emb.select(
                    (F.col("vec_id") + F.lit(i * BIG)).alias("vec_id"),
                    v.alias("embedding"),
                )
            )
        path = f"{root}/x{s}/idx"
        ivf_write_index(_union(parts), path, nlist=16)

        # time the extension directly (it performs its own write).
        # Each timed run extends a FRESH COPY of the stored index —
        # extending the same path twice appended the delta a second
        # time, so run 2 measured an already-extended index with
        # duplicate vec_ids (ADVICE r11). The copy is not timed.
        best = float("inf")
        for r in range(2):
            run_path = f"{root}/x{s}/run{r}"
            shutil.copytree(path, run_path)
            t0 = time.perf_counter()
            ivf_extend_index(spark, run_path, delta)
            best = min(best, time.perf_counter() - t0)
            shutil.rmtree(run_path)
        rows.append({"index_scale": s, "t_sec": round(best, 3)})
        print(json.dumps(rows[-1]), flush=True)
    e = math.log10(
        max(rows[-1]["t_sec"], 1e-3) / max(rows[0]["t_sec"], 1e-3)
    ) / math.log10(scales[-1] / scales[0])
    print(
        json.dumps(
            {
                "sweep": "ivf_extend_fixed_batch",
                "batch_vectors": delta.count(),
                "rows": rows,
                "exponent_in_index_size": round(e, 2),
            }
        ),
        flush=True,
    )


def bloom_extend_sweep(spark, scales=(1, 10, 100)) -> None:
    """Measure the O(batch) claim of dedup.extend_bloom_filter
    (round 12): FIXED 500-doc batch folded into a stored Bloom filter
    built from x1/x10/x100 perturbed replicas of the sf0.1 documents
    (auto-sized m grows with the corpus, so the filter table grows
    too), timing the fold's full materialization. The fold reads the
    stored (word, bits) table once and the batch once; the exponent
    in FILTER size should stay well under 1 (the filter table is
    ~bits_per_key x corpus / 63 rows but the fold is one hash
    aggregate over it, scan-bound)."""
    import math

    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        bloom_filter_words,
        extend_bloom_filter,
    )

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    batch = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + BIG * 1000).alias("doc_id"), "text"
    ).localCheckpoint(eager=True)
    root = "/tmp/sweep_bloom_extend"
    if os.path.isdir(root):
        shutil.rmtree(root)
    rows = []
    for sidx in scales:
        parts = []
        for i in range(sidx):
            txt = (
                F.col("text")
                if i == 0
                else F.regexp_replace("text", " ", f"{i} ")
            )
            parts.append(
                docs.select(
                    (F.col("doc_id") + F.lit(i * BIG)).alias("doc_id"),
                    txt.alias("text"),
                )
            )
        path = f"{root}/x{sidx}/filter"
        filt, m = bloom_filter_words(_union(parts))
        filt.write.parquet(path)
        stored = spark.read.parquet(path)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            extend_bloom_filter(stored, batch).write.mode(
                "overwrite"
            ).format("noop").save()
            best = min(best, time.perf_counter() - t0)
        rows.append(
            {"filter_scale": sidx, "m_bits": m, "t_sec": round(best, 3)}
        )
        print(json.dumps(rows[-1]), flush=True)
    e = math.log10(
        max(rows[-1]["t_sec"], 1e-3) / max(rows[0]["t_sec"], 1e-3)
    ) / math.log10(scales[-1] / scales[0])
    print(
        json.dumps(
            {
                "sweep": "bloom_extend_fixed_batch",
                "batch_docs": batch.count(),
                "rows": rows,
                "exponent_in_filter_size": round(e, 2),
            }
        ),
        flush=True,
    )


def passage_delta_sweep(spark, scales=(1, 10, 100)) -> None:
    """Measure the O(delta) claim of dedup.passage_scrub_delta
    (round-12 continuation, sixth index family member): a FIXED
    500-doc arrival batch scrubbed against stored gram indexes built
    from x1/x10/x100 perturbed replicas of the sf0.1 documents. The
    delta side's shingle pass is constant; the per-scale cost is the
    semi-join probe into the (corpus-proportional) stored key table —
    scan-bound, so the exponent in INDEX size should stay well
    under 1."""
    import math

    from pyspark.sql import functions as F

    from mapreduce_kmeans_clustering_spark.operators.dedup import (
        passage_gram_index,
        passage_scrub_delta,
    )

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    batch = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + BIG * 1000).alias("doc_id"), "text"
    ).localCheckpoint(eager=True)
    root = "/tmp/sweep_passage_delta"
    if os.path.isdir(root):
        shutil.rmtree(root)
    rows = []
    for sidx in scales:
        parts = []
        for i in range(sidx):
            txt = (
                F.col("text")
                if i == 0
                else F.regexp_replace("text", " ", f"{i} ")
            )
            parts.append(
                docs.select(
                    (F.col("doc_id") + F.lit(i * BIG)).alias("doc_id"),
                    txt.alias("text"),
                )
            )
        path = f"{root}/x{sidx}/index"
        passage_gram_index(_union(parts), n=8).write.parquet(path)
        stored = spark.read.parquet(path)
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            passage_scrub_delta(stored, batch).write.mode(
                "overwrite"
            ).format("noop").save()
            best = min(best, time.perf_counter() - t0)
        rows.append({"index_scale": sidx, "t_sec": round(best, 3)})
        print(json.dumps(rows[-1]), flush=True)
    e = math.log10(
        max(rows[-1]["t_sec"], 1e-3) / max(rows[0]["t_sec"], 1e-3)
    ) / math.log10(scales[-1] / scales[0])
    print(
        json.dumps(
            {
                "sweep": "passage_delta_fixed_batch",
                "batch_docs": batch.count(),
                "rows": rows,
                "exponent_in_index_size": round(e, 2),
            }
        ),
        flush=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated subset of SWEEP_QUERIES "
        "(e.g. the ANN family at --replicas 100)",
    )
    ap.add_argument(
        "--index-delta",
        action="store_true",
        help="run the fixed-delta / growing-index O(delta) "
        "measurement instead of the standard sweep",
    )
    ap.add_argument(
        "--ivf-extend",
        action="store_true",
        help="run the fixed-batch / growing-index ivf_extend_index "
        "O(batch) measurement instead of the standard sweep",
    )
    ap.add_argument(
        "--bloom-extend",
        action="store_true",
        help="run the fixed-batch / growing-filter extend_bloom_filter "
        "O(batch) measurement instead of the standard sweep",
    )
    ap.add_argument(
        "--passage-delta",
        action="store_true",
        help="run the fixed-batch / growing-index passage_scrub_delta "
        "O(delta) measurement instead of the standard sweep",
    )
    args = ap.parse_args()
    targets = args.only.split(",") if args.only else SWEEP_QUERIES

    import math

    from mapreduce_kmeans_clustering_spark import get_spark
    from mapreduce_kmeans_clustering_spark.queries import ALL_QUERIES

    # the replicated fact tables need real heap: sf1.0 lineitem is 6M
    # rows and the shingle joins spill under the 1g local default
    spark = get_spark(
        app_name="mrkc-scale-sweep",
        extra_conf={"spark.driver.memory": "24g"},
    )
    if args.index_delta:
        spark.read.parquet(f"{SRC}/documents.parquet").limit(1).count()
        index_delta_sweep(spark)
        return
    if args.ivf_extend:
        spark.read.parquet(f"{SRC}/embeddings.parquet").limit(1).count()
        ivf_extend_sweep(spark)
        return
    if args.bloom_extend:
        spark.read.parquet(f"{SRC}/documents.parquet").limit(1).count()
        bloom_extend_sweep(spark)
        return
    if args.passage_delta:
        spark.read.parquet(f"{SRC}/documents.parquet").limit(1).count()
        passage_delta_sweep(spark)
        return
    tables = set()
    for q in targets:
        tables |= QUERY_TABLES.get(
            q, {"documents", "embeddings", "events", "lineitem"}
        )
    t0 = time.perf_counter()
    build_sf1(spark, args.replicas, tables)
    print(f"built {DST} in {time.perf_counter() - t0:.1f}s", flush=True)

    # JVM/codegen warm-up at each scale before timed runs
    spark.read.parquet(f"{SRC}/lineitem.parquet").limit(1).count()
    spark.read.parquet(f"{DST}/lineitem.parquet").limit(1).count()

    rows = []
    for name in targets:
        if name == "q_semantic_decontam_scaled_planes":
            # the measured mitigation row: planes grow with log2 of
            # the corpus scale, holding bucket occupancy (and so
            # pair count per row) constant
            extra = max(0, round(math.log2(max(args.replicas, 1))))
            fn_small = _semantic_decontam_planed(4)
            fn_big = _semantic_decontam_planed(4 + extra)
        elif name == "q_dedup_embed_auto_planes":
            # the operator resolves planes from each corpus itself
            fn_small = fn_big = _embed_near_dup_auto()
        elif name == "q_hard_negatives_auto_planes":
            fn_small = fn_big = _hard_negatives_auto()
        elif name == "q_dedup_semantic_auto_k":
            fn_small = fn_big = _semantic_dedup_auto_k()
        elif name == "q_knn_graph_auto_planes":
            fn_small = fn_big = _knn_graph_auto()
        elif name == "fit_converge_kmeans":
            fn_small = fn_big = _fit_converge()
        else:
            fn_small = fn_big = ALL_QUERIES[name]
        t_small = time_query(fn_small, spark, SRC)
        t_big = time_query(fn_big, spark, DST)
        exp = math.log10(max(t_big, 1e-3) / max(t_small, 1e-3)) / math.log10(
            args.replicas
        )
        rows.append(
            {
                "query": name,
                "t_sf0.1": t_small,
                "t_sf1.0": t_big,
                "ratio": round(t_big / max(t_small, 1e-3), 2),
                "exponent": round(exp, 2),
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    print("\n| query | sf0.1 s | sf1.0 s | ratio | exponent |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['query']} | {r['t_sf0.1']} | {r['t_sf1.0']} "
            f"| {r['ratio']}× | {r['exponent']} |"
        )


if __name__ == "__main__":
    main()
