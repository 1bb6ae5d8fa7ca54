"""ANN and vector queries over the embeddings table: exact, LSH, IVF and
PQ top-k with their recall gates, quantization, n-dim K-Means, k-center
seeding, hard negatives, retrieval metrics, embedding dedup and
semantic decontamination.
"""

from __future__ import annotations

import math as _math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_kmeans_clustering_spark.memo import memo
from mapreduce_kmeans_clustering_spark.operators import curation as CU
from mapreduce_kmeans_clustering_spark.operators import dedup as D
from mapreduce_kmeans_clustering_spark.operators import sampling as S
from mapreduce_kmeans_clustering_spark.operators import similarity as SIM
from mapreduce_kmeans_clustering_spark.plans import kmeans_nd as KND
from mapreduce_kmeans_clustering_spark.queries._shared import (
    _TOK,
    _docs,
    _emb,
    _h6,
    _t,
    query,
)

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

# semantic decontam: 4-plane buckets + cosine 0.3 keep the flagged
# set non-empty on the near-uniform synthetic embeddings at every SF
# (8 planes / 0.5 measured ZERO hits at sf0.01 — an always-empty
# query would be no evidence at all)
SEM_DECON_THRESHOLD = 0.3

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


# Buffer-pool memo for the IVF coarse-assignment relation (the _events
# pin pattern): four registered queries (q_ann_ivf, q_ann_recall,
# q_embed_diverse, q_ann_ivfpq) start from the same
# (vec_id, v, list_id) assignment; localCheckpoint(eager=False)
# materializes it once per session on first action instead of
# re-running the broadcast-fanout cosine argmin per query.
@memo
def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.ivf_assign(_emb(spark, sf_dir), IVF_NLIST).localCheckpoint(eager=False)


_COS = (
    "list_inner_product(va, vb)"
    " / (sqrt(list_inner_product(va, va)) * sqrt(list_inner_product(vb, vb)))"
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


@query(oracle=f"""
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
SELECT a, b, round({_COS}, 6) AS cos FROM p WHERE {_COS} >= {EMBED_DUP_THRESHOLD}""")
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


@query(oracle=f"""
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
FROM r WHERE rank <= {KNN_K}""")
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


@query(oracle=_SQL_ANN_TOPK)
def q_ann_topk(spark, sf_dir):
    t = SIM.cosine_topk(
        _emb(spark, sf_dir), ANN_QUERY_IDS, k=ANN_K, vec_dim=_ann_vec_dim(sf_dir)
    )
    return t.select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos"))


_PLANE_BUCKET4 = " + ".join(
    f"CASE WHEN list_inner_product(v, {lit}) > 0 THEN {1 << p} ELSE 0 END"
    for p, lit in enumerate(SIM.sql_plane_literal(planes=LSH_PLANES))
)

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


@query(oracle=_SQL_ANN_LSH)
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


@query(oracle=f"""
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
FROM (SELECT * FROM lm UNION ALL SELECT * FROM im)""")
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


@query(oracle="""
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
FROM qz""")
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


@query(oracle=_SQL_PQ_ENCODE)
def q_pq_encode(spark, sf_dir):
    """Product-quantize every embedding: 8 subspace codes (4-bit
    domain) + squared-reconstruction MSE — the 128x-compressed
    representation ADC search scans. Encode is scan-local (codebooks
    are one constant column; no join, no Exchange)."""
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


@query(oracle=_SQL_PQ_ADC)
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


@query(oracle=_SQL_PQ_IVFADC)
def q_ann_ivfpq(spark, sf_dir):
    """IVFADC: coarse inverted lists + product-quantized residuals +
    asymmetric distance (the two-level billion-scale index
    architecture; operators/pq.ivfpq_topk). Candidate work per query
    is |corpus| * nprobe / nlist pairs over 4-byte codes."""
    t = _ivfpq_top(spark, sf_dir)
    return t.select(
        "query_id", "neighbor_id", "rank", F.round("adist", 6).alias("adist")
    )


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


@query(oracle=f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({_SQL_ANN_L2_TOPK})),
a AS (SELECT query_id, neighbor_id FROM ({_SQL_PQ_IVFADC})),
m AS (SELECT 'ivfpq' AS method, count(a.query_id)::BIGINT AS hits,
             count(*)::BIGINT AS possible
      FROM exact e LEFT JOIN a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
SELECT method, hits, possible, round(hits * 1.0 / possible, 6) AS recall
FROM m""")
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


@query(oracle=f"""
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
FROM r WHERE rn = 1""")
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


@query(oracle="""
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
FROM r WHERE rank <= 3""")
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


@query(oracle=f"""
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
FROM asg GROUP BY cluster""")
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


@query(oracle=_SQL_ANN_IVF)
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


TRUNC_DIM = 16


@query(oracle=f"""
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
FROM m""")
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


@query(oracle=f"""
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
FROM r WHERE rn = 1""")
def q_embed_diverse(spark, sf_dir):
    """Coverage sampling over the embedding corpus: one representative
    per IVF inverted list (the member nearest its seed centroid) plus
    list population — the coreset-selection step before expensive
    labeling, expressed as one aggregate over the assigned corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    return SIM.ivf_representatives(
        emb, nlist=IVF_NLIST, assigned=_ivf_assigned(spark, sf_dir)
    )


@query(oracle="""
WITH x AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                  unnest(embedding::DOUBLE[]) AS val
           FROM embeddings)
SELECT CAST(dim AS INT) AS dim, count(*) AS n_vals,
       round(avg(val), 6) AS mean_val,
       round(min(val), 6) AS min_val,
       round(max(val), 6) AS max_val
FROM x GROUP BY 1""")
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


@query(oracle=f"""
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
FROM asg""")
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


_PLANE_BUCKET = " + ".join(
    f"CASE WHEN list_inner_product(v, {lit}) > 0 THEN {1 << p} ELSE 0 END"
    for p, lit in enumerate(SIM.sql_plane_literal())
)

COV_DIMS = 8


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


@query(oracle=_embed_cov_oracle(COV_DIMS))
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


RRF_SHIFT = 60
RRF_CAND = 50
RRF_TOP = 10
RRF_TERMS = ["hash", "join", "merge"]


# RRF oracle: the BM25 CTE chain (same contract as q_bm25_search's
# oracle) for the single fused query, then the 50-row length rank and
# the fixed two-term reciprocal sum.
@query(oracle=f"""
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
FROM f WHERE rank <= {RRF_TOP}""")
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


# farthest-first seeding: k seeds over the embedding corpus
KCENTER_K = 6
# hard negatives per anchor
HARDNEG_K = 3


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


@query(oracle=_kcenter_oracle(KCENTER_K))
def q_kcenter_seeds(spark, sf_dir):
    """Gonzalez farthest-first k-center seeding over the embedding
    corpus (plans/kmeans_nd.farthest_trace_nd): start from the
    lowest-id vector, repeatedly add the vector farthest (squared
    Euclidean) from its nearest chosen seed, ties to the lowest id.
    The RNG-free seeding the library offers when no seed file exists
    (the reference can only read seeds from a side file — SURVEY §2.1
    O2); k driver rounds of scan-local distance projection + a top-1
    take, O(k·dim) driver state. The oracle replays
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


@query(oracle=f"""
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
FROM r WHERE rank <= {HARDNEG_K}""")
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


# ^ the WHERE mirrors the engine's undefined-cosine MINING exclusion
# (similarity.hard_negatives filters cos IS NOT NULL, i.e.
# functions/distance.safe_cosine's den==0 / NaN-den / NaN-quotient
# cases — a NaN den forces a NaN quotient, so den<>0 + NOT isnan(cos)
# covers all three). Vacuous on the test fixtures (zero degenerate
# vectors), verified row-identical at all 3 SFs when added (ADVICE
# r9): the latent parity break only fired on corpora with zero/Inf
# vectors, where the oracle ranked undefined-cos rows first.
@query(oracle="""
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
FROM r JOIN quota USING (label)""")
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


@query(oracle=(
    _ranking_oracle_arm(_SQL_ANN_LSH, "lsh")
    + "\nUNION ALL\n"
    + _ranking_oracle_arm(_SQL_ANN_IVF, "ivf")
))
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


MULTI_BENCH_MOD_A = 41  # verbatim benchmark subset (cos 1.0 hits)
MULTI_BENCH_MOD_B = 43  # shifted benchmark (the q_dedup_embed plant)
MULTI_BENCH_THRESHOLD = 0.9


@query(oracle=f"""
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
GROUP BY h.train_id, h.benchmark, a1.cos, a1.n_matches""")
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


@query(oracle=f"""
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
FROM cell ORDER BY cluster, source""")
def q_cluster_mix(spark, sf_dir):
    """Semantic topic-mix per source (dedup.semantic_clusters × the
    documents dim): the corpus partitioned into k ~ √n semantic
    clusters (q_dedup_semantic's exact blocking — same seeds, same
    argmin ties), rolled up to a (cluster, source) composition matrix
    with each cell's share of its source — the read-out that shows a
    feed collapsing onto one topic before any quality score does.
    Scan-local broadcast-row argmin (no shuffle for assignment), one id-keyed
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
