"""Similarity search over embedding columns: exact brute-force cosine
top-k (the correctness baseline) and an LSH-bucketed approximate path
(the scale path).

Scale design: brute-force is a broadcast of the (few) query vectors
against the corpus — one scan, no shuffle, O(|corpus| * k_dim) work,
fine at any corpus size as long as the query set is small. The LSH
path buckets the corpus by random-hyperplane sign bits so a query only
scans its bucket — candidate generation is an equi-join on the bucket
key, never a cross join; at 100 TB the corpus would additionally be
written bucketed-by(bucket) so repeated queries skip the shuffle.

Hyperplanes are DERIVED (md5 of plane/dim indices -> ±1), not sampled:
no RNG at runtime, bit-reproducible in the SQL oracle via embedded
literals.
"""

from __future__ import annotations

import hashlib
import math
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_kmeans_clustering_spark.functions.distance import cosine_similarity

DEFAULT_DIM = 64
DEFAULT_PLANES = 8

# Corpus-aware plane sizing (VERDICT r8 item 3). The round-8 ×100
# sweep measured the cliff: at a FIXED plane count the bucket count is
# fixed, per-bucket occupancy grows linearly with the corpus, and the
# candidate-pair count grows QUADRATICALLY (e = 1.49, 236 M pairs at
# ×100 with 4 planes). Growing planes with log2(corpus) holds
# occupancy — and pairs per row — constant (measured e = 0.31 with
# planes = 4 + log2(scale); SCALE.md §8). These constants anchor that
# measured rule: 4 planes at the 2 000-vector sf0.1 reference corpus.
AUTO_PLANES_BASE = 4
AUTO_PLANES_REF_N = 2_000
AUTO_PLANES_MAX = 24  # 16 M buckets — past any realistic occupancy need


def auto_planes(
    n_rows: int,
    base: int = AUTO_PLANES_BASE,
    ref_n: int = AUTO_PLANES_REF_N,
) -> int:
    """Hyperplane count for an ``n_rows``-vector corpus:
    ``base + ceil(log2(n_rows / ref_n))``, floored at ``base`` and
    capped at AUTO_PLANES_MAX. This is the measured SCALE.md §8
    blocking rule — per-bucket occupancy stays ~constant as the corpus
    grows, keeping every hyperplane-bucket operator sub-linear. A
    caller who pins ``planes`` explicitly opts out and owns the knob.
    (Since round 12 NO registered query pins it: q_knn_graph and
    q_dedup_embed use this default with count(*)-derived oracle
    twins — "oracle continuity" now means both engines derive the
    granularity from the same corpus count.)"""
    import math

    if n_rows <= ref_n:
        return base
    return min(AUTO_PLANES_MAX, base + math.ceil(math.log2(n_rows / ref_n)))


@lru_cache(maxsize=None)
def hyperplanes(dim: int = DEFAULT_DIM, planes: int = DEFAULT_PLANES) -> tuple[tuple[float, ...], ...]:
    """Deterministic ±1 hyperplane matrix: component (p, d) is the sign
    of the low bit of md5('plane:p:d')."""
    out = []
    for p in range(planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"plane:{p}:{d}".encode()).digest()[0]
            row.append(1.0 if h & 1 else -1.0)
        out.append(tuple(row))
    return tuple(out)


def _as_double(vec_col: Column) -> Column:
    return F.transform(vec_col, lambda x: x.cast("double"))


def lsh_bucket_expr(vec_col: Column, dim: int = DEFAULT_DIM, planes: int = DEFAULT_PLANES) -> Column:
    """Integer bucket id: bit p is 1 iff <vec, plane_p> > 0."""
    v = _as_double(vec_col)
    bucket = None
    for p, plane in enumerate(hyperplanes(dim, planes)):
        dot = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(c) for c in plane]), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        term = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket.cast("int")


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query id (queries
    excluded from their own result). Deterministic rank ties:
    (cos desc, neighbor id asc). Output (query_id, neighbor_id, rank,
    cos).

    ``vec_dim`` (round-12, re-gated round-13): when the caller declares
    the exact array length the dot runs as the unrolled
    whole-stage-codegen form; ``None`` keeps the CONSTANT-size HOF
    plan. Per-side norm hoisting (norms once per SIDE instead of once
    per pair — 2/3 of the work at k_dim = 64) now applies to BOTH
    forms: it is a strict win and form-independent. Same
    index-ascending left-associated doubles either way
    (functions/distance dot_hof/dot_unrolled contract), so ranks and
    cos values are bit-identical. Round-13 measurement (idle,
    interleaved, sf0.1): below ~10^5 scored pairs the unrolled form's
    one-time wide-expression codegen dominates and HOF wins (0.53 vs
    1.42 s warm, 1.1 vs 5.1 s cold); past that the ~10-30x per-pair
    codegen advantage wins — callers gate on corpus size
    (queries.vector._ann_vec_dim)."""
    from mapreduce_kmeans_clustering_spark.functions.distance import (
        dot_hof,
        dot_unrolled,
        norm_hof,
        norm_unrolled,
        safe_cosine,
    )

    vecs = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    norm = (
        norm_unrolled(F.col("v"), vec_dim)
        if vec_dim is not None
        else norm_hof(F.col("v"))
    )
    vecs = vecs.select(id_col, "v", norm.alias("_n"))
    q = F.broadcast(
        vecs.where(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("_n").alias("nq"),
        )
    )
    c = vecs.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("_n").alias("nc"),
    )
    dot = (
        dot_unrolled(F.col("qv"), F.col("cv"), vec_dim)
        if vec_dim is not None
        else dot_hof(F.col("qv"), F.col("cv"))
    )
    cos = safe_cosine(dot, F.col("nq"), F.col("nc"))
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos")
    )


def lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    dim: int = DEFAULT_DIM,
    planes: int = DEFAULT_PLANES,
    probe_hamming: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vec_dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane
    bucket (equi-join on bucket), then exact cosine + rank within the
    bucket. Recall < 1 by design; same algorithm is mirrored in the
    SQL oracle so the comparison is exact.

    ``probe_hamming`` > 0 turns on multi-probe: each query also probes
    every bucket within that Hamming distance of its own (the standard
    recall lever — a near neighbor that disagrees on a few plane signs
    is found without adding hash tables). Only the QUERY side fans out
    (x sum_{j<=r} C(planes, j) rows, then the same equi-join on the
    bucket key); corpus rows still carry exactly one bucket, so no
    candidate is produced twice and the join stays hash-shaped. The
    recall/candidate-fraction trade is measured by recall_vs_exact —
    on unstructured (near-uniform) vectors high recall inherently
    requires probing a large corpus fraction; clustered real-world
    embeddings concentrate neighbors in the low-radius ball.

    ``vec_dim``: same contract as cosine_topk — the exact array length
    selects the unrolled codegen dot, ``None`` the constant-size HOF
    plan (bit-identical doubles; per-side norm hoisting applies to
    both forms — round 13). Distinct from ``dim`` (the hyperplane
    dimensionality), which only shapes the bucketing."""
    from mapreduce_kmeans_clustering_spark.functions.distance import (
        dot_hof,
        dot_unrolled,
        norm_hof,
        norm_unrolled,
        safe_cosine,
    )

    vecs = embeddings.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("v"),
        lsh_bucket_expr(F.col(vec_col), dim, planes).alias("bucket"),
    )
    norm = (
        norm_unrolled(F.col("v"), vec_dim)
        if vec_dim is not None
        else norm_hof(F.col("v"))
    )
    vecs = vecs.select(id_col, "v", norm.alias("_n"), "bucket")
    q = vecs.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("_n").alias("nq"),
        "bucket",
    )
    if probe_hamming > 0:
        masks = [
            m for m in range(1 << planes) if bin(m).count("1") <= probe_hamming
        ]
        q = q.withColumn(
            "bucket",
            F.explode(
                F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
            ),
        )
    q = F.broadcast(q)
    c = vecs.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("_n").alias("nc"),
        "bucket",
    )
    dot = (
        dot_unrolled(F.col("qv"), F.col("cv"), vec_dim)
        if vec_dim is not None
        else dot_hof(F.col("qv"), F.col("cv"))
    )
    cos = safe_cosine(dot, F.col("nq"), F.col("nc"))
    scored = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos")
    )


def ivf_assign(
    embeddings: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its inverted list: the nearest (by
    cosine, ties to the lowest list id) of ``nlist`` deterministic seed
    centroids (the first nlist vectors by id — a seeded coarse
    quantizer; kmeans refinement of the quantizer is the labeled
    follow-up, see plans/kmeans.py for the 3-D driver pattern).

    Returns (id, v, list_id). Physical shape: the nlist seed vectors
    are constant columns (one K-row driver collect, then
    functions/literals.with_consts) and the assignment is a
    scan-local ``array_min(struct(-cos_i, list_id_i))`` projection:
    no join, no shuffle and no aggregate at all. The previous
    crossJoin + ``min(struct(...))`` form shuffled the nlist-fold
    fanout AND planned the struct-min as SortAggregate — sorting
    n·nlist rows keyed by (id, 64-double array), the round-8
    SortAggregate lesson (SCALE.md §8). Per-seed cosines reuse the
    identical ``cosine_similarity`` expression, so results are
    bit-compatible with the previous form and the SQL oracles; seed
    constants render through ``functions/literals`` (the ``-0.0``
    codegen guard, SCALE.md §7). At scale the output is written
    ``partitionBy(list_id)`` so probes prune entire files."""
    seeds = _ivf_seed_list(embeddings, nlist, id_col, vec_col)
    return _ivf_assign_with_seeds(embeddings, seeds, id_col, vec_col)


def _ivf_seed_list(
    embeddings: DataFrame, nlist: int, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """Collect the coarse-quantizer seeds (the first nlist vectors by
    id) as (list_id, vector) pairs — ONE filtered, pushed-down scan."""
    # Seed-row ceiling: every row scans all nlist seeds in an
    # interpreted HOF and the driver renders nlist×dim doubles into
    # the row's SQL text — fine to a few hundred lists (nlist=256,
    # dim=64 is ~16k constants), but a caller wanting thousands of
    # coarse cells should pre-cluster with plans/kmeans_nd and join
    # instead.
    if nlist > 1024:
        raise ValueError(
            f"ivf_assign seed-row form caps nlist at 1024 "
            f"(got {nlist}); use a precomputed centroid join for more"
        )
    seed_rows = (
        embeddings.where(F.col(id_col) < nlist)
        .select(F.col(id_col).cast("long").alias("lid"), _as_double(F.col(vec_col)).alias("sv"))
        .orderBy("lid")
        .collect()
    )
    # ADVICE r8: with zero qualifying seed ids (empty corpus slice, or
    # ids not starting at 0) F.array() of no entries fails analysis
    # with an opaque error — fail loudly at the API boundary instead.
    if not seed_rows:
        raise ValueError(
            f"ivf_assign found no seed vectors with {id_col} < {nlist}; "
            "the coarse quantizer seeds are the first nlist vectors by "
            "id — pass a relation whose ids start at 0 or lower nlist"
        )
    return [(int(r["lid"]), [float(x) for x in r["sv"]]) for r in seed_rows]


def _ivf_assign_with_seeds(
    embeddings: DataFrame,
    seeds: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The scan-local argmin assignment against given seeds — shared
    by ivf_assign (seeds from the corpus) and ivf_extend_index (seeds
    from the stored ``_centroids``). The seeds, their norms and their
    list ids are three constant columns (functions/literals.with_consts);
    ``array_min(transform(S, (s, i) -> struct(-cos_i, lid_i)))`` picks
    the list, ties to the lowest list id, in an expression whose size
    does not depend on nlist.

    Norm hoisting (round 13): the row norm is computed once per row
    and each seed's norm once at PLAN time in Python (same
    left-associated index-ascending IEEE-double sum + sqrt, so the
    value is bit-identical to ``norm_hof``); per-seed work is one dot
    + one guarded divide. Both are the HOF forms: the per-seed dot runs
    inside the lambda, where every form is interpreted and the
    unrolled tree is ~3.3x slower (functions/distance.dot_hof), and an
    unrolled row norm bought nothing measurable (n=100k, dim 64, 16
    lists, 4 cores: 1.42-1.48 s against 1.39-1.41 s)."""
    import math

    from mapreduce_kmeans_clustering_spark.functions.distance import (
        dot_hof,
        norm_hof,
        safe_cosine,
    )
    from mapreduce_kmeans_clustering_spark.functions.literals import with_consts

    vecs = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    vecs = vecs.select(F.col(id_col), "v", norm_hof(F.col("v")).alias("_na"))

    def seed_norm(sv: list[float]) -> float:
        s = 0.0
        for x in sv:
            s += x * x
        return math.sqrt(s)

    def entry(sv, i):
        cos = safe_cosine(dot_hof(F.col("v"), sv), F.col("_na"), F.col("_ivf_norms")[i])
        return F.struct(
            (-cos).alias("nc"),
            F.col("_ivf_lids")[i].alias("lid"),
        )

    vecs = with_consts(
        vecs,
        _ivf_seeds=[sv for _, sv in seeds],
        _ivf_norms=[seed_norm(sv) for _, sv in seeds],
        _ivf_lids=[int(lid) for lid, _ in seeds],
    )
    return vecs.select(
        F.col(id_col),
        "v",
        F.array_min(F.transform(F.col("_ivf_seeds"), entry))["lid"].alias("list_id"),
    )


def ivf_representatives(
    embeddings: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Diversity/coverage sampling for training-data selection: one
    representative per inverted list — the member closest (by cosine,
    ties to the lowest id) to its list's seed centroid — plus the list
    population. Sampling k spread-out exemplars from a corpus is the
    coreset step embedding-curation pipelines run before expensive
    human/LLM labeling; expressing it as "argmax per IVF cell" makes it
    one aggregate over the already-assigned corpus.

    Physical shape: ``ivf_assign`` (broadcast seed fanout + one hash
    agg), an equi-join back to the nlist-row seed table (broadcast),
    then a single ``min(struct(-cos, id))`` aggregate per list — no
    window, no second shuffle beyond the K-row aggregate. Output
    (list_id, rep_id, rep_cos, n_members).
    """
    if assigned is None:
        assigned = ivf_assign(embeddings, nlist, id_col, vec_col)
    vecs = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    seeds = F.broadcast(
        vecs.where(F.col(id_col) < nlist).select(
            F.col(id_col).alias("list_id"), F.col("v").alias("sv")
        )
    )
    cos = cosine_similarity(F.col("v"), F.col("sv"))
    scored = assigned.join(seeds, "list_id").select(
        "list_id", F.col(id_col), cos.alias("c")
    )
    return (
        scored.groupBy("list_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.min(
                F.struct((-F.col("c")).alias("nc"), F.col(id_col).alias("vid"))
            ).alias("b"),
        )
        .select(
            "list_id",
            F.col("b.vid").alias("rep_id"),
            F.round(-F.col("b.nc"), 6).alias("rep_cos"),
            "n_members",
        )
    )


def sqdist_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors by SQUARED L2 distance — the uncompressed
    ground truth for the PQ/IVFADC compressed paths, whose ADC
    ``adist`` is an L2 estimate: recall against this (not the cosine
    exact form) isolates quantization + probe loss from metric
    mismatch. Broadcast Q query rows against one corpus scan (no
    shuffle before the K-row-per-query rank window); deterministic
    ties (d asc, neighbor_id asc). Output
    (query_id, neighbor_id, rank, d). The HOF zip_with/aggregate sum
    matches DuckDB's list_sum(list_transform(...)) doubles
    bit-for-bit."""
    vecs = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    q = F.broadcast(
        vecs.where(F.col(id_col).isin(query_ids)).select(
            F.col(id_col).alias("query_id"), F.col("v").alias("qv")
        )
    )
    c = vecs.select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"))
    d = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", d.alias("d"))
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "d")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 3,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: each query scores only the corpus
    vectors in its ``nprobe`` nearest inverted lists (equi-join on
    list_id), then exact cosine + rank. Candidate work is
    |corpus| * nprobe / nlist per query instead of |corpus| — the
    IVF pruning a vector store uses, expressed as join + window.
    Recall < 1 by design; the SQL oracle mirrors the algorithm exactly
    so the comparison is still exact.

    ``assigned=`` accepts a precomputed (memoized) ivf_assign relation
    — several registered queries share the coarse assignment, and the
    buffer-pool memo in queries.vector derives it once per session
    (the _events pin pattern)."""
    if assigned is None:
        assigned = ivf_assign(embeddings, nlist, id_col, vec_col)
    vecs = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    seeds = F.broadcast(
        vecs.where(F.col(id_col) < nlist).select(
            F.col(id_col).alias("list_id"), F.col("v").alias("sv")
        )
    )
    q = vecs.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    qcos = cosine_similarity(F.col("qv"), F.col("sv"))
    pw = Window.partitionBy("query_id").orderBy(F.col("qc").desc(), F.col("list_id"))
    probes = (
        q.crossJoin(seeds)
        .select("query_id", "qv", "list_id", qcos.alias("qc"))
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "qv", "list_id")
    )
    cand = (
        probes.join(assigned, "list_id")
        .where(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine_similarity(F.col("qv"), F.col("v")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cos")
    )


def ivf_write_index(
    embeddings: DataFrame,
    path: str,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the IVF index partitioned by inverted list:
    ``path/list_id=<n>/*.parquet``. Probing then reads only the probed
    lists' files — partition pruning does the candidate restriction at
    the FILE level, before any row is deserialized (verified in tests
    via the scan's PartitionFilters).

    The coarse-quantizer centroids are ALSO persisted, under
    ``path/_centroids`` — the underscore prefix hides the directory
    from the index's own parquet read (Spark skips ``_``/``.`` paths),
    so probes are unaffected, while ``ivf_extend_index`` can append
    new vectors against the SAME quantizer without touching the
    corpus that built it. The centroids are materialized from the ONE
    driver-side seed collect the assignment itself uses (not a second
    corpus scan — code-review r11), which also guarantees the
    persisted quantizer is bit-identical to the one that routed the
    stored rows even over a nondeterministic input lineage."""
    seeds = _ivf_seed_list(embeddings, nlist, id_col, vec_col)
    _ivf_assign_with_seeds(
        embeddings, seeds, id_col, vec_col
    ).withColumnRenamed("v", vec_col).write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(path)
    embeddings.sparkSession.createDataFrame(
        seeds, "list_id LONG, centroid ARRAY<DOUBLE>"
    ).write.mode("overwrite").parquet(f"{path}/_centroids")


def ivf_extend_index(
    spark,
    path: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append-time maintenance for the on-disk IVF index — the ANN
    member of the streaming index family (``dedup.extend_band_index``,
    ``web.extend_url_index``): assign a batch of NEW vectors to the
    STORED coarse centroids (read from ``path/_centroids`` — never
    recomputed, so existing list membership and probe routing stay
    stable) and append them into the same hive layout. Daily cost is
    O(batch): the assignment is the scan-local constant-column argmin
    projection over the batch only, and ``mode('append')`` adds new
    files to the touched ``list_id=`` directories without rewriting
    any existing file.

    Drift caveat (the honest limit every append-only IVF shares):
    appended mass shifts each cell's TRUE centroid away from the
    stored quantizer; recall degrades gradually, not correctness
    (probes still search real cells). Gate with ``recall_vs_exact``
    on a query sample and rebuild via ``ivf_write_index`` when the
    extended fraction gets large."""
    from pyspark.errors import AnalysisException

    try:
        seed_rows = (
            spark.read.parquet(f"{path}/_centroids")
            .orderBy("list_id")
            .collect()
        )
    except AnalysisException as exc:
        # ONLY the missing-path analysis error maps to the migration
        # hint; IO/permission/corruption failures propagate untouched
        # so the user fixes the real fault instead of rebuilding a
        # healthy index (code-review r11; ADVICE r11 — a blanket
        # except mislabeled a corrupt _centroids parquet as a
        # pre-round-11 index). getCondition() is the PySpark 4 error
        # class; the message check is the fallback for builds where
        # the condition is absent.
        cond = None
        for attr in ("getCondition", "getErrorClass"):
            fn = getattr(exc, attr, None)
            if fn is not None:
                try:
                    cond = fn()
                except Exception:
                    cond = None
                if cond:
                    break
        is_missing_path = (cond == "PATH_NOT_FOUND") or (
            cond is None and "PATH_NOT_FOUND" in str(exc)
        )
        if not is_missing_path:
            raise
        raise ValueError(
            f"ivf_extend_index needs {path}/_centroids (written by "
            "ivf_write_index since round 11); rebuild the index once "
            "with ivf_write_index to migrate"
        ) from exc
    if not seed_rows:
        raise ValueError(f"{path}/_centroids is empty — corrupt index")
    seeds = [
        (int(r["list_id"]), [float(x) for x in r["centroid"]])
        for r in seed_rows
    ]
    assigned = _ivf_assign_with_seeds(new_embeddings, seeds, id_col, vec_col)
    (
        assigned.select(
            F.col(id_col),
            F.col("v").alias(vec_col),
            "list_id",
        )
        .write.mode("append")
        .partitionBy("list_id")
        .parquet(path)
    )


def ivf_probe_index(
    spark, path: str, list_ids: list[int], id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Read only the probed inverted lists from a written index. The
    list_id filter is a partition filter (prunes directories), not a
    row filter."""
    return spark.read.parquet(path).where(F.col("list_id").isin(list_ids))


def recall_vs_exact(exact: DataFrame, approx: DataFrame, method: str) -> DataFrame:
    """One-row recall@k summary of an ANN result against the exact
    top-k: (method, hits, possible, recall). hits/possible are integer
    counts (left join on the (query, neighbor) pair), so the recall
    double is a single division — deterministic cross-engine. This is
    the tuning gate for planes/nprobe: recall < floor means the ANN
    variant is returning a different answer, not a faster one."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id").withColumn("_hit", F.lit(1))
    j = e.join(a, ["query_id", "neighbor_id"], "left")
    agg = j.agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("hits"),
        F.count("*").cast("long").alias("possible"),
    )
    return agg.select(
        F.lit(method).alias("method"),
        "hits",
        "possible",
        F.round(F.col("hits") * F.lit(1.0) / F.col("possible"), 6).alias("recall"),
    )


def hard_negatives(
    embeddings: DataFrame,
    anchor_ids: list[int],
    k: int = 3,
    dim: int = DEFAULT_DIM,
    planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the top-k highest-cosine corpus vectors whose LABEL DIFFERS from
    the anchor's — the confusable-but-wrong examples a triplet /
    InfoNCE loss learns the most from.

    Candidates come from the anchor's hyperplane-LSH bucket (the same
    equi-join shape as ``lsh_topk`` — never an all-pairs scan), so at
    100 TB this is one hash join against a bucketed corpus; the
    different-label requirement is a post-join filter. Recall < 1 by
    design and mirrored exactly in the SQL oracle. Ties rank by
    (cos desc, negative_id asc). Output: (anchor_id, negative_id,
    anchor_label, negative_label, rank, cos).

    ``planes=None`` (the default) sizes the blocking to the corpus via
    ``auto_planes`` (one count() job) — at a FIXED plane count bucket
    occupancy grows linearly with the corpus and the candidate stream
    goes quadratic, the measured SCALE.md §8 cliff. Pass an explicit
    ``planes`` to pin the bucketing and own the knob (no registered
    query does since round 12 — their oracles derive planes from
    count(*))."""
    if planes is None:
        planes = auto_planes(embeddings.count())
    vecs = embeddings.select(
        F.col(id_col),
        F.col(label_col).alias("_lab"),
        _as_double(F.col(vec_col)).alias("v"),
        lsh_bucket_expr(F.col(vec_col), dim, planes).alias("bucket"),
    )
    q = F.broadcast(
        vecs.where(F.col(id_col).isin(anchor_ids)).select(
            F.col(id_col).alias("anchor_id"),
            F.col("_lab").alias("anchor_label"),
            F.col("v").alias("qv"),
            "bucket",
        )
    )
    c = vecs.select(
        F.col(id_col).alias("negative_id"),
        F.col("_lab").alias("negative_label"),
        F.col("v").alias("cv"),
        "bucket",
    )
    scored = (
        q.join(c, "bucket")
        .where(F.col("anchor_label") != F.col("negative_label"))
        .select(
            "anchor_id",
            "negative_id",
            "anchor_label",
            "negative_label",
            cosine_similarity(F.col("qv"), F.col("cv")).alias("cos"),
        )
        # undefined similarity (zero/Inf/NaN vectors -> NULL cos) is
        # never MINED: a hard negative with no defined cosine is
        # garbage training signal (the top-k SEARCH family keeps such
        # rows ranked last as a diagnostic — different contract)
        .where(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "anchor_id",
            "negative_id",
            "anchor_label",
            "negative_label",
            F.col("rank").cast("int").alias("rank"),
            "cos",
        )
    )


def _q6_int(x: Column) -> Column:
    """Half-up 6-dp integer micro-unit grid (shared contract —
    functions/rounding.py; integer sums are order-independent)."""
    from mapreduce_kmeans_clustering_spark.functions.rounding import (
        half_up6_micro,
    )

    return half_up6_micro(x)


def ranking_term_tables(k: int) -> tuple[list[int], list[int], int]:
    """The 1e-6-grid integer lookup tables ranking_metrics scores
    with: (rr_terms, dcg_terms, idcg) where rr_terms[r-1] =
    q6(1/r), dcg_terms[r-1] = q6(1/log2(r+1)), idcg = sum(dcg_terms).
    Computed ONCE in Python and embedded as literals on BOTH engines
    (Spark arrays, oracle SQL lists), so no runtime transcendental —
    JVM Math.log vs libm log ulp drift — can desynchronize a
    comparison."""
    rr = [math.floor((1.0 / r) * 1000000.0 + 0.5) for r in range(1, k + 1)]
    dcg = [
        math.floor((1.0 / math.log2(r + 1)) * 1000000.0 + 0.5)
        for r in range(1, k + 1)
    ]
    return rr, dcg, sum(dcg)


def ranking_metrics(
    exact: DataFrame,
    approx: DataFrame,
    method: str,
    k: int,
) -> DataFrame:
    """MRR@k and nDCG@k of an ANN ranking against the exact top-k as
    the (binary) relevance set — the ranking-quality view the recall
    gates can't give: recall treats rank 1 and rank k the same, these
    weight early hits.

    Exactness contract: per-rank terms (1/first_hit_rank,
    1/log2(rank+1)) come from the Python-precomputed integer tables of
    ``ranking_term_tables`` (embedded as array literals, looked up by
    rank), so the aggregates are integer sums — order-independent,
    engine-independent; the final mrr/ndcg doubles are each one
    integer division snapped to the same grid. Queries with zero hits
    contribute 0 to both numerators but still count in the denominator
    (the mean is over ALL queries). Output: one row (method,
    n_queries, mrr_sum_q6, dcg_sum_q6, idcg_q6, mrr, ndcg)."""
    rr_terms, dcg_terms, idcg_q6 = ranking_term_tables(k)
    rr_arr = F.array(*[F.lit(t).cast("long") for t in rr_terms])
    dcg_arr = F.array(*[F.lit(t).cast("long") for t in dcg_terms])
    e = exact.select("query_id", "neighbor_id")
    # Bound the ranking to @k BEFORE the table lookups: a caller
    # passing a deeper top-(k+n) ranking would otherwise index past
    # the k-entry term arrays — NULL terms silently understating the
    # sums (or an ANSI error), instead of the @k-cutoff semantics the
    # metric names promise (ADVICE r7).
    a = approx.select("query_id", "neighbor_id", "rank").where(
        F.col("rank") <= F.lit(k)
    )
    hits = e.join(a, ["query_id", "neighbor_id"])
    per_q = hits.groupBy("query_id").agg(
        F.element_at(rr_arr, F.min("rank")).alias("rr_q6"),
        F.sum(F.element_at(dcg_arr, F.col("rank"))).alias("dcg_q6"),
    )
    nq = F.broadcast(
        e.agg(F.countDistinct("query_id").cast("long").alias("n_queries"))
    )
    sums = per_q.agg(
        F.sum("rr_q6").cast("long").alias("mrr_sum_q6"),
        F.sum("dcg_q6").cast("long").alias("dcg_sum_q6"),
    )
    return (
        sums.crossJoin(nq)
        .select(
            F.lit(method).alias("method"),
            "n_queries",
            F.coalesce(F.col("mrr_sum_q6"), F.lit(0)).alias("mrr_sum_q6"),
            F.coalesce(F.col("dcg_sum_q6"), F.lit(0)).alias("dcg_sum_q6"),
            F.lit(idcg_q6).cast("long").alias("idcg_q6"),
        )
        .select(
            "method",
            "n_queries",
            "mrr_sum_q6",
            "dcg_sum_q6",
            "idcg_q6",
            (
                _q6_int(
                    F.col("mrr_sum_q6") / (F.col("n_queries") * F.lit(1000000.0))
                )
                / F.lit(1000000.0)
            ).alias("mrr"),
            (
                _q6_int(
                    F.col("dcg_sum_q6")
                    / (F.col("n_queries") * F.col("idcg_q6")).cast("double")
                )
                / F.lit(1000000.0)
            ).alias("ndcg"),
        )
    )


def sql_plane_literal(dim: int = DEFAULT_DIM, planes: int = DEFAULT_PLANES) -> list[str]:
    """The hyperplane rows as SQL array literals (for the DuckDB
    oracle)."""
    return [
        "[" + ", ".join(f"{c:.1f}" for c in plane) + "]"
        for plane in hyperplanes(dim, planes)
    ]


def lsh_write_index(
    embeddings: DataFrame,
    path: str,
    dim: int = DEFAULT_DIM,
    planes: int = DEFAULT_PLANES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the hyperplane-LSH partitioned index (the LSH twin of
    ivf_write_index): ``path/bucket=<b>/*.parquet``. A multi-probe
    query then reads only its probe ball's directories — file-level
    pruning before any row is deserialized. 2^planes buckets; pick
    planes so corpus/2^planes rows fit one scan task comfortably."""
    (
        embeddings.select(
            F.col(id_col),
            _as_double(F.col(vec_col)).alias(vec_col),
            lsh_bucket_expr(F.col(vec_col), dim, planes).alias("bucket"),
        )
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def lsh_probe_index(
    spark,
    path: str,
    query_vec: list[float],
    dim: int = DEFAULT_DIM,
    planes: int = DEFAULT_PLANES,
    probe_hamming: int = 1,
) -> DataFrame:
    """Read the probe ball (all buckets within ``probe_hamming`` bit
    flips of the query's bucket) from a written index via partition
    pruning. Returns the candidate rows; score with cosine_topk-style
    expressions or the BLAS scorer downstream."""
    from itertools import combinations

    base = 0
    for p, plane in enumerate(hyperplanes(dim, planes)):
        dot = sum(a * b for a, b in zip(query_vec, plane))
        if dot > 0:
            base |= 1 << p
    buckets = {base}
    for r in range(1, probe_hamming + 1):
        for flips in combinations(range(planes), r):
            b = base
            for f in flips:
                b ^= 1 << f
            buckets.add(b)
    return spark.read.parquet(path).where(
        F.col("bucket").isin(sorted(buckets))
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 3,
    dim: int = DEFAULT_DIM,
    planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH: for EVERY vector, its
    top-k in-bucket cosine neighbors — the all-vectors twin of
    lsh_topk (which serves a fixed query set) and the substrate for
    graph-based curation: connectivity filtering, degree-based
    near-dup pruning, label propagation over similarity edges.

    Scale shape: hyperplane-LSH bucket equi-join (candidate space =
    in-bucket pairs, never n^2); ONE cosine evaluation per unordered
    pair, mirrored into both directions before a per-source rank
    window (partitioned by the source id — embarrassingly parallel,
    no global sort). Approximate by design: neighbors outside the
    source's bucket are unseen (P[same bucket] rises with cosine —
    the LSH property); more planes = smaller buckets = faster and
    lower recall. At 100 TB, write the corpus bucketed-by(bucket) so
    the self-join is exchange-free.

    Determinism: derived hyperplanes (no RNG), rank over the
    UNROUNDED cosine with (cos desc, dst) ties — the HOF dot is the
    same index-ascending left-associated sum as DuckDB's
    list_inner_product, so both engines rank identical doubles.
    Zero vectors have undefined cosine and contribute no edges
    (norm-guarded NULL, same convention as semantic_dedup).

    Output: (src, dst, rank, cos) with rank 1..k per src.

    ``planes=None`` (the default) sizes the bucketing to the corpus
    via ``auto_planes`` (one count() job): this is an ALL-VECTORS
    in-bucket self-join, so fixed planes make it the third member of
    the fixed-blocking cliff family (occupancy grows linearly, pair
    space quadratically — SCALE.md §8). Pass explicit ``planes`` to
    pin and own the knob (the registered q_knn_graph uses this
    default since round 11; its oracle derives planes from count(*)).
    """
    if planes is None:
        planes = auto_planes(embeddings.count())
    from mapreduce_kmeans_clustering_spark.functions.distance import (
        dot_unrolled,
        norm_unrolled,
        safe_cosine,
    )

    v = F.slice(_as_double(F.col(vec_col)), 1, dim)
    vb = embeddings.select(
        F.col(id_col).alias("_id"),
        v.alias("_v"),
        norm_unrolled(v, dim).alias("_n"),
        lsh_bucket_expr(F.col(vec_col), dim, planes).alias("_bucket"),
    ).localCheckpoint(eager=False)
    a = vb.select(
        F.col("_id").alias("a"), F.col("_v").alias("va"), F.col("_n").alias("na"),
        "_bucket",
    )
    b = vb.select(
        F.col("_id").alias("b"), F.col("_v").alias("vb"), F.col("_n").alias("nb"),
        "_bucket",
    )
    # Round-12: unrolled dot behind an explode(array(...)) barrier —
    # the isNotNull guard used to be pushed into the join condition,
    # where the dot ran interpreted once per in-bucket pair and again
    # in the projection; the barrier keeps scoring in WholeStageCodegen
    # and single-evaluated (same doubles as dot_hof / DuckDB's
    # list_inner_product; see dedup.embedding_near_dup_pairs).
    cos = safe_cosine(
        dot_unrolled(F.col("va"), F.col("vb"), dim), F.col("na"), F.col("nb")
    )
    und = (
        a.join(b, "_bucket")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.explode(F.array(cos)).alias("cos"))
        .where(F.col("cos").isNotNull())
    )
    edges = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "cos"
    ).union(und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "cos"))
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), "dst")
    return (
        edges.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("src", "dst", "rank", "cos")
    )
