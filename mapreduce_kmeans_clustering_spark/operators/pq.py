"""Product quantization (PQ) — vector compression + ADC search.

Public basis: Jegou, Douze & Schmid, "Product Quantization for Nearest
Neighbor Search" (IEEE TPAMI 2011): split each ``dim``-dimensional
vector into ``m`` contiguous subspaces, quantize each subspace against
its own ``ksub``-codeword codebook, and answer nearest-neighbor
queries with Asymmetric Distance Computation (ADC) — the query stays
exact while every database vector is represented by ``m`` small codes.

Why it belongs in this engine: the embeddings column is the widest
thing a 100 TB corpus carries (64 float64s = 512 B/row after cast).
PQ codes at m=8, ksub=16 are 8 nibbles — 4 B/row, a 128x reduction —
and ADC scans touch only the code columns, so the similarity family
(operators/similarity.py) gets a memory-resident scan path at corpus
scale. This extends the reference's quantization story the same way
kmeans_nd extends its 3-D Lloyd: the codebook trainer IS per-subspace
K-Means (reference Task1-Task3 semantics, provenance
Task1.java:31-60 assign / Task2 mean update), so `train_codebooks`
simply runs plans/kmeans_nd.fit_nd on each slice.

Physical design:
- ENCODE is scan-local: the m codebooks are one constant column
  (functions/literals.with_consts — the same centroid channel as
  dedup.semantic_assign) and
  each subspace argmin is ``array_min(transform(books[s], (cw, i) ->
  struct(sqdist, i)))`` — ONE transform per subspace, the
  measured-fastest expression packaging (SCALE.md §4.17). No join, no
  Exchange, no Python.
- ADC pairs each query against every encoded vector through a
  broadcast of the (bounded) query set; each database row is DECODED
  once scan-local (element_at over the constant codebooks) and the
  per-pair distance is one 64-element sqdist aggregate —
  element-ascending, left-associated, bit-identical to the DuckDB
  oracle's list_sum(list_transform(...)) over concatenated codeword
  slices.
- The production twin `pq_adc_topk_lut` builds the classic per-query
  lookup table (m x ksub sqdists) once in numpy and scans the codes'
  Arrow value buffer in mapInArrow — O(1) float ops per (query,
  vector, subspace) instead of O(sub_dim), the shape a vector engine
  ships.
  Pinned equal to the expression form in tests/test_pq.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_kmeans_clustering_spark.functions.distance import sqdist_hof
from mapreduce_kmeans_clustering_spark.functions.literals import with_consts

DEFAULT_DIM = 64
DEFAULT_M = 8
DEFAULT_KSUB = 16


def subspace_offsets(dim: int = DEFAULT_DIM, m: int = DEFAULT_M) -> list[tuple[int, int]]:
    """(0-based offset, width) of each contiguous subspace; dim must
    split evenly (the paper's layout; uneven tails would silently
    change every distance, so fail loudly)."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    return [(s * sub, sub) for s in range(m)]


def seeded_codebooks(
    vectors: DataFrame,
    m: int = DEFAULT_M,
    ksub: int = DEFAULT_KSUB,
    dim: int = DEFAULT_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic codebooks: codeword ``c`` of subspace ``s`` is the
    s-th slice of the vector with the c-th LOWEST id (orderBy+limit —
    TakeOrdered, no Exchange; robust to sparse/offset id spaces). This
    is the oracle-replayable seeding policy shared with
    seed_centroids_nd and semantic_dedup; `train_codebooks` is the
    quality path."""
    rows = (
        vectors.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(id_col)
        .limit(ksub)
        .collect()
    )
    if len(rows) < ksub:
        raise ValueError(f"need >= {ksub} vectors to seed codebooks, got {len(rows)}")
    offs = subspace_offsets(dim, m)
    return [
        [[float(x) for x in r["v"][off : off + sub]] for r in rows]
        for (off, sub) in offs
    ]


def train_codebooks(
    vectors: DataFrame,
    m: int = DEFAULT_M,
    ksub: int = DEFAULT_KSUB,
    dim: int = DEFAULT_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 10,
    threshold: float = 1e-4,
) -> list[list[list[float]]]:
    """Production codebooks: per-subspace Lloyd K-Means via
    plans/kmeans_nd.fit_nd (BLAS assign, fused Arrow partials). Each
    subspace trains on its slice independently — m small fits over the
    same scan, centroid state m*ksub*sub_dim floats on the driver.
    Empty clusters drop out during Lloyd; the codebook keeps the
    converged centroids (codes stay dense 0..len-1)."""
    from mapreduce_kmeans_clustering_spark.plans.kmeans_nd import fit_nd

    offs = subspace_offsets(dim, m)
    books: list[list[list[float]]] = []
    for off, sub in offs:
        sliced = vectors.select(
            F.col(id_col).alias("vec_id"),
            F.slice(F.col(vec_col).cast("array<double>"), off + 1, sub).alias(
                "embedding"
            ),
        )
        res = fit_nd(sliced, k=ksub, max_iter=max_iter, threshold=threshold)
        books.append([list(c) for c in res.centroids])
    return books


def pq_encode(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every vector to ``codes`` (array<int>, one per subspace)
    plus ``recon_sqdist`` (summed chosen sub-distances — the squared
    reconstruction error, free from the argmin). Scan-local: codebooks
    are one constant column, ties break to the lowest code via struct
    ordering (array_min over struct(d, code)).

    Expression shape (measured A/B at sf0.1, 5k x 64, local[32]): the
    per-subspace argmin is ONE ``transform`` over the codebook
    with the (codeword, index) lambda computing the slice sqdist —
    4.2-7.2 s as m*ksub separate HOF aggregates, 8-9 s fully unrolled
    (the ~3k-node janino compile dominates at this ksub), 1.9 s as
    transform-with-index. Same doubles, same argmin: the inner
    zip_with/aggregate math and the struct(d, code) ordering are
    identical — only the expression-tree packaging changes
    (SCALE.md §4.11's node-count rule applied once more)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    v = F.col(vec_col).cast("array<double>")
    bests = []
    for s in range(m):
        sl = F.slice(v, s * sub + 1, sub)
        cands = F.transform(
            F.col("_pq_books")[s],
            lambda cw, i: F.struct(
                sqdist_hof(sl, cw).alias("d"), i.cast("int").alias("code")
            ),
        )
        bests.append(F.array_min(cands))
    recon = bests[0]["d"]
    for b in bests[1:]:
        recon = recon + b["d"]
    return with_consts(vectors, _pq_books=codebooks).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.array(*[b["code"] for b in bests]).alias("codes"),
        recon.alias("recon_sqdist"),
    )


_ENC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
        T.StructField("recon_sqdist", T.DoubleType()),
    ]
)


def pq_encode_blas(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production encode twin: a mapInArrow pass computing all m
    argmins per batch with one numpy distance block per subspace
    ((N, ksub) sqdists via the expansion |x|^2 - 2xC^T + |c|^2 —
    O(N*ksub*sub) BLAS flops, no per-row interpretation; the vectors
    read from the Arrow value buffer, functions/arrow.py). np.argmin
    takes the FIRST minimum, preserving the lowest-code tie-break.
    Same verdicts as `pq_encode` on real data (pinned in
    tests/test_pq.py); float-sum ORDER differs (pairwise numpy
    reduction vs left-associated HOF), so last-ulp recon drift is
    possible — the oracle-gated registered query stays on the
    expression form, the established BLAS-twin convention
    (plans/kmeans_nd.py, dedup.semantic_dedup_blas)."""
    import numpy as np

    from mapreduce_kmeans_clustering_spark.functions.arrow import _batch, _vectors

    m = len(codebooks)
    sub = len(codebooks[0][0])
    books = np.array(codebooks, dtype=np.float64)  # (m, ksub, sub)
    bnorm = (books**2).sum(axis=2)  # (m, ksub)

    def enc(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            ids = np.asarray(batch.column("_id"), np.int64)
            xs = _vectors(batch, "_v", m * sub).reshape(-1, m, sub)  # (N, m, sub)
            codes = np.empty((len(ids), m), dtype=np.int32)
            recon = np.zeros(len(ids), dtype=np.float64)
            for s in range(m):
                d = (
                    (xs[:, s, :] ** 2).sum(axis=1)[:, None]
                    - 2.0 * xs[:, s, :] @ books[s].T
                    + bnorm[s][None, :]
                )  # (N, ksub)
                c = d.argmin(axis=1)
                codes[:, s] = c
                # exact chosen sub-distance (the expansion form can go
                # slightly negative on near-zero distances)
                recon += ((xs[:, s, :] - books[s][c]) ** 2).sum(axis=1)
            yield _batch(vec_id=ids, codes=codes, recon_sqdist=recon)

    return vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInArrow(enc, schema=_ENC_SCHEMA)


def pq_decode(encoded: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """``encoded`` plus ``_dec``, the reconstructed vector: the concat of
    each subspace's selected codeword, indexed out of the constant
    codebooks column by its ``codes`` entry."""
    parts = [
        F.element_at(
            F.element_at(F.col("_pq_books"), s + 1),
            F.element_at(F.col("codes"), s + 1) + F.lit(1),
        )
        for s in range(len(codebooks))
    ]
    return with_consts(encoded, _pq_books=codebooks).select(
        *encoded.columns, F.concat(*parts).alias("_dec")
    )


def pq_adc_topk(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Top-k neighbors per query by ADC distance — expression form
    (the oracle-gated twin of `pq_adc_topk_lut`).

    Plan: encode the corpus and DECODE it once per row (both
    scan-local — codes select codewords out of the constant
    codebook column, so the decoded array costs 8 element_ats per
    database row, not per pair),
    broadcast the bounded query set (len(query_ids) rows) through a
    crossJoin — a BroadcastNestedLoopJoin against a K-row side, the
    engine's blessed bounded-fanout shape (SCALE.md §4.10) — score
    each pair with ONE 64-element aggregate, then one rank window
    partitioned by query. Measured at sf0.1 (5k rows, local[32]): the
    per-pair 8-aggregate subspace form ran 3.0-3.6 s, decode-once +
    single aggregate 2.7-2.8 s."""
    enc = encoded if encoded is not None else pq_encode(vectors, codebooks, id_col, vec_col)
    dec = pq_decode(enc, codebooks).select(
        F.col(id_col).alias("neighbor_id"), "_dec"
    )
    queries = (
        vectors.where(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
    )
    pairs = dec.crossJoin(F.broadcast(queries))
    pairs = pairs.where(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with("qv", "_dec", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias("adist"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adist")
    )


_ADC_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("adist", T.DoubleType()),
    ]
)


def pq_adc_topk_lut(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Production ADC: per-query distance lookup tables (m x ksub
    sqdists, built once in numpy from the collected K query vectors)
    shipped to a mapInArrow scan over the CODES table (read from the
    Arrow value buffer) — each (query, vector) distance is m table
    lookups + adds, independent of sub_dim, and the scan never touches
    the original vectors. Per-batch top-k partials (by lexsort) then
    one final rank window over the candidates. Verdict-pinned equal to
    pq_adc_topk in tests/test_pq.py."""
    import numpy as np

    from mapreduce_kmeans_clustering_spark.functions.arrow import _batch, _vectors

    enc = encoded if encoded is not None else pq_encode(vectors, codebooks, id_col, vec_col)
    qrows = (
        vectors.where(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(id_col, F.col(vec_col).cast("array<double>").alias("qv"))
        .collect()
    )
    m = len(codebooks)
    sub = len(codebooks[0][0])
    books = np.array(codebooks, dtype=np.float64)  # (m, ksub, sub)
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r["qv"] for r in qrows], dtype=np.float64)  # (Q, dim)
    # LUT[q, s, c] = sqdist(query q's slice s, codeword c of subspace s)
    qsl = qmat.reshape(len(qids), m, sub)  # (Q, m, sub)
    luts = ((qsl[:, :, None, :] - books[None, :, :, :]) ** 2).sum(axis=3)

    kk = int(k)

    def scan(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            codes = _vectors(batch, "codes", m).astype(np.int64)  # (N, m)
            nids = batch.column("_nid").to_numpy()
            out = []
            for qi, qid in enumerate(qids):
                # dist[n] = sum_s LUT[qi, s, codes[n, s]]
                d = luts[qi, np.arange(m)[None, :], codes].sum(axis=1)
                mask = nids != qid
                dm, nm = d[mask], nids[mask]
                # partial top-k must respect the SAME (adist, neighbor_id)
                # total order as the final rank window and the expression
                # twin pq_adc_topk: with tied distances (duplicate
                # embeddings are common in dedup corpora) a distance-only
                # argpartition could drop the tied neighbor with the
                # lowest id from a batch. lexsort: last key is primary.
                idx = np.lexsort((nm, dm))[:kk]
                out.append((np.full(len(idx), qid), nm[idx], dm[idx]))
            if out:
                q, n, d = map(np.concatenate, zip(*out))
                yield _batch(query_id=q, neighbor_id=n, adist=d)

    cand = enc.select(F.col(id_col).cast("long").alias("_nid"), "codes").mapInArrow(
        scan, schema=_ADC_SCHEMA
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= kk)
        .select("query_id", "neighbor_id", "rank", "adist")
    )


def residual_codebooks(
    residuals: DataFrame,
    skip_ids: int,
    m: int = DEFAULT_M,
    ksub: int = DEFAULT_KSUB,
    dim: int = DEFAULT_DIM,
    id_col: str = "vec_id",
    vec_col: str = "r",
) -> list[list[list[float]]]:
    """Seeded codebooks over RESIDUAL vectors, skipping the first
    ``skip_ids`` ids: the coarse-quantizer seeds' own residuals are
    exactly zero (each seed is its list's centroid), so seeding from
    them would degenerate every codeword to the origin. Takes the
    ksub lowest ids >= skip_ids instead — deterministic and
    SQL-derivable like seeded_codebooks."""
    rows = (
        residuals.where(F.col(id_col) >= skip_ids)
        .select(F.col(id_col), F.col(vec_col).alias("v"))
        .orderBy(id_col)
        .limit(ksub)
        .collect()
    )
    if len(rows) < ksub:
        raise ValueError(f"need >= {ksub} residuals with id >= {skip_ids}")
    offs = subspace_offsets(dim, m)
    return [
        [[float(x) for x in r["v"][off : off + sub]] for r in rows]
        for (off, sub) in offs
    ]


def ivfpq_topk(
    vectors: DataFrame,
    query_ids: list[int],
    k: int = 3,
    nlist: int = 16,
    nprobe: int = 4,
    m: int = DEFAULT_M,
    ksub: int = DEFAULT_KSUB,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVFADC (Jegou et al. 2011 §IV): coarse inverted-list quantizer
    + product-quantized RESIDUALS + asymmetric distance — the
    two-level index a production vector store runs at billion scale.

    - coarse: operators/similarity.ivf_assign (cosine argmin against
      the nlist seed table, broadcast fanout, one hash agg);
    - residual r = v - centroid(list), PQ-encoded with codebooks
      seeded from the ksub lowest non-seed ids (residual_codebooks);
    - search: probe the nprobe best lists per query (by cosine, the
      same probe rule as ivf_topk), form the query's PER-LIST residual
      qr = q - centroid(list), and rank candidates by the ADC
      estimate ||qr - decode(code)||^2 — one 64-element aggregate per
      pair, decode computed scan-local per database row.

    Candidate work per query is |corpus| * nprobe / nlist pairs over
    4-byte codes; the exact vectors are touched only at scan time.
    Expression form throughout (bit-matched by the q_ann_ivfpq
    oracle); the BLAS/LUT twins for each stage exist on the flat-PQ
    path (pq_encode_blas / pq_adc_topk_lut) and compose the same way."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import ivf_assign

    if assigned is None:
        assigned = ivf_assign(vectors, nlist, id_col, vec_col)  # (id, v, list_id)
    vecs = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    seeds = F.broadcast(
        vecs.where(F.col(id_col) < nlist).select(
            F.col(id_col).alias("list_id"), F.col("v").alias("sv")
        )
    )
    res = assigned.join(seeds, "list_id").select(
        F.col(id_col),
        "list_id",
        F.zip_with("v", "sv", lambda a, b: a - b).alias("r"),
    )
    books = residual_codebooks(res, skip_ids=nlist, m=m, ksub=ksub)
    # list_id rides through the encode projection, so the decoded
    # relation needs no join back to res (scan-local end to end)
    enc = pq_encode(res, books, id_col=id_col, vec_col="r", keep_cols=("list_id",))
    dec = pq_decode(enc, books).select(
        F.col(id_col).alias("neighbor_id"), "list_id", "_dec"
    )

    from pyspark.sql import Window

    q = vecs.where(F.col(id_col).isin([int(x) for x in query_ids])).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    from mapreduce_kmeans_clustering_spark.functions.distance import (
        cosine_similarity,
    )

    pw = Window.partitionBy("query_id").orderBy(F.col("qc").desc(), F.col("list_id"))
    probes = (
        q.crossJoin(seeds)
        .select(
            "query_id",
            "qv",
            "list_id",
            cosine_similarity(F.col("qv"), F.col("sv")).alias("qc"),
            F.zip_with("qv", "sv", lambda a, b: a - b).alias("qr"),
        )
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= nprobe)
        .select("query_id", "list_id", "qr")
    )
    cand = probes.join(dec, "list_id").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with("qr", "_dec", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ).alias("adist"),
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "rank", "adist")
    )
