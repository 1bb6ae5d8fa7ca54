"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design (the point of each):
- exact: one hash-groupBy — shuffle on a 32-byte digest, perfectly
  partition-parallel, AQE coalesces. The canonical 100 TB dedup stage.
- MinHash+LSH: shingle -> per-seed min-hash -> band -> equi-join on
  (band, signature). The join key is the band bucket, so candidate
  generation is O(collisions), never O(n^2).
- SimHash: 16-bit fingerprint per doc; pair filter by Hamming
  distance via xor+bit_count. Blocking at scale: join on the simhash
  bucket (exact-match) or band the bits like MinHash.
- n-gram Jaccard: inverted-index equi-join on shared shingles (never
  a cross join) + group-count; similarity = |A∩B| / (|A|+|B|-|A∩B|).
- embedding near-dup: candidates from hyperplane-LSH bucket equi-join
  (similarity.py's deterministic planes), exact cosine within the
  bucket — expression form for the oracle, per-bucket BLAS gram blocks
  (applyInArrow) for production, brute all-pairs only as the test
  baseline / recall denominator.

Everything is Column-expression-only (md5 as the portable hash family)
so each operator has a bit-matching DuckDB oracle in queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.functions.distance import sqdist_hof
from mapreduce_kmeans_clustering_spark.functions.literals import with_consts
from mapreduce_kmeans_clustering_spark.operators.text import tokens


# -- exact ------------------------------------------------------------------


def exact_dup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(text_hash, n_copies, keep_id): one row per distinct content,
    keep_id = lowest doc id of the group."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def exact_dup_drops(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Rows to delete under keep-lowest-id exact dedup."""
    groups = exact_dup_groups(docs, text_col, id_col)
    return (
        docs.withColumn("text_hash", F.md5(F.col(text_col)))
        # no broadcast hint: the duplicate-group table grows with the
        # corpus, so a forced broadcast OOMs at scale — AQE picks
        # broadcast vs shuffle from the measured size at runtime
        .join(groups.where(F.col("n_copies") > 1), "text_hash")
        .where(F.col(id_col) != F.col("keep_id"))
        .select(F.col(id_col), "keep_id")
    )


# -- shingles / MinHash -----------------------------------------------------


def positioned_shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, pos, sh): every word-n-gram of every doc with its 0-based
    start position — the positioned core both ``exploded_shingles``
    (drop pos + distinct) and ``curation.contamination_spans`` (keep
    pos for the span merge) consume; one copy so the shingle format
    can never drift between them (code-review r11).

    Physical shape matters here: building shingles with a transform()
    lambda over element_at(tokens(...), i) re-evaluates the regexp
    tokenizer per element (no common-subexpression elimination in
    interpreted higher-order functions — measured ~15s for 5k docs).
    This version tokenizes ONCE per doc (posexplode evaluates its
    generator a single time), then forms n-grams with window lead()
    over (doc, pos) — everything stays in whole-stage codegen, and the
    only shuffle is the window partition, keyed well for scale."""
    from pyspark.sql.window import Window

    if n < 2:
        raise ValueError(f"shingle n must be >= 2, got {n}")
    toks = docs.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, n)]
    sh = F.concat_ws(" ", F.col("tok"), *leads)
    return (
        toks.select(
            F.col(id_col), "pos", sh.alias("sh"), leads[-1].alias("_last")
        )
        .where(F.col("_last").isNotNull())
        .select(id_col, "pos", "sh")
    )


def exploded_shingles(docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, sh): DISTINCT word-n-gram rows per doc (docs with < n
    tokens contribute nothing). Positions come from
    ``positioned_shingles`` (the shared core); this adds the drop +
    distinct."""
    return (
        positioned_shingles(docs, n, text_col, id_col)
        .select(id_col, "sh")
        .distinct()
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sig array<string>[num_hashes]): per seed s, the minimum of
    md5('s:' || shingle) over the doc's shingle set. String-min over
    hex digests is a valid uniform min-hash family and is reproducible
    in any engine with md5.

    Physical shape: exploded shingle rows (see exploded_shingles),
    the num_hashes md5 columns evaluated inside whole-stage codegen,
    then ONE hash aggregate (map-side partial min + final min) keyed on
    the doc id — instead of interpreted per-element transform() lambdas
    over the array, which are ~10x slower and run outside codegen.

    ``shingles`` (round-13, guide §5 lineage reuse): a caller that
    already holds the exploded DISTINCT (id, sh) relation — the exact
    output of ``exploded_shingles(docs, n, ...)``, typically
    materialized with localCheckpoint — passes it here so composite
    queries (q_minhash_pr, dedup_pipeline) build the shingle index
    ONCE instead of once per operator call. Same relation, same
    result; the caller owns the n/text_col consistency."""
    ex = (
        shingles
        if shingles is not None
        else exploded_shingles(docs, n, text_col, id_col)
    ).withColumnRenamed("sh", "_sh")
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("_sh")))).alias(f"_m{s}")
        for s in range(num_hashes)
    ]
    per_doc = ex.groupBy(id_col).agg(*mins)
    sig = F.array(*[F.col(f"_m{s}") for s in range(num_hashes)])
    return per_doc.select(F.col(id_col), sig.alias("sig"))


def lsh_bands(sigs: DataFrame, band_width: int = 2, id_col: str = "doc_id") -> DataFrame:
    """Explode signatures into (id, band, band_sig) rows; band_sig is
    the concatenation of band_width consecutive minhashes (element_at
    is 1-based: band b covers sig indices b*w+1 .. b*w+w)."""
    w = band_width
    bands = F.transform(
        F.sequence(F.lit(0), (F.size("sig") / F.lit(w)).cast("int") - 1),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.concat_ws(
                "|",
                *[
                    F.element_at(F.col("sig"), (b * w + j + 1).cast("int"))
                    for j in range(w)
                ],
            ).alias("band_sig"),
        ),
    )
    return sigs.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.band_sig").alias("band_sig")
    )


def lsh_occupancy(
    docs: DataFrame,
    num_hashes: int = 8,
    band_width: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Band-bucket occupancy dashboard for the MinHash-LSH blocking —
    the number to read BEFORE running the banded candidate join: per
    band, the bucket count, the hottest bucket, and the implied
    candidate-pair volume sum(c·(c−1)/2). A band whose max_bucket (or
    candidate_pairs) runs away is the signal that a signature column
    went degenerate (empty-text hash, boilerplate-dominated shingles)
    and the join needs the max_df cap / AQE-skew treatment — the
    dedup family's twin of q_key_skew. Output one row per band:
    (band, n_buckets, n_docs, max_bucket, candidate_pairs).

    Scale shape: one (band, band_sig)-keyed count (map-side partial —
    the hot buckets this exists to find collapse INSIDE the partial
    aggregate, so the dashboard itself never suffers the skew it
    measures), then one B-row rollup. candidate_pairs is computed in
    DECIMAL(38,0) with the even-factor halved BEFORE the multiply
    (c·(c−1) overflows BIGINT once a bucket passes ~3e9 members —
    exactly the catastrophic-bucket regime this dashboard detects, so
    it must keep counting there instead of throwing; the
    bucket_digests ANSI-overflow lesson)."""
    sigs = minhash_signatures(docs, num_hashes, n, text_col, id_col)
    bands = lsh_bands(sigs, band_width, id_col)
    bs = bands.groupBy("band", "band_sig").agg(
        F.count("*").cast("long").alias("c")
    )
    pairs = F.expr(
        "CAST(CASE WHEN c % 2 = 0 THEN CAST(c DIV 2 AS DECIMAL(19,0)) * (c - 1) "
        "ELSE CAST(c AS DECIMAL(19,0)) * ((c - 1) DIV 2) END AS DECIMAL(38,0))"
    )
    return (
        bs.select("band", "c", pairs.alias("_p"))
        .groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("c").cast("long").alias("n_docs"),
            F.max("c").cast("long").alias("max_bucket"),
            F.sum("_p").cast("decimal(38,0)").alias("candidate_pairs"),
        )
        .orderBy("band")
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 8,
    band_width: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Distinct (a, b) candidate pairs (a < b) sharing at least one LSH
    band. Equi-join on (band, band_sig) — bucket-local, not O(n^2).
    ``shingles``: optional prebuilt exploded_shingles relation (see
    minhash_signatures) so composite callers share one index build."""
    # both self-join sides would otherwise re-run the whole signature
    # pipeline; materialize the (tiny) band table once
    bands = lsh_bands(
        minhash_signatures(docs, num_hashes, n, text_col, id_col, shingles),
        band_width,
        id_col,
    ).localCheckpoint(eager=False)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b"))
        .distinct()
    )


def cross_source_dup_flow(
    docs: DataFrame,
    num_hashes: int = 8,
    band_width: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Which feeds re-crawl each other: the LSH near-dup candidate
    pairs rolled up to an UNORDERED source-pair flow matrix — one row
    per (s1 ≤ s2) source pair with a duplicate candidate, carrying the
    pair count, both corpus sizes, and the duplication rate
    (candidates per possible pair; the diagonal s1 = s2 is
    intra-source duplication with denominator n·(n−1)/2). The corpus-
    composition verdict "feed B is mostly re-crawls of feed A" that
    vocabulary overlap (q_source_overlap) can only hint at.

    Scale shape: candidate generation is the banded equi-join
    (lsh_candidate_pairs — never all-pairs); the source attach is two
    id-keyed equi-joins against the (id, source) projection (corpus-
    sized, so NOT broadcast — both joins shuffle on the id the pair
    table already carries); the rollup is one hash aggregate on a
    source-pair key whose cardinality is |sources|², tiny at any
    corpus size. Output: (s1, s2, n_pairs, n_docs_s1, n_docs_s2,
    dup_rate half-up 8-dp)."""
    pairs = lsh_candidate_pairs(
        docs, num_hashes, band_width, n, text_col, id_col
    )
    src = docs.select(F.col(id_col), F.col(source_col).alias("_src"))
    p = pairs.join(
        src.select(F.col(id_col).alias("a"), F.col("_src").alias("_sa")),
        "a",
    ).join(
        src.select(F.col(id_col).alias("b"), F.col("_src").alias("_sb")),
        "b",
    )
    flow = (
        p.select(
            F.least("_sa", "_sb").alias("s1"),
            F.greatest("_sa", "_sb").alias("s2"),
        )
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )
    sizes = docs.groupBy(F.col(source_col).alias("_s")).agg(
        F.count("*").cast("long").alias("_n")
    )
    out = flow.join(
        sizes.select(F.col("_s").alias("s1"), F.col("_n").alias("n_docs_s1")),
        "s1",
    ).join(
        sizes.select(F.col("_s").alias("s2"), F.col("_n").alias("n_docs_s2")),
        "s2",
    )
    # both branches force double BEFORE the multiply: at ~3e9 docs in
    # one source (the 100 TB regime) n*(n-1) overflows long and ANSI
    # mode throws — the bucket_digests overflow class (code-review r11)
    denom = F.when(
        F.col("s1") == F.col("s2"),
        F.col("n_docs_s1").cast("double")
        * (F.col("n_docs_s1") - 1)
        / F.lit(2.0),
    ).otherwise(
        F.col("n_docs_s1").cast("double") * F.col("n_docs_s2")
    )
    rate = F.when(
        denom > 0,
        F.floor(
            F.col("n_pairs") / denom * F.lit(100000000.0) + F.lit(0.5)
        )
        / F.lit(100000000.0),
    )
    return out.select(
        "s1", "s2", "n_pairs", "n_docs_s1", "n_docs_s2",
        rate.alias("dup_rate"),
    )


# -- n-gram Jaccard ---------------------------------------------------------


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(a, b, jaccard) for pairs sharing >= 1 shingle with Jaccard >=
    threshold. Inverted-index join: exploded distinct shingles,
    equi-join on the shingle, count intersections, derive the union
    from set sizes. The heavy join is on the shingle key —
    partition-parallel, skew-prone only on stop-shingles (AQE skew
    join handles it).

    The exploded index feeds FOUR subplans (both join sides + both
    size lookups); Catalyst plans each independently (no exchange
    reuse across the self-join), so the index is materialized once
    with localCheckpoint — the inverted-index build a dedup stage
    would persist anyway.

    ``max_df`` (opt-in): drop shingles whose document frequency
    exceeds it BEFORE the join — the standard stop-shingle heavy-hitter
    mitigation at corpus scale, where a boilerplate shingle shared by
    10^6 documents would otherwise produce a 10^12-row join key.
    APPROXIMATE when set: a pair whose only shared shingles are
    heavy hitters is missed, and set sizes shrink accordingly (so this
    is a candidate-recall/skew trade, never a default).

    ``shingles``: optional prebuilt (and already materialized)
    exploded_shingles relation shared with sibling operator calls —
    when given, this skips both the rebuild and the re-checkpoint."""
    ex = (
        shingles
        if shingles is not None
        else exploded_shingles(docs, n, text_col, id_col).localCheckpoint(
            eager=False
        )
    )
    if max_df is not None:
        dfreq = ex.groupBy("sh").agg(F.count("*").alias("_df"))
        ex = (
            ex.join(dfreq.where(F.col("_df") <= max_df), "sh")
            .select(id_col, "sh")
            .localCheckpoint(eager=False)
        )
    sizes = ex.groupBy(id_col).agg(F.count("*").cast("int").alias("n_sh"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("a"), F.col(f"b.{id_col}").alias("b")
        )
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# -- SimHash ----------------------------------------------------------------


def _token_hash(col: Column) -> Column:
    """First 15 hex chars of md5 as a 60-bit integer — reproducible in
    any engine (DuckDB: ('0x'||substr(md5(t),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(
    docs: DataFrame, bits: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash): bit b of the fingerprint is 1 iff the sum over
    token OCCURRENCES of ±1 (sign of bit b of the token hash) is > 0.
    One explode + one groupBy; at scale this is a single shuffle on
    doc id with map-side partial aggregation."""
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", _token_hash(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    per_doc = tok.groupBy(id_col).agg(*aggs)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return per_doc.select(F.col(id_col), fp.cast("long").alias("simhash"))


def simhash_pairs_brute(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, hamming) for pairs within max_hamming bits, by brute
    all-pairs xor+bit_count (an O(n^2) BroadcastNestedLoopJoin). The
    oracle/property twin of simhash_pairs — same definition with no
    blocking step, kept for fixture-scale equivalence tests only."""
    s = simhash(docs, bits, text_col, id_col)
    a = s.select(F.col(id_col).alias("a"), F.col("simhash").alias("ha"))
    b = s.select(F.col(id_col).alias("b"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_segments(
    fingerprints: DataFrame,
    max_hamming: int = 3,
    bits: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode (id, simhash) into (id, simhash, seg, val) rows: the
    fingerprint split into ``max_hamming + 1`` contiguous bit segments
    (ceil/floor split when bits doesn't divide evenly). Pigeonhole:
    flipping at most max_hamming bits cannot touch every one of the
    max_hamming + 1 segments, so any pair within the Hamming radius
    shares at least one (seg, val) exactly."""
    nseg = max_hamming + 1
    bounds = [round(i * bits / nseg) for i in range(nseg + 1)]
    segs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seg"),
                F.shiftright(F.col("simhash"), bounds[i])
                .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))
                .alias("val"),
            )
            for i in range(nseg)
        ]
    )
    return fingerprints.select(
        F.col(id_col), F.col("simhash"), F.explode(segs).alias("sv")
    ).select(id_col, "simhash", F.col("sv.seg").alias("seg"), F.col("sv.val").alias("val"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(a, b, hamming) for pairs within max_hamming bits. EXACT (equals
    the brute all-pairs definition, pinned by test), via two stages
    that both stay bounded at corpus scale:

    1. VALUE-SPACE banding: the candidate search runs over DISTINCT
       fingerprint values — at most 2^bits of them no matter how many
       documents — split into max_hamming + 1 pigeonhole segments and
       equi-joined on exact (segment, value) matches (see
       simhash_segments: any value pair within the Hamming radius
       shares a segment), then xor+bit_count verification. Work is
       O(value collisions), independent of corpus size; the doc-space
       banding alternative was measured 3x slower at 5k docs because
       bucket populations (not bucket counts) grow with the corpus.
    2. Expansion: qualifying value pairs hash-join back to doc ids on
       the fingerprint (va < vb pairs ordered per-doc by least/
       greatest; va == vb groups expand id-ordered within the group).
       This join's output IS the result set, so its size is inherent
       to the query, and a hot fingerprint value is equi-join skew AQE
       splits like any other.

    The fingerprint table feeds several subplans; localCheckpoint
    materializes the (tokenize + bit-sum) aggregation once."""
    s = simhash(docs, bits, text_col, id_col).localCheckpoint(eager=False)
    vals = s.select("simhash").distinct()
    segs = simhash_segments(vals.withColumn("_v", F.col("simhash")), max_hamming, bits, "_v")
    a = segs.select(F.col("simhash").alias("va"), "seg", "val")
    b = segs.select(F.col("simhash").alias("vb"), "seg", "val")
    ham = F.bit_count(F.col("va").bitwiseXOR(F.col("vb")))
    vpairs = (
        a.join(b, ["seg", "val"])
        .where(F.col("va") < F.col("vb"))
        .select("va", "vb", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()  # a value pair may collide on several segments
    )
    da = s.select(F.col(id_col).alias("ia"), F.col("simhash").alias("va"))
    db = s.select(F.col(id_col).alias("ib"), F.col("simhash").alias("vb"))
    cross = (
        vpairs.join(da, "va")
        .join(db, "vb")
        .select(
            F.least("ia", "ib").alias("a"),
            F.greatest("ia", "ib").alias("b"),
            "hamming",
        )
    )
    same = (
        da.join(
            s.select(F.col(id_col).alias("ib"), F.col("simhash").alias("va")), "va"
        )
        .where(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("a"), F.col("ib").alias("b"), F.lit(0).alias("hamming"))
    )
    return cross.unionByName(same.select("a", "b", F.col("hamming").cast(cross.schema["hamming"].dataType)))


def jaccard_for_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(a, b, jaccard) restricted to the given candidate (a, b) pairs —
    the verification stage after LSH candidate generation. Work is
    O(|pairs| * shingles-per-doc), never all-pairs: candidates are
    equi-joined to the exploded shingle index on each side (the index
    is materialized once — see jaccard_pairs). ``shingles``: optional
    prebuilt (already materialized) exploded_shingles relation shared
    with sibling operator calls."""
    ex = (
        shingles
        if shingles is not None
        else exploded_shingles(docs, n, text_col, id_col).localCheckpoint(
            eager=False
        )
    )
    sizes = ex.groupBy(id_col).agg(F.count("*").cast("int").alias("n_sh"))
    ea = ex.select(F.col(id_col).alias("a"), F.col("sh").alias("sha"))
    eb = ex.select(F.col(id_col).alias("_b"), F.col("sh").alias("shb"))
    inter = (
        pairs.join(ea, "a")
        .join(eb, (F.col("b") == F.col("_b")) & (F.col("sha") == F.col("shb")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sa, "a").join(sb, "b").select("a", "b", jac.alias("jaccard"))
    )


def dedup_pipeline(
    docs: DataFrame,
    verify_threshold: float = 0.3,
    num_hashes: int = 8,
    band_width: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end dedup decision per document — the composite a
    training-data pipeline actually runs:

    1. exact dedup (hash-groupBy): non-lowest ids of identical content
       -> 'exact_dup';
    2. MinHash+LSH candidate generation over the exact-dedup survivors;
    3. Jaccard verification of candidates (>= verify_threshold);
       the higher id of each verified pair -> 'near_dup';
    4. everything else -> 'keep'.

    Returns (doc_id, status). Every stage is equi-join/groupBy shaped
    (no all-pairs work), so the pipeline scales linearly in candidates.
    """
    exact_drops = exact_dup_drops(docs, text_col, id_col).select(id_col)
    survivors = docs.join(exact_drops, id_col, "left_anti")
    # ONE shingle-index build feeds both LSH banding and Jaccard
    # verification (round-13, guide §5/§6 reuse: each operator would
    # otherwise re-run tokenize -> posexplode -> lead-window -> distinct
    # over the survivor corpus)
    ex = exploded_shingles(survivors, n, text_col, id_col).localCheckpoint(
        eager=False
    )
    cands = lsh_candidate_pairs(
        survivors, num_hashes, band_width, n, text_col, id_col, shingles=ex
    )
    verified = jaccard_for_pairs(
        survivors, cands, n, text_col, id_col, shingles=ex
    ).where(
        F.col("jaccard") >= verify_threshold
    )
    near_drops = verified.select(F.col("b").alias(id_col)).distinct()
    return (
        docs.select(id_col)
        # drop tables scale with the duplicate count — leave the
        # broadcast-vs-shuffle choice to AQE's runtime size stats
        .join(exact_drops.withColumn("_ex", F.lit(1)), id_col, "left")
        .join(near_drops.withColumn("_nd", F.lit(1)), id_col, "left")
        .select(
            id_col,
            F.when(F.col("_ex") == 1, F.lit("exact_dup"))
            .when(F.col("_nd") == 1, F.lit("near_dup"))
            .otherwise(F.lit("keep"))
            .alias("status"),
        )
    )


def validate_band_width(
    index_band_table: DataFrame, band_width: int
) -> None:
    """Loud-fail probe for a stored band index (one ``first()`` job):
    a table banded with a different ``band_width`` would match NOTHING
    in the (band, band_sig) equi-join — every arrival 'new' forever, a
    silent recall-0 dedup. ``band_sig`` carries band_width '|'-joined
    minhashes, so the width is one row away. (The hash-seed family and
    shingle n are not recoverable from the rows — matching them is the
    caller's contract.) Hoisted out of incremental_minhash_dedup so a
    streaming caller validates ONCE before ``.start()`` instead of
    paying the probe job every micro-batch (ADVICE r9)."""
    probe = index_band_table.select("band_sig").first()
    if probe is not None:
        got_w = probe["band_sig"].count("|") + 1
        if got_w != band_width:
            raise ValueError(
                f"index_band_table was banded with band_width="
                f"{got_w}, but this call uses band_width="
                f"{band_width} — the (band, band_sig) join would "
                "match nothing and every arrival would pass as "
                "'new'. Rebuild the index or pass matching "
                "num_hashes/band_width/n."
            )


def incremental_minhash_dedup(
    delta_docs: DataFrame,
    index_docs: DataFrame,
    num_hashes: int = 8,
    band_width: int = 2,
    n: int = 3,
    verify_threshold: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
    index_band_table: DataFrame | None = None,
    validate_index: bool = True,
) -> DataFrame:
    """Index-vs-delta near-dedup — the shape a continuously-fed
    training corpus actually runs daily: an arriving shard
    (``delta_docs``) is checked against the ALREADY-INGESTED corpus
    (``index_docs``) without ever re-deduplicating the corpus itself.
    Per delta doc: ``status`` ('near_dup' | 'new'), the best-matching
    index doc (highest verified Jaccard, ties to the lowest index id)
    and its Jaccard; ``dup_of``/``jaccard`` are NULL for 'new'.

    Scale shape (the reason this is its own operator and not
    ``dedup_pipeline`` re-run on corpus+delta):

    * the corpus side participates ONLY through its banded MinHash
      table — ``(id, band, band_sig)``, num_hashes/band_width rows per
      doc. At 100 TB that table is precomputed once at ingest and
      stored (pass it as ``index_band_table``; building it here from
      ``index_docs`` is the small-corpus convenience path). The daily
      cost is then O(delta shingles) + one equi-join into the stored
      band index — work proportional to the DELTA, not the corpus.
    * verification (exact Jaccard) re-derives shingles only for docs
      that appear in some candidate pair (semi-join pruning below) —
      a near-dup check touches the few corpus docs the bands point
      at, never the corpus.
    * the best-match argmax is the two-hash-aggregate pattern (max
      jaccard, re-join at the exact winning double, min index id) —
      never ``min(struct(...))``, which plans as SortAggregate over
      the pair stream (the SCALE.md §8 lesson).

    The exact-hash twin of this check is ``q_dedup_incremental``
    (md5 semi-join); this operator catches what that one cannot —
    arriving docs that are near-COPIES of ingested ones."""
    delta_bands = lsh_bands(
        minhash_signatures(delta_docs, num_hashes, n, text_col, id_col),
        band_width,
        id_col,
    ).localCheckpoint(eager=False)
    if index_band_table is None:
        index_band_table = lsh_bands(
            minhash_signatures(index_docs, num_hashes, n, text_col, id_col),
            band_width,
            id_col,
        )
    elif validate_index:
        # validate_index=False is for callers that already ran
        # validate_band_width on this exact table (the streaming
        # ingest loop validates once before .start(), not per batch)
        validate_band_width(index_band_table, band_width)
    idx = index_band_table.select(
        F.col(id_col).alias("_ib"), "band", "band_sig"
    ).localCheckpoint(eager=False)
    cands = (
        delta_bands.join(idx, ["band", "band_sig"])
        .select(F.col(id_col).alias("a"), F.col("_ib").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # verify only the participants: shingles are re-derived for docs
    # in some candidate pair, never for the whole corpus
    part_a = cands.select(F.col("a").alias(id_col))
    part_b = cands.select(F.col("b").alias(id_col))
    needed = (
        delta_docs.join(part_a.distinct(), id_col, "semi")
        .unionByName(index_docs.join(part_b.distinct(), id_col, "semi"))
    )
    hits = jaccard_for_pairs(needed, cands, n, text_col, id_col).where(
        F.col("jaccard") >= verify_threshold
    ).localCheckpoint(eager=False)
    best_j = hits.groupBy("a").agg(F.max("jaccard").alias("jaccard"))
    best = (
        hits.join(best_j, ["a", "jaccard"])
        .groupBy("a", "jaccard")
        .agg(F.min("b").alias("dup_of"))
    )
    return (
        delta_docs.select(id_col)
        .join(best.withColumnRenamed("a", id_col), id_col, "left")
        .select(
            id_col,
            F.when(F.col("dup_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
            "dup_of",
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def extend_band_index(
    index_band_table: DataFrame,
    accepted_docs: DataFrame,
    num_hashes: int = 8,
    band_width: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Close the daily incremental-dedup loop: after
    ``incremental_minhash_dedup`` screens a shard, the ACCEPTED
    ('new') docs join the corpus — so their bands must join the
    stored index before tomorrow's shard arrives. Returns the
    extended ``(id, band, band_sig)`` relation; at 100 TB the caller
    appends ONLY the second operand's rows to the stored index table
    (partitioned by band — this union is the convenience form for
    in-session chaining, and Spark plans it as a no-shuffle unionAll
    either way). Shingling cost is O(accepted docs), never the
    corpus."""
    new_bands = lsh_bands(
        minhash_signatures(accepted_docs, num_hashes, n, text_col, id_col),
        band_width,
        id_col,
    )
    return index_band_table.select(
        F.col(id_col), "band", "band_sig"
    ).unionByName(new_bands)


def dup_groups(
    pairs: DataFrame,
    max_iter: int = 10,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Transitive dedup groups from a near-dup pair list: (doc_id,
    group_id) where group_id is the MINIMUM doc id reachable through
    any chain of pairs (the canonical representative a dedup pipeline
    keeps). Pairs alone under-delete: if A~B and B~C but A!~C,
    keep-lowest-per-pair keeps {A, C}; the connected component keeps
    only A.

    Algorithm: iterative min-label propagation (the standard
    large-graph connected-components loop — e.g. Spark GraphX/
    GraphFrames implement the same fixpoint). Each round every node
    takes min(own label, neighbors' labels) via one equi-join on the
    undirected edge list + one groupBy; rounds needed = graph diameter
    (dup clusters are tiny cliques/chains, so a handful; raises if
    max_iter rounds don't reach the fixpoint rather than returning a
    wrong grouping). Sizing rule: the min label travels one hop per
    round and the loop needs one further round to OBSERVE no change,
    so ``max_iter >= diameter + 1``; the default 10 therefore covers
    any component of diameter <= 9, far beyond near-dup cluster
    shapes — a corpus that trips the raise (a >9-hop dup CHAIN) is
    pathological enough to warrant a human look, which is exactly why
    the failure mode is an exception and never a silent wrong answer
    (``tests/test_dedup.py`` pins the raise on a 12-node chain). Each round localCheckpoints the K-row label table:
    iterative self-joins otherwise re-derive the whole upstream
    lineage per round (exponential plan growth — same failure mode the
    DuckDB oracle hits without MATERIALIZED).

    Only nodes that appear in some pair are returned (singletons form
    their own group trivially — union them in from the corpus if
    needed)."""
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(F.col("u").alias("node"), F.least("u", "mn").alias("label"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nl"))
        )
        # The new label is least(old, min neighbor) and labels only
        # ever DECREASE, so "this node moved" is computable in the
        # same projection (new < old) — the previous form re-joined
        # new_labels against labels just to detect a change, one full
        # extra shuffle join per round (round-12 optimization; the
        # convergence decision is bit-identical).
        new = F.least(F.col("label"), F.coalesce(F.col("nl"), F.col("label")))
        new_labels = (
            labels.join(neigh, labels["node"] == neigh["u"], "left")
            .select(
                "node",
                new.alias("label"),
                (new < F.col("label")).alias("_moved"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.where(F.col("_moved")).limit(1).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            return labels.select(F.col("node"), F.col("label").alias("group_id"))
    raise RuntimeError(
        f"dup_groups did not converge in {max_iter} rounds — raise max_iter "
        "(diameter of the dup graph exceeds it)"
    )


# -- embedding near-dup -----------------------------------------------------


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.5,
    dim: int = 64,
    planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(a, b, cos) for pairs a < b in the SAME hyperplane-LSH bucket
    with cosine >= threshold — candidate generation by bucket equi-join
    (similarity.lsh_bucket_expr's deterministic planes), exact in-order
    cosine scoring within the bucket.

    Scale shape: each vector lands in exactly one of 2^planes buckets,
    so candidates come from a hash equi-join on the bucket id — never a
    cross join, no driver materialization, nothing broadcast that grows
    with the corpus. Recall < 1 by design (a qualifying pair split
    across buckets is missed; P[same bucket] rises with cosine), which
    is the standard SemDeDup-style trade; the SQL oracle mirrors the
    bucketing exactly so the comparison is still exact, and the recall
    achieved on the fixture corpus is measured in tests. More planes =
    smaller buckets = less in-bucket work and lower recall.

    The bucket projection feeds both self-join sides; localCheckpoint
    materializes the (interpreted-HOF) bucket computation once.

    Scoring stays in Column expressions here so DuckDB can replay it
    bit-for-bit (unrolled codegen dot product + norms precomputed once
    per vector before the join — same doubles as the HOF/list_inner_
    product forms).

    ``planes=None`` (the default) sizes the blocking to the corpus via
    ``similarity.auto_planes`` (one count() job): fixed plane counts
    are the measured SCALE.md §8 quadratic cliff — bucket occupancy
    grows linearly with the corpus, candidate pairs quadratically.
    Pass explicit ``planes`` to pin the bucketing and own the knob
    (no registered query does since the round-12 q_dedup_embed
    re-pin; the oracles derive planes from count(*))."""
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        auto_planes,
        lsh_bucket_expr,
    )

    if planes is None:
        planes = auto_planes(embeddings.count())
    from mapreduce_kmeans_clustering_spark.functions.distance import (
        dot_unrolled,
        norm_unrolled,
        safe_cosine,
    )

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
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
    # safe_cosine: zero/NaN vectors yield NULL (never ANSI
    # DIVIDE_BY_ZERO, never NaN-matches-everything), which the
    # threshold predicate then filters — same convention as
    # semantic_dedup and the numpy twin below
    cos = safe_cosine(
        dot_unrolled(F.col("va"), F.col("vb"), dim), F.col("na"), F.col("nb")
    )
    # Round-12: score through an explode(array(...)) barrier. Without
    # it the optimizer pushes the threshold filter below the project
    # and INTO the join condition, where the unrolled dot is evaluated
    # by the interpreter once per candidate pair and then AGAIN in the
    # projection for survivors (observed in the executed plan: the
    # whole 64-term tree inside BroadcastHashJoin's condition). A
    # filter on a generator output cannot cross the Generate, so the
    # cosine is evaluated exactly once, inside WholeStageCodegen.
    # explode(array(x)) is row-preserving (the array is never
    # null/empty; NULL cos survives to the filter as before) — pinned
    # identical output by test, measured 2.3 s -> 1.2 s on this pair
    # stage at sf0.1.
    return (
        a.join(b, "_bucket")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.explode(F.array(cos)).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def embedding_near_dup_brute(
    embeddings: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs (a, b, cos >= threshold) — O(n^2) BNLJ, fixture
    scale only: the recall denominator for the bucketed variants and
    the equivalence baseline in tests."""
    from mapreduce_kmeans_clustering_spark.functions.distance import (
        cosine_similarity,
    )

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vecs = embeddings.select(F.col(id_col).alias("_id"), v.alias("_v"))
    a = vecs.select(F.col("_id").alias("a"), F.col("_v").alias("va"))
    b = vecs.select(F.col("_id").alias("b"), F.col("_v").alias("vb"))
    cos = cosine_similarity(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def repeated_passages(
    docs: DataFrame,
    gram_len: int = 20,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Passage-level repetition: character ``gram_len``-grams that
    recur across >= ``min_docs`` distinct documents — the sliding-
    window analog of exact-substring training-data dedup (Lee et al.,
    2022 find repeated passages, not whole-doc copies, dominate web
    corpora; their suffix-array tool is single-machine, this is the
    partition-parallel shape).

    One generator (positions per doc) + one hash aggregate keyed on
    the gram hash — inverted-index style, never doc x doc. Shuffle
    carries hash(gram) not the gram text. Boilerplate grams are the
    usual hot keys: AQE skew-join plus the same max_df-style cap as
    jaccard_pairs apply if a gram goes degenerate.

    ``hash_fn``: ``"md5"`` (default) is the oracle-replayable form
    DuckDB can compute; ``"xxhash64"`` is the PRODUCTION hash — the
    hash dominates this operator's cost (one hash per character
    position), and Spark's xxhash64 is several times cheaper than md5
    per call with a 64-bit output that keeps collisions negligible at
    corpus scale (~n²/2⁶⁵). Same qualifying grams either way
    (hash-equality is gram-equality modulo collisions); only the ``h``
    column's representation differs (hex string vs signed long).

    Output: (h, n_occurrences, n_docs) for qualifying grams.
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    t = F.coalesce(F.col(text_col), F.lit(""))
    eligible = docs.where(F.length(t) >= gram_len)
    # sequence(1, n) needs n >= 1 (it counts DOWN when stop < start)
    pos = F.explode(
        F.sequence(F.lit(1), F.length(t) - F.lit(gram_len - 1))
    ).alias("pos")
    gram = F.substring(F.col("__t"), F.col("pos"), F.lit(gram_len))
    h = F.md5(gram) if hash_fn == "md5" else F.xxhash64(gram)
    grams = eligible.select(F.col(id_col), pos, t.alias("__t")).select(
        id_col,
        h.alias("h"),
    )
    # two stacked aggregates instead of count+countDistinct in one:
    # the (h, doc) pre-aggregate collapses map-side (most grams are
    # unique within a doc) and avoids the Expand plan a multi-distinct
    # aggregate costs (2x the gram stream) — measured 5.1 s -> 4.0 s
    # warm at sf0.1
    per_doc = grams.groupBy("h", id_col).agg(
        F.count("*").cast("long").alias("c")
    )
    agg = per_doc.groupBy("h").agg(
        F.sum("c").cast("long").alias("n_occurrences"),
        F.count("*").cast("long").alias("n_docs"),
    )
    return agg.where(F.col("n_docs") >= min_docs)


def merge_positions_to_spans(
    matched: DataFrame, n: int, id_col: str = "doc_id"
) -> DataFrame:
    """Gaps-and-islands merge of matched word-``n``-gram START
    positions (``(id, pos)`` rows, pos unique per doc) into MAXIMAL
    covered token spans ``(id, _s, _e)`` — 0-based inclusive ranges.
    Two matches whose covered ranges touch or overlap (start gap <= n)
    fuse into one span.

    This is the ONE home of the span-merge semantics: both
    ``curation._matched_spans`` (benchmark decontamination) and
    ``passage_scrub`` (cross-document repetition removal) call it, so
    an audit and a scrub can never disagree on span boundaries.

    Plan shape: one lag() window to flag span breaks, one running
    sum() to number spans, one hash aggregate — all three share the
    doc-id partitioning, so the merge costs a single shuffle."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) > n, F.lit(1)
    ).otherwise(F.lit(0))
    numbered = matched.withColumn("_brk", brk).withColumn(
        "_span",
        F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return numbered.groupBy(id_col, "_span").agg(
        F.min("pos").alias("_s"),
        (F.max("pos") + F.lit(n - 1)).alias("_e"),
    )


def excise_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Re-emit every doc of ``docs`` as its token stream with the
    ``(id, _s, _e)`` spans excised — one row per input doc:
    ``(id, scrubbed_text, n_kept, n_removed)``; docs with no spans
    pass through with n_removed = 0, fully-covered docs emit empty
    text. The rebuild half shared by ``curation.
    scrub_contaminated_spans`` and ``passage_scrub``.

    Plan shape: spans exploded to covered positions (total size is
    covered_tokens <= corpus tokens), one (doc, pos) equi-ANTI-join —
    never a range-predicate join, which would plan a nested loop —
    and one sort_array(collect_list(struct(pos, tok))) rebuild per
    doc; the doc-list pass reads only the id column (pruned scan).

    The spans relation is checkpointed (lazily): it is TINY — one row
    per maximal span — but its lineage is the whole match pipeline
    (shingle window + stats aggregate + hash join for passage_scrub),
    and it feeds two consumers; without truncation the chain evaluates
    twice per action (the q_web_pipeline survivor-boundary precedent;
    measured on passage_scrub at a ×10 corpus: the sweep's min-of-2
    went 113.9 s → 4.97 s, exponent 1.48 → 0.08 — the double
    evaluation also made every downstream join replan against
    unmaterialized stats). n_removed is computed ARITHMETICALLY from
    the span bounds (maximal merged spans never overlap), not by
    re-exploding covered positions."""
    spans = spans.localCheckpoint(eager=False)
    covered = spans.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("_s"), F.col("_e"))).alias("pos"),
    )
    toks = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("scrubbed_text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    covcnt = spans.groupBy(id_col).agg(
        F.sum(F.col("_e") - F.col("_s") + 1)
        .cast("long")
        .alias("_n_removed")
    )
    return (
        docs.select(F.col(id_col))
        .join(rebuilt, id_col, "left")
        .join(covcnt, id_col, "left")
        .select(
            id_col,
            F.coalesce("scrubbed_text", F.lit("")).alias("scrubbed_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("_n_removed", F.lit(0)).cast("long").alias(
                "n_removed"
            ),
        )
    )


def _passage_gram_hash(hash_fn: str) -> Column:
    """The 8-byte NON-NEGATIVE gram key over column ``sh`` — one home
    shared by ``passage_scrub`` and the gram index so batch and
    index-vs-delta forms can never disagree on a gram's identity.
    md5 60-bit prefix (oracle-replayable) or xxhash64 with the sign
    bit cleared (production; masking keeps the stored index's -1
    geometry sentinel impossible as a data key — the bloom word >= 0
    argument — at the cost of halving the keyspace to 2^63,
    still a ~n²/2⁶⁴ collision budget)."""
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast(
            "long"
        )
    return F.xxhash64(F.col("sh")).bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))


def passage_scrub(
    docs: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """Cross-document repeated-passage REMOVAL — the scrub consumer of
    ``repeated_passages``' audit signal (Lee et al. 2022, ExactSubstr:
    repeated passages, not whole-doc copies, dominate web corpora, and
    training on them measurably hurts — their remedy is removing the
    repeated substring, not the document). Every word-``n``-gram that
    occurs in >= ``min_docs`` DISTINCT documents is scrubbed from all
    but one canonical copy: the doc with the MINIMUM id keeps its
    occurrence (per gram), every other doc's covering positions merge
    into maximal spans (``merge_positions_to_spans``) and are excised
    (``excise_spans``). Output one row per input doc:
    ``(id, scrubbed_text, n_kept, n_removed)``.

    Within-doc repetition (a gram repeated in ONE doc only) is out of
    scope by design — that is ``text.repetition_stats``' signal; this
    operator removes CROSS-document duplication, so an exact clone of
    a kept doc scrubs to empty while the canonical copy is untouched.

    The same seam caveat as ``curation.scrub_contaminated_spans``
    applies: excising a span can join its neighbors into a NEW
    repeated n-gram; one pass removes every pre-existing repeat.

    Scale shape: the shuffle key is an 8-byte gram hash, never the
    gram text (``ngram_diversity``'s convention; a collision mis-flags
    ~n²/2⁶¹ grams, zero in any real corpus), a (gram, doc)
    pre-aggregate collapses in-doc repeats map-side (the
    ``repeated_passages`` two-stacked-aggregates pattern), and the
    keeper verdict joins back on the 8-byte hash — inverted-index
    style, never doc x doc. Boilerplate grams are the usual hot keys;
    they fan out matched POSITIONS (bounded by corpus tokens), never
    pairs, so there is no quadratic mode to salt.

    ``hash_fn``: ``"md5"`` (default) is the 60-bit-prefix form the
    DuckDB oracle replays; ``"xxhash64"`` is the PRODUCTION hash (the
    ``repeated_passages`` dial — one hash per gram position dominates
    this operator's scan cost, and Spark's xxhash64 is several times
    cheaper per call). Same scrub verdicts either way modulo the
    negligible collision class — pinned identical by test."""
    if n < 2:
        raise ValueError(f"passage gram length must be >= 2, got {n}")
    if min_docs < 2:
        raise ValueError(
            f"min_docs < 2 would scrub unrepeated text, got {min_docs}"
        )
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    ps = positioned_shingles(docs, n, text_col, id_col)
    gh = _passage_gram_hash(hash_fn)
    pos_h = ps.select(F.col(id_col), "pos", gh.alias("gh"))
    per_doc = pos_h.groupBy("gh", id_col).agg(F.count("*").alias("_c"))
    stats = (
        per_doc.groupBy("gh")
        .agg(
            F.count("*").cast("long").alias("_n_docs"),
            F.min(id_col).alias("_keeper"),
        )
        .where(F.col("_n_docs") >= min_docs)
    )
    matched = (
        pos_h.join(stats, "gh")
        .where(F.col(id_col) != F.col("_keeper"))
        .select(id_col, "pos")
    )
    spans = merge_positions_to_spans(matched, n, id_col)
    return excise_spans(docs, spans, text_col, id_col)


# Geometry sentinel for stored passage-gram indexes: gh = -1 never
# occurs as a data key (_passage_gram_hash is non-negative by
# construction for both hash functions), n_docs carries the gram
# length n, keeper carries the hash function (0 = md5, 1 = xxhash64)
# — the bloom/DSIR precedent: a wrong-n or wrong-hash probe would
# silently scrub nothing (or the wrong spans), so geometry travels
# inside the state and mismatches are refused loudly.
_PASSAGE_SENTINEL_GH = -1
_PASSAGE_HASH_CODES = {"md5": 0, "xxhash64": 1}


def _passage_sentinel(like: DataFrame, n: int, hash_fn: str) -> DataFrame:
    return like.sparkSession.createDataFrame(
        [(_PASSAGE_SENTINEL_GH, int(n), _PASSAGE_HASH_CODES[hash_fn])],
        "gh LONG, n_docs LONG, keeper LONG",
    )


def passage_gram_index(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """The MERGEABLE state of the repeated-passage scrub — SIXTH
    member of the streaming index-maintenance family (band, URL,
    boilerplate, Bloom, DSIR profile): one row per DISTINCT
    word-``n``-gram of the corpus, ``(gh, n_docs, keeper)`` —
    distinct-doc count and minimum containing doc id — plus the
    geometry sentinel. Counts are additive and keepers min-combine
    across batches holding disjoint documents, so a continuously-fed
    corpus maintains its gram table at O(batch) per day
    (``extend_passage_index`` / ``merge_passage_indexes``) and scrubs
    arrivals against it with ``passage_scrub_delta`` — work scaling
    with the delta, never the history.

    State size is the distinct-gram count (corpus-proportional — the
    band index precedent, not the fixed-size Bloom/DSIR states); the
    8-byte hash key keeps it ~16-24 B/gram. One positioned-shingle
    pass + two stacked hash aggregates (the (gh, doc) pre-aggregate
    collapses in-doc repeats map-side)."""
    if n < 2:
        raise ValueError(f"passage gram length must be >= 2, got {n}")
    if hash_fn not in _PASSAGE_HASH_CODES:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    counts = _passage_gram_counts(docs, n, text_col, id_col, hash_fn)
    return counts.unionByName(_passage_sentinel(docs, n, hash_fn))


_INTEGRAL_DTYPES = {"tinyint", "smallint", "int", "bigint"}


def _passage_gram_counts(
    docs: DataFrame, n: int, text_col: str, id_col: str, hash_fn: str
) -> DataFrame:
    """Sentinel-less (gh, n_docs, keeper) — the data half of
    ``passage_gram_index``; extension folds these directly (the
    ``_dsir_counts`` pattern). The stored keeper column is LONG, so a
    non-integral id type is refused loudly here (casting would null
    every keeper silently — the opposite of the sentinel family's
    loud-refusal posture; the batch ``passage_scrub`` has no stored
    schema and keeps supporting any orderable id)."""
    dtype = dict(docs.dtypes).get(id_col)
    if dtype not in _INTEGRAL_DTYPES:
        raise ValueError(
            f"passage_gram_index stores keeper as BIGINT; id column "
            f"{id_col!r} has type {dtype!r} — use an integral doc id "
            "for the index forms"
        )
    ps = positioned_shingles(docs, n, text_col, id_col)
    pos_h = ps.select(F.col(id_col), _passage_gram_hash(hash_fn).alias("gh"))
    per_doc = pos_h.groupBy("gh", id_col).agg(F.count("*").alias("_c"))
    return per_doc.groupBy("gh").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min(id_col).cast("long").alias("keeper"),
    )


def passage_index_geometry(index: DataFrame) -> tuple[int, str]:
    """(n, hash_fn) from a stored gram index's sentinel row; a
    sentinel-less relation is refused loudly (not an index this
    module wrote — rebuild with ``passage_gram_index``)."""
    rows = (
        index.where(F.col("gh") == _PASSAGE_SENTINEL_GH)
        .select("n_docs", "keeper")
        .collect()
    )
    if len(rows) == 0:
        raise ValueError(
            "stored passage-gram index has no geometry sentinel (gh = -1); "
            "rebuild it with passage_gram_index"
        )
    if len(rows) > 1:
        raise ValueError(
            f"stored passage-gram index carries {len(rows)} geometry "
            "sentinels — this is several indexes read wholesale (e.g. "
            "the whole _batch_index directory); fold them pairwise with "
            "merge_passage_indexes instead"
        )
    code = int(rows[0]["keeper"])
    names = {v: k for k, v in _PASSAGE_HASH_CODES.items()}
    if code not in names:
        raise ValueError(f"unknown hash-function code {code} in sentinel")
    return int(rows[0]["n_docs"]), names[code]


def extend_passage_index(
    stored: DataFrame,
    batch_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fold a batch of arriving documents into a stored gram index —
    O(batch grams) + one merge over the touched keys, never a history
    rescan. Geometry (n, hash_fn) is read ONCE from the sentinel, and
    the batch's counts fold in sentinel-less (the DSIR-extend
    pattern). Additive counts + min-combining keepers are exact for
    batches holding disjoint documents; like the other count indexes
    (and unlike the idempotent Bloom fold) a replayed batch
    double-counts — the per-epoch side-output directories are the
    replay bookkeeping."""
    n, hash_fn = passage_index_geometry(stored)
    batch = _passage_gram_counts(batch_docs, n, text_col, id_col, hash_fn)
    data = (
        stored.where(F.col("gh") != _PASSAGE_SENTINEL_GH)
        .unionByName(batch)
        .groupBy("gh")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.min("keeper").cast("long").alias("keeper"),
        )
    )
    return data.unionByName(_passage_sentinel(stored, n, hash_fn))


def merge_passage_indexes(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two stored gram indexes (e.g. per-epoch ``_batch_index``
    side outputs): counts sum, keepers min-combine, sentinels
    validated equal and carried through exactly once."""
    ga, gb = passage_index_geometry(a), passage_index_geometry(b)
    if ga != gb:
        raise ValueError(
            f"passage-gram index geometry mismatch: {ga} vs {gb} — indexes "
            "built under different n/hash_fn cannot be merged; rebuild one side"
        )
    data = (
        a.unionByName(b)
        .where(F.col("gh") != _PASSAGE_SENTINEL_GH)
        .groupBy("gh")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.min("keeper").cast("long").alias("keeper"),
        )
    )
    return data.unionByName(_passage_sentinel(a, ga[0], ga[1]))


def passage_scrub_delta(
    index: DataFrame,
    batch_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Scrub ARRIVING documents against the stored gram index — the
    index-vs-delta leg of ``passage_scrub`` (the
    ``incremental_minhash_dedup`` contract: work scales with the
    delta, the corpus is represented by its index). Any arrival gram
    PRESENT in the index is a passage the corpus already contains, so
    its positions merge into maximal spans and are excised from the
    arrival (the corpus copy is the canonical one by seniority —
    arrivals never displace it). Output contract matches
    ``passage_scrub``: one row per arriving doc,
    ``(id, scrubbed_text, n_kept, n_removed)``.

    SEMANTICS NOTE (vs the batch form): the batch scrub needs a gram
    in >= min_docs documents of ONE corpus to call it repeated; here
    index PRESENCE (>= 1 indexed doc) suffices — the arrival itself
    is the second copy. Same-epoch duplicates among arrivals are NOT
    cross-checked (index-as-of-last-fold, the family's documented
    honest limit); the fold makes them count from the next epoch on.

    Plan: one positioned-shingle pass over the BATCH only, one hash
    semi-join against the index keys (AQE-sized — the index is
    corpus-proportional, never broadcast-hinted), the shared span
    merge + excision."""
    n, hash_fn = passage_index_geometry(index)
    return _passage_scrub_delta_core(
        index, batch_docs, n, hash_fn, text_col, id_col
    )


def _passage_scrub_delta_core(
    index: DataFrame,
    batch_docs: DataFrame,
    n: int,
    hash_fn: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Scrub core with the geometry already in hand — the streaming
    leg reads the sentinel ONCE per run and calls this per epoch
    instead of re-collecting it every micro-batch (the
    ``_dsir_score_from_profile`` precedent)."""
    keys = index.where(F.col("gh") != _PASSAGE_SENTINEL_GH).select("gh")
    ps = positioned_shingles(batch_docs, n, text_col, id_col)
    pos_h = ps.select(
        F.col(id_col), "pos", _passage_gram_hash(hash_fn).alias("gh")
    )
    matched = pos_h.join(keys, "gh", "left_semi").select(id_col, "pos")
    spans = merge_positions_to_spans(matched, n, id_col)
    return excise_spans(batch_docs, spans, text_col, id_col)


# Up to this k, assignment is the HOF sum((x - c)^2) argmin
# (semantic_assign), which the DuckDB oracle replays bit for bit;
# above it, the broadcast numpy path (plans/kmeans_nd.assign_nd),
# whose ||c||^2 - 2 a.c form can break near-ties differently. The
# cutoff is an exactness boundary, not a speed crossover: on dim-64
# vectors (4 cores) the BLAS path took 0.29-0.32 s at n=100k for every
# k in 8..128, the HOF path 0.80 s at k=8 and 6.8 s at k=64; at n=2000
# the HOF path is faster up to k=16 and the two are even at k=45-64.
# The value 64 is inherited: it keeps suggested_semantic_k, and so
# q_dedup_semantic, exact for corpora up to n=4160.
SEMANTIC_EXACT_K_MAX = 64


def suggested_semantic_k(n_vectors: int) -> int:
    """Scale-aware cluster count for semantic_dedup: k ~ sqrt(n), so
    the expected block size is also ~ sqrt(n) and the total in-cluster
    pair work stays O(n * sqrt-block) instead of O(n^2 / k_fixed).
    Same order as SemDeDup's published regime (Abbas et al. 2023 use
    50k clusters on 440M LAION embeddings; sqrt(440M) ~ 21k). Floor of
    8 keeps tiny corpora from degenerating to one block."""
    return max(8, int(round(float(max(n_vectors, 0)) ** 0.5)))


def semantic_assign(base: DataFrame, cvecs: list[list[float]]) -> DataFrame:
    """``base`` (with its vectors in ``_v``) plus ``cluster``: the
    nearest of the centroids ``cvecs`` by squared distance. The
    centroids are one ``array<array<double>>`` constant column
    (functions/literals.with_consts) and the argmin is one HOF over it,
    ``array_min(transform(C, (c, cid) -> struct(sqdist_hof(v, c), cid))).cid``
    — struct ordering breaks ties to the lowest cid. No join, no
    Exchange and no aggregate, and the expression is the same size for
    every k."""
    cands = F.transform(
        F.col("_cvecs"),
        lambda c, cid: F.struct(sqdist_hof(F.col("_v"), c).alias("d"), cid.alias("cid")),
    )
    return with_consts(base, _cvecs=cvecs).select(
        *base.columns, F.array_min(cands)["cid"].alias("cluster")
    )


def _semantic_asg(
    embeddings: DataFrame,
    k: int | None,
    dim: int,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]] | None,
    with_norm: bool = True,
) -> DataFrame:
    """Shared cluster-assignment stage for semantic_dedup and its BLAS
    twin: (_id, cluster, _v[, _n]), scan-local (constant-row HOF
    argmin for small k, broadcast BLAS argmin above
    SEMANTIC_EXACT_K_MAX),
    deferred localCheckpoint so both pair-stage consumers reuse one
    materialization. Vectors (and explicit centroids) are truncated to
    the first ``dim`` coordinates — the same dim-prefix semantics the
    unrolled expressions had. ``with_norm=False`` skips the norm
    column for consumers that recompute norms themselves (the BLAS
    twin), keeping it out of the checkpoint and the cluster shuffle.

    The default seeding performs a K-row collect at CONSTRUCTION time
    (one TakeOrdered job — the same driver-side channel fit() uses per
    iteration); pass ``centroids`` to keep construction job-free."""
    from mapreduce_kmeans_clustering_spark.functions.distance import norm_hof

    # k=None -> suggested_semantic_k(~sqrt n): resolved HERE, the one
    # home, so semantic_dedup, its BLAS twin, and semantic_clusters can
    # never desynchronize their blocking (code-review r12 continuation);
    # ignored when explicit centroids define the blocking
    if k is None and centroids is None:
        k = suggested_semantic_k(embeddings.count())
    v = F.slice(F.transform(F.col(vec_col), lambda x: x.cast("double")), 1, dim)
    base = embeddings.select(
        F.col(id_col).alias("_id"),
        v.alias("_v"),
    )
    if centroids is None:
        rows = base.orderBy("_id").limit(k).collect()
        if not rows:
            raise ValueError("semantic_dedup: empty corpus, no seed centroids")
        cvecs = [list(map(float, r["_v"])) for r in rows]
    else:
        cvecs = [list(map(float, c))[:dim] for c in centroids]
        if not cvecs:
            raise ValueError("semantic_dedup: empty centroid list")
    if len(cvecs) <= SEMANTIC_EXACT_K_MAX:
        asg = semantic_assign(base, cvecs).select("_id", "cluster", "_v")
    else:
        from mapreduce_kmeans_clustering_spark.plans.kmeans_nd import assign_nd

        asg = assign_nd(base, cvecs, id_col="_id", vec_col="_v").select(
            "_id", "cluster", "_v"
        )
    if with_norm:
        asg = asg.select(
            "_id", "cluster", "_v", norm_hof(F.col("_v")).alias("_n")
        )
    return asg.localCheckpoint(eager=False)


def semantic_clusters(
    embeddings: DataFrame,
    k: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Just the cluster ASSIGNMENT of ``semantic_dedup`` — (id,
    cluster) — for consumers that want the corpus partitioned into
    semantic blocks without the pair-pruning stage: topic-mix
    read-outs (``q_cluster_mix``), per-cluster sampling quotas,
    cluster-stratified eval splits. Identical determinism contract
    (k lowest-id seed vectors, argmin ties to the lowest cid,
    ``k=None`` → ``suggested_semantic_k`` ~ √n) so a verdict from
    ``semantic_dedup`` and a mix table from here can never disagree
    on the blocking. Scan-local HOF/BLAS argmin — no shuffle join, no
    Exchange, no pair stage."""
    asg = _semantic_asg(
        embeddings, k, dim, id_col, vec_col, centroids, with_norm=False
    )
    return asg.select(F.col("_id").alias(id_col), "cluster")


def semantic_dedup(
    embeddings: DataFrame,
    k: int | None = None,
    threshold: float = 0.5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the corpus into k clusters, then
    prune any vector with a lower-id in-CLUSTER neighbor at cosine >=
    threshold. Returns one verdict row per vector:
    (id, cluster, status in {'keep', 'prune'}).

    Scale shape — the whole point of SemDeDup: the O(n^2) pair space
    collapses to per-cluster blocks, expressed as a hash equi-join on
    the cluster id (never a cross join). Cluster ASSIGNMENT is
    scan-local: for k <= SEMANTIC_EXACT_K_MAX the centroids are one
    constant-row column and one ``array_min(transform(C, (c, cid) ->
    struct(dist, cid)))`` projection picks the cluster
    (``semantic_assign``; no join, no Exchange). For larger k (the
    paper's 50k-cluster regime) assignment routes through plans/kmeans_nd.assign_nd — a
    broadcast numpy argmin over Arrow batches, still scan-local. Use
    ``suggested_semantic_k(n)`` (~sqrt(n)) to keep blocks bounded as
    the corpus grows, and pass ``centroids=fit_nd(...).centroids`` to
    cluster on fitted rather than seed centroids — the verdict logic
    is unchanged.

    Determinism for the oracle gate: default centroids are the k
    LOWEST-id vectors (no RNG, robust to sparse/offset id spaces;
    cluster ids are their 0-based rank by id), ties in the argmin
    break to the lowest centroid id, and the in-cluster cosine uses
    the index-ascending left-associated HOF expressions
    (functions/distance.dot_hof) so DuckDB replays the same doubles
    bit-for-bit.

    The survivor rule is min-id-wins per qualifying pair (prune ``b``
    whenever some ``a < b`` in the same cluster clears the threshold)
    — matching the exact/near-dup verdict convention used by
    dedup_pipeline.

    ``k=None`` (the default) resolves to ``suggested_semantic_k``
    (~sqrt(n), one count() job) — the ×10 sweep measured the fixed-k
    shape at e = 1.10 (in-cluster pairs go quadratic once occupancy
    grows with the corpus, the same cliff as fixed LSH planes;
    SCALE.md §8). Ignored when explicit ``centroids`` are passed
    (they define the blocking); the registered q_dedup_semantic uses
    this default since round 11 (its oracle derives k from
    count(*))."""
    asg = _semantic_asg(embeddings, k, dim, id_col, vec_col, centroids)
    a = asg.select(
        F.col("_id").alias("a"), F.col("_v").alias("va"), F.col("_n").alias("na"),
        "cluster",
    )
    b = asg.select(
        F.col("_id").alias("b"), F.col("_v").alias("vb"), F.col("_n").alias("nb"),
        "cluster",
    )
    # Round-12: unrolled dot behind an explode(array(...)) barrier.
    # The previous HOF-in-join-condition form was itself a fix for the
    # unrolled tree being interpreted inside the join predicate (HOF
    # ~3.3x faster in that context — functions/distance.dot_hof); the
    # barrier removes the scoring from the join condition entirely
    # (a filter on a generator output cannot cross the Generate), so
    # the dot now runs ONCE per candidate pair inside
    # WholeStageCodegen — strictly better than both prior forms. Same
    # index-ascending left-associated doubles as dot_hof / DuckDB's
    # list_inner_product, so verdicts are bit-identical. safe_cosine
    # defines zero/NaN-vector pairs as NOT near-dups (undefined ->
    # NULL -> filtered) — never ANSI DIVIDE_BY_ZERO, never Spark's
    # NaN-matches-everything; the BLAS twin mirrors this via numpy's
    # false NaN comparisons.
    from mapreduce_kmeans_clustering_spark.functions.distance import (
        dot_unrolled,
        safe_cosine,
    )

    cos = safe_cosine(
        dot_unrolled(F.col("va"), F.col("vb"), dim), F.col("na"), F.col("nb")
    )
    pruned = (
        a.join(b, "cluster")
        .where(F.col("a") < F.col("b"))
        .select(F.col("b").alias("_pruned"), F.explode(F.array(cos)).alias("_cos"))
        .where(F.col("_cos") >= threshold)
        .select("_pruned")
        .distinct()
    )
    return (
        asg.join(pruned, asg["_id"] == pruned["_pruned"], "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            F.when(F.col("_pruned").isNull(), "keep")
            .otherwise("prune")
            .alias("status"),
        )
    )


def semantic_dedup_blas(
    embeddings: DataFrame,
    k: int | None = None,
    threshold: float = 0.5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Production twin of semantic_dedup: identical cluster blocking
    (shared _semantic_asg stage — same centroids, same argmin, same
    block boundaries), but each cluster's pair stage runs as ONE BLAS
    gram block (``M @ M.T / outer(norms)``) inside a grouped
    applyInArrow, emitting verdicts directly — no self-join, no
    per-pair expression evaluation. Dense linear algebra is the hot
    path where vectorized numpy beats the JVM expression engine by an
    order of magnitude (SCALE.md §4 finding 2).

    Memory is O(block * dim + block^2) per task; blocks are ~n/k, so
    pick k with suggested_semantic_k (~sqrt(n)) — at the SemDeDup
    paper's 50k-cluster regime every block fits easily. A pathological
    giant cluster is the skew hatch's job: raise k (fitted centroids
    split dense regions hardest).

    Labeled NON-ORACLE twin: numpy's SIMD/pairwise dot summation can
    differ from the SQL engines' sequential sum in the last ulp, so a
    pair sitting exactly on the threshold could flip verdict. The
    registered oracle-gated query stays on semantic_dedup;
    tests pin this twin equal to it on the real embeddings tables.

    ``k=None`` defaults to ``suggested_semantic_k`` exactly like the
    expression twin (and is likewise ignored when explicit
    ``centroids`` define the blocking)."""
    import numpy as np
    import pyarrow as pa

    from mapreduce_kmeans_clustering_spark.functions.arrow import _vectors

    thr = float(threshold)

    def verdicts(tbl: "pa.Table") -> "pa.Table":
        tbl = tbl.sort_by("_id")
        ids = tbl.column("_id").to_numpy().astype(np.int64)
        mat = _vectors(tbl, "_v", dim)
        norms = np.sqrt((mat * mat).sum(axis=1))
        # zero vectors: cosine undefined -> NaN -> numpy comparison
        # false -> never a near-dup, matching the expression form's
        # norm-guarded NULL cosine
        norms[norms == 0.0] = np.nan
        with np.errstate(invalid="ignore"):
            sims = (mat @ mat.T) / np.outer(norms, norms)
            hit = (sims >= thr) & (ids[:, None] < ids[None, :])
        return pa.table(
            {
                id_col: ids,
                "cluster": tbl.column("cluster").cast(pa.int32()),
                "status": np.where(hit.any(axis=0), "prune", "keep"),
            }
        )

    asg = _semantic_asg(
        embeddings, k, dim, id_col, vec_col, centroids, with_norm=False
    )
    return asg.groupBy("cluster").applyInArrow(
        verdicts, f"{id_col} long, cluster int, status string"
    )


def minhash_accuracy(
    docs: DataFrame,
    num_hashes: int = 8,
    band_width: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Numerical accuracy gate for the MinHash stack (the dedup
    counterpart of q_ann_recall): for every LSH candidate pair, the
    signature-agreement estimate of Jaccard (matching positions /
    num_hashes — the unbiased MinHash estimator) next to the TRUE
    n-gram Jaccard and the signed error. This is the evidence for
    choosing num_hashes/band_width: estimator spread shrinks as
    1/sqrt(num_hashes), and the per-pair rows expose exactly where 8
    hashes is too coarse.

    Shapes already in the engine: candidates from the band equi-join,
    true intersections from the inverted shingle index RESTRICTED to
    candidate pairs before any shingle-shingle join (round 13: the
    previous form self-joined the full inverted index on the shingle
    key — per-shingle df·(df−1)/2 rows — and only then left-joined the
    candidates, discarding almost all of that work; now the candidate
    pairs drive two equi-joins into the index, O(|pairs|·shingles/doc)
    like jaccard_for_pairs, results identical because non-candidate
    intersections were never kept). A band collision without any
    shared shingle still scores Jaccard 0 through the left join +
    coalesce."""
    # ONE shingle index feeds signatures, banding and intersections
    # (minhash_signatures/lsh_candidate_pairs would each rebuild it)
    ex = exploded_shingles(docs, n, text_col, id_col).localCheckpoint(eager=False)
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("sh")))).alias(f"_m{s}")
        for s in range(num_hashes)
    ]
    sigs = (
        ex.groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_m{s}") for s in range(num_hashes)]).alias("sig"),
        )
        .localCheckpoint(eager=False)
    )
    bands = lsh_bands(sigs, band_width, id_col)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.band_sig") == F.col("bb.band_sig"))
            & (F.col(f"ba.{id_col}") < F.col(f"bb.{id_col}")),
        )
        .select(F.col(f"ba.{id_col}").alias("a"), F.col(f"bb.{id_col}").alias("b"))
        .distinct()
        # consumed twice (intersection drive + final assembly): without
        # the cut the band self-join re-runs per consumer
        .localCheckpoint(eager=False)
    )
    sa = sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("_sa"))
    sb = sigs.select(F.col(id_col).alias("b"), F.col("sig").alias("_sb"))
    matches = F.aggregate(
        F.zip_with("_sa", "_sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, m: acc + m,
    )
    est = matches.cast("double") / F.lit(float(num_hashes))
    ea = ex.select(F.col(id_col).alias("a"), F.col("sh").alias("sha"))
    eb = ex.select(F.col(id_col).alias("_b"), F.col("sh").alias("shb"))
    inter = (
        cand.join(ea, "a")
        .join(eb, (F.col("b") == F.col("_b")) & (F.col("sha") == F.col("shb")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("_c"))
    )
    sizes = ex.groupBy(id_col).agg(F.count("*").cast("int").alias("_n"))
    na = sizes.select(F.col(id_col).alias("a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col(id_col).alias("b"), F.col("_n").alias("_nb"))
    jac = F.coalesce(
        F.col("_c") / (F.col("_na") + F.col("_nb") - F.col("_c")), F.lit(0.0)
    )
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .join(inter, ["a", "b"], "left")
        .join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            est.alias("est_jaccard"),
            jac.alias("true_jaccard"),
            (est - jac).alias("err"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter exact-dup screen (memory-bounded batch-vs-corpus)
# ---------------------------------------------------------------------------

def bloom_filter_words(
    corpus: DataFrame,
    *,
    m_bits: int | None = None,
    k: int = 3,
    bits_per_key: int = 16,
    text_col: str = "text",
) -> tuple[DataFrame, int]:
    """Build the packed Bloom filter of a corpus's exact-content keys:
    (word, bits) rows where word = bit_position // 63 and bits is the
    OR of every key's bits in that word (63 payload bits per word —
    the sign bit is never set, so the packing is portable across
    signed-64 SQL engines) — the memory-bounded
    membership state a 100 TB ingest keeps when even the banded
    MinHash table is too large to co-locate (RefinedWeb's screen
    shape). Returns (filter_df, m_bits).

    ``m_bits=None`` (the default) sizes the filter from the corpus:
    the next power of two >= bits_per_key x count() — the corpus-aware
    sizing rule (a FIXED m saturates as the corpus grows, exactly the
    fixed-granularity cliff SCALE.md §8 retired for LSH planes; at 16
    bits/key and k=3 the false-positive rate stays ~0.1-1% at any
    scale). Pass an explicit m_bits to pin it (tests do, to force
    saturation deterministically).

    The k bit positions per key are md5-derived
    (``conv(substr(md5(j || ':' || text), 1, 15), 16, 10) % m_bits``)
    so any SQL engine replays the filter bit-for-bit; bit_or is
    order-free, so the build is one (word)-keyed hash aggregate over
    k rows per doc — map-side partial, never corpus-pairwise.

    The filter stays DISTRIBUTED as a (word, bits) relation so m
    scales with the corpus (16 bits/key at 10^11 docs is ~200 GB of
    state — never a literal), merges/extends across batches, and
    persists as parquet; the probe is an equi-join instead of an
    in-expression test."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if bits_per_key < 1:
        raise ValueError(f"bits_per_key must be >= 1, got {bits_per_key}")
    if m_bits is None:
        # EXACT integer next-pow2 (bit_length, never float log2 —
        # math.ceil(math.log2(x)) rounds DOWN for x just above a
        # power of two once x exceeds ~2^53, breaking the documented
        # >= bits_per_key x count invariant and disagreeing with the
        # oracle's bracket-corrected m; code-review r12)
        x = max(1, corpus.count() * int(bits_per_key))
        m_bits = 1 << max(6, (x - 1).bit_length())
    elif m_bits < 64 or (m_bits & (m_bits - 1)) != 0:
        raise ValueError(f"m_bits must be a power of two >= 64, got {m_bits}")
    filt = _bloom_word_bits(corpus, k, m_bits, text_col)
    # self-describing state: a (word = -1, bits = m_bits) sentinel
    # rides the filter (no real word is negative; no probe position
    # is, so joins never see it). Extension and probe replay read m
    # from it — a mismatched m would remap every position and
    # silently break the NO-FALSE-NEGATIVE guarantee, the one failure
    # a screen must never have, so the state carries its own geometry
    # (the ivf_write_index _centroids precedent).
    return filt.unionByName(_bloom_sentinel(corpus, m_bits)), m_bits


def _bloom_word_bits(
    docs: DataFrame, k: int, m_bits: int, text_col: str
) -> DataFrame:
    """The ONE home of the persisted state's binary format: k
    md5-derived positions per key packed into (word, bits) rows at 63
    payload bits per word — the sign bit is never shifted into (Spark
    wraps a bit-63 shift negative, DuckDB raises Out of Range). Build,
    extension, and the streaming side output all call this, so the
    layout can never silently fork between them (code-review r12)."""
    pos = _bloom_positions(F.col(text_col), k, m_bits)
    return (
        docs.select(F.explode(pos).alias("_pos"))
        .select(
            (F.col("_pos") / 63).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 63 AS INT))")
            .alias("bits"),
        )
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def _bloom_sentinel(like: DataFrame, m_bits: int) -> DataFrame:
    return like.sparkSession.createDataFrame(
        [(-1, int(m_bits))], "word LONG, bits LONG"
    )


def bloom_filter_m_bits(filter_df: DataFrame) -> int:
    """Read the geometry sentinel from a stored Bloom filter; raises
    loudly on filters that lack one (pre-sentinel or foreign state —
    extending or probing those at the wrong modulus silently breaks
    the no-false-negative guarantee, so refusal is the only safe
    answer)."""
    rows = filter_df.where(F.col("word") == -1).select("bits").collect()
    if len(rows) != 1:
        raise ValueError(
            "stored Bloom filter carries no (word = -1, bits = m) "
            "geometry sentinel — rebuild it with bloom_filter_words "
            "before extending or probing"
        )
    return int(rows[0]["bits"])


def extend_bloom_filter(
    filter_df: DataFrame,
    batch: DataFrame,
    *,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Fold an arriving batch into a stored Bloom filter — the fourth
    member of the streaming index-maintenance family
    (``extend_band_index``, ``web.extend_url_index``,
    ``web.extend_boilerplate_index``): the batch's bits OR into the
    stored words. bit_or is associative, commutative, AND idempotent,
    so the merge is exact under any batch order and even under batch
    REPLAY (strictly stronger than the additive count indexes, whose
    correctness needs disjoint batches). m is read from the filter's
    own geometry sentinel, so a caller can never extend at the wrong
    modulus; the sentinel survives the merge (bit_or(m, m) = m).
    Daily cost is O(batch keys + touched words)."""
    m_bits = bloom_filter_m_bits(filter_df)
    return (
        filter_df.select("word", "bits")
        .unionByName(_bloom_word_bits(batch, k, m_bits, text_col))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def merge_bloom_filters(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two stored Bloom filters (e.g. the stream's per-epoch
    ``_batch_filter`` side outputs into the main filter): word-keyed
    bit_or. Both inputs must carry the SAME geometry sentinel — bits
    set at different moduli are meaningless together, so a mismatch
    raises instead of silently corrupting the screen. The sentinels
    themselves merge as bit_or(m, m) = m."""
    ma, mb = bloom_filter_m_bits(a), bloom_filter_m_bits(b)
    if ma != mb:
        raise ValueError(
            f"Bloom filter geometry mismatch: m_bits {ma} vs {mb} — "
            "filters built at different moduli cannot be merged; "
            "rebuild one side"
        )
    return (
        a.select("word", "bits")
        .unionByName(b.select("word", "bits"))
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def bloom_screen_from_filter(
    filter_df: DataFrame,
    batch: DataFrame,
    *,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Probe a batch against a STORED Bloom filter (the streaming
    replay of ``bloom_screen``'s probe half): same verdict contract —
    'maybe_dup' / 'new', no false negatives against everything the
    filter has absorbed. m comes from the filter's sentinel."""
    m_bits = bloom_filter_m_bits(filter_df)
    return _bloom_probe(filter_df, batch, m_bits, k, text_col, id_col)


def _bloom_positions(text: Column, k: int, m_bits: int) -> Column:
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{j}:"), text)), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                % F.lit(int(m_bits))
            )
            for j in range(k)
        ]
    )


def bloom_screen(
    corpus: DataFrame,
    batch: DataFrame,
    *,
    m_bits: int | None = None,
    k: int = 3,
    bits_per_key: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Screen an arriving batch against the corpus Bloom filter: one
    row per batch doc, verdict 'maybe_dup' (all k bits set — a true
    exact dup OR a false positive at the filter's designed rate) or
    'new' (guaranteed not in the corpus — a Bloom filter has NO false
    negatives, the property that makes the screen safe: 'new' docs
    ingest directly, only 'maybe_dup' docs pay the exact-verification
    lookup). The no-false-negative guarantee and the corpus-aware
    sizing are pinned by test; the registered query additionally
    carries the exact truth column so the oracle certifies the
    guarantee row-by-row.

    Plan shape: filter build as in ``bloom_filter_words``; the probe
    explodes k (doc, word, mask) rows per batch doc and equi-joins the
    filter on word — the filter is ~bits_per_key x corpus/63 rows, so
    it is deliberately NOT broadcast-hinted (it grows with the corpus;
    AQE decides), and the verdict is one doc-keyed aggregate counting
    hit positions. Nothing pairwise, nothing driver-side but the one
    sizing count()."""
    filt, m_bits = bloom_filter_words(
        corpus, m_bits=m_bits, k=k, bits_per_key=bits_per_key,
        text_col=text_col,
    )
    return _bloom_probe(filt, batch, m_bits, k, text_col, id_col)


def _bloom_probe(
    filt: DataFrame,
    batch: DataFrame,
    m_bits: int,
    k: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    pos = _bloom_positions(F.col(text_col), k, m_bits)
    probes = batch.select(
        F.col(id_col), F.posexplode(pos).alias("_j", "_pos")
    ).select(
        id_col,
        (F.col("_pos") / 63).cast("long").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 63 AS INT))")
        .alias("_mask"),
    )
    hits = (
        probes.join(filt, "word", "left")
        .select(
            id_col,
            (
                F.coalesce(F.col("bits"), F.lit(0))
                .bitwiseAND(F.col("_mask"))
                != 0
            ).cast("int").alias("_hit"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("_hit").alias("_nhit"), F.count("*").alias("_k")
        )
    )
    return hits.select(
        id_col,
        F.when(F.col("_nhit") == F.col("_k"), F.lit("maybe_dup"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
    )


def bloom_fill_stats(filter_df: DataFrame, k: int = 3) -> DataFrame:
    """The Bloom screen's sizing dashboard — the one-row audit
    DEPLOY.md tells an operator to watch: (m_bits, words, set_bits,
    fill_ratio, est_fp_rate). fill_ratio is set-bits / m; the
    expected false-positive rate of a k-probe filter at that fill is
    fill^k (computed as k explicit multiplications of the same raw
    double, not pow() — libm pow is not correctly rounded and can
    differ across engines). Rebuild at the next power of two when
    fill passes ~50% — a saturating filter degrades gracefully (more
    false positives paying the exact-verification lookup) but never
    produces a false negative.

    One aggregate over the filter relation (bit_count per word,
    summed map-side); m comes from the geometry sentinel."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from mapreduce_kmeans_clustering_spark.functions.rounding import (
        half_up6,
    )

    m_bits = bloom_filter_m_bits(filter_df)
    agg = filter_df.where(F.col("word") >= 0).agg(
        F.count("*").cast("long").alias("words"),
        F.sum(F.bit_count("bits")).cast("long").alias("set_bits"),
    )
    fill = F.col("set_bits").cast("double") / F.lit(float(m_bits))
    fp = fill
    for _ in range(k - 1):
        fp = fp * fill
    return agg.select(
        F.lit(int(m_bits)).cast("long").alias("m_bits"),
        "words",
        "set_bits",
        half_up6(fill).alias("fill_ratio"),
        half_up6(fp).alias("est_fp_rate"),
    )
