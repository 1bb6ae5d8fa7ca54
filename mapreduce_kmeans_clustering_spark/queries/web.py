"""Web-corpus curation over the documents table: sampling and
mixtures, packing and chunking, quality ensembles and their audits,
decontamination, URL and domain curation, boilerplate removal, DSIR
selection, Bloom-filter screens and the full curation DAG.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_kmeans_clustering_spark.operators import curation as CU
from mapreduce_kmeans_clustering_spark.operators import dedup as D
from mapreduce_kmeans_clustering_spark.operators import multimodal as MM
from mapreduce_kmeans_clustering_spark.operators import packing as PK
from mapreduce_kmeans_clustering_spark.operators import profile as PROF
from mapreduce_kmeans_clustering_spark.operators import sampling as S
from mapreduce_kmeans_clustering_spark.operators import text as TX
from mapreduce_kmeans_clustering_spark.operators import web as W
from mapreduce_kmeans_clustering_spark.queries._shared import (
    _LANGS,
    _LANG_CASE,
    _QUALITY,
    _SQL_BANDS,
    _SQL_JACCARD,
    _SQL_SHINGLES,
    _SQL_SIG,
    _STOP_CNT,
    _TOK,
    _docs,
    _lang_score,
    query,
)
from mapreduce_kmeans_clustering_spark.queries.text import (
    PASSAGE_GRAM,
    VERIFY_THRESHOLD,
    _dup_groups_df,
)

# temperature mixture (alpha-sampling): mT5/XLM-R report 0.3
TEMP_ALPHA = 0.3

SAMPLE_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.1}


@query(oracle="""
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000
      < CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 500
                    WHEN 'src2' THEN 100 ELSE 0 END""")
def q_sample_mix(spark, sf_dir):
    """Deterministic stratified source mixing: three sources at
    different rates, the rest dropped."""
    from mapreduce_kmeans_clustering_spark.operators.sampling import sample_stratified

    out = sample_stratified(_docs(spark, sf_dir), SAMPLE_RATES)
    return out.select("doc_id", "source")


# Multimodal: the digest-stub feature math is md5-over-utf8, so it has
# an exact DuckDB oracle (the checksum terms are binary fractions i/256
# — rounding is exact in both engines).
@query(oracle="""
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
FROM m""")
def q_media_features(spark, sf_dir):
    media = MM.synthesize_media(_docs(spark, sf_dir))
    feats = MM.extract_features(media)
    checksum = F.aggregate(F.col("features"), F.lit(0.0), lambda a, x: a + x)
    return feats.select(
        "media_id", "kind", "n_bytes", F.round(checksum, 6).alias("feat_checksum")
    )


PACK_LEN = 2048


@query(oracle=f"""
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
FROM s""")
def q_doc_pack(spark, sf_dir):
    """Sequence packing (operators/packing.py): documents laid
    end-to-end into 2048-token training sequences per source shard;
    each doc's pack id, offset, and straddle count."""
    return PK.pack_sequences(
        _docs(spark, sf_dir), pack_len=PACK_LEN, group_col="source"
    )


CHUNK_LEN = 64
CHUNK_OVERLAP = 8


@query(oracle=f"""
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
FROM c""")
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


@query(oracle=f"""
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
FROM p""")
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


@query(oracle=f"""
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
FROM s""")
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


BENCH_MOD = 50  # doc_id % BENCH_MOD == 0 → held-out benchmark partition


@query(oracle=f"""
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
WHERE d.doc_id % {BENCH_MOD} <> 0""")
def q_decontam(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any word-3-gram
    with the held-out partition get flagged (shingle equi-join, never a
    pairwise scan — operators/curation.py)."""
    docs = _docs(spark, sf_dir)
    return CU.contamination_report(docs, F.col("doc_id") % BENCH_MOD == 0)


@query(oracle="""
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
FROM b GROUP BY 1, 2""")
def q_corpus_split(spark, sf_dir):
    """Deterministic train/val/test split + shard assignment (md5
    buckets — reproducible across engines/retries, stable under corpus
    growth); reported as per-(split, shard) doc and char totals."""
    docs = CU.split_assign(_docs(spark, sf_dir))
    return docs.groupBy("split", "shard").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


DOMAIN_CAP = 15


@query(oracle=f"""
WITH r AS (
  SELECT source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT source, count(*) AS n_total,
       CAST(sum(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM r GROUP BY 1""")
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


CURATION_QUALITY_MIN = 0.35


@query(oracle=f"""
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
LEFT JOIN bk ON f.doc_id = bk.doc_id""")
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


# corpus-mix weights: first 5 sources get 6x the share of the rest
# (integer weights so share = w / MIX_TOTAL_W divides deterministically)
MIX_WEIGHTS = {f"src{i}": (6 if i < 5 else 1) for i in range(20)}
MIX_TOTAL_W = sum(MIX_WEIGHTS.values())


@query(oracle=f"""
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
FROM j""")
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


LR_DIM = 32
LR_BIAS = 0.0


def _lr_weight(d: int) -> float:
    """Deterministic stand-in for offline-trained weights: md5-derived
    value in [-0.1, 0.1] with exactly 4 decimal digits."""
    import hashlib

    h = int(hashlib.md5(f"lrw:{d}".encode()).hexdigest()[:8], 16)
    return round(((h % 2001) - 1000) / 10000.0, 4)


LR_WEIGHTS = {d: _lr_weight(d) for d in range(LR_DIM)}


@query(oracle=f"""
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
FROM documents d LEFT JOIN s USING (doc_id)""")
def q_text_lr_score(spark, sf_dir):
    """Linear quality-classifier scoring over hashing-trick count
    features (curation.linear_score): per-doc logit + keep verdict —
    exact DECIMAL arithmetic end-to-end, so the classifier's decision
    is reproducible across engines and retries."""
    return CU.linear_score(
        _docs(spark, sf_dir), LR_WEIGHTS, bias=LR_BIAS, n_features=LR_DIM
    )


@query(oracle="""
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
FROM b GROUP BY 1, 2""")
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


@query(oracle=_quality_ensemble_oracle())
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


@query(oracle=_contamination_sources_oracle())
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


def _quality_auc_oracle() -> str:
    return f"""
WITH sc AS (SELECT doc_id, logit
            FROM ({q_text_lr_score.oracle})),
lb AS (SELECT doc_id, gopher_keep
       FROM ({q_quality_ensemble.oracle})),
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


@query(oracle=_quality_auc_oracle())
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


def _quality_calibration_oracle() -> str:
    return f"""
WITH es AS (SELECT doc_id, score
            FROM ({q_quality_ensemble.oracle})),
lr AS (SELECT doc_id, keep FROM ({q_text_lr_score.oracle})),
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


@query(oracle=_quality_calibration_oracle())
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


@query(oracle=f"""
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
ORDER BY d.doc_id""")
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


KEEP_BEST_PACK = 10_000_000_000


@query(oracle=f"""
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
FROM dg JOIN win USING (group_id) ORDER BY dg.doc_id""")
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


INDEX_DELTA_MOD = 5  # docs with doc_id % 5 == 0 play the arriving shard


@query(oracle=f"""
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
ORDER BY d.doc_id""")
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


QUALITY_DRIFT_SHARD = 100  # docs per ingest shard (doc_id is assignment order)


@query(oracle=f"""
WITH ens AS (SELECT doc_id, score, keep
             FROM ({q_quality_ensemble.oracle})),
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
ORDER BY source, shard""")
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


_SQL_SPLIT_CASE = (
    "CASE WHEN {b} < 980 THEN 'train' "
    "WHEN {b} < 990 THEN 'val' ELSE 'test' END"
)


@query(oracle=f"""
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
FROM s ORDER BY doc_id""")
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


# URL/domain-level curation: the documents fixture has no URL column, so
# the registered queries PLANT one deterministically from (doc_id,
# source) — the q_dedup_embed planted-input pattern — covering the
# parse shapes that matter: multi-part public suffix (co.uk), port,
# userinfo, www., deep subdomains, scheme-less, query + fragment.
# Operators take a real URL column (operators/web.py).
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


@query(oracle=f"""
WITH d AS (SELECT doc_id, {_SQL_URL} AS url FROM documents),
h AS (SELECT doc_id, url, {_SQL_HOST} AS host FROM d)
SELECT doc_id, url, host, {_SQL_DOMAIN} AS domain FROM h""")
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


@query(oracle=f"""
WITH d AS (SELECT doc_id, {_SQL_URL} AS url FROM documents),
n AS (SELECT doc_id, {_SQL_NORM_URL} AS norm_url FROM d),
w AS (SELECT norm_url, min(doc_id) AS keep_id FROM n GROUP BY 1)
SELECT doc_id, norm_url,
       CASE WHEN doc_id = keep_id THEN 'keep' ELSE 'dup' END AS status,
       CASE WHEN doc_id <> keep_id THEN keep_id END AS dup_of
FROM n JOIN w USING (norm_url) ORDER BY doc_id""")
def q_url_dedup(spark, sf_dir):
    """URL-exact dedup verdicts (operators/web.url_dedup): lowest
    doc_id per NORMALIZED url (scheme/port/query/fragment/www
    stripped, trailing slash dropped) survives; re-crawls point at it.
    Combiner-friendly groupBy-min + one equi-join back — never a
    window over the raw rows."""
    d = _docs(spark, sf_dir).select("doc_id", _url_col().alias("url"))
    return W.url_dedup(d).orderBy("doc_id")


@query(oracle=f"""
WITH d AS (SELECT doc_id, n_chars, {_SQL_URL} AS url FROM documents),
h AS (SELECT doc_id, n_chars, {_SQL_HOST} AS host FROM d),
g AS (SELECT doc_id, n_chars, {_SQL_DOMAIN} AS domain FROM h),
r AS (SELECT doc_id, domain,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id)::INT
               AS domain_rank
      FROM g)
SELECT doc_id, domain, domain_rank FROM r
WHERE domain_rank <= {URL_CAP} ORDER BY doc_id""")
def q_domain_quality_caps(spark, sf_dir):
    """Per-domain document budget (operators/web.domain_quality_caps):
    keep the top-URL_CAP docs per registrable domain by (n_chars desc,
    doc_id) — the RefinedWeb-style cap that stops one mega-domain from
    dominating a corpus. One rank window partitioned by domain."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", _url_col().alias("url")
    )
    return W.domain_quality_caps(d, cap=URL_CAP).orderBy("doc_id")


@query(oracle=f"""
WITH d AS (SELECT doc_id, n_chars, {_SQL_URL} AS url FROM documents),
h AS (SELECT doc_id, n_chars, {_SQL_HOST} AS host FROM d),
g AS (SELECT doc_id, n_chars, host, {_SQL_DOMAIN} AS domain FROM h)
SELECT domain, count(*)::BIGINT AS n_docs,
       count(DISTINCT host)::BIGINT AS n_hosts,
       floor(sum(n_chars)::DOUBLE / count(*) * 10000.0 + 0.5) / 10000.0
         AS avg_chars
FROM g GROUP BY domain""")
def q_domain_stats(spark, sf_dir):
    """Per-registrable-domain curation dashboard row: doc count, distinct hosts, mean
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


@query(oracle=f"""
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
SELECT * FROM out ORDER BY doc_id""")
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


@query(oracle=f"""
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
FROM agg JOIN nt USING (doc_id)""")
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


@query(oracle=f"""
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
FROM flow JOIN sz za ON za.s = flow.s1 JOIN sz zb ON zb.s = flow.s2""")
def q_dedup_source_flow(spark, sf_dir):
    """Cross-source duplicate flow (dedup.cross_source_dup_flow):
    LSH near-dup candidate pairs rolled up to an unordered source-pair
    matrix with per-pair duplication rates — "which feeds re-crawl
    each other", the document-level verdict q_source_overlap's
    vocabulary Jaccard can only hint at. Banded equi-join candidates,
    two id-keyed source attaches, one |sources|²-key hash rollup."""
    return D.cross_source_dup_flow(_docs(spark, sf_dir))


@query(oracle=f"""
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
FROM nt LEFT JOIN reb USING (doc_id)""")
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


@query(oracle=f"""
WITH {_SQL_BOILER_BASE}
SELECT domain, line, n_docs, domain_docs,
       floor(n_docs::DOUBLE / domain_docs * 1000000.0 + 0.5) / 1000000.0
         AS df_frac
FROM bflag ORDER BY domain, line""")
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


@query(oracle=f"""
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
ORDER BY bg.doc_id""")
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


DSIR_BUCKETS = 8192

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


@query(oracle=f"""
WITH {_SQL_DSIR_CORE}
SELECT doc_id, n_feats, logweight FROM wts ORDER BY doc_id""")
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


DSIR_SELECT_K = 50


# Selection (which k rows) is by the RAW Gumbel key — exactly the
# engine's orderBy(_key desc).limit(k) — but the presented order is
# the ROUNDED sel_key + doc_id, matching q_dsir_select's final
# orderBy: two selected rows whose raw keys differ by <1e-6 round to
# the same sel_key, and ordering the two sides by different key forms
# made the parity hash flakeable on such a near-tie (ADVICE r11).
@query(oracle=f"""
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
ORDER BY sel_key DESC, doc_id""")
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


@query(oracle=f"""
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
FROM h GROUP BY source, n ORDER BY source, n""")
def q_ngram_diversity(spark, sf_dir):
    """Distinct-n corpus diversity per source (text.ngram_diversity):
    unique/total n-gram ratio for n = 1, 2, 3 — the template-collapse
    health metric. Three scan-local n-gram projections unioned into
    (source, gram)-keyed two-phase distinct counts."""
    return TX.ngram_diversity(_docs(spark, sf_dir)).orderBy("source", "n")


# quality bar for the capstone: the post-boilerplate survivor quality
# distribution spans 0.41-0.76 (median ~0.64) at every SF, so 0.5
# splits it non-trivially (5-7 low_quality docs) where the corpus-wide
# CURATION_QUALITY_MIN = 0.35 would be vacuous on this cleaner subset
WEB_PIPE_QUALITY_MIN = 0.5
WEB_PIPE_SELECT_K = 5


@query(oracle=f"""
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
SELECT * FROM out ORDER BY doc_id""")
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


MIX_BUDGET_EPOCHS = 3.0  # budget = 3x total corpus mass (scale-free)
MIX_MAX_EPOCHS = 4.0


@query(oracle=f"""
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
FROM b ORDER BY lang""")
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


BLOOM_K = 3
BLOOM_BITS_PER_KEY = 16
BLOOM_PLANT_OFFSET = 1_000_000


# m is bracket-corrected after the float ceil(log2()): pow/log in
# doubles can land one step off on exact powers of two, and the CASE
# re-anchors m to the true smallest power of two >= x — so the oracle
# and the engine's exact integer sizing can never disagree.
@query(oracle=f"""
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
ORDER BY b.doc_id""")
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


BLOCK_DOMAINS = ("src0.co.uk", "example.com")
BLOCK_PREFIXES = ("/p/7", "/x/1")

_SQL_PATH = (
    f"regexp_replace(regexp_extract(url, "
    f"'{_SQL_HOST_RE}(?::[0-9]+)?([^?#]*)', 2), '/+$', '')"
)


@query(oracle=f"""
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
ORDER BY p.doc_id""")
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


@query(oracle=f"""
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
FROM r""")
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


# Word-8-gram passages: long enough that shared grams are genuine
# repeated passages, not common phrases (the fixture docs run 10-99
# tokens, so 8 words is a substantial span), short enough to be
# non-vacuous at every SF (24 affected docs at sf0.001).
PASSAGE_N = 8


@query(oracle=f"""
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
FROM nt LEFT JOIN reb USING (doc_id)""")
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


# 5-gram leakage audit: at word-3-grams the templated fixture corpus
# shares SOME gram between almost every eval/train doc pair (measured:
# every eval doc crossed leak_frac 0.5 at sf0.01+), so the audit runs
# at n=5 where the measured distribution spans 0..1 with both verdicts
# live at every SF (p90 ~0.04-0.12, max 0.875-1.0).
SPLIT_LEAK_N = 5


@query(oracle=f"""
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
FROM frac ORDER BY doc_id""")
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


@query(oracle="""
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
ORDER BY t.n_docs DESC, t.n_occurrences DESC, t.h""")
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
