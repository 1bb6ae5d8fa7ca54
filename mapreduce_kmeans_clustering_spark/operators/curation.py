"""Corpus-curation operators for LLM training pipelines: benchmark
decontamination, n-gram language-model quality scoring, and
deterministic train/val/test splitting with shard assignment.

These extend the dedup/text surface (SURVEY §7 M6) with the three
curation steps every large pretraining pipeline runs between "raw
corpus" and "training shards":

- **Decontamination**: drop (or flag) training documents that share
  verbatim n-grams with an evaluation/benchmark set, so downstream
  eval numbers aren't inflated by memorized test data. Expressed as a
  shingle equi-join (the same inverted-index shape as
  ``dedup.jaccard_pairs``), never a pairwise scan.
- **LM quality scoring**: a bigram language model with add-one
  smoothing trained on the corpus itself; each document is scored by
  its mean negative log-likelihood (low = fluent/common, high =
  gibberish or boilerplate-free outliers). This is the CCNet-style
  perplexity filter re-expressed with exact, engine-portable
  arithmetic so a DuckDB oracle can replay it bit-for-bit (after the
  6-decimal rounding contract).
- **Split + shard**: md5-bucket assignment to train/val/test and a
  shard index within the split — a pure projection, reproducible
  across engines and retries (same determinism argument as
  ``operators/sampling.py``).

Scale notes (100 TB): all three are one-or-two-shuffle shapes.
Decontamination shuffles on the shingle key (heavy-hitter shingles are
the known skew, handled by AQE skew-join; ``max_df``-style capping from
``dedup.jaccard_pairs`` applies if a stop-shingle degenerates).
LM scoring shuffles on the token/bigram key — Zipf skew on "the"-class
tokens is real but the joined side is a counts table (grouped first),
so the join is counts-vs-counts with AQE handling residual imbalance.
Splitting is scan-local. Nothing materializes on the driver except the
single vocabulary-size scalar.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce_kmeans_clustering_spark.functions.rounding import half_up6
from mapreduce_kmeans_clustering_spark.operators.dedup import (
    exact_dup_drops,
    excise_spans,
    exploded_shingles,
    merge_positions_to_spans,
    positioned_shingles,
)
from mapreduce_kmeans_clustering_spark.operators.sampling import (
    cap_per_key,
    hash_bucket,
)
from mapreduce_kmeans_clustering_spark.operators.text import (
    quality_score,
    token_count,
    tokens,
)


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def contamination_report(
    docs: DataFrame,
    bench_pred: Column,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per TRAINING document: how many distinct word-``n``-grams it
    shares with the benchmark partition (``bench_pred`` selects the
    held-out/eval docs), plus a boolean verdict.

    Every training doc appears in the output (``n_hits = 0`` when
    clean, including docs too short to have any shingle). Plan shape:
    two shingle explosions (scan-local + per-doc window), one DISTINCT
    on the benchmark shingle set, one equi-join on the shingle string,
    one count aggregate, one left join back to the doc list. No
    pairwise doc×doc work anywhere — cost is O(corpus shingles), and
    the benchmark side is typically tiny (but NOT force-broadcast:
    AQE decides from measured size, per the dedup keep-list lesson).
    """
    train = docs.where(~bench_pred)
    bench_sh = (
        exploded_shingles(docs.where(bench_pred), n=n, text_col=text_col, id_col=id_col)
        .select("sh")
        .distinct()
    )
    hits = (
        exploded_shingles(train, n=n, text_col=text_col, id_col=id_col)
        .join(bench_sh, "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def split_leakage(
    docs: DataFrame,
    split_col: str = "split",
    train_value: str = "train",
    n: int = 3,
    leak_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train→eval SPLIT-leakage audit — the measurement companion of
    ``leakage_safe_split``'s repair: for every NON-train document (by
    ``split_col``), the fraction of its distinct word-``n``-grams that
    also appear in ANY train-split document, and a ``leaked`` verdict
    at ``leak_threshold``. An eval doc that is a near-copy of a train
    doc scores ~1.0 — exactly the eval-set inflation that makes a
    validation loss lie. ``docs`` must already carry the split
    assignment (``split_assign`` or the caller's own); the operator
    audits ANY assignment, which is what lets it certify a repair.

    Output one row per eval doc: ``(id, split, n_shingles, n_shared,
    leak_frac, leaked)``; docs too short to shingle report 0 / 0.0 /
    false (the ``q_decontam`` totality convention). ``leak_frac`` is
    the half-up 6-dp integer-division grid, and ``leaked`` compares
    the SAME rounded value the row reports (the rounding contract —
    one rounding rule per value).

    Plan shape: two shingle explosions (scan-local + per-doc window),
    one DISTINCT on the train shingle set, one equi-LEFT-join, one
    per-doc aggregate, one left join back to the eval doc spine.
    Never pairwise; the train side is corpus-sized so it is
    deliberately NOT broadcast-hinted (AQE decides). The distinct and
    the join run on the gram's 60-bit md5 prefix, not the raw string
    (the ``ngram_diversity`` shuffle discipline — 8-byte keys instead
    of 30-60-byte gram text through every exchange; both engines hash
    identically so oracle parity is exact, and a collision mis-counts
    ~n²/2⁶¹ grams — zero in any real corpus)."""
    is_train = F.col(split_col) == train_value
    ev = docs.where(~is_train)
    gh = F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
    train_sh = (
        exploded_shingles(
            docs.where(is_train), n=n, text_col=text_col, id_col=id_col
        )
        .select(gh.alias("gh"))
        .distinct()
        .withColumn("_t", F.lit(1))
    )
    ev_sh = exploded_shingles(ev, n=n, text_col=text_col, id_col=id_col).select(
        F.col(id_col), gh.alias("gh")
    )
    per = (
        ev_sh.join(train_sh, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.coalesce("_t", F.lit(0))).cast("long").alias("n_shared"),
        )
    )
    frac = F.when(
        F.coalesce("n_shingles", F.lit(0)) == 0, F.lit(0.0)
    ).otherwise(
        F.expr("(n_shared * 2000000 + n_shingles) div (2 * n_shingles)")
        / F.lit(1e6)
    )
    return (
        ev.select(id_col, split_col)
        .join(per, id_col, "left")
        .select(
            id_col,
            split_col,
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias(
                "n_shingles"
            ),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            frac.alias("leak_frac"),
        )
        .withColumn("leaked", F.col("leak_frac") >= F.lit(leak_threshold))
    )


def _matched_spans(
    docs: DataFrame,
    bench_pred: Column,
    n: int,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of ``contamination_spans`` (audit) and
    ``scrub_contaminated_spans`` (removal): (train docs, maximal
    matched spans (id, _s, _e) — 0-based inclusive token ranges after
    the gaps-and-islands merge). One copy so the span semantics can
    never drift between the audit and the scrub."""
    train = docs.where(~bench_pred)
    bench_sh = (
        exploded_shingles(
            docs.where(bench_pred), n=n, text_col=text_col, id_col=id_col
        )
        .select("sh")
        .distinct()
    )
    # the positioned core is SHARED with exploded_shingles (one copy
    # of the shingle format — code-review r11), and the
    # gaps-and-islands merge is SHARED with dedup.passage_scrub
    # (one copy of the span semantics — round-12 continuation; the
    # expressions are identical to the pre-refactor inline form, so
    # plans and outputs are unchanged)
    pos_sh = positioned_shingles(train, n=n, text_col=text_col, id_col=id_col)
    matched = pos_sh.join(bench_sh, "sh").select(id_col, "pos")
    spans = merge_positions_to_spans(matched, n, id_col)
    return train, spans


def contamination_spans(
    docs: DataFrame,
    bench_pred: Column,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level contamination audit — the "WHERE and HOW LONG" twin
    of ``contamination_report``'s boolean verdict: for every
    contaminated training document, merge its benchmark-matching
    word-``n``-gram positions into MAXIMAL token spans (two matches
    whose covered token ranges touch or overlap — start gap ≤ n —
    fuse; the ExactSubstr-style audit of Lee et al. 2022, at n-gram
    rather than suffix granularity). Output one row per contaminated
    doc: (id, n_spans, max_span_tokens, covered_tokens, n_tokens,
    coverage), positions 0-based over the regexp tokenizer; clean
    docs emit nothing.

    Plan shape: ONE positioned shingle explosion over the train side
    (posexplode once per doc + lead() window — exploded_shingles'
    physical form, minus the distinct: positions must survive), one
    DISTINCT benchmark shingle set, one equi-join on the shingle
    string, then the gaps-and-islands merge as two window passes over
    (doc, pos) — lag() to flag span breaks, running sum() to number
    spans — and two hash aggregates. The windows and the final
    aggregate all share the doc-id partitioning, so the merge costs
    one shuffle; nothing is ever pairwise doc×doc, and matched
    positions (the window input) are orders of magnitude fewer than
    corpus shingles."""
    train, spans = _matched_spans(docs, bench_pred, n, text_col, id_col)
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_spans"),
        F.max(F.col("_e") - F.col("_s") + 1).cast("long").alias(
            "max_span_tokens"
        ),
        F.sum(F.col("_e") - F.col("_s") + 1).cast("long").alias(
            "covered_tokens"
        ),
    )
    ntok = train.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    # half-up 6-dp coverage (the engine-portable floor(x*1e6+0.5) form)
    cov = (
        F.floor(
            F.col("covered_tokens").cast("double")
            / F.col("n_tokens")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return per_doc.join(ntok, id_col).select(
        id_col,
        "n_spans",
        "max_span_tokens",
        "covered_tokens",
        "n_tokens",
        cov.alias("coverage"),
    )


def scrub_contaminated_spans(
    docs: DataFrame,
    bench_pred: Column,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Contamination REMOVAL — the consumer of the span audit: every
    training document is re-emitted as its token stream with the
    benchmark-matching maximal spans EXCISED (the surgical alternative
    to dropping whole docs that share one boilerplate n-gram; the
    removal step of Lee et al. 2022 at n-gram granularity). Output one
    row per training doc: (id, scrubbed_text, n_kept, n_removed) —
    clean docs pass through with n_removed = 0.

    SEMANTICS NOTE: scrubbed_text is the cleaned TOKEN stream
    (lowercased alphanumeric tokens space-joined — the same regexp
    tokenizer every shingle consumer uses), NOT the original text
    minus character ranges. For LLM training data the token stream is
    what downstream tokenization consumes anyway; callers needing
    original formatting should treat this as the mask and cut
    character spans themselves.

    SEAM CAVEAT (honest limit, pinned by test): one pass removes every
    PRE-EXISTING match, but excising a span joins its neighbors, and
    the joined seam can itself form a NEW benchmark n-gram ("a b
    [SPAN] c d" → "a b c d", which may match). ExactSubstr-style
    removal shares this property. Each pass strictly shrinks affected
    docs, so iterating the scrub converges when the output must be
    guaranteed match-free.

    Plan shape: the shared ``_matched_spans`` core (shingle equi-join
    + gaps-and-islands, never pairwise), spans exploded to covered
    positions (sequence() — total size is covered_tokens ≤ corpus
    tokens), one equi-ANTI-join on (doc, pos) — never a range-predicate
    join, which would plan as a nested loop — and one
    sort_array(collect_list(struct(pos, tok))) rebuild per doc. All
    window/aggregate stages share the doc-id partitioning.

    The corpus is TOKENIZED exactly twice (once inside the span
    core's shingling, once for the rebuild) and deliberately NOT
    materialized between consumers: the exploded token table is
    larger than the corpus itself, so checkpointing it would cost
    more than the second codegen'd regexp pass (the inverse of the
    decontam hits-checkpoint trade, where the shared frame is tiny).
    The doc-list pass reads only the id column (pruned scan, no
    tokenize): n_removed is the per-doc covered-position count —
    kept + covered = total by construction — so no third token
    count is needed (code-review r11)."""
    # the excision half is SHARED with dedup.passage_scrub (round-12
    # continuation refactor; expressions identical to the pre-refactor
    # inline form, so plans and outputs are unchanged): covered
    # positions exploded, (doc, pos) equi-anti-join, one rebuild
    # aggregate, and left joins from the bare doc list so a
    # fully-covered or token-free doc still emits a row
    train, spans = _matched_spans(docs, bench_pred, n, text_col, id_col)
    return excise_spans(train, spans, text_col, id_col)


# ---------------------------------------------------------------------------
# Bigram LM quality scoring (CCNet-style perplexity filter)
# ---------------------------------------------------------------------------

def doc_bigrams(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, w1, w2): every bigram occurrence per document (NOT
    distinct — LM counts need multiplicity). posexplode+lead, same
    codegen-friendly shape as ``dedup.exploded_shingles`` (the
    transform()-HOF form re-runs the tokenizer per element)."""
    toks = docs.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        toks.select(
            F.col(id_col),
            F.col("tok").alias("w1"),
            F.lead("tok", 1).over(w).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )


def bigram_lm_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mean negative log-likelihood per document under an add-one
    (Laplace) bigram model trained on the corpus itself:

        nll(d) = avg over bigrams (w1,w2) of
                 -ln( (c(w1,w2) + 1) / (c(w1) + V) )

    where c() are corpus counts and V is the unigram vocabulary size.
    Low score = the document is made of common word transitions;
    high = rare/garbled text. Documents with < 2 tokens drop out (no
    bigrams → undefined score), matching the oracle.

    Shuffle inventory: token/bigram count aggregates (partial→final,
    map-side combine collapses the Zipf head), then two equi-joins of
    the per-doc bigram stream against the two counts tables, then one
    per-doc aggregate. V rides a 1-row broadcast anchor
    (crossJoin(broadcast) — planned as a BNLJ whose build side is a
    keyless global aggregate, the bounded scalar-anchor shape
    test_plans explicitly recognizes) instead of a driver collect, so
    the whole score is one lazy plan with no eager round-trip. (A
    literal-key equi-join does NOT keep it a hash join: Catalyst
    constant-folds lit=lit to true and replans the BNLJ anyway.)
    """
    bg = doc_bigrams(docs, text_col=text_col, id_col=id_col)
    toks = docs.select(
        F.explode(tokens(F.col(text_col))).alias("t")
    )
    c1 = toks.groupBy(F.col("t").alias("w1")).agg(F.count("*").alias("c1"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    vocab = toks.agg(F.countDistinct("t").cast("double").alias("_v"))
    nll = -F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("_v")))
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(nll), 6).alias("avg_nll"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF term ranking (retrieval-style corpus statistics)
# ---------------------------------------------------------------------------

def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF (tf · ln(N/df), the
    plain textbook form — exact arithmetic, no sublinear scaling, so a
    SQL oracle replays it bit-for-bit after the 6-decimal rounding
    contract). Ties in the rounded score break on the term string, so
    the top-k set is deterministic across engines and retries.

    Plan shape: one explode (scan-local), one (doc, term) count
    aggregate (partial→final — the Zipf head collapses map-side), then
    document frequency as ``count(*) over (partition by term)`` on the
    tf table itself — a window, not a groupBy+self-join, because the
    join form re-computes the whole tokenize+aggregate subtree (Spark
    only reuses *byte-identical* exchanges; measured: two full scans,
    zero ReusedExchange). One last ranking window partitioned by doc.
    N is the single driver scalar (corpus doc count), same K=1
    materialization argument as ``bigram_lm_scores``. No pairwise
    work, no driver data.
    """
    n_docs = docs.count()
    tf = (
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    scored = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    ).select(
        F.col(id_col),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (Okapi, Lucene idf form)
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25 with the Lucene
    idf form (always positive, so adding a matched term never lowers a
    score):

        score(q, d) = sum over terms t in q ∩ d of
            ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
            * tf_td * (k1 + 1) / (tf_td + k1 * (1 - b + b * dl_d / avgdl))

    ``queries`` is a (query_id, term) relation — a Q-row dimension, one
    row per query term. Exact double arithmetic with a 6-decimal
    rounding contract on the summed score; ties break on doc id so the
    top-k set is deterministic across engines and retries.

    Plan shape — the inverted-index join, the only retrieval shape that
    survives 100 TB: one (doc, term) tf aggregate (partial→final,
    map-side combine collapses the Zipf head) carrying the doc length
    THROUGH the aggregate — dl is computed scan-side in the same
    projection as the explode and rides ``max()`` (constant per doc),
    which costs one extra scan-local tokenize instead of a second
    corpus-wide exchange on doc id (a ``sum(tf) over (partition by
    doc)`` window was measured as the single most expensive stage of
    the query). Then an **inner equi-join against the broadcast
    query-term dimension** — after which only docs containing at least
    one query term exist in the plan; the corpus never meets the query
    set pairwise. Per-term document frequency is a window over the
    matched rows (query-vocabulary-sized). Corpus N and avgdl ride a
    1-row broadcast anchor (the bounded scalar-anchor BNLJ shape
    test_plans recognizes; a driver collect would work but would eager
    an extra job). One final (query, doc) aggregate and a per-query
    rank window, both bounded by matched rows. At rest, a term-bucketed
    tf table turns the per-query cost into O(postings of the query
    terms) — the classic inverted index.
    """
    # Tokenize ONCE into an array column, then take size + explode off
    # the column. The array alias is referenced twice, so
    # CollapseProject will NOT inline the regexp into both consumers —
    # putting token_count() in the same projection as the explode gets
    # it re-evaluated per GENERATED row (finding 1's HOF pathology;
    # measured 2× the whole stage cost at sf0.1).
    toks = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    dl = (
        toks.select(
            F.col(id_col),
            F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    # Corpus-level constants as a 1-row broadcast anchor: N docs and
    # the mean doc length over ALL docs (including zero-match docs).
    stats = docs.select(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(token_count(F.col(text_col))).alias("avgdl"),
    )
    qterms = queries.select("query_id", "term").distinct()
    matched = (
        dl.join(F.broadcast(qterms), "term")
        .withColumn(
            "df", F.count("*").over(Window.partitionBy("query_id", "term"))
        )
        .crossJoin(F.broadcast(stats))
    )
    contrib = matched.select(
        "query_id",
        F.col(id_col),
        (
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            )
        ).alias("part"),
    )
    scored = (
        contrib.groupBy("query_id", id_col)
        .agg(
            F.round(F.sum("part"), 6).alias("score"),
            F.count("*").cast("int").alias("n_terms_matched"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "score", "n_terms_matched", "rank")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split + sharding
# ---------------------------------------------------------------------------

SPLITS = (("train", 980), ("val", 990))  # bucket thresholds of 1000; rest = test
N_SHARDS = 8


def split_assign(
    df: DataFrame, id_col: str = "doc_id", n_shards: int = N_SHARDS
) -> DataFrame:
    """Adds ``split`` ('train'/'val'/'test') and ``shard`` (int in
    [0, n_shards)) columns, both pure functions of md5(id) — the same
    engine-portable bucket as ``sampling.hash_bucket``, so membership
    is reproducible across engines, retries, and corpus growth (a doc
    never changes split when other docs are added). Scan-local."""
    b = hash_bucket(id_col)
    split = F.when(b < SPLITS[0][1], SPLITS[0][0]).when(
        b < SPLITS[1][1], SPLITS[1][0]
    ).otherwise(F.lit("test"))
    return df.withColumn("split", split).withColumn(
        "shard", (b % n_shards).cast("int")
    )


# ---------------------------------------------------------------------------
# End-to-end curation pipeline
# ---------------------------------------------------------------------------

def curation_pipeline(
    docs: DataFrame,
    bench_pred: Column,
    quality_min: float = 0.25,
    domain_cap: int | None = None,
    key_col: str = "source",
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The whole raw-corpus → training-shards decision in one call —
    the curation twin of ``dedup.dedup_pipeline``. Per document:
    (doc_id, verdict, split, shard), where verdict is the FIRST
    applicable drop reason in fixed precedence (so re-ordering
    upstream jobs can't change a doc's label):

    1. ``benchmark``  — the held-out partition itself (never trained on);
    2. ``exact_dup``  — non-lowest id of identical content;
    3. ``quality``    — quality_score below ``quality_min``;
    4. ``contaminated`` — shares a word-n-gram with the benchmark set;
    5. ``domain_cap`` — beyond the per-``key_col`` cap (hash-ranked),
       applied AFTER the other drops so capped slots aren't wasted on
       docs already being dropped;
    6. ``keep``       — training survivor; split/shard are only
       non-NULL here.

    Every stage is a projection, equi-join, or window the earlier
    operators already ship; nothing is pairwise and the only driver
    state is this plan. Precedence is resolved with left joins onto
    the doc spine, so each doc appears exactly once.
    """
    spine = docs.select(id_col, F.col(key_col), (~bench_pred).alias("_train"))
    ex = exact_dup_drops(docs, text_col, id_col).select(id_col).withColumn(
        "_ex", F.lit(1)
    )
    # threshold on the 6-dp-rounded score (the oracle contract): the
    # raw double is a fixed expression tree so engines agree, but the
    # rounding makes the boundary comparison auditable either way
    lowq = (
        docs.where(F.round(quality_score(F.col(text_col)), 6) < quality_min)
        .select(id_col)
        .withColumn("_lq", F.lit(1))
    )
    contam = (
        contamination_report(docs, bench_pred, n, text_col, id_col)
        .where(F.col("contaminated"))
        .select(id_col)
        .withColumn("_ct", F.lit(1))
    )
    flagged = (
        spine.join(ex, id_col, "left")
        .join(lowq, id_col, "left")
        .join(contam, id_col, "left")
        .withColumn(
            "_dropped",
            (~F.col("_train"))
            | F.col("_ex").isNotNull()
            | F.col("_lq").isNotNull()
            | F.col("_ct").isNotNull(),
        )
    )
    if domain_cap is not None:
        capped = (
            cap_per_key(
                flagged.where(~F.col("_dropped")).select(id_col, key_col),
                key_col,
                domain_cap,
                id_col,
            )
            .select(id_col)
            .withColumn("_in_cap", F.lit(1))
        )
        flagged = flagged.join(capped, id_col, "left")
    else:
        flagged = flagged.withColumn(
            "_in_cap", F.when(~F.col("_dropped"), F.lit(1))
        )
    verdict = (
        F.when(~F.col("_train"), F.lit("benchmark"))
        .when(F.col("_ex").isNotNull(), F.lit("exact_dup"))
        .when(F.col("_lq").isNotNull(), F.lit("quality"))
        .when(F.col("_ct").isNotNull(), F.lit("contaminated"))
        .when(F.col("_in_cap").isNull(), F.lit("domain_cap"))
        .otherwise(F.lit("keep"))
    )
    out = flagged.withColumn("verdict", verdict)
    split_cols = split_assign(out, id_col)
    return split_cols.select(
        F.col(id_col),
        "verdict",
        F.when(F.col("verdict") == "keep", F.col("split")).alias("split"),
        F.when(F.col("verdict") == "keep", F.col("shard"))
        .cast("int")
        .alias("shard"),
    )


def linear_score(
    docs: DataFrame,
    weights: dict[int, float],
    bias: float = 0.0,
    n_features: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained linear quality classifier at corpus scale:
    logit = bias + sum_d w_d * tf_d over hashing-trick count features
    (the FineWeb/CCNet deployment shape — training happens offline on
    a sample; scoring must be a cheap distributed pass).

    Exactness contract: token counts are integers and weights carry
    <= 4 decimal digits, so every product is exact in DECIMAL and the
    per-doc sum is partition-order-independent — the logit (and the
    keep verdict at any threshold) is deterministic and replayable by
    the SQL oracle. No sigmoid on the hot path: the keep decision
    only needs the logit's sign/threshold, and exp() is the one step
    whose low bits differ across engines.

    One explode + two hash aggregates (token counts collapse map-side;
    weight table is an n_features-row broadcast).
    """
    from mapreduce_kmeans_clustering_spark.operators.text import hash_dim, tokens

    spark = docs.sparkSession
    wdf = spark.createDataFrame(
        [(int(d), str(round(w, 4))) for d, w in sorted(weights.items())],
        "dim int, wt string",
    ).select("dim", F.col("wt").cast("decimal(8,4)").alias("wt"))
    tf = (
        docs.select(id_col, F.explode(tokens(F.col(text_col))).alias("tok"))
        .select(id_col, hash_dim(F.col("tok"), n_features).alias("dim"))
        .groupBy(id_col, "dim")
        .agg(F.count("*").cast("long").alias("n"))
    )
    acc = (
        tf.join(F.broadcast(wdf), "dim")
        .groupBy(id_col)
        .agg(F.sum(F.col("n").cast("decimal(18,4)") * F.col("wt")).alias("acc"))
    )
    logit = F.coalesce(F.col("acc").cast("double"), F.lit(0.0)) + F.lit(bias)
    return (
        docs.select(id_col)
        .join(acc, id_col, "left")
        .select(
            id_col,
            F.round(logit, 4).alias("logit"),
            (logit > 0).alias("keep"),
        )
    )


def _best_match_hits(
    pairs: DataFrame, threshold: float, keys: list[str]
) -> DataFrame:
    """Shared tail of the semantic-decontam family: threshold the
    candidate-pair stream and pick each key-group's best benchmark
    match — (*keys, bench_id, cos, n_matches), highest cos, ties to
    the lowest bench_id. One copy so the NaN guard, the checkpoint
    placement, and the argmax shape can never drift between the
    single- and multi-benchmark paths (code-review r11).

    ``pairs`` must carry (*keys, bench_id, cos).

    - NaN guard (ADVICE r8): an Inf embedding component used to make
      dot/den NaN, which Spark's NaN-greatest comparison semantics
      would admit past `cos >= threshold` AND elect as the max(cos)
      best match. safe_cosine now nulls NaN quotients for every
      consumer (round-9 generalization); the explicit ~isnan here
      stays as belt-and-suspenders because the DuckDB oracle carries
      the same literal predicate.
    - The filtered hits are materialized once (lazy localCheckpoint —
      the _ivf_assigned buffer-pool pattern): both aggregation passes
      below read them; WITHOUT this the second pass would re-evaluate
      the whole bucket-join pair stream, doubling the dominant cost at
      every scale (hits are orders of magnitude smaller than the
      candidate pairs).
    - Best-match selection is TWO hash aggregates + one equi-join, not
      min(struct(-cos, bench_id)): Spark can only SortAggregate a
      struct-typed min, which SORTS the entire pair-level hit stream —
      measured as a 40-minute stage at a 200k-vector corpus (sweep
      round 8) where the hash-agg form streams. Pass 1 takes the max
      cos and the match count per key group (primitive min/max are
      HashAggregate-able, partial map-side); pass 2 re-joins the hits
      at exactly that double and takes the minimum bench id — the
      identical (highest cos, ties to lowest id) result, bit-for-bit,
      since the equality is on the same IEEE double the struct
      ordering compared. Two streaming passes beat one giant sort at
      every scale that matters.
    """
    hits = pairs.where(
        (F.col("cos") >= threshold) & ~F.isnan(F.col("cos"))
    ).localCheckpoint(eager=False)
    agg1 = hits.groupBy(*keys).agg(
        F.max("cos").alias("cos"),
        F.count("*").cast("long").alias("n_matches"),
    )
    return (
        hits.join(agg1, [*keys, "cos"])
        .groupBy(*keys, "cos", "n_matches")
        .agg(F.min("bench_id").alias("bench_id"))
        .select(*keys, "bench_id", "cos", "n_matches")
    )


def semantic_decontam(
    train_emb: DataFrame,
    bench_emb: DataFrame,
    threshold: float = 0.5,
    dim: int = 64,
    planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination — the paraphrase-contamination
    twin of `decontaminate` (which catches only verbatim n-gram
    overlap): flag every TRAINING vector whose cosine to ANY benchmark
    vector reaches ``threshold``, with the best match attached
    (highest cosine, ties to the lowest benchmark id). Candidates come
    from a hyperplane-LSH bucket equi-join between the two relations —
    the dedup.embedding_near_dup_pairs blocking applied across
    corpora, so the work is O(bucket collisions), never
    |train| × |benchmark|, and nothing corpus-sized is broadcast
    (the benchmark side MAY be broadcast by AQE when it is small — the
    usual case — but correctness never requires it).

    Recall < 1 by design (same bucket trade as the dedup family;
    raise recall with fewer planes or multi-probe). Scoring is the
    HOF cosine with per-side precomputed norms — bit-compatible with
    the oracle AND with the unrolled twins (same index-ascending
    left-associated sums), and the only form whose probe-join span
    fits janino's 64 KB codegen limit at dim=64 (see prep below).

    ``planes=None`` (the default) sizes the blocking to the TRAIN
    corpus via ``similarity.auto_planes`` (one count() job on the
    train side — the benchmark side is small by definition and does
    not drive occupancy). This defaults away the measured SCALE.md §8
    cliff: with 4 fixed planes the round-8 ×100 sweep hit e = 1.49
    (236 M candidate pairs); at planes = 4 + log2(scale) the same
    sweep measured e = 0.31. Pass explicit ``planes`` to pin the
    bucketing (the registered query does, for oracle continuity)."""
    from mapreduce_kmeans_clustering_spark.functions.distance import (
        dot_hof,
        norm_hof,
        safe_cosine,
    )
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        auto_planes,
        lsh_bucket_expr,
    )

    if planes is None:
        planes = auto_planes(train_emb.count())

    # HOF (dot_hof/norm_hof over a dim-sliced array), not the unrolled
    # twins: at dim=64 the unrolled cosine inside the probe-join span
    # blew janino's 64 KB method limit, so the WHOLE span silently ran
    # interpreted (observed "Code grows beyond 64 KB" on every run of
    # the registered query — the same failure mode that moved
    # multi_semantic_decontam to HOF at registration). The HOF sums
    # are index-ascending and left-associated exactly like the
    # unrolled forms, so the doubles are bit-identical (verified:
    # full-value snapshot of q_semantic_decontam equal at all 3 SFs
    # across the switch) and the codegen span stays compiled.
    def prep(df, id_alias, v_alias, n_alias):
        v = F.slice(
            F.transform(F.col(vec_col), lambda x: x.cast("double")), 1, dim
        )
        return df.select(
            F.col(id_col).alias(id_alias),
            v.alias(v_alias),
            norm_hof(v).alias(n_alias),
            lsh_bucket_expr(F.col(vec_col), dim, planes).alias("_bucket"),
        )

    t = prep(train_emb, "train_id", "vt", "nt")
    bm = prep(bench_emb, "bench_id", "vb", "nb")
    cos = safe_cosine(
        dot_hof(F.col("vt"), F.col("vb")), F.col("nt"), F.col("nb")
    )
    # The benchmark side is broadcast EXPLICITLY: an eval set is small
    # by definition (thousands of vectors), but its wide rows (a
    # 64-double array each) exceed the 10 MB auto-broadcast threshold
    # well before it stops being broadcast-worthy, and the fallback is
    # a shuffle join on the bucket key — at most 2^planes partitions,
    # which AQE then coalesces further (measured: an 11-task stage on
    # a 32-core box, round-8 sweep). Broadcasting keeps the probe on
    # the train scan's own splits: no shuffle, full parallelism.
    pairs = t.join(F.broadcast(bm), "_bucket").select(
        "train_id", "bench_id", cos.alias("cos")
    )
    # threshold + NaN guard + one-materialization + two-hash-agg
    # argmax: shared with multi_semantic_decontam (see _best_match_hits
    # for the SortAggregate and checkpoint rationale)
    return _best_match_hits(pairs, threshold, ["train_id"])


def multi_semantic_decontam(
    train_emb: DataFrame,
    benchmarks: dict[str, DataFrame],
    threshold: float = 0.5,
    dim: int = 64,
    planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE-PASS contamination sweep of the training corpus against N
    benchmark tables (VERDICT r9/r10 item 5: 'union + group over
    auto_planes buckets') — the multi-benchmark generalization of
    ``semantic_decontam``. Instead of N separate corpus scans (one per
    eval set), the benchmarks are UNIONed with a name column and the
    corpus is probed once: one hyperplane-LSH bucket equi-join, one
    threshold filter, then the per-(train vector, benchmark) best
    match via the same two-hash-aggregate argmax (never min(struct) —
    the SCALE.md §8 SortAggregate lesson).

    Output: one row per contaminated (train_id, benchmark) pair —
    (train_id, benchmark, bench_id, cos, n_matches), where bench_id is
    the highest-cosine benchmark vector (ties to the lowest id) within
    that benchmark and n_matches counts that benchmark's over-threshold
    hits for the train vector. A train vector clean against every
    benchmark emits nothing.

    Scale shape: the union of N eval sets is still eval-set-sized —
    small by definition — and is broadcast EXPLICITLY (same reasoning
    as semantic_decontam: wide array rows blow the 10 MB auto
    threshold long before broadcast stops being right), so the probe
    stays on the train scan's own splits with no shuffle; the only
    exchange is the (train_id, benchmark)-keyed argmax aggregate over
    the filtered HITS, orders of magnitude smaller than the pair
    stream. ``planes=None`` sizes the blocking to the TRAIN corpus via
    ``similarity.auto_planes`` (one count() job) — fixed planes are
    the measured quadratic cliff. N scales as more benchmarks ship:
    the pass stays one corpus scan; per-bucket candidate work grows
    with total benchmark rows, not with N.

    Expressions are the HOF forms (``dot_hof``/``norm_hof`` — the
    same index-ascending left-associated sums as the unrolled twins
    and DuckDB's list_inner_product, bit-identical doubles): with TWO
    unioned benchmark branches in one codegen span the ~190-node
    unrolled trees blew janino's 64 KB method limit (silent
    interpreted-mode fallback), and the HOF tree is constant-size —
    and ~3.3× faster in the join-predicate context anyway
    (functions/distance.dot_hof)."""
    from mapreduce_kmeans_clustering_spark.functions.distance import (
        dot_hof,
        norm_hof,
        safe_cosine,
    )
    from mapreduce_kmeans_clustering_spark.operators.similarity import (
        auto_planes,
        lsh_bucket_expr,
    )

    if not benchmarks:
        raise ValueError("multi_semantic_decontam: no benchmark tables")
    if planes is None:
        planes = auto_planes(train_emb.count())

    def prep(df, id_alias, v_alias, n_alias):
        v = F.slice(
            F.transform(F.col(vec_col), lambda x: x.cast("double")), 1, dim
        )
        return df.select(
            F.col(id_col).alias(id_alias),
            v.alias(v_alias),
            norm_hof(v).alias(n_alias),
            lsh_bucket_expr(F.col(vec_col), dim, planes).alias("_bucket"),
        )

    t = prep(train_emb, "train_id", "vt", "nt")
    bench_union = None
    for name in sorted(benchmarks):
        part = prep(benchmarks[name], "bench_id", "vb", "nb").withColumn(
            "benchmark", F.lit(name)
        )
        bench_union = (
            part if bench_union is None else bench_union.unionByName(part)
        )
    cos = safe_cosine(
        dot_hof(F.col("vt"), F.col("vb")), F.col("nt"), F.col("nb")
    )
    pairs = t.join(F.broadcast(bench_union), "_bucket").select(
        "train_id", "benchmark", "bench_id", cos.alias("cos")
    )
    return _best_match_hits(pairs, threshold, ["train_id", "benchmark"])


# ---------------------------------------------------------------------------
# Quality ensembling: Gopher rules + LM perplexity + lang-id, one keep score
# ---------------------------------------------------------------------------

ENSEMBLE_CUTS = 9  # decile cutpoints for the perplexity calibration


def quality_ensemble(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    accuracy: int = 10_000,
) -> DataFrame:
    """One calibrated keep score per document from the three quality
    signals the curation stack already computes separately:

    * ``gopher_keep`` — the rule-gate conjunction of
      ``text.gopher_quality`` (hard structural sanity);
    * ``lang_ok`` — the n-gram ``lang_id`` prediction agrees with the
      document's metadata language (mislabeled or mixed-language docs
      score down);
    * ``ppl_bucket`` — the document's decile under the corpus-trained
      bigram LM's mean NLL (``bigram_lm_scores``), CALIBRATED against
      the corpus itself: decile cutpoints come from one
      ``percentile_approx`` aggregate and ride a 1-row broadcast into
      a scan-local bucket lookup (the ``length_buckets_approx``
      pattern — no global sort, ever). Bucket 0 = most fluent decile;
      docs too short to have bigrams land in bucket 9 (no evidence of
      fluency ≠ evidence of it).

    The combined score is the fixed-weight vote
    ``0.4·gopher + 0.3·lang + 0.3·(9−bucket)/9`` computed ENTIRELY in
    integer arithmetic (score_num = 36·g + 27·l + 3·(9−b) out of 90,
    then one half-up 6-dp division) so both engines produce identical
    doubles, and ``keep`` is the integer comparison
    ``score_num·2 ≥ 90`` — a document passes when it wins at least
    half the weighted vote. Weights are the conventional
    rules-heavy mix; they are score bookkeeping, not learned values.

    Scale: gopher flags and lang-id are scan-local projections; the
    bigram LM is the established counts-vs-counts join family; the
    calibration is a 1-row anchor. The only new shuffles are the two
    per-doc equi-joins stitching the three signals together.
    """
    from mapreduce_kmeans_clustering_spark.operators.text import (
        gopher_quality,
        lang_id,
    )

    g = gopher_quality(docs, id_col=id_col, text_col=text_col).select(
        id_col, F.col("keep").alias("gopher_keep")
    )
    ppl = bigram_lm_scores(docs, text_col=text_col, id_col=id_col).select(
        id_col, "avg_nll"
    )
    probs = [i / (ENSEMBLE_CUTS + 1) for i in range(1, ENSEMBLE_CUTS + 1)]
    cuts = ppl.groupBy().agg(
        F.percentile_approx("avg_nll", probs, accuracy).alias("cuts")
    )
    lang = docs.select(
        F.col(id_col),
        (lang_id(F.col(text_col)) == F.col(lang_col)).alias("lang_ok"),
    )
    bucket = F.when(
        F.col("avg_nll").isNull(), F.lit(ENSEMBLE_CUTS)
    ).otherwise(
        F.aggregate(
            F.col("cuts"),
            F.lit(0),
            lambda acc, c: acc
            + F.when(F.col("avg_nll") > c, 1).otherwise(0),
        )
    )
    num = (
        F.col("gopher_keep").cast("int") * F.lit(36)
        + F.col("lang_ok").cast("int") * F.lit(27)
        + (F.lit(ENSEMBLE_CUTS) - F.col("ppl_bucket")) * F.lit(3)
    )
    return (
        lang.join(g, id_col)
        .join(ppl, id_col, "left")
        .crossJoin(F.broadcast(cuts))
        .withColumn("ppl_bucket", bucket.cast("int"))
        .withColumn("score_num", num.cast("long"))
        .select(
            id_col,
            "gopher_keep",
            "lang_ok",
            "ppl_bucket",
            (
                F.expr("(score_num * 1000000 + 45) div 90") / F.lit(1e6)
            ).alias("score"),
            (F.col("score_num") * 2 >= F.lit(90)).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Contamination report rolled up to the source level
# ---------------------------------------------------------------------------

# worst-doc argmax packing: n_hits·PACK − doc_id, max, decode — the
# deterministic (hits DESC, doc_id ASC) winner without floats or
# engine-specific arg_max tie rules
CONTAM_PACK = 10_000_000_000


def unpack_min_id(pack_col: str, pack: int) -> Column:
    """Decode the id out of a ``metric·pack − id`` argmax packing:
    ``ceil(packed / pack)·pack − packed`` via integer ``div``.

    Integer `div`, not ``floor(double /)`` (ADVICE r8): once the
    packed value clears 2^53 — n_hits ≈ 9e5 at the 1e10 pack, a
    plausible magnitude — the double division rounds and can decode a
    NEIGHBORING id; the DuckDB oracles use integer ``//``, so the
    engine side must be exact at all magnitudes too
    (``tests/test_curation.py`` pins the 2^53-plus decode).
    """
    return (
        F.expr(f"({pack_col} + {pack - 1}) div {pack}") * F.lit(pack)
        - F.col(pack_col)
    ).cast("long")


def contamination_source_report(
    docs: DataFrame,
    bench_pred: Column,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """``contamination_report`` rolled up to the data-source level —
    the view a curation owner actually acts on ("which provider's
    slice is leaking benchmark text"): per source, training-doc count,
    contaminated count, half-up 6-dp contamination rate, total and max
    shared-shingle hits, and the worst document (most hits, ties to
    the lowest id; −1 when the source is clean — sentinel, not NULL,
    so the row stays totally ordered for value comparison).

    The argmax is the integer packing ``n_hits·PACK − doc_id`` under a
    plain ``max`` (decode: hits = (pack + PACK−1) div PACK, doc =
    hits·PACK − pack), deterministic in both engines with no float or
    arg_max tie-rule dependence. Plan: the per-doc report's shingle
    equi-join, one doc_id equi-join to attach sources, one hash
    aggregate on the source key — nothing new shuffles more than the
    per-doc report already did.
    """
    rep = contamination_report(
        docs, bench_pred, n=n, text_col=text_col, id_col=id_col
    )
    src = docs.select(id_col, source_col)
    agg = (
        rep.join(src, id_col)
        .groupBy(source_col)
        .agg(
            F.count("*").cast("long").alias("n_train_docs"),
            F.sum(F.col("contaminated").cast("long"))
            .cast("long")
            .alias("n_contaminated"),
            F.sum("n_hits").cast("long").alias("total_hits"),
            F.max("n_hits").cast("long").alias("max_hits"),
            F.max(
                F.col("n_hits") * F.lit(CONTAM_PACK) - F.col(id_col)
            ).alias("pack"),
        )
    )
    worst = F.when(F.col("max_hits") == 0, F.lit(-1).cast("long")).otherwise(
        unpack_min_id("pack", CONTAM_PACK)
    )
    return agg.select(
        source_col,
        "n_train_docs",
        "n_contaminated",
        (
            F.expr(
                "(n_contaminated * 2000000 + n_train_docs)"
                " div (2 * n_train_docs)"
            )
            / F.lit(1e6)
        ).alias("contamination_rate"),
        "total_hits",
        "max_hits",
        worst.alias("worst_doc_id"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weighting (round 11 continuation)
# ---------------------------------------------------------------------------

def _dsir_features(
    docs: DataFrame,
    target_pred: Column,
    n_buckets: int,
    bigrams: bool,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared DSIR feature stream — (id, _tgt, _bkt): one hashed
    bucket row per word unigram (+ bigram) OCCURRENCE. One home so
    ``dsir_logweights`` (the batch scorer), ``dsir_profile`` (the
    mergeable bucket-count state), and the from-profile scorer can
    never drift on tokenization, bigram formation, or the md5 bucket
    (the half_up6-centralization lesson, ADVICE r11). Expressions are
    identical to the pre-extraction inline form — scan-local explode,
    no shuffle."""
    from mapreduce_kmeans_clustering_spark.operators.text import hash_dim

    w = tokens(F.col(text_col))
    feats = w
    if bigrams:
        bi = F.when(
            F.size(w) >= 2,
            F.zip_with(
                F.slice(w, 1, F.size(w) - 1),
                F.slice(w, 2, F.size(w) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        feats = F.concat(w, bi)
    tgt = F.coalesce(target_pred, F.lit(False))
    return docs.select(
        F.col(id_col),
        tgt.alias("_tgt"),
        F.explode(feats).alias("_feat"),
    ).select(
        id_col, "_tgt", hash_dim(F.col("_feat"), n_buckets).alias("_bkt")
    )


def dsir_logweights(
    docs: DataFrame,
    target_pred: Column,
    *,
    n_buckets: int = 8192,
    bigrams: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    DSIR): score every RAW document by how target-like its hashed
    n-gram profile is — the published recipe for "select the 5% of
    the crawl that looks like my high-quality target set" without
    training a classifier.

    Features are word unigrams (+ bigrams by default), hashed to
    ``n_buckets`` buckets (``text.hash_dim``'s engine-portable md5
    bucket). Bag-of-ngrams models with add-one smoothing are fit on
    the target partition (``target_pred`` rows) and the raw remainder;
    a raw doc's importance log-weight is

        sum over its feature OCCURRENCES of
            ln p_target(bucket) - ln p_raw(bucket)

    Output, one row per raw doc: (id, n_feats, logweight) — rank by
    logweight descending and keep the head (or Gumbel-resample) to
    select. Cross-engine determinism: each bucket's log-ratio is
    pinned to integer MICRO-units (floor(lr*1e6 + 0.5), the repo's
    half-up contract) and the per-doc sum runs over those integers —
    exact and summation-order-free on both engines, unlike a double
    sum (SCALE.md §5's .5-tie class).

    Scale shape (100 TB): one token/bigram explode (scan-local), ONE
    bucket-keyed conditional-count aggregate carrying both sides
    (map-side partial; at most ``n_buckets`` rows survive — the
    two-frame per-side form cost a second full tokenize+md5 pass),
    one broadcast of the ≤ ``n_buckets``-row ratio table back onto
    the exploded stream, one id-keyed sum. Zipf skew on hot buckets
    lives entirely inside the partial aggregates; nothing
    driver-side. The ratio table is the RAW-occupied buckets (a raw
    doc's features always hit one) with target counts attached.

    Edge contract (code-review r11): a NULL ``target_pred`` row is
    RAW (three-valued logic would otherwise drop it from both models
    and the output); a raw doc with zero features (NULL/token-free
    text) still emits its row as (id, 0, 0.0) — nothing vanishes."""
    if int(n_buckets) < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    tgt = F.coalesce(target_pred, F.lit(False))
    fb = _dsir_features(
        docs, target_pred, n_buckets, bigrams, text_col, id_col
    )
    # BOTH sides' bucket counts in ONE aggregate over one explode —
    # the two-frame form (separate cr/ct groupBys) tokenized and
    # md5-hashed the corpus once per side; conditional sums read the
    # stream once and still combine map-side. Ratio rows are the
    # raw-occupied buckets exactly as before (_cr > 0), with the
    # target count already attached (0 when absent — same value the
    # old left join's coalesce produced), so the output is
    # bit-identical.
    counts = fb.groupBy("_bkt").agg(
        F.sum(F.when(~F.col("_tgt"), 1).otherwise(0))
        .cast("long")
        .alias("_cr"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0))
        .cast("long")
        .alias("_ct"),
    )
    totals = counts.agg(
        F.sum("_cr").cast("long").alias("_r"),
        F.sum("_ct").cast("long").alias("_t"),
    )
    B = int(n_buckets)
    lr = F.log((F.col("_ct") + 1) / (F.col("_t") + B)) - F.log(
        (F.col("_cr") + 1) / (F.col("_r") + B)
    )
    from mapreduce_kmeans_clustering_spark.functions.rounding import (
        half_up6_micro,
    )

    ratio = (
        counts.where(F.col("_cr") > 0)
        .crossJoin(F.broadcast(totals))
        .select("_bkt", half_up6_micro(lr).alias("_micro"))
    )
    scored = (
        fb.where(~F.col("_tgt"))
        .join(F.broadcast(ratio), "_bkt")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            (F.sum("_micro") / F.lit(1e6)).alias("logweight"),
        )
    )
    # one row per raw doc even with zero features (the remove_
    # boilerplate pass-through posture): the left join rides the raw
    # doc ids, coalescing absentees to the neutral weight
    raw_ids = docs.where(~tgt).select(F.col(id_col))
    return raw_ids.join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("logweight", F.lit(0.0)).alias("logweight"),
    )


# Geometry sentinel for stored DSIR profiles: bucket -1 never occurs
# (hash_dim yields 0..n_buckets-1), n_raw carries n_buckets, n_target
# carries the bigrams flag — the bloom-filter precedent: a profile
# merged or probed under the WRONG geometry would silently score
# garbage, so geometry travels inside the state and mismatches are
# refused loudly.
_DSIR_SENTINEL_BUCKET = -1


def _dsir_sentinel(like: DataFrame, n_buckets: int, bigrams: bool) -> DataFrame:
    return like.sparkSession.createDataFrame(
        [(_DSIR_SENTINEL_BUCKET, int(n_buckets), 1 if bigrams else 0)],
        "bucket INT, n_raw LONG, n_target LONG",
    )


def dsir_profile(
    docs: DataFrame,
    target_pred: Column,
    *,
    n_buckets: int = 8192,
    bigrams: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The MERGEABLE state of the DSIR scorer — per-bucket hashed
    n-gram occurrence counts for the raw and target sides:
    (bucket, n_raw, n_target), plus the geometry sentinel row. Counts
    are ADDITIVE across batches holding disjoint documents (the
    boilerplate/URL index class), so a continuously-fed corpus can
    maintain its importance model at O(batch) per day instead of
    re-reading history: fold arrivals in with ``extend_dsir_profile``
    (raw docs) or ``merge_dsir_profiles`` (stored side outputs), score
    as-of the profile with ``dsir_logweights_from_profile``.

    One scan-local feature explode + ONE bucket-keyed conditional
    aggregate (map-side partial; at most n_buckets + 1 rows survive) —
    exactly ``dsir_logweights``' count stage via the shared
    ``_dsir_features``, so the stored model can never drift from the
    batch scorer's."""
    if int(n_buckets) < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    counts = _dsir_counts(
        docs, target_pred, n_buckets, bigrams, text_col, id_col
    )
    return counts.unionByName(_dsir_sentinel(docs, n_buckets, bigrams))


def _dsir_counts(
    docs: DataFrame,
    target_pred: Column,
    n_buckets: int,
    bigrams: bool,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Sentinel-less bucket counts — the data half of ``dsir_profile``;
    ``extend_dsir_profile`` folds these directly so a daily fold never
    constructs (and re-reads the geometry of) an intermediate
    sentinel-carrying profile."""
    fb = _dsir_features(docs, target_pred, n_buckets, bigrams, text_col, id_col)
    return fb.groupBy(F.col("_bkt").cast("int").alias("bucket")).agg(
        F.sum(F.when(~F.col("_tgt"), 1).otherwise(0))
        .cast("long")
        .alias("n_raw"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0))
        .cast("long")
        .alias("n_target"),
    )


def dsir_profile_geometry(profile: DataFrame) -> tuple[int, bool]:
    """(n_buckets, bigrams) from a stored profile's sentinel row; a
    sentinel-less relation is refused loudly (it is not a profile this
    module wrote, or it was built before the sentinel existed —
    rebuild with ``dsir_profile``)."""
    row = (
        profile.where(F.col("bucket") == _DSIR_SENTINEL_BUCKET)
        .select("n_raw", "n_target")
        .collect()
    )
    if len(row) == 0:
        raise ValueError(
            "stored DSIR profile has no geometry sentinel (bucket = -1); "
            "rebuild it with dsir_profile"
        )
    if len(row) > 1:
        raise ValueError(
            f"stored DSIR profile carries {len(row)} geometry sentinels — "
            "this is several profiles read wholesale (e.g. the whole "
            "_batch_profile directory); fold them pairwise with "
            "merge_dsir_profiles instead"
        )
    return int(row[0]["n_raw"]), bool(row[0]["n_target"])


def extend_dsir_profile(
    stored: DataFrame,
    batch_docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fold a batch of arriving RAW documents into a stored DSIR
    profile — O(batch features) + O(n_buckets), never a history
    rescan. Geometry (n_buckets, bigrams) is read from the stored
    sentinel, so a wrong-modulus fold is impossible by construction.
    Arrivals extend the RAW side only: the target partition is the
    fixed reference set the model was built against (re-run
    ``dsir_profile`` to change it).

    Honest limit (the additive-index class, unlike the idempotent
    Bloom fold): folding the same batch twice double-counts it —
    the caller's epoch bookkeeping (the ``_batch_profile`` side
    outputs are per-epoch directories) is what prevents replay."""
    # geometry read ONCE; the batch's counts fold in sentinel-less
    # (code-review r12 continuation: going through merge_dsir_profiles
    # re-collected the geometry of BOTH sides, forcing an extra
    # feature-explode pass over the batch just to read the sentinel
    # this function had itself chosen)
    n_buckets, bigrams = dsir_profile_geometry(stored)
    batch = _dsir_counts(
        batch_docs, F.lit(False), n_buckets, bigrams, text_col, id_col
    )
    data = (
        stored.where(F.col("bucket") != _DSIR_SENTINEL_BUCKET)
        .unionByName(batch)
        .groupBy("bucket")
        .agg(
            F.sum("n_raw").cast("long").alias("n_raw"),
            F.sum("n_target").cast("long").alias("n_target"),
        )
    )
    return data.unionByName(_dsir_sentinel(stored, n_buckets, bigrams))


def merge_dsir_profiles(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two stored DSIR profiles (e.g. the per-epoch
    ``_batch_profile`` side outputs of ``stream_dsir_ingest``):
    bucket counts sum, the sentinel is validated equal on both sides
    and carried through exactly once. Counts are additive, so the
    merge is exact for profiles built over disjoint document sets."""
    ga, gb = dsir_profile_geometry(a), dsir_profile_geometry(b)
    if ga != gb:
        raise ValueError(
            f"DSIR profile geometry mismatch: {ga} vs {gb} — profiles "
            "built under different n_buckets/bigrams cannot be merged; "
            "rebuild one side"
        )
    data = (
        a.unionByName(b)
        .where(F.col("bucket") != _DSIR_SENTINEL_BUCKET)
        .groupBy("bucket")
        .agg(
            F.sum("n_raw").cast("long").alias("n_raw"),
            F.sum("n_target").cast("long").alias("n_target"),
        )
    )
    return data.unionByName(_dsir_sentinel(a, ga[0], ga[1]))


def dsir_logweights_from_profile(
    profile: DataFrame,
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score arriving documents against a STORED DSIR profile — the
    index-vs-delta shape (``dedup.incremental_minhash_dedup``'s
    contract): work scales with the batch, the model is the profile
    as last folded. Output matches ``dsir_logweights``:
    (id, n_feats, logweight), one row per input doc.

    Scoring a doc whose features all land in raw-occupied buckets is
    BIT-IDENTICAL to the batch scorer on the profile's own corpus
    (pinned by test): the per-bucket micro-unit log-ratios are the
    same expressions over the same counts. The from-profile form
    additionally defines buckets the profile never saw on the raw
    side (impossible in the batch form, where a raw doc's features
    are in the raw model by construction): they score the SAME
    add-one-smoothed formula with n_raw = 0 (and n_target = 0 when
    fully unseen — a constant ln((R+B)/(T+B)) default attached via
    one coalesce), so novel text is handled, not dropped.

    Plan: one scan-local feature explode, one broadcast left join
    against the ≤ n_buckets-row ratio table, one id-keyed sum —
    O(batch features)."""
    n_buckets, bigrams = dsir_profile_geometry(profile)
    return _dsir_score_from_profile(
        profile, docs, n_buckets, bigrams, text_col, id_col
    )


def _dsir_score_from_profile(
    profile: DataFrame,
    docs: DataFrame,
    n_buckets: int,
    bigrams: bool,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Scoring core of ``dsir_logweights_from_profile`` with the
    geometry already in hand — the streaming leg reads the sentinel
    ONCE per run and calls this per epoch instead of re-collecting it
    every micro-batch (the bloom-stream code-review precedent)."""
    from mapreduce_kmeans_clustering_spark.functions.rounding import (
        half_up6_micro,
    )

    data = profile.where(F.col("bucket") != _DSIR_SENTINEL_BUCKET)
    totals = data.agg(
        F.sum("n_raw").cast("long").alias("_r"),
        F.sum("n_target").cast("long").alias("_t"),
    )
    B = int(n_buckets)
    lr = F.log((F.col("n_target") + 1) / (F.col("_t") + B)) - F.log(
        (F.col("n_raw") + 1) / (F.col("_r") + B)
    )
    ratio = data.crossJoin(F.broadcast(totals)).select(
        F.col("bucket").alias("_bkt"), half_up6_micro(lr).alias("_micro")
    )
    default_lr = F.log(F.lit(1.0) / (F.col("_t") + B)) - F.log(
        F.lit(1.0) / (F.col("_r") + B)
    )
    default = totals.select(half_up6_micro(default_lr).alias("_dmicro"))
    fb = _dsir_features(
        docs, F.lit(False), n_buckets, bigrams, text_col, id_col
    )
    scored = (
        fb.join(F.broadcast(ratio), "_bkt", "left")
        .crossJoin(F.broadcast(default))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            (F.sum(F.coalesce("_micro", F.col("_dmicro"))) / F.lit(1e6)).alias(
                "logweight"
            ),
        )
    )
    ids = docs.select(F.col(id_col))
    return ids.join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("logweight", F.lit(0.0)).alias("logweight"),
    )


def dsir_gumbel_select(
    weights: DataFrame,
    k: int,
    temperature: float = 1.0,
    id_col: str = "doc_id",
    weight_col: str = "logweight",
    salt: str = "dsir:",
) -> DataFrame:
    """The SELECT step of DSIR (Xie et al. 2023): Gumbel-top-k
    resampling over the importance log-weights — sampling k docs
    WITHOUT replacement with probability proportional to
    exp(logweight / temperature) is exactly "take the k largest
    logweight/T + Gumbel noise" (the Gumbel-max trick), and replacing
    the random draw with a hashed uniform makes the sample
    reproducible across engines, retries, and partitionings (the
    ``sampling.weight_priority`` determinism recipe).

    The uniform is (hash52(salt || id) + 0.5) / 2^52 — 52 bits are
    exact in a double, the +0.5 keeps u strictly inside (0,1) so both
    logs are finite, and IEEE division is correctly rounded, so u is
    bit-identical in Spark and the DuckDB oracle. gumbel =
    -ln(-ln(u)). Output: (id, logweight, sel_key), the k largest
    sel_keys (ties to the lowest id).

    Plan shape: one scan-local projection + TakeOrderedAndProject
    (each partition keeps its local top-k, the driver merges k rows —
    never a global sort). temperature → 0 approaches deterministic
    top-k by weight; higher temperatures flatten toward uniform."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    c = F.col(id_col)
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 13),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(4503599627370496.0)
    key = F.col(weight_col) / F.lit(float(temperature)) + -F.log(-F.log(u))
    return (
        weights.select(
            c,
            F.col(weight_col),
            key.alias("_key"),
        )
        .orderBy(F.col("_key").desc(), c)
        .limit(int(k))
        .select(
            id_col,
            weight_col,
            half_up6(F.col("_key")).alias("sel_key"),
        )
    )
