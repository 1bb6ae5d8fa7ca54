"""Text-analysis operators for training-data pipelines (extension
surface, SURVEY §7 M6): tokenization, token counting, language-ID,
quality scoring, document fingerprinting.

All pure Column expressions (JVM-side, codegen) — no Python UDFs.
Every builder has an exact DuckDB-SQL twin in queries.py; arithmetic
shapes are kept identical on both sides so results hash-match.

At 100 TB these are scan-local projections: no shuffle, trivially
partition-parallel, and Catalyst prunes to the `text` column only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.functions.rounding import half_up6

TOKEN_RE = "[a-z0-9]+"

# Marker-based n-gram language heuristic: per-language function-word
# markers counted via literal (non-regex) replace, so the arithmetic is
# identical in any SQL engine. Order matters: ties resolve to the
# earlier language; all-zero resolves to 'und'.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " la ", " et "],
    "es": [" el ", " los ", " que "],
}

EN_STOPWORDS = [" the ", " and ", " of ", " a ", " to ", " in "]


def tokens(col: Column | str) -> Column:
    """Lowercased word tokens (BPE-ish alnum runs); null text behaves
    as empty (so downstream counts/ratios are 0, not null)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(F.coalesce(c, F.lit(""))), F.lit(TOKEN_RE), 0)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


# GPT-2-style pretokenizer, restricted to RE2 syntax (no lookahead) so
# the DuckDB oracle can run the identical pattern: contraction tails,
# space-prefixed letter/digit runs, space-prefixed punctuation runs.
# Whitespace itself is never a pretoken, so counting matches counts
# the units a BPE vocab would merge within — which tracks real
# tokenizer counts far better than word splitting on code/punctuation-
# heavy text.
BPE_RE = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+"


def bpe_pretokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.coalesce(c, F.lit("")), F.lit(BPE_RE), 0)


def bpe_token_count(col: Column | str) -> Column:
    return F.size(bpe_pretokens(col))


def _padded(col: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(F.coalesce(col, F.lit(""))), F.lit(" "))


def marker_count(col: Column, marker: str) -> Column:
    """Occurrences of a literal marker, via length-difference after a
    literal replace — same semantics in every engine."""
    p = _padded(col)
    return (F.length(p) - F.length(F.replace(p, F.lit(marker), F.lit("")))) / F.lit(
        len(marker)
    )


def lang_scores(col: Column | str) -> dict[str, Column]:
    c = F.col(col) if isinstance(col, str) else col
    out = {}
    for lang, markers in LANG_MARKERS.items():
        score = marker_count(c, markers[0])
        for m in markers[1:]:
            score = score + marker_count(c, m)
        out[lang] = score
    return out


def lang_id(col: Column | str) -> Column:
    """Predicted language: argmax of marker scores, ties to the earlier
    language in LANG_MARKERS order, all-zero -> 'und'. Expressed as the
    same CASE chain the SQL oracle uses."""
    s = lang_scores(col)
    langs = list(LANG_MARKERS)
    zero = None
    for lang in langs:
        cond = s[lang] == 0
        zero = cond if zero is None else (zero & cond)
    expr = F.when(zero, F.lit("und"))
    for i, lang in enumerate(langs[:-1]):
        cond = None
        for other in langs[i + 1 :]:
            c = s[lang] >= s[other]
            cond = c if cond is None else (cond & c)
        expr = expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(langs[-1]))


def alpha_ratio(col: Column | str) -> Column:
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    alpha = F.length(F.regexp_replace(F.lower(c), "[^a-z]", ""))
    return alpha / F.greatest(F.length(c), F.lit(1))


def stopword_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    cnt = marker_count(c, EN_STOPWORDS[0])
    for m in EN_STOPWORDS[1:]:
        cnt = cnt + marker_count(c, m)
    return cnt / F.greatest(token_count(c), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Heuristic quality in [0,1]: length term + alphabetic-character
    ratio + stopword-presence term (weights 0.4/0.3/0.3)."""
    c = F.col(col) if isinstance(col, str) else col
    length_term = F.least(F.lit(1.0), token_count(c) / F.lit(100.0))
    stop_term = F.least(F.lit(1.0), stopword_ratio(c) * F.lit(5.0))
    return (
        F.lit(0.4) * length_term
        + F.lit(0.3) * alpha_ratio(c)
        + F.lit(0.3) * stop_term
    )


def normalized_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(c), "[^a-z0-9]", "")


def fingerprint(col: Column | str) -> Column:
    """16-hex-char content fingerprint of the normalized text (whole-
    document identity; see winnow_fingerprints for the local/rolling
    variant)."""
    return F.substring(F.md5(normalized_text(col)), 1, 16)


# PII-redaction patterns — deliberately RE2-compatible (no lookaround,
# no backrefs) so the same regex runs in Spark (Java regex) and any
# RE2 engine (DuckDB, Go) byte-identically. Order matters: URLs before
# emails (an email inside a URL is already masked), digits last.
REDACTION_PATTERNS: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{6,}", "<NUM>"),
]


def redact(col: Column | str) -> Column:
    """Mask URLs, emails, and long digit runs — the PII-scrubbing
    projection of a training-data pipeline. Pure regexp_replace chain:
    scan-local, codegen, no shuffle."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    for pat, repl in REDACTION_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def dup_line_fraction(col: Column | str) -> Column:
    """Gopher-style repetition signal: fraction of a document's lines
    that repeat an earlier line (1 - distinct/total). Scan-local array
    math over split-by-newline — empty text splits to one empty line,
    so the fraction is 0, never null."""
    c = F.coalesce(F.col(col) if isinstance(col, str) else col, F.lit(""))
    lines = F.split(c, "\n")
    return F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines)


def repetition_stats(
    docs, text_col: str = "text", id_col: str = "doc_id"
):
    """(id, dup_line_frac, top_bigram_frac): the two cheap repetition
    filters of the Gopher/MassiveText quality rules — documents
    dominated by one repeated line or one repeated word-bigram are
    boilerplate/spam signals.

    dup_line_frac is a scan-local projection. top_bigram_frac (count of
    the modal 2-gram over all 2-gram occurrences) explodes POSITIONAL
    bigrams and takes two hash aggregates keyed on the doc id —
    partition-parallel, the same shape as the shingle index. Bigrams
    form via posexplode + window lead, not a transform() lambda over
    element_at — the HOF form re-runs the tokenizer per element outside
    codegen (measured 9.5 s -> 2.5 s at sf0.1, the same rewrite as
    exploded_shingles). Docs with fewer than 2 tokens have no
    bigrams -> 0.0."""
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    nxt = F.lead("tok").over(w)
    bg = (
        toks.select(
            F.col(id_col), F.concat_ws(" ", F.col("tok"), nxt).alias("bg"), nxt.alias("_n")
        )
        .where(F.col("_n").isNotNull())
        .select(id_col, "bg")
    )
    frac = (
        bg.groupBy(id_col, "bg")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg((F.max("c") / F.sum("c")).alias("top_bigram_frac"))
    )
    return (
        docs.select(F.col(id_col), dup_line_fraction(F.col(text_col)).alias("dup_line_frac"))
        .join(frac, id_col, "left")
        .select(
            id_col,
            "dup_line_frac",
            F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)).alias("top_bigram_frac"),
        )
    )


def winnow_fingerprints(docs, n: int = 3, window: int = 4, text_col: str = "text", id_col: str = "doc_id"):
    """(id, fp): robust-winnowing document fingerprints — the
    rolling-hash fingerprinting of the MOSS family (Schleimer et al.,
    SIGMOD'03), simplified to "distinct minima of a sliding window over
    the positional n-gram hash sequence" (full winnowing adds a
    rightmost-tie selection rule; the distinct-minima variant keeps the
    same containment-detection property and is order-free, which makes
    it engine-portable).

    Physical shape mirrors exploded_shingles (posexplode + window
    lead, all codegen): positional — not distinct — n-gram hashes, a
    row-frame min over [pos, pos+window-1] restricted to full windows,
    then distinct. Two partitioned window passes + one distinct
    shuffle, all keyed on the doc id."""
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w_lead = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tok", j).over(w_lead) for j in range(1, n)]
    sh = F.concat_ws(" ", F.col("tok"), *leads)
    hashed = (
        toks.select(F.col(id_col), F.col("pos"), sh.alias("sh"), leads[-1].alias("_last"))
        .where(F.col("_last").isNotNull())
        .select(
            F.col(id_col),
            F.col("pos"),
            F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long").alias("h"),
        )
    )
    w_min = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    w_doc = Window.partitionBy(id_col)
    return (
        hashed.select(
            F.col(id_col),
            F.col("pos"),
            F.min("h").over(w_min).alias("fp"),
            F.max("pos").over(w_doc).alias("_maxpos"),
        )
        .where(F.col("pos") <= F.col("_maxpos") - (window - 1))
        .select(id_col, "fp")
        .distinct()
    )


def hash_dim(tok_col: Column, n_features: int) -> Column:
    """Engine-portable hashing-trick bucket for a token: first 8 md5
    hex chars as an int, mod ``n_features``. MurmurHash (MLlib's
    HashingTF) is faster but not replayable in a SQL oracle; md5 is,
    and the hot path is one hash per token either way. DuckDB twin:
    ``('0x' || substr(md5(tok), 1, 8))::BIGINT % D``."""
    return (
        F.conv(F.substring(F.md5(tok_col), 1, 8), 16, 10).cast("long")
        % n_features
    ).cast("int")


def gopher_quality(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_stopwords: int = 2,
    min_alpha_word_frac: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1):
    per-document word-count bounds, mean-word-length bounds, a minimum
    stopword count (the "is this natural language at all" check) and a
    minimum alphabetic-word fraction — each as its own flag plus the
    conjunction ``keep``, so a curation report can see WHICH rule
    rejects a document, not just that one did.

    Entirely scan-local: one token-array projection feeds four
    higher-order aggregates (no shuffle, no UDF); the means are
    integer-sum / count divisions, so both engines produce identical
    doubles. Defaults are tuned so both verdicts are live on the
    synthetic corpus (word-count and stopword rules each reject real
    documents at every SF); the symbol/ellipsis/bullet line rules of
    the paper are omitted because this corpus has no punctuation or
    line structure — an always-true flag would be no evidence."""
    w = tokens(F.col(text_col))
    stops = [s.strip() for s in EN_STOPWORDS]
    nw = F.size(w)
    safe_nw = F.greatest(nw, F.lit(1))
    mwl = (
        F.aggregate(
            F.transform(w, F.length), F.lit(0), lambda acc, x: acc + x
        ).cast("double")
        / safe_nw
    )
    nstop = F.size(F.filter(w, lambda x: x.isin(stops)))
    alpha = (
        F.size(F.filter(w, lambda x: x.rlike("[a-z]"))).cast("double") / safe_nw
    )
    d = docs.select(
        F.col(id_col),
        nw.cast("long").alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        nstop.cast("long").alias("n_stopwords"),
        F.round(alpha, 6).alias("alpha_word_frac"),
    )
    ok_words = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    ok_len = (F.col("mean_word_len") >= min_mean_word_len) & (
        F.col("mean_word_len") <= max_mean_word_len
    )
    ok_stop = F.col("n_stopwords") >= min_stopwords
    ok_alpha = F.col("alpha_word_frac") >= min_alpha_word_frac
    return d.select(
        "*",
        ok_words.alias("ok_words"),
        ok_len.alias("ok_word_len"),
        ok_stop.alias("ok_stopwords"),
        ok_alpha.alias("ok_alpha"),
        (ok_words & ok_len & ok_stop & ok_alpha).alias("keep"),
    )


# ---------------------------------------------------------------------------
# BPE training (Sennrich et al. 2016): iterative merge learning
# ---------------------------------------------------------------------------

def bpe_train(
    docs: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus and
    return the merge table — the tokenizer-trainer artifact:

        (step INT, left_sym, right_sym, pair_count LONG)

    Each step counts adjacent symbol-pair frequencies over the
    vocabulary (weighted by word count), picks the argmax with the
    deterministic (count DESC, left, right) tie-break, and applies the
    merge greedily left-to-right in every word — exactly subword-nmt's
    global ``re.sub`` semantics, expressed engine-portably: a word's
    symbol sequence lives as a ``|``-delimited string (``abc`` →
    ``|a||b||c|``) and merge application is ONE plain
    ``replace(r, '|L||R|', '|LR|')`` — plain-string replace is
    non-overlapping leftmost in both Spark and DuckDB, and the
    double-bar delimiter makes a match possible only at true symbol
    boundaries. The whole K-step train is a lazy plan: each argmax is
    a 1-row TakeOrdered riding a broadcast anchor into the next
    rewrite — no driver collect anywhere.

    Scale shape: the ONLY corpus-scale work is the initial word-count
    aggregate (map-side combine collapses the Zipf head). Every
    iteration is vocabulary-sized: pair explode over DISTINCT words
    weighted by count (the classic trainer trick), a pair aggregate,
    a 1-row top-1, and a scan-local rewrite. State is
    (word-repr, count) with deferred ``localCheckpoint`` truncating
    the per-iteration lineage (the dedup/pagerank posture).
    """
    merge_steps = [
        best.select(
            F.lit(step).cast("int").alias("step"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.col("c").cast("long").alias("pair_count"),
        )
        for step, best in enumerate(
            bpe_merge_anchors(docs, n_merges, text_col), 1
        )
    ]
    out = merge_steps[0]
    for m in merge_steps[1:]:
        out = out.unionAll(m)
    return out


def bpe_merge_anchors(
    docs: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
) -> list:
    """The sequential merge-anchor chain ``bpe_train`` is built from:
    one 1-row DataFrame (a, b, c) per learned merge, each derived from
    the vocabulary state AFTER the previous merges applied (the lazy
    broadcast-anchor chain — no driver collect). Shared by
    ``bpe_train`` (which just formats them) and ``bpe_encode`` (which
    re-applies them to full documents)."""
    wf = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    state = wf.select(
        F.regexp_replace("w", "(.)", r"|$1|").alias("r"), "wc"
    ).localCheckpoint(eager=False)
    bests = []
    for step in range(1, n_merges + 1):
        syms = state.select(
            F.split(F.expr("substring(r, 2, length(r)-2)"), r"\|\|").alias("s"),
            "wc",
        )
        pairs = syms.select(
            F.explode(
                F.when(
                    F.size("s") > 1,
                    F.expr(
                        "transform(sequence(1, size(s)-1),"
                        " i -> struct(s[i-1] as a, s[i] as b))"
                    ),
                ).otherwise(F.expr("array()"))
            ).alias("p"),
            "wc",
        )
        best = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("wc").alias("c"))
            .orderBy(F.col("c").desc(), "a", "b")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        bests.append(best)
        state = (
            state.crossJoin(F.broadcast(best))
            .select(
                _apply_merge(F.col("r")).alias("r"),
                "wc",
            )
            .localCheckpoint(eager=False)
        )
    return bests


def _apply_merge(r: Column) -> Column:
    """Rewrite one learned merge into a bar-delimited symbol string:
    replace('|a||b|', '|ab|') with (a, b) read from the crossJoined
    1-row anchor. Plain-string replace = non-overlapping leftmost in
    both engines; the double-bar delimiter only matches true adjacent
    symbol boundaries."""
    return F.replace(
        r,
        F.concat(F.lit("|"), F.col("a"), F.lit("||"), F.col("b"), F.lit("|")),
        F.concat(F.lit("|"), F.col("a"), F.col("b"), F.lit("|")),
    )


def bpe_encode(
    docs: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize every document with the BPE merges learned on this
    corpus — the APPLY half of the tokenizer (``bpe_train`` is the
    LEARN half): per doc, pretokens are char-split into the
    bar-delimited form, all words joined by a space (a space can never
    participate in a '|L||R|' match, so merges stay word-local exactly
    like subword-nmt), then the k learned merges are applied in step
    order as k plain replaces riding the same 1-row broadcast anchors
    the trainer used.

    Scale shape: the document side is k scan-local rewrites — no
    shuffle, no collect, no Python; only the (vocabulary-sized) train
    chain aggregates. Output per doc: pretoken count, post-merge token
    count, and md5 of the full encoded string (the compact but
    value-exact fingerprint an oracle can replay).
    """
    bests = bpe_merge_anchors(docs, n_merges, text_col)
    toks = tokens(F.col(text_col))
    rep = F.array_join(
        F.transform(
            toks, lambda t: F.regexp_replace(t, "(.)", r"|$1|")
        ),
        " ",
    )
    state = docs.select(
        F.col(id_col),
        F.size(toks).cast("int").alias("n_pretokens"),
        rep.alias("r"),
    )
    for best in bests:
        state = state.crossJoin(F.broadcast(best)).select(
            id_col,
            "n_pretokens",
            _apply_merge(F.col("r")).alias("r"),
        )
    n_tokens = (
        (
            F.length("r")
            - F.length(F.replace(F.col("r"), F.lit("|"), F.lit("")))
        )
        / F.lit(2)
    ).cast("int")
    return state.select(
        id_col,
        "n_pretokens",
        n_tokens.alias("n_tokens"),
        F.md5("r").alias("enc_md5"),
    )


def ngram_diversity(
    docs: DataFrame,
    ns: tuple[int, ...] = (1, 2, 3),
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Distinct-n corpus diversity — the self-repetition health metric
    (distinct n-grams / total n-grams per group, the corpus-level
    twin of Li et al.'s distinct-1/2 generation metric): a feed whose
    distinct-3 collapses is re-crawling templated pages no matter what
    its per-doc quality scores say. One row per (group, n):
    (group, n, total_ngrams, distinct_ngrams, diversity).

    Scale shape: per n, one scan-local n-gram projection (higher-order
    transform over the token array — no self-join) exploded into one
    (group, gram)-keyed two-phase distinct-count. The n passes union;
    grams are Zipf-skewed but the key space is (group, gram), so hot
    grams stay inside partial aggregates. Diversity is rounded with
    the repo's half-up 6-dp chain.

    The distinct count runs on the gram's 60-bit md5 prefix (the
    simhash/shingle hash convention), NOT the raw string: a fresh
    corpus has almost no repeated 3-grams, so the partial aggregate
    collapses nothing and a raw-string distinct shuffles the entire
    exploded text — hashing first cuts the shuffle to 8-byte keys
    (measured: the raw-string form went super-linear at ×10 from
    exactly that shuffle). Exactness: a collision under-counts by 1
    in 2^60 key space (~n²/2^61 expected — zero in any real corpus),
    and BOTH engines hash identically, so oracle parity is exact
    either way."""
    sizes = [int(n) for n in ns]
    if not sizes:
        raise ValueError("ns must name at least one n-gram size")
    if len(set(sizes)) != len(sizes):
        raise ValueError(f"duplicate n-gram sizes in ns: {tuple(ns)}")
    w = tokens(F.col(text_col))
    parts = []
    for n in sizes:
        if n < 1:
            raise ValueError(f"ngram sizes must be >= 1, got {n}")
        if n == 1:
            grams = w
        else:
            grams = F.when(
                F.size(w) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - (n - 1)),
                    lambda i: F.array_join(F.slice(w, i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        gh = F.conv(F.substring(F.md5(F.col("g")), 1, 15), 16, 10).cast(
            "long"
        )
        parts.append(
            docs.select(F.col(by).alias("grp"), F.explode(grams).alias("g"))
            .select("grp", gh.alias("gh"))
            .groupBy("grp")
            .agg(
                F.count("*").cast("long").alias("total_ngrams"),
                F.countDistinct("gh").cast("long").alias("distinct_ngrams"),
            )
            .select(
                F.col("grp").alias(by),
                F.lit(n).cast("int").alias("n"),
                "total_ngrams",
                "distinct_ngrams",
                half_up6(
                    F.col("distinct_ngrams") / F.col("total_ngrams")
                ).alias("diversity"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
