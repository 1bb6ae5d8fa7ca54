"""Deterministic sampling for dataset mixing.

Training-data pipelines weight sources ("2x books, 0.1x web") by
sampling each source at a fixed rate. RNG-based sampling is neither
reproducible across engines nor stable across retries, so the keep
decision is a pure function of the row id: a row survives iff
md5(id) mod 1000 < rate * 1000 — deterministic, engine-portable,
and independent per row (hash bits are uniform), which is exactly the
property Bernoulli sampling needs.

Scan-local projection + filter: no shuffle, pushes through Catalyst
like any predicate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

BUCKETS = 1000


def hash_bucket(id_col: Column | str) -> Column:
    """Deterministic uniform bucket in [0, 1000) from the row id:
    first 8 md5 hex chars as an int, mod 1000. DuckDB twin:
    ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT % 1000."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    return (h % BUCKETS).cast("int")


def sample_stratified(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each stratum at its configured rate (0..1); strata missing
    from ``rates`` use default_rate (0 = drop). Rates are exact over
    the bucket granularity (1/1000)."""
    bucket = hash_bucket(id_col)
    # round(), not int(): rates like 0.29 are not binary-representable
    # (0.29 * 1000 = 289.999...), and truncation would silently drop a
    # bucket relative to the documented rate*1000 threshold
    expr = F.lit(round(default_rate * BUCKETS))
    for stratum, rate in sorted(rates.items()):
        expr = F.when(
            F.col(strata_col) == stratum, F.lit(round(rate * BUCKETS))
        ).otherwise(expr)
    return df.where(bucket < expr)


PRIORITY_HEX = 13  # 52 bits — fits a double's mantissa exactly


def weight_priority(
    id_col: Column | str, weight_col: Column | str, salt: str = "ws:"
) -> Column:
    """Deterministic weighted-sampling priority: hash52(id) / weight.

    The k SMALLEST priorities form the sample, so a row's inclusion
    odds scale with its weight (the deterministic analog of weighted
    reservoir sampling a la Efraimidis-Spirakis, with the random key
    replaced by a hash so the sample is reproducible across engines
    and retries). 13 md5 hex digits = 52 bits are exactly
    representable in a double, and IEEE division is correctly rounded
    in any conforming engine, so priorities are bit-identical between
    Spark and the DuckDB oracle:
    ('0x' || substr(md5('ws:' || id), 1, 13))::BIGINT::DOUBLE / w.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, PRIORITY_HEX),
        16,
        10,
    ).cast("double")
    return h / w.cast("double")


def sample_weighted(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Global weighted sample of k rows: keep the k smallest
    priorities (ties broken by id). Planned as TakeOrderedAndProject —
    each partition keeps its local top-k, the driver merges K rows —
    never a global sort. Weighting by token/char count is the
    importance-sampling step that fills a token budget with long
    documents at the right odds."""
    pri = weight_priority(id_col, weight_col)
    return (
        df.withColumn("priority", pri)
        .orderBy("priority", id_col)
        .limit(k)
    )


def cap_per_key(
    df: DataFrame,
    key_col: str,
    cap: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-balanced downsampling: keep at most ``cap`` rows per key
    (the Common-Crawl-style per-domain cap that stops one boilerplate
    host from dominating a corpus). Which rows survive is a pure
    function of the data — rows are ranked inside each key by
    (md5(id), id), so the kept set is reproducible across engines,
    retries, and partitionings, and adding NEW rows to a key evicts
    only by hash order, not arrival order.

    One ranking window partitioned by the key (a single shuffle on the
    key — same key distribution the downstream groupBy would pay
    anyway). A key hotter than one task's memory is the known hazard;
    at that point the cap itself is the cure (the window's sort is
    external and the filter drops the tail immediately).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= cap)
        .drop("__rn")
    )


def temperature_weights(
    group_mass: DataFrame,
    mass_col: str = "mass",
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-based mixture reweighting — the alpha-sampling
    recipe multilingual LM training uses to keep low-resource groups
    from vanishing (public recipe: sample group g with probability
    proportional to share_g^alpha; alpha=1 reproduces natural
    frequency, alpha->0 approaches uniform; mT5/XLM-R report
    alpha 0.3, mBERT 0.7).

    Input is one row per group carrying its mass (docs, tokens, bytes
    — aggregate BEFORE calling, so the unpartitioned normalization
    windows below only ever see G rows, never corpus rows; G is the
    number of languages/sources, tiny by construction). Adds:

    - ``share``         natural fraction of total mass (exact: BIGINT
                        mass over BIGINT total)
    - ``sample_weight`` share^alpha / sum(share^alpha)
    - ``boost``         sample_weight / share — the per-group
                        oversampling factor to feed `sample_stratified`
                        (rates proportional to boost) or `weight_priority`.
    """
    w = Window.partitionBy()
    m = F.col(mass_col).cast("double")
    out = group_mass.withColumn("share", m / F.sum(m).over(w))
    out = out.withColumn("_pw", F.pow(F.col("share"), F.lit(float(alpha))))
    out = out.withColumn(
        "sample_weight", F.col("_pw") / F.sum("_pw").over(w)
    ).drop("_pw")
    return out.withColumn("boost", F.col("sample_weight") / F.col("share"))


def sample_neyman(
    df: DataFrame,
    n_total: int,
    strata_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Neyman-optimal stratified sample: allocate ``n_total`` across
    strata proportionally to N_h·σ_h (the allocation that minimizes
    the variance of the stratified mean estimator — Neyman 1934),
    then take each stratum's quota deterministically by md5-hash
    priority.

    Engine-exact allocation: per-stratum moments are computed on
    CENTS-SCALED INTEGERS carried as DECIMAL(38,0)/HUGEINT — and

        N_h²σ_h² = N_h·Σx² − (Σx)²

    is exact integer arithmetic, so both engines take sqrt of the
    IDENTICAL value; the weights are rounded to 2 decimals, making
    their magnitudes exactly representable and their SUM
    order-independent in doubles (each w < 2^53/100); quotas are then
    the same floor() of the same doubles everywhere. Zero-variance
    strata get weight 0 and drop out.

    Scale shape: one moments aggregate (map-side partials), an
    S-row broadcast of the allocation back onto the scan, and one
    rank-per-stratum window that WindowGroupLimit prunes to each
    partition's local quota head. Nothing global-sorts."""
    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    stats = (
        df.select(
            F.col(strata_col).alias("__stratum"),
            cents.cast("decimal(38,0)").alias("c1"),
            (cents * cents).cast("decimal(38,0)").alias("c2"),
        )
        .groupBy("__stratum")
        .agg(
            F.count("*").alias("nh"),
            F.sum("c1").alias("s1"),
            F.sum("c2").alias("s2"),
        )
        .select(
            "__stratum",
            "nh",
            F.round(
                F.sqrt(
                    (
                        F.col("nh").cast("decimal(38,0)") * F.col("s2")
                        - F.col("s1") * F.col("s1")
                    ).cast("double")
                ),
                2,
            ).alias("w"),
        )
    )
    tot = stats.agg(F.sum("w").alias("sw"))
    alloc = (
        stats.crossJoin(F.broadcast(tot))
        .select(
            "__stratum",
            F.col("nh").cast("long").alias("n_stratum"),
            F.floor(F.lit(float(n_total)) * F.col("w") / F.col("sw"))
            .cast("long")
            .alias("n_alloc"),
        )
        .where(F.col("n_alloc") > 0)
    )
    pri = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ns:"), F.col(id_col).cast("string"))),
            1,
            PRIORITY_HEX,
        ),
        16,
        10,
    ).cast("long")
    from pyspark.sql.window import Window

    w = Window.partitionBy(strata_col).orderBy(pri.asc(), F.col(id_col).asc())
    return (
        df.withColumn("rank", F.row_number().over(w).cast("long"))
        .join(
            F.broadcast(alloc), F.col(strata_col) == F.col("__stratum")
        )
        .where(F.col("rank") <= F.col("n_alloc"))
        .select(
            F.col(id_col),
            F.col(strata_col),
            "rank",
            "n_alloc",
            "n_stratum",
        )
    )


def parity_copy_counts(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic oversampling plan to class parity: how many copies
    of each row a balanced epoch contains, so every label's total
    equals the majority label's count (the standard rebalance before
    training on a skewed corpus).

    Per label ``l`` with ``n_l`` rows and target ``t`` = max label
    count: every row gets ``t div n_l`` copies and the first
    ``t mod n_l`` rows — ranked by (md5(id), id), the same
    engine-portable hash order as ``cap_per_key`` — get one more.
    Pure function of the data: no RNG, reproducible across engines,
    retries, and partitionings, and sum(n_copies) per label is exactly
    ``t`` by construction.

    Plan shape: one row_number window partitioned by label (a single
    shuffle on the label key), a 10-ish-row label-count aggregate
    broadcast back, and the 1-row global max joined via the
    broadcast-anchor crossJoin (the house pattern for scalar anchors).
    No driver collect. Output: (id, label, n_copies).
    """
    counts = df.groupBy(label_col).agg(F.count("*").alias("__n"))
    target = counts.agg(F.max("__n").alias("__target"))
    quota = F.broadcast(
        counts.crossJoin(F.broadcast(target)).select(
            label_col,
            "__n",
            F.floor(F.col("__target") / F.col("__n")).cast("long").alias("__base"),
            (F.col("__target") % F.col("__n")).alias("__extra"),
        )
    )
    w = Window.partitionBy(label_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.select(id_col, label_col)
        .withColumn("__rn", F.row_number().over(w))
        .join(quota, label_col)
        .select(
            F.col(id_col),
            F.col(label_col),
            (
                F.col("__base")
                + F.when(F.col("__rn") <= F.col("__extra"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("int")
            .alias("n_copies"),
        )
    )


def epoch_allocation(
    group_mass: DataFrame,
    budget_epochs: float,
    mass_col: str = "mass",
    alpha: float = 0.3,
    max_epochs: float = 4.0,
) -> DataFrame:
    """The pretraining data-mixture table: given per-group token mass,
    a total token budget, and a temperature-``alpha`` target mixture
    (``temperature_weights``), how many tokens does each group
    contribute and how many EPOCHS of it does that imply — with
    over-repeated groups capped at ``max_epochs`` (repeating a small
    source dozens of times hurts; the published LLaMA/Gopher-style
    mixture tables report exactly this epochs column and cap it).

    ``budget_epochs`` states the budget as a multiple of the TOTAL
    corpus mass (budget = budget_epochs × Σmass) so the knob is
    scale-free: the same call is meaningful on a 60 k-token fixture
    and a 100 TB crawl. Per group:

    - ``requested_tokens`` = budget × sample_weight (the mixture ask)
    - ``epochs``           = requested / mass
    - ``allocated_tokens`` = min(requested, max_epochs × mass)
    - ``capped``           = the ask exceeded the repeat ceiling
    - ``realized_share``   = allocated / Σallocated — what the mixture
      ACTUALLY becomes after capping (the shortfall is the caller's
      policy decision: redistribute, raise the cap, or shrink the
      budget; this table is the audit those decisions read)

    Scale shape: the input is one row per group (aggregate BEFORE
    calling — the normalization windows only ever see G rows); every
    added column is window-over-G arithmetic, nothing touches corpus
    rows. Determinism: mass is BIGINT, every derived double is the
    same expression tree on both engines, outputs are reported at the
    repo's 6-dp contract by the registered query."""
    if budget_epochs <= 0:
        raise ValueError(f"budget_epochs must be > 0, got {budget_epochs}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    w = Window.partitionBy()
    t = temperature_weights(group_mass, mass_col=mass_col, alpha=alpha)
    m = F.col(mass_col).cast("double")
    budget = F.lit(float(budget_epochs)) * F.sum(m).over(w)
    req = budget * F.col("sample_weight")
    alloc = F.least(req, F.lit(float(max_epochs)) * m)
    out = (
        t.withColumn("requested_tokens", req)
        .withColumn("epochs", F.col("requested_tokens") / m)
        .withColumn("allocated_tokens", alloc)
        .withColumn("capped", req > F.lit(float(max_epochs)) * m)
    )
    return out.withColumn(
        "realized_share",
        F.col("allocated_tokens") / F.sum("allocated_tokens").over(w),
    )
