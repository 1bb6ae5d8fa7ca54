"""Constant-vector literal channel with IEEE ``-0.0`` normalization.

Spark 4.1.2's whole-stage codegen, under common-subexpression
elimination across sibling distance expressions, miscomputes
``(col - (-0.0))^2``-style terms: a plan embedding a ``-0.0`` literal
can return 0.0 for a distance that is exactly 1.0. Reproduction
(pinned in tests/test_assign.py::test_negative_zero_seed_regression):
points/seeds containing the coordinate ``-0.0`` make ``assignment_expr``
misroute a point that sits exactly ON another seed. With
``spark.sql.codegen.wholeStage=false`` the same plan is correct, and a
standalone single-distance expression is also correct — an upstream
codegen/CSE defect, not an arithmetic one.

Since ``-0.0 == 0.0`` and Euclidean geometry cannot distinguish them,
the engine-side fix is to normalize every data-derived constant to
``+0.0`` at literal-construction time: IEEE 754 guarantees
``-0.0 + 0.0 == +0.0`` while every other double (including NaN and the
infinities) is unchanged by ``+ 0.0``. No query result can change;
only the codegen trigger is removed.

Every channel that turns data-derived floats into plan constants
routes through these helpers: the 3-D centroid row that ``assign``
broadcasts and the literal argmin that streaming assignment uses
(both via ``sql_double``, ``operators/assign.py``), ``sqdist_to_const``
(``functions/distance.py``, which also serves the semantic-dedup
argmin in ``operators/dedup.py``), PQ / IVFADC codebooks
(``operators/pq.py``), farthest-point / k-means|| init
(``plans/kmeans_nd.py``) and 3-D farthest-point init
(``plans/kmeans.py``). Documented in SCALE.md ("Spark 4.1.2 -0.0
whole-stage-codegen note").
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def norm_float(v) -> float:
    """``float(v)`` with IEEE ``-0.0`` mapped to ``+0.0``.

    ``x + 0.0`` is the identity for every other double, including NaN
    and the infinities, so this is safe to apply unconditionally.
    """
    return float(v) + 0.0


def norm_lit(v) -> Column:
    """``F.lit`` for a data-derived double constant, ``-0.0``-safe."""
    return F.lit(norm_float(v))


def const_vec(vals: Sequence[float]) -> Column:
    """Literal ``array<double>`` from a Python sequence, ``-0.0``-safe."""
    return F.array(*[norm_lit(x) for x in vals])


def sql_double(v) -> str:
    """SQL text of a data-derived double constant, exact and
    ``-0.0``-safe: ``repr`` is the shortest round-tripping decimal and
    the ``D`` suffix parses it as a double, not a decimal. NaN and the
    infinities have no literal form and go through a string cast."""
    f = norm_float(v)
    return f"{f!r}D" if math.isfinite(f) else f"CAST('{f}' AS DOUBLE)"
