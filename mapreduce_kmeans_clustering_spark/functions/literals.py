"""The one constant channel: data-derived constants as a 1-row relation.

Every operator that needs driver-side constants derived from the data
(centroids, chosen seeds, codebooks, seed norms) gets them from
``const_row``: a 1-row ``LocalRelation`` built by one ``spark.sql``
statement and read as ordinary columns. This is the engine's form of
the reference's side file loaded in each mapper's ``setup()``
(Task2.java:52-93). The plan text is the row's schema, not its values,
so a channel whose constants are one array column plans identically
for any k, and whole-stage codegen compiles once however often the
values change. This module is the only place a data double is turned
into plan text.

Two reads of the row. ``operators/assign.assign`` cross-joins it under
a broadcast hint: a condition-free BroadcastNestedLoopJoin, one 1-task
broadcast job per use. ``assign`` serves ``label``, the registered
K-Means queries and the stream path; the 3-D Lloyd step does not use
it (``plans/kmeans.lloyd_iteration`` is one ``mapInArrow`` job that
carries its centroids in the kernel's closure). ``assign`` keeps the
join because the alternative was measured slower where the data is
large. Given its 3K coordinates as one ``array<double>`` column
through ``with_consts`` (same argmin text, coordinates read as
``_c[3i+a]``), the old assign-then-aggregate step ran 2 jobs instead
of 3 and still compiled nothing after a fit's first step, but each row
read the array. On
``update_centroids(assign(...)).collect()`` (local[4] on a 4-core
host, fresh centroids each step, 7 interleaved pairs, identical
centroids in every pair) the array form took 1,105 ms against 925 ms
median at 2M points and K=16 and won no pair (a second run: 1,039
against 882 ms, one pair won); at 2M points and K=5, and at 5,000
points, the two were within about 10% either way. A ``named_struct`` constant was
about twice as slow. Every other channel goes through
``with_consts``, which projects each constant as an uncorrelated
scalar subquery of the row: no join and no job (the driver reads the
local row), and the data side's size estimate is kept. Without CBO
Spark estimates a cross join as the product of its sides' sizes, and
the row is at least 16 bytes, so a cross-joined channel's output is
estimated at least 16 times its data; the semantic-dedup and IVF
assignments are checkpointed and joined later, and at sf0.1 that
estimate turned four of those joins from broadcast into sort-merge.

IEEE ``-0.0``: Spark 4.1.2's whole-stage codegen, under
common-subexpression elimination across sibling distance expressions,
miscomputes ``(col - (-0.0))^2``-style terms: a plan embedding a
``-0.0`` constant can return 0.0 for a distance that is exactly 1.0.
Reproduction: a seed with the coordinate ``-0.0`` misroutes the point
(0,0,1) that sits exactly ON another seed. With
``spark.sql.codegen.wholeStage=false`` the same plan is correct — an
upstream codegen/CSE defect, not an arithmetic one. Since
``-0.0 == 0.0`` and Euclidean geometry cannot tell them apart,
``sql_double`` renders every constant as ``v + 0.0``: IEEE 754
guarantees ``-0.0 + 0.0 == +0.0`` while every other double (NaN and
the infinities included) is unchanged. No result can change; only the
codegen trigger is removed. Documented in SCALE.md §7.
``tests/test_assign.py::test_negative_zero_nd_channels`` pins the
normalization by the sign of a rendered ``-0.0``;
``test_negative_zero_seed_regression`` checks the 3-D result, which no
longer depends on it, since ``assign`` reads its centroids from the
broadcast row rather than from plan literals.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def sql_double(v) -> str:
    """SQL text of a data-derived double constant, exact and
    ``-0.0``-safe: ``repr`` is the shortest round-tripping decimal and
    the ``D`` suffix parses it as a double, not a decimal. NaN and the
    infinities have no literal form and go through a string cast."""
    f = float(v) + 0.0
    return f"{f!r}D" if math.isfinite(f) else f"CAST('{f}' AS DOUBLE)"


def _sql_value(v) -> str:
    if isinstance(v, (list, tuple)):
        return f"array({', '.join(_sql_value(x) for x in v)})"
    if isinstance(v, int):
        return f"{v}L"
    return sql_double(v)


def const_row(spark: SparkSession, **cols) -> DataFrame:
    """The 1-row broadcast relation holding ``cols`` (name -> value).

    A float becomes a ``double`` (via ``sql_double``), an int a
    ``bigint``, and a list or tuple an ``array`` of its rendered
    elements, nested to any depth. One ``spark.sql`` statement builds
    the row, so constructing it costs one parse, not a py4j call per
    constant. ``assign`` ``crossJoin``s it; other callers use
    ``with_consts``. Pick names that cannot collide with the data's
    columns.
    """
    values = ", ".join(_sql_value(v) for v in cols.values())
    return spark.sql(
        f"SELECT /*+ BROADCAST(c) */ * FROM VALUES ({values}) AS c({', '.join(cols)})"
    )


def with_consts(df: DataFrame, **cols) -> DataFrame:
    """``df`` plus the constants ``cols`` as columns (see ``const_row``
    for the value types), each an uncorrelated scalar subquery of one
    ``const_row``: no join, and the data side's size estimate. Spark
    rejects a subquery inside a lambda, so read the columns in a later
    ``select``, not in the one that adds them."""
    row = const_row(df.sparkSession, **cols)
    return df.select("*", *[row.select(c).scalar().alias(c) for c in cols])
