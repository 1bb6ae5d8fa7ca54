"""Z-order (Morton) curve keys — the multi-dimensional data-layout
primitive behind Delta/Iceberg ``ZORDER BY``: interleaving the bits of
two (or more) clustering columns gives a 1-D sort key whose contiguous
ranges cover compact HYPER-RECTANGLES of the key space, so per-file
min/max statistics prune multi-column predicates that a linear
(lexicographic) layout can only prune on its leading column.

Everything here is a pure column expression — ~6 codegen nodes per
bit, whole-stage compiled, engine-portable (the DuckDB oracle runs the
identical shift/mask arithmetic). Writing is one range partition +
local sort.

At 100 TB this is a WRITE-side investment: one extra sort at ingest
buys every subsequent multi-dimensional range scan file-level pruning.
The ``q_zorder_locality`` query measures the property itself (z-bucket
x/y spans vs a linear layout's) rather than asserting folklore.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ZORDER_BITS = 10


def zorder_key(x: Column | str, y: Column | str, bits: int = ZORDER_BITS) -> Column:
    """Morton interleave of two non-negative ints (x bit i → position
    2i, y bit i → 2i+1), as a LONG in [0, 4^bits). Callers bound the
    inputs to ``bits`` (e.g. ``col % (1 << bits)``); bits ≤ 31 keeps
    every shift inside the long range."""
    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(xc.bitwiseAND(F.lit(1 << i)), i)
        ).bitwiseOR(F.shiftleft(yc.bitwiseAND(F.lit(1 << i)), i + 1))
    return z


def zorder_key_sql(x: str, y: str, bits: int = ZORDER_BITS) -> str:
    """The identical interleave as ANSI/DuckDB SQL text (for oracles
    and for engines without a DataFrame API)."""
    terms = []
    for i in range(bits):
        terms.append(f"(({x} & {1 << i}) << {i})")
        terms.append(f"(({y} & {1 << i}) << {i + 1})")
    return "(" + " | ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    num_files: int = 16,
    bits: int = ZORDER_BITS,
) -> None:
    """Materialize ``df`` clustered along the Z-curve of (x, y): range
    partition + local sort on the interleaved key (one shuffle,
    balanced files via sampled ranges), key dropped on write. Each
    output file then covers a compact rectangle of (x, y), so both
    columns' parquet min/max footer stats become selective.

    Inputs are RANGE-NORMALIZED onto the 2^bits grid from their
    observed min/max (one tiny 1-row aggregate, broadcast back as the
    house scalar anchor — no driver collect). A raw ``% 2^bits`` wrap
    would alias values ≥ 2^bits (and negatives) onto distant Z-cells,
    silently destroying exactly the min/max locality the layout exists
    for. Min/max scaling is monotone per dimension, so locality holds
    for any numeric domain; a constant column degenerates to cell 0."""
    m = 1 << bits
    stats = df.agg(
        F.min(F.col(x_col).cast("double")).alias("__xmin"),
        F.max(F.col(x_col).cast("double")).alias("__xmax"),
        F.min(F.col(y_col).cast("double")).alias("__ymin"),
        F.max(F.col(y_col).cast("double")).alias("__ymax"),
    )

    def _cell(c: str, lo: str, hi: str) -> Column:
        span = F.col(hi) - F.col(lo)
        return F.when(span <= 0, F.lit(0).cast("long")).otherwise(
            F.least(
                F.lit(m - 1).cast("long"),
                F.floor(
                    (F.col(c).cast("double") - F.col(lo)) / span * F.lit(m)
                ),
            )
        )

    keyed = (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            "__zk",
            zorder_key(
                _cell(x_col, "__xmin", "__xmax"),
                _cell(y_col, "__ymin", "__ymax"),
                bits,
            ),
        )
        .drop("__xmin", "__xmax", "__ymin", "__ymax")
    )
    (
        keyed.repartitionByRange(num_files, "__zk")
        .sortWithinPartitions("__zk")
        .drop("__zk")
        .write.mode("overwrite")
        .parquet(path)
    )
