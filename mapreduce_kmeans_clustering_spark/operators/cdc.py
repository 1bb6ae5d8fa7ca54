"""Change-data-capture operators: changelog replay (SCD1) and
validity-interval history (SCD2 / gaps-and-islands).

A 100 TB corpus is not rebuilt — it is maintained: upserts and delete
tombstones arrive as a keyed change stream, and consumers need either
the CURRENT state (replay: keep each key's last non-deleted version)
or the full HISTORY (periods: when did each key hold each value).
These complete the engine's incremental family next to
operators/incremental.py (aggregate maintenance) and
streaming/ingest.py (idempotent corpus ingest).

Scale shapes:
- `changelog_state` is one rank window over (key, seq) — the same
  WindowGroupLimit plan as the keep-last-version compaction read
  (queries q_latest_event_per_user): partitions discard non-latest
  rows before the sort, shuffle carries the change rows once.
- `state_periods` is the gaps-and-islands pattern: lag to mark run
  starts, running count to number runs, one aggregate per run, lead
  for the closing bound — two windows and one aggregate, all
  partitioned by key, so it scales with the per-key history length,
  never the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def changelog_state(
    changes: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str | None = None,
    delete_op: str = "delete",
) -> DataFrame:
    """Replay a keyed changelog to current state (SCD1): each key's
    LAST change by ``seq_cols`` wins; if ``op_col`` is given, keys
    whose last change is a ``delete_op`` tombstone disappear. Ties in
    seq must be impossible by construction (include a unique id as the
    final seq col)."""
    order = [F.col(c).desc() for c in seq_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    if op_col is not None:
        latest = latest.where(F.col(op_col) != delete_op)
    return latest


def state_periods(
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str,
    state_col: str,
    tie_col: str | None = None,
) -> DataFrame:
    """SCD2 validity intervals from a change stream: collapse each
    key's consecutive runs of equal ``state_col`` into one row with
    ``valid_from`` (first seq of the run), ``valid_to`` (start of the
    next run, NULL while current), ``version`` (1-based run number)
    and ``is_current``. Gaps-and-islands: a run starts where the
    lagged state differs; the running count of starts numbers the
    runs. ``tie_col`` (a unique id) breaks equal-seq ordering."""
    order = [F.col(seq_col)] + ([F.col(tie_col)] if tie_col else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    marked = changes.withColumn(
        "__new_run",
        F.when(
            F.lag(state_col).over(w).isNull()
            | (F.lag(state_col).over(w) != F.col(state_col)),
            1,
        ).otherwise(0),
    ).withColumn(
        "__run",
        F.sum("__new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # min == the run's (single) state value: every row in a run holds
    # the same state by construction; min is deterministic both engines
    runs = marked.groupBy(*key_cols, "__run").agg(
        F.min(state_col).alias(state_col),
        F.min(seq_col).alias("valid_from"),
        F.count("*").cast("long").alias("n_changes"),
    )
    w2 = Window.partitionBy(*key_cols).orderBy("__run")
    return (
        runs.withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("version", F.col("__run").cast("int"))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__run")
    )
