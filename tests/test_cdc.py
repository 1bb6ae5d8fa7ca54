"""CDC operators (operators/cdc.py): changelog replay semantics and
SCD2 period intervals."""

from __future__ import annotations

from mapreduce_kmeans_clustering_spark.operators import cdc


def test_changelog_state_last_wins_and_tombstones(spark):
    ch = spark.createDataFrame(
        [
            (1, 10, "upsert", "a"),
            (1, 20, "upsert", "b"),   # last for key 1 -> survives as 'b'
            (2, 10, "upsert", "x"),
            (2, 30, "delete", None),  # key 2 tombstoned
            (3, 5, "delete", None),
            (3, 6, "upsert", "z"),    # delete then re-insert -> survives
        ],
        "k LONG, seq LONG, op STRING, v STRING",
    )
    got = {
        r["k"]: r["v"]
        for r in cdc.changelog_state(ch, ["k"], ["seq"], op_col="op").collect()
    }
    assert got == {1: "b", 3: "z"}


def test_state_periods_gaps_and_islands(spark):
    ch = spark.createDataFrame(
        [
            (1, 10, 100, "A"),
            (1, 20, 101, "A"),  # same run as above
            (1, 30, 102, "B"),  # new run
            (1, 40, 103, "A"),  # A again = a THIRD run, not merged with run 1
            (2, 10, 200, "X"),
        ],
        "k LONG, seq LONG, id LONG, s STRING",
    )
    rows = cdc.state_periods(ch, ["k"], "seq", "s", tie_col="id").collect()
    one = sorted((r for r in rows if r["k"] == 1), key=lambda r: r["version"])
    assert [(r["s"], r["valid_from"], r["valid_to"], r["n_changes"]) for r in one] == [
        ("A", 10, 30, 2),
        ("B", 30, 40, 1),
        ("A", 40, None, 1),
    ]
    assert [r["is_current"] for r in one] == [False, False, True]
    two = [r for r in rows if r["k"] == 2]
    assert len(two) == 1 and two[0]["is_current"] and two[0]["version"] == 1


def test_state_periods_tie_breaks_on_id(spark):
    """Equal seq values: the unique tie column orders the run
    detection deterministically."""
    ch = spark.createDataFrame(
        [(1, 10, 1, "A"), (1, 10, 2, "B"), (1, 10, 3, "A")],
        "k LONG, seq LONG, id LONG, s STRING",
    )
    rows = sorted(
        cdc.state_periods(ch, ["k"], "seq", "s", tie_col="id").collect(),
        key=lambda r: r["version"],
    )
    assert [r["s"] for r in rows] == ["A", "B", "A"]
