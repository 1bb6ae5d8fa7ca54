"""Local mirror of the driver's DuckDB oracle gate: run every
``queries()`` entry and its ``oracle_sql()`` twin at sf0.001, compare
row count, column names, and values (columns sorted by name, rows
sorted, exact match after the queries' own rounding).

This is deliberately stricter than a tolerance compare — the query
definitions round wherever cross-engine float drift is possible, so
any difference here is a real semantic divergence.

The compare is also TYPE-strict: the driver's value-hash is computed
over typed pandas frames, so an oracle emitting HUGEINT/DOUBLE where
Spark emits BIGINT hash-mismatches even when every value is equal
(exactly how ``q_doc_pack`` shipped red in round 3 — DuckDB's window
``sum(BIGINT)`` yields HUGEINT, which propagates through ``//`` and
``%``). Each column's dtype class (integer / float / decimal+scale /
string / bool / date / timestamp / array / binary) must agree between
the Spark result schema and the DuckDB relation types; HUGEINT is its
own class that matches nothing, forcing an explicit ``::BIGINT`` cast
in any oracle that produces one.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

from tests.conftest import TESTDATA

import os

SF_DIR = os.environ.get("ORACLE_SF_DIR", f"{TESTDATA}/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # None-safe row ordering: Python can't compare None with a value,
    # so sort on (is_null, stringified) per cell. This only fixes the
    # CANONICAL ORDER both sides are sorted into — every value is
    # still compared exactly afterwards, so strictness is unchanged.
    def key(row):
        return tuple((v is None, "" if v is None else repr(v)) for v in row)

    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=key
    )


import re


def spark_dtype_class(dt: str) -> str:
    """Collapse a Spark simpleString dtype into the class the driver's
    pandas conversion distinguishes."""
    dt = dt.lower()
    if dt in ("tinyint", "smallint", "int", "integer", "bigint", "long", "byte", "short"):
        return "integer"
    if dt in ("float", "double"):
        return "float"
    m = re.match(r"decimal\(\s*\d+\s*,\s*(\d+)\s*\)", dt)
    if m:
        return f"decimal:{m.group(1)}"
    if dt in ("string", "varchar", "char"):
        return "string"
    if dt == "boolean":
        return "bool"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "timestamp"
    if dt.startswith("array") or dt.startswith("map") or dt.startswith("struct"):
        return "nested"
    if dt == "binary":
        return "binary"
    return dt


def duckdb_dtype_class(dt: str) -> str:
    """Collapse a DuckDB type string into the same class vocabulary.
    HUGEINT deliberately maps to its own class: pandas renders it as
    float64/object, so it can never hash-match a Spark integer — any
    oracle producing one must cast (the q_doc_pack lesson)."""
    dt = str(dt).upper()
    if dt in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
              "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "integer"
    if dt == "HUGEINT":
        return "hugeint"
    if dt in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    m = re.match(r"DECIMAL\(\s*\d+\s*,\s*(\d+)\s*\)", dt)
    if m:
        return f"decimal:{m.group(1)}"
    if dt in ("VARCHAR", "STRING", "TEXT") or dt.startswith("VARCHAR"):
        return "string"
    if dt == "BOOLEAN":
        return "bool"
    if dt == "DATE":
        return "date"
    if dt.startswith("TIMESTAMP"):
        return "timestamp"
    if dt.endswith("[]") or dt.startswith(("LIST", "ARRAY", "MAP", "STRUCT")):
        return "nested"
    if dt == "BLOB":
        return "binary"
    return dt.lower()


def assert_dtype_classes(name, sdf, rel):
    """Per-column dtype-class parity between a Spark DataFrame and a
    DuckDB relation (columns matched by name)."""
    stypes = {f.name: spark_dtype_class(f.dataType.simpleString()) for f in sdf.schema.fields}
    otypes = {c: duckdb_dtype_class(t) for c, t in zip(rel.columns, rel.types)}
    for col in sorted(stypes):
        assert otypes.get(col) == stypes[col], (
            f"{name}: column {col!r} dtype class differs — "
            f"spark={stypes[col]} oracle={otypes.get(col)} "
            f"(oracle raw type {dict(zip(rel.columns, map(str, rel.types)))[col]})"
        )


ALL = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    oracles = entry_mod.oracle_sql()
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if name not in oracles:
        assert len(srows) >= 0  # rows-only check (non-SQL-expressible op)
        return
    rel = ddb.sql(oracles[name])
    ocols = list(rel.columns)
    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert_dtype_classes(name, sdf, rel)
    orows = rel.fetchall()
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} vs {len(orows)}"
    sc, oc = _canon(scols, srows), _canon(ocols, orows)
    for i, (a, b) in enumerate(zip(sc, oc)):
        assert a == pytest.approx(b, rel=1e-9, abs=1e-9), f"{name}: row {i}: {a} vs {b}"


def test_type_drift_is_caught(spark, ddb):
    """Seeded type-drift fixture: a DuckDB window sum over BIGINT
    yields HUGEINT, which must FAIL the dtype-class check against a
    Spark BIGINT column even though every value is identical — the
    exact q_doc_pack failure mode the round-3 driver caught and the
    old approx-compare mirror missed."""
    from pyspark.sql import functions as F

    sdf = spark.range(3).select(F.col("id").cast("long").alias("v"))
    rel = ddb.sql("SELECT sum(v) OVER (ORDER BY v) AS v FROM (SELECT range::BIGINT AS v FROM range(3))")
    assert duckdb_dtype_class(str(rel.types[0])) == "hugeint"
    with pytest.raises(AssertionError, match="dtype class differs"):
        assert_dtype_classes("seeded_drift", sdf, rel)
    # and the cast form passes
    rel2 = ddb.sql("SELECT (sum(v) OVER (ORDER BY v))::BIGINT AS v FROM (SELECT range::BIGINT AS v FROM range(3))")
    assert_dtype_classes("seeded_drift_cast", sdf, rel2)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"x", "y", "z", "cluster"}


def test_every_query_has_an_oracle():
    """The registry's contract is 'none rows-only': a queries() entry
    without an oracle_sql() twin silently weakens the gate (the parity
    test falls back to a vacuous rows-only branch), so its absence
    must fail loudly here instead."""
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    missing = sorted(k for k in qs if k not in oracles)
    assert not missing, f"queries without oracles: {missing}"
