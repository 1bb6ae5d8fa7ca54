"""Typed schemas for every relation in the engine.

The reference is schemaless text (Hadoop ``Text`` rows, positional
``x,y,z`` parsing at Task1.java:27-30); here every relation is an
explicit StructType so Catalyst can prune/push down and the parquet
scans stay columnar.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Points relation: reference parse at Task1.java:27-30 (3 doubles, no
# header, no nulls).
POINTS = T.StructType(
    [
        T.StructField("x", T.DoubleType(), nullable=False),
        T.StructField("y", T.DoubleType(), nullable=False),
        T.StructField("z", T.DoubleType(), nullable=False),
    ]
)


# Training-data-pipeline relations (testdata tables).
DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), nullable=False),
        T.StructField("text", T.StringType(), nullable=True),
        T.StructField("lang", T.StringType(), nullable=True),
        T.StructField("source", T.StringType(), nullable=True),
        T.StructField("n_chars", T.LongType(), nullable=True),
    ]
)
