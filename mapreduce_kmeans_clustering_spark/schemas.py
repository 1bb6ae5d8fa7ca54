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

# Points + stable row id (for self-join operators; the reference has no
# row id — rid must never affect results).
POINTS_RID = T.StructType(
    [T.StructField("rid", T.LongType(), nullable=False)] + list(POINTS.fields)
)

# Assignment output: the reference's shuffle KV (IntWritable -> "x,y,z",
# Task1.java:32-33) becomes a typed relation.
ASSIGNED = T.StructType(
    [
        T.StructField("cluster", T.IntegerType(), nullable=False),
        T.StructField("x", T.DoubleType(), nullable=False),
        T.StructField("y", T.DoubleType(), nullable=False),
        T.StructField("z", T.DoubleType(), nullable=False),
    ]
)

POINT_STRUCT = T.StructType(
    [
        T.StructField("x", T.DoubleType(), nullable=False),
        T.StructField("y", T.DoubleType(), nullable=False),
        T.StructField("z", T.DoubleType(), nullable=False),
    ]
)

# Members relation: SilhouetteEvaluation2.java:128's "; "-joined string
# list becomes a first-class array<struct<x,y,z>>.
MEMBERS = T.StructType(
    [
        T.StructField("cluster", T.IntegerType(), nullable=False),
        T.StructField("cx", T.DoubleType(), nullable=False),
        T.StructField("cy", T.DoubleType(), nullable=False),
        T.StructField("cz", T.DoubleType(), nullable=False),
        T.StructField("points", T.ArrayType(POINT_STRUCT), nullable=False),
    ]
)

# Silhouette stats (SilhouetteEvaluation.java:138-139).
SIL_STATS = T.StructType(
    [
        T.StructField("cluster", T.IntegerType(), nullable=False),
        T.StructField("avg_intra", T.DoubleType(), nullable=True),
        T.StructField("avg_inter", T.DoubleType(), nullable=True),
        T.StructField("silhouette", T.DoubleType(), nullable=True),
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

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), nullable=False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), nullable=True),
        T.StructField("label", T.IntegerType(), nullable=True),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), nullable=False),
        T.StructField("ts", T.TimestampType(), nullable=True),
        T.StructField("user_id", T.LongType(), nullable=True),
        T.StructField("event_type", T.StringType(), nullable=True),
        T.StructField("value", T.DoubleType(), nullable=True),
        T.StructField("props", T.StringType(), nullable=True),
    ]
)

# Multimodal: media as opaque binary + typed metadata (extension; the
# container has no image/audio codecs, so decode is stubbed).
MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), nullable=False),
        T.StructField("kind", T.StringType(), nullable=False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), nullable=True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            nullable=True,
        ),
    ]
)
