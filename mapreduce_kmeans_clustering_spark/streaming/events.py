"""Structured-streaming event analytics.

The reference has no streaming surface (SURVEY §2.2); these are the
Spark-native stream variants of the batch event queries: file-source
readStream, watermarked tumbling windows for late data, and
session_window-based sessionization. The same code runs against Kafka
by swapping the source — transformations are source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# File-source schema: ts as TimestampType (streams written by this
# engine use micros; see tests). For raw driver testdata with
# TIMESTAMP(NANOS) use the batch reader in queries._shared (_events).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming parquet source over an events directory. At scale the
    same plan reads Kafka: ``spark.readStream.format("kafka")...`` with
    a from_json projection to this schema."""
    return (
        spark.readStream.format("parquet")
        .schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .load(path)
    )


def hourly_event_counts(
    events: DataFrame, watermark: str = "1 hour", window: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type; late rows
    beyond the watermark are dropped, state is bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_exact_dedup(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact-content dedup at stream ingest: only the FIRST arrival of
    each content hash survives, across micro-batches (stateful
    dropDuplicates — state holds one entry per distinct hash).

    With ``ts_col`` set, dropDuplicatesWithinWatermark bounds the state:
    a duplicate arriving later than the watermark delay may pass, which
    is the standard state-size/recall trade at unbounded scale. Without
    it, state grows with distinct content — fine for bounded backfills,
    documented hazard for infinite streams. RECOMMENDED for any
    unbounded source: pass ts_col + a watermark sized to the realistic
    duplicate-arrival spread; both sides of the trade (in-watermark
    drop, post-expiry re-admit) are pinned in
    tests/test_streaming.py::test_stream_dedup_with_watermark_bounds_state."""
    h = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    df = docs_stream.withColumn("_text_hash", h)
    if ts_col is not None:
        out = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["_text_hash"]
        )
    else:
        out = df.dropDuplicates(["_text_hash"])
    return out.drop("_text_hash")


def stream_view_click_join(
    events: DataFrame,
    max_lag: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream self-join: each click matched to the same user's
    views from the preceding ``max_lag`` — the real-time version of the
    batch attribution query (q_events_attrib's interval side).

    Both sides carry a watermark and the join condition bounds the
    event-time range, so Spark can expire join state: a buffered view
    is dropped once the click-side watermark passes view_ts + max_lag.
    Without the range bound (or the watermarks) the state store grows
    without limit — the planner enforces this for append-mode
    stream-stream joins. Output is append-only; each (view, click)
    match emits exactly once, when both sides have arrived.
    """
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    return clicks.join(
        views,
        F.expr(
            f"user_id = v_user AND view_ts <= click_ts "
            f"AND view_ts >= click_ts - INTERVAL {max_lag}"
        ),
    ).select("user_id", "click_id", "click_ts", "view_id", "view_ts")


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (n_events, total_value), one updated row emitted per user
    per micro-batch.

    This is the escape hatch for stateful logic the built-in windowed
    aggregations can't express (arbitrary per-key state machines);
    state is a typed 2-field tuple per user, partitioned by the group
    key, so state size is O(users) spread across executors. The Arrow
    batch iterator keeps the Python boundary vectorized."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdf_iter, state):
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionized_event_stats(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session aggregation via session_window — the streaming
    twin of the batch lag/cumsum sessionization (q_events_sessions)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
