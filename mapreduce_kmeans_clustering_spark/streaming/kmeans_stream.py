"""Streaming K-Means surface: the assignment operator (O4/O5) is a
stateless cross join with a broadcast 1-row centroid relation, so it
lifts to Structured Streaming unchanged — ``assign`` on a stream is a
stream-static join, and the same tie-break-exact argmin classifies an
unbounded stream of points against a fixed centroid set.

Online re-training is intentionally NOT hidden inside the stream:
Lloyd iterations need global aggregation over a closed dataset. The
idiomatic Spark split is: periodic batch ``fit`` producing centroids,
streaming ``stream_assign`` applying the latest model — the classic
lambda-free model-refresh pattern (swap centroids between micro
batches via foreachBatch if live refresh is needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.operators.assign import assign
from mapreduce_kmeans_clustering_spark.sources.seeds import Centroid


def stream_assign(points_stream: DataFrame, centroids: list[Centroid]) -> DataFrame:
    """Label a streaming points relation — the batch ``assign`` as a
    stream-static join (lowest-index tie-break), no state, no shuffle.
    Output layout is ``withColumn("cluster", …)``'s: the input columns
    in order, with an existing ``cluster`` column replaced in place and
    otherwise ``cluster`` appended last."""
    cols = points_stream.columns
    keep = [c for c in cols if c != "cluster"]
    out = assign(points_stream, centroids, keep_cols=keep)
    return out.select(*(cols if "cluster" in cols else [*cols, "cluster"]))


def stream_assign_with_refresh(
    points_stream: DataFrame,
    get_centroids,
    write_batch,
):
    """Micro-batch assignment with LIVE model refresh — the
    foreachBatch half of the batch-fit / stream-apply split described
    above. ``get_centroids() -> list[Centroid]`` is called once per
    micro-batch (e.g., reading the latest periodic ``fit`` output), so
    a refit takes effect on the next batch without restarting the
    stream; ``write_batch(labeled_df, epoch_id)`` is the caller's sink.

    Returns the DataStreamWriter (caller applies options and
    ``.start()``). Assignment inside each batch is ``stream_assign``
    (the batch ``assign``, same output layout) — distributed, no extra
    state."""

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        write_batch(stream_assign(batch_df, get_centroids()), epoch_id)

    return points_stream.writeStream.foreachBatch(_process)


def stream_cluster_counts(
    points_stream: DataFrame,
    centroids: list[Centroid],
    ts_col: str = "ts",
    watermark: str = "1 hour",
    window: str = "1 hour",
) -> DataFrame:
    """Windowed per-cluster arrival counts — a live monitoring view of
    cluster drift (count shifts signal the batch refit should run)."""
    labeled = stream_assign(points_stream, centroids)
    return (
        labeled.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "cluster")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "cluster", "n")
    )
