"""Reference silhouette evaluation (operators O13, O14, O15) plus the
standard MLlib metric as a clearly-separated alternative.

Reference semantics (SilhouetteEvaluation.java:91-141):
- ``avg_intra(C)`` = sum over ORDERED pairs (p, q), p != q, both in C,
  of euclidean(p, q), divided by n_C * (n_C - 1)  (divisor at
  SilhouetteEvaluation.java:111). Singleton cluster: 0/0 -> NaN in
  variant 1; variants 2/3 SKIP singletons
  (SilhouetteEvaluation2.java:201-204).
- ``avg_inter(C)`` = sum over p in C, q NOT in C of euclidean(p, q),
  divided by |C| * (k - 1) — the reference's NON-STANDARD divisor
  (SilhouetteEvaluation.java:131-132) omits the other clusters' sizes,
  inflating the value by ~|C'|; reproduced verbatim because the golden
  outputs depend on it.
- ``silhouette(C)`` = (inter - intra) / max(intra, inter)
  (SilhouetteEvaluation.java:135-139) — cluster-level, not per-point
  Rousseeuw.

Physical shape: the reference buffers the WHOLE dataset in one reducer
JVM (O16, SilhouetteEvaluation.java:72-142, implicit single reduce
task). Here the evaluation is ONE aggregate over the pair space
(_pair_sums): the streamed side is round-robin spread over the
session's default parallelism, each row meets a broadcast copy of the
evaluation set, and the per-cluster sums, the same-cluster pair count
(hence n_C) and, over the K result rows, k all come out of that one
pass. The work is inherently O(n^2) — that is the reference's defined
semantics, not an implementation accident — so for large inputs filter
``assigned`` by ``rid`` before the call to evaluate on a deterministic
subset, or use ``silhouette_standard`` (MLlib, O(n*k)) when reference
parity is not required.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_kmeans_clustering_spark.functions.distance import euclidean


def _pair_sums(assigned: DataFrame) -> DataFrame:
    """ONE all-pairs pass producing everything the silhouette needs per
    cluster: (cluster, intra_sum, inter_sum, same_pairs).

    A single unconditioned cross join replaces two theta joins —
    measured 2-3x faster: the distance is computed once per pair in a
    projection (not inside a BroadcastNestedLoopJoin condition, where
    the interpreter would evaluate it row-at-a-time), and the
    same/different-cluster split happens inside the aggregate via a
    flag column. The a=b diagonal contributes d(a,a)=0 to the intra
    sum, so it needs no filter and the sums are unchanged.

    ``same_pairs`` counts the same-cluster ordered pairs, diagonal
    included: exactly n_C**2, so the cluster size needs no separate
    aggregate or join. It counts rows, so it holds for duplicate points
    and repeated rids alike.

    The b side is broadcast explicitly (round-12, guide §3.1): without
    the hint Catalyst cannot size the filtered/cached input and plans
    CartesianProduct — measured at sf0.1 as a 32×32 = 1024-task stage
    with 60.6 s executor time / 11.3 s GC for a 2064-row evaluation
    set. The a side is round-robin repartitioned to the default
    parallelism, always: a small evaluation set is often one input
    split (the reference's 5,000-row CSV is), which would otherwise run
    all n^2 pairs as ONE task. Shuffling n rows is free next to n^2
    pairs, and the sort Spark runs before a round-robin exchange keeps
    row placement deterministic. The evaluation set is bounded by
    construction (silhouette_ref's O(n^2) contract; a caller filters by
    rid first for a subset), so the broadcast side is always the
    bounded subset, never an unbounded corpus."""
    cols = ("cluster", "x", "y", "z")
    parallelism = assigned.sparkSession.sparkContext.defaultParallelism
    a = assigned.select(*cols).repartition(parallelism).alias("a")
    b = F.broadcast(assigned.select(*cols).alias("b"))
    dist = euclidean(
        F.col("a.x"), F.col("a.y"), F.col("a.z"), F.col("b.x"), F.col("b.y"), F.col("b.z")
    )
    same = F.col("a.cluster") == F.col("b.cluster")
    return (
        a.crossJoin(b)
        .select(F.col("a.cluster").alias("cluster"), same.alias("same"), dist.alias("dist"))
        .groupBy("cluster")
        .agg(
            F.sum(F.when(F.col("same"), F.col("dist")).otherwise(F.lit(0.0))).alias(
                "intra_sum"
            ),
            F.sum(F.when(~F.col("same"), F.col("dist")).otherwise(F.lit(0.0))).alias(
                "inter_sum"
            ),
            F.count_if(F.col("same")).alias("same_pairs"),
        )
    )


def silhouette_ref(
    assigned: DataFrame,
    singleton: str = "nan",
) -> DataFrame:
    """assigned(rid, cluster, x, y, z) -> (cluster, avg_intra,
    avg_inter, silhouette), reference formulas.

    ``singleton``: "nan" (variant 1) or "skip" (variants 2/3).
    The deterministic scale hatch for the O(n^2) semantics is a filter
    the caller writes first, e.g. ``assigned.where(F.col("rid") < n)``.
    """
    if singleton not in ("nan", "skip"):
        raise ValueError("singleton must be 'nan' or 'skip'")
    if "rid" not in assigned.columns:
        raise ValueError("silhouette_ref requires a rid column (use with_rid)")

    # n_C = sqrt(n_C**2) is exact while n_C**2 < 2**53, far past any
    # evaluation set an O(n^2) pass can hold. k is the number of
    # aggregate rows, counted over those K rows.
    stats = _pair_sums(assigned).select(
        "cluster",
        "intra_sum",
        "inter_sum",
        F.round(F.sqrt("same_pairs")).cast("long").alias("n"),
        F.count("*").over(Window.partitionBy()).alias("k"),
    )
    # Singleton cluster: no intra pairs -> 0/0, which Java evaluates to
    # NaN (SilhouetteEvaluation.java:111); Spark's double division
    # yields NULL, so NaN is emitted explicitly for parity.
    avg_intra = F.when(
        F.col("n") > 1, F.col("intra_sum") / (F.col("n") * (F.col("n") - 1))
    ).otherwise(F.lit(float("nan")))
    avg_inter = F.col("inter_sum") / (F.col("n") * (F.col("k") - 1))
    out = stats.select(
        "cluster",
        avg_intra.alias("avg_intra"),
        avg_inter.alias("avg_inter"),
    ).withColumn(
        "silhouette",
        (F.col("avg_inter") - F.col("avg_intra"))
        / F.greatest("avg_intra", "avg_inter"),
    )
    if singleton == "skip":
        out = out.where(~F.isnan("avg_intra"))
    return out.orderBy("cluster")


def silhouette_standard(assigned: DataFrame) -> float:
    """The STANDARD squared-Euclidean per-point silhouette via
    pyspark.ml.evaluation.ClusteringEvaluator — a different number from
    the reference formula by design; offered alongside, never used for
    golden parity (SURVEY §2.1 O15)."""
    from pyspark.ml.evaluation import ClusteringEvaluator
    from pyspark.ml.feature import VectorAssembler

    vec = VectorAssembler(inputCols=["x", "y", "z"], outputCol="features").transform(
        assigned.select("x", "y", "z", F.col("cluster").cast("double").alias("prediction"))
    )
    return ClusteringEvaluator(
        predictionCol="prediction", featuresCol="features"
    ).evaluate(vec)
