"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference MapReduce K-Means repo
(Mandar-1007/MapReduce-KMeans-Clustering), re-expressed Spark-first.

The reference is a Java/Hadoop MapReduce implementation of iterative
Lloyd K-Means over 3-D points (9 entry points, see SURVEY.md). This
package keeps its *semantics* (tie-breaking, convergence metric,
empty-cluster drop, reference silhouette divisors) while executing as
declarative DataFrame plans: broadcast/literal centroids, codegen'd
distance expressions, partial+final hash aggregation, AQE.

Beyond reference parity it ships the operators a large-scale
training-data pipeline needs: dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard / embedding-cosine), similarity search, text analysis,
multimodal binary columns, and structured-streaming variants.
"""

from pyspark import TaskContext

from mapreduce_kmeans_clustering_spark.session import get_spark

if TaskContext.get() is not None:
    # imported inside a task: this is a Spark Python worker (worker.py)
    from mapreduce_kmeans_clustering_spark.worker import install

    install()

__all__ = ["get_spark"]
__version__ = "0.1.0"
