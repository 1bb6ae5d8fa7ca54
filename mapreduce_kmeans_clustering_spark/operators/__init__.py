from mapreduce_kmeans_clustering_spark.operators.assign import assign
from mapreduce_kmeans_clustering_spark.operators.aggregate import (
    members,
    update_centroids,
)

__all__ = [
    "assign",
    "update_centroids",
    "members",
]
