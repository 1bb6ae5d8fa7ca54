from mapreduce_kmeans_clustering_spark.sources.documents import (
    clean_documents,
    corrupt_documents,
    read_documents_csv,
    read_documents_jsonl,
    read_documents_orc,
    write_documents_jsonl_sharded,
    write_documents_orc,
)
from mapreduce_kmeans_clustering_spark.sources.points import (
    points_from_lineitem,
    read_points_csv,
    with_rid,
)
from mapreduce_kmeans_clustering_spark.sources.seeds import (
    Centroid,
    load_seeds,
)

__all__ = [
    "Centroid",
    "clean_documents",
    "corrupt_documents",
    "read_documents_csv",
    "read_documents_jsonl",
    "read_documents_orc",
    "write_documents_jsonl_sharded",
    "write_documents_orc",
    "load_seeds",
    "points_from_lineitem",
    "read_points_csv",
    "with_rid",
]
