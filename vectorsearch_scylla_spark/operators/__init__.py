from vectorsearch_scylla_spark.operators.knn import (
    topk_similarity_join,
    topk_similarity_join_blocked,
)

__all__ = [
    "topk_similarity_join",
    "topk_similarity_join_blocked",
]
