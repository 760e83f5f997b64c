from vectorsearch_scylla_spark.functions.vector import (
    dot,
    l2_norm,
    cosine_similarity,
)

__all__ = ["dot", "l2_norm", "cosine_similarity"]
