from vectorsearch_scylla_spark.multimodal.media import (
    MEDIA_SCHEMA,
    documents_as_media,
    extract_byte_features,
    sample_frames,
)

__all__ = [
    "MEDIA_SCHEMA",
    "documents_as_media",
    "extract_byte_features",
    "sample_frames",
]
