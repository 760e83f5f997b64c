from vectorsearch_scylla_spark.sources.tables import (
    TABLES,
    load_table,
    device_metrics_raw,
)

__all__ = ["TABLES", "load_table", "device_metrics_raw"]
