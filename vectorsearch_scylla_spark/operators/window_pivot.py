"""Tumbling-window bucketing: the window key every snapshot query groups on.

Reference hot path (SURVEY §3.1): the consumer buckets each metric row
into ``window_start = floor(ts/W)*W`` (``pipeline/kafka_consumer.py:
285-289``, A1), buffers with last-write-wins upsert per
(device, window, metric) (``kafka_consumer.py:317-343``, A5/T3), and
once a window is 2W old pivots the rows into a snapshot
(``kafka_consumer.py:399-476``, A3).  The registry's snapshot queries
express the LWW buffer and the pivot inline; this module holds the
shared window key.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def window_start(ts: Column | str, window_seconds: int = 60) -> Column:
    """floor(epoch(ts) / W) * W as epoch seconds.

    Parity: ``pipeline/kafka_consumer.py:285-289`` (A1).  Exposed as
    epoch BIGINT (not timestamp) so results hash identically across
    engines regardless of timezone rendering.
    """
    ts = F.col(ts) if isinstance(ts, str) else ts
    return (F.floor(F.unix_timestamp(ts) / window_seconds) * window_seconds).cast("long")
