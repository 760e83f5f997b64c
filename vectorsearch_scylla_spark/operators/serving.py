"""Serving-layer helpers — the dashboard's read API (SURVEY §3.4).

The serving queries themselves (latest-per-key W1, time-range history
S9, the 10-second rounded as-of join J5) are registered in
``plans.registry``; this module holds the shared 10-second bucket key.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bucket_10s(ts: Column | str, seconds: int = 10) -> Column:
    """F5: truncate a timestamp to N-second buckets as epoch seconds
    (``dashboard/app.py:534,569`` rounds both sides to 10 s)."""
    ts = F.col(ts) if isinstance(ts, str) else ts
    return (F.floor(F.unix_timestamp(ts) / seconds) * seconds).cast("long")
