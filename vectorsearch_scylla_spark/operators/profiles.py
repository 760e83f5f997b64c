"""Behavior-profile build: embedding centroid + per-metric statistics.

Reference: ``pipeline/build_profiles.py`` — per device, over non-anomalous
snapshots of a lookback window, compute (a) the element-wise mean of the
N×384 embeddings (``build_profiles.py:90-105``, A4/V5) and (b)
{metric → {mean, std, min, max}} with **population** std (``np.std``,
``build_profiles.py:131``, A5), skipping devices with < 5 snapshots
(``build_profiles.py:197-199``).

The profile table output is tiny (one row per device) — downstream
detection broadcast-joins it (SURVEY J1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_profiles_fixed_metrics(
    raw: DataFrame,
    metric_names: list[str],
    window_seconds: int = 60,
    min_snapshots: int = 5,
    value_transform=None,
    key: str = "device_id",
    ts_col: str = "timestamp",
    metric_col: str = "metric_name",
    value_col: str = "metric_value",
) -> DataFrame:
    """Profile build for the fixed-metric raw-rows case in TWO
    exchanges with zero per-snapshot container churn (guide §2.3/§2.4 —
    fewer shuffles, aggregate before you shuffle).

    The caller owns the RAW metric rows, the metric set is a fixed
    constant, and the embedding is the 0-filled featurization of those
    same metrics (the registry's deterministic V2 featurizer).  A
    map-pivot → featurize → explode → re-aggregate chain would then be
    redundant structure, and the same numbers fold as plain
    conditional aggregates:

      1. ``groupBy(key, window)``: one conditional ``avg`` per metric
         (NULL where the metric is absent from the window) +
         ``max(ts)``;
      2. ``groupBy(key)``: per metric ``avg/stddev_pop/min/max/count/
         sum`` over the per-window values (NULL-skipping, so stats
         cover PRESENT windows only) + ``count(*)`` (= snapshot_count:
         every window emits exactly one row) + ``max`` (last_seen);
      3. a pure projection explodes the per-device row into one row
         per PRESENT metric (``n > 0`` — a metric a device never
         reports gets no row).

    The centroid needs no posexplode: position ``i`` of the 0-filled
    featurized embedding averages to ``sum(v_i)/snapshot_count``
    (adding IEEE ``+0.0`` for absent windows never changes a finite
    sum, and ``value_transform`` outputs are never ``-0.0``), so
    ``centroid_val`` rides the same aggregation.

    Precondition — closed metric domain: every ``metric_col`` value in
    ``raw`` is one of ``metric_names``.  A row with any other metric
    matches no conditional aggregate and is dropped without a trace;
    it still counts towards its window's ``snapshot_count``.  The
    registry's ``device_metrics_raw`` meets this for ``METRICS`` (its
    ``metric_name`` is the events' ``event_type``, whose domain is
    exactly ``METRICS``; pinned by a test).  The function does not
    check it at run time: that would cost a job on a timed path.

    Plan shape: scan → partial/final HashAggregate (key, window) →
    Exchange → partial/final HashAggregate (key) → Exchange → project
    + explode.  The map-pivot chain measured 4 Exchanges + 2 Generates +
    ObjectHashAggregates on the same input (plans/r16/
    device_profile_build_before.txt).

    Returns one row per (key, present metric): ``key, metric_name,
    mean, std, min, max, n_windows, snapshot_count, last_seen,
    centroid_val`` — unquantized doubles; callers apply their own
    output rounding.
    """
    from vectorsearch_scylla_spark.operators.window_pivot import window_start

    w = window_start(ts_col, window_seconds).alias("window_start")
    per_window = [
        F.avg(F.when(F.col(metric_col) == m, F.col(value_col)))
        for m in metric_names
    ]
    if value_transform is not None:
        per_window = [value_transform(c) for c in per_window]
    snap = raw.groupBy(F.col(key), w).agg(
        *[c.alias(f"__v_{i}") for i, c in enumerate(per_window)],
        F.max(ts_col).alias("__last_ts"),
    )
    dev = (
        snap.groupBy(key)
        .agg(
            F.count("*").alias("snapshot_count"),
            F.max("__last_ts").alias("last_seen"),
            *[
                a
                for i, _ in enumerate(metric_names)
                for a in (
                    F.avg(f"__v_{i}").alias(f"__mean_{i}"),
                    F.stddev_pop(f"__v_{i}").alias(f"__std_{i}"),
                    F.min(f"__v_{i}").alias(f"__min_{i}"),
                    F.max(f"__v_{i}").alias(f"__max_{i}"),
                    F.count(f"__v_{i}").alias(f"__n_{i}"),
                    F.sum(f"__v_{i}").alias(f"__sum_{i}"),
                )
            ],
        )
        .filter(F.col("snapshot_count") >= min_snapshots)
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(m).alias("metric_name"),
                F.col(f"__mean_{i}").alias("mean"),
                F.col(f"__std_{i}").alias("std"),
                F.col(f"__min_{i}").alias("min"),
                F.col(f"__max_{i}").alias("max"),
                F.col(f"__n_{i}").alias("n_windows"),
                (
                    F.coalesce(F.col(f"__sum_{i}"), F.lit(0.0))
                    / F.col("snapshot_count")
                ).alias("centroid_val"),
            )
            for i, m in enumerate(metric_names)
        ]
    )
    return dev.select(
        key,
        "snapshot_count",
        "last_seen",
        F.explode(F.filter(entries, lambda e: e["n_windows"] > 0)).alias("s"),
    ).select(
        key,
        F.col("s.metric_name").alias("metric_name"),
        F.col("s.mean").alias("mean"),
        F.col("s.std").alias("std"),
        F.col("s.min").alias("min"),
        F.col("s.max").alias("max"),
        F.col("s.n_windows").alias("n_windows"),
        "snapshot_count",
        "last_seen",
        F.col("s.centroid_val").alias("centroid_val"),
    )


