"""Structured Streaming twin of the reference's ingest hot path.

Reference dataflow (SURVEY §3.1, ``pipeline/kafka_consumer.py``):
Kafka topic ``iot-metrics`` (1 JSON msg per device/metric/tick, keyed by
device_id) → tumbling 60 s window buffered in a ScyllaDB table with
last-write-wins upserts → once a window is 2 windows old, pivot metric
rows into a per-device ``{metric→value}`` snapshot → embed → detect →
write snapshot + anomaly event.

Spark-first translation — ONE declarative streaming query replaces the
consumer's poll loop, buffer table, TTL, manual watermark file and
completion checker:

- source: ``readStream.format("kafka")`` (S2) with
  ``startingOffsetsByTimestamp`` replacing the manual offset seek (S3);
  or any file/rate source for tests — parsing is source-agnostic.
- ``withWatermark(ts, 2·window)`` (T2) reproduces the "process windows
  older than now − 2W" rule; late rows past the watermark are dropped
  from snapshots exactly like the reference (T3) — and still land in
  the raw sink because that branch has no watermark.
- LWW buffer upsert (S5/T3) = ``max_by(metric_value, timestamp)``
  inside the window aggregate — the state store replaces the
  ``metric_aggregation_buffer`` table (1 h TTL ≙ watermark eviction).
- pivot (A3) = ``map_from_entries(collect_list(struct(...)))`` — the
  metric set can vary per device type, no fixed columns.
- sinks via ``foreachBatch`` (S4/S6/S7): idempotent parquet/Delta
  appends keyed by (device, window) — checkpointing then gives
  end-to-end exactly-once (T5/T6), replacing Kafka auto-commit +
  primary-key-upsert idempotence.

Scale: the streaming agg shuffles on (device_id, window) — cardinality
devices × windows spreads over any executor count; state per key is one
small map.  A 1000-executor cluster consumes Kafka partitions natively
(T10) — partition count on the topic is the only ingest-parallelism
knob, exactly as in the reference's consumer groups.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectorsearch_scylla_spark.session import conf_partitions


def adaptive_stream_partitions(
    spark: SparkSession,
    *source_paths: str,
    bytes_per_partition: int = 16 << 20,
    floor: int = 4,
) -> int:
    """Derive a stateful-stream shuffle-partition count from the SOURCE
    SIZE, bounded above by the session's configured
    ``spark.sql.shuffle.partitions`` (optimization guide §2.2/§2.4).

    Why this exists: AQE coalesces post-shuffle partitions for BATCH
    plans only — a streaming stateful operator's partition count is
    frozen at the configured ``spark.sql.shuffle.partitions`` when the
    query first commits its checkpoint, and every micro-batch then pays
    one state-store open+commit and one task per partition regardless
    of data volume.  For a small staged source that is pure overhead
    (measured: a 1.8 MB / 100 k-row drain at 32 partitions spends its
    stateful stages on per-task state-store overhead, not data).

    The derivation is scale-adaptive, not a local constant: partitions
    grow linearly with source bytes (``bytes_per_partition`` ≈ 16 MB of
    source parquet ≈ 64 MB in-memory rows per task) and are CAPPED at
    the session's configured value, so a production cluster whose conf
    says thousands of partitions keeps them the moment the data is big
    enough to need them, while a replay/test/bench drain of a few MB
    stops paying hundreds of empty state commits per micro-batch.
    """
    import os

    total = 0
    for p in source_paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
            continue
        for root, _dirs, files in os.walk(p):
            for fn in files:
                if not fn.startswith(("_", ".")):
                    with contextlib.suppress(OSError):
                        total += os.path.getsize(os.path.join(root, fn))
    derived = max(floor, -(-total // bytes_per_partition))
    return min(conf_partitions(spark), derived)


@contextlib.contextmanager
def stream_shuffle_partitions(spark: SparkSession, n: int):
    """Set ``spark.sql.shuffle.partitions`` for the duration of one
    stream drain (start → awaitTermination) and restore it after.

    The streaming query clones the session conf when its execution
    thread initializes — asynchronously after ``start()`` returns — so
    the override must stay in place until the drain completes; callers
    wrap the whole start/await block.  Results are unaffected: every
    aggregation these drains run is partitioning-independent (hash
    aggs, LWW max-by, per-group stateful maps), only the state layout
    and task count change.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

# Kafka message shape — pipeline/kafka_producer.py:149-158.
METRIC_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("device_id", T.StringType(), False),
        T.StructField("device_type", T.StringType(), True),
        T.StructField("timestamp", T.StringType(), False),  # ISO8601
        T.StructField("metric_name", T.StringType(), False),
        T.StructField("metric_value", T.DoubleType(), False),
        T.StructField("unit", T.StringType(), True),
        T.StructField("location", T.StringType(), True),
        T.StructField("building_id", T.StringType(), True),
    ]
)


def metric_stream_from_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "iot-metrics",
    starting_offsets: str = "latest",
) -> DataFrame:
    """S2/S3: Kafka source → parsed metric rows.

    ``starting_offsets`` accepts ``earliest``/``latest`` or a
    ``startingOffsetsByTimestamp`` JSON — the declarative replacement
    for the reference's manual ``offsets_for_times`` seek
    (``pipeline/kafka_consumer.py:109-140``).  Untested here (no broker
    in the container); the parse/aggregate stages below are shared with
    the file source and fully tested.
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", 500_000)
        .load()
    )
    return parse_metric_messages(raw)


def parse_metric_messages(kafka_df: DataFrame) -> DataFrame:
    """Kafka (key, value) bytes → typed metric rows.

    ISO8601 with Z/offset parses directly (the reference's
    ``Z→+00:00`` patch, ``pipeline/kafka_consumer.py:294,320``, F2).
    """
    return (
        kafka_df.select(
            F.from_json(F.col("value").cast("string"), METRIC_MESSAGE_SCHEMA).alias("m")
        )
        .select("m.*")
        .withColumn("timestamp", F.to_timestamp("timestamp"))
        .withColumn("date", F.date_format("timestamp", "yyyy-MM-dd"))
    )


def to_kafka_messages(raw: DataFrame) -> DataFrame:
    """S1: metric rows → Kafka sink shape: key = device_id (per-device
    ordering, ``pipeline/kafka_producer.py:92-105``), value = JSON of
    the full row.  Attach ``.writeStream.format("kafka")`` + topic."""
    return raw.select(
        F.col("device_id").cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in raw.columns])).alias("value"),
    )


def windowed_snapshot_stream(
    metrics: DataFrame,
    window_seconds: int = 60,
    watermark_windows: int = 2,
) -> DataFrame:
    """A1/A2/A3/T1-T3: tumbling window + LWW + dynamic pivot, streaming.

    One row out per (device_id, window) once the watermark passes the
    window end — the declarative equivalent of the reference's
    "process windows older than now − 2W" checker
    (``pipeline/kafka_consumer.py:381-397``).

    Output: device_id, window_start/window_end (timestamps),
    metrics map<metric→last value>, snapshot_time (max source tick),
    n_metrics.

    Equal-timestamp writes tie-break on ``event_id`` when the source
    carries one — matching the batch twin ``lww_window_snapshot``
    exactly.  The reference's Kafka message has no event id
    (``pipeline/kafka_producer.py:149-158``), so the Kafka path falls
    back to max-value tie-breaking (documented divergence: ties only).
    """
    watermark = f"{window_seconds * watermark_windows} seconds"
    win = F.window("timestamp", f"{window_seconds} seconds")
    entry_fields = [F.col("metric_name"), F.col("timestamp").alias("ts")]
    if "event_id" in metrics.columns:
        # sort key (metric, ts, event_id, v): last entry per metric is
        # the max-(ts, event_id) write — the batch twin's max_by struct
        entry_fields.append(F.col("event_id"))
    entry_fields.append(F.col("metric_value").alias("v"))
    agged = (
        metrics.withWatermark("timestamp", watermark)
        .groupBy(F.col("device_id"), win.alias("window"))
        .agg(
            F.array_sort(F.collect_list(F.struct(*entry_fields))).alias("__entries"),
            F.max("timestamp").alias("snapshot_time"),
        )
    )
    # LWW per metric ≡ the buffer upsert (kafka_consumer.py:326-339):
    # entries are sorted (metric, ts, v); keep only the LAST entry per
    # metric, then build the map from now-unique keys.  (A direct
    # map_from_entries would throw under Spark's default
    # mapKeyDedupPolicy=EXCEPTION when a window sees the same metric
    # twice — the common case.)
    entries = F.col("__entries")
    n = F.size(entries)
    last_per_metric = F.filter(
        entries,
        lambda x, i: (i == n - 1)
        | (F.get(entries, i + 1)["metric_name"] != x["metric_name"]),
    )
    return agged.select(
        "device_id",
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        F.map_from_entries(
            F.transform(last_per_metric, lambda e: F.struct(e["metric_name"], e["v"]))
        ).alias("metrics"),
        "snapshot_time",
        F.size(last_per_metric).alias("n_metrics"),
    )


def rolling_stats_stream(metrics: DataFrame, frame: int = 10) -> DataFrame:
    """CUSTOM STATEFUL streaming operator via ``applyInPandasWithState``:
    per-(device, metric) rolling last-``frame`` stats over an event
    stream — the streaming twin of the batch ``ROWS BETWEEN 9 PRECEDING
    AND CURRENT ROW`` window (``rolling_metric_stats``, W4; the
    simulator's per-metric history deque,
    ``iot_simulator/iot_simulator.py:41-52``).

    This is the one operator family Spark's built-in streaming
    aggregates genuinely cannot express (windowed aggs emit one row per
    window; this emits one row PER EVENT with a trailing frame), so it
    uses the custom-state escape hatch: state per group is just the
    last ``frame − 1`` values (a bounded array — no unbounded growth,
    no timeout needed), each micro-batch sorts its group's new rows by
    (timestamp, event_id), extends the carried tail, and emits one
    output row per input row.  Arrow-batched both ways; state size is
    independent of batch size.

    Ordering contract: rows must arrive in (timestamp, event_id) order
    ACROSS batches for the result to equal the batch window (within a
    batch they are sorted here).  File-replay sources deliver that; a
    live out-of-order source would need a watermark-buffered reorder
    stage first — the same contract the reference's deque has.

    Determinism note: the rolling average is a left-to-right slice sum
    — the same fold order as the SQL twins, so the shared quantize
    (floor(x·1e4 + 0.5 + 1e-6)/1e4) collapses both engines to equal
    doubles.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "device_id string, metric_name string, event_id bigint, "
        "ts_epoch bigint, rolling_avg double, rolling_max double, "
        "n_in_frame bigint"
    )
    state_schema = "vals array<double>"
    keep = frame - 1

    def roll(key, pdf_iter, state):
        tail = list(state.get[0]) if state.exists else []
        device_id, metric_name = key
        # Concatenate the group's WHOLE micro-batch before the sort
        # (r15): the per-chunk sort silently assumed Arrow chunks
        # arrive timestamp-ordered, which only held while the staged
        # source was one file scanned by one task — a multi-file
        # source interleaves map outputs nondeterministically at the
        # state partition.  One concat+sort makes the result
        # independent of within-batch arrival order (the documented
        # contract is cross-batch order only).  Memory bound (r15
        # ADVICE): the group's ENTIRE micro-batch is held at once —
        # the old per-chunk loop held one Arrow chunk plus the tail,
        # so this is a larger bound, acceptable because groups are
        # (device, metric)-scoped and micro-batches are finite.
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        for pdf in (
            [pd.concat(chunks, ignore_index=True)] if chunks else []
        ):
            pdf = pdf.sort_values(["timestamp", "event_id"], kind="mergesort")
            vals = tail + [float(v) for v in pdf["metric_value"]]
            n_prev = len(tail)
            avgs, maxs, counts = [], [], []
            for j in range(len(pdf)):
                lo = max(0, n_prev + j - keep)
                win = vals[lo : n_prev + j + 1]
                s = 0.0
                for v in win:  # left-to-right fold — matches SQL avg
                    s += v
                avgs.append(math.floor(s / len(win) * 1e4 + 0.5 + 1e-6) / 1e4)
                maxs.append(max(win))
                counts.append(len(win))
            tail = vals[-keep:] if keep > 0 else []
            ts_epoch = (
                pdf["timestamp"].map(lambda t: t.value // 1_000_000_000).astype("int64")
            )
            yield pd.DataFrame(
                {
                    "device_id": device_id,
                    "metric_name": metric_name,
                    "event_id": pdf["event_id"].astype("int64").values,
                    "ts_epoch": ts_epoch.values,
                    "rolling_avg": avgs,
                    "rolling_max": maxs,
                    "n_in_frame": counts,
                }
            )
        state.update((tail,))

    return metrics.groupBy("device_id", "metric_name").applyInPandasWithState(
        roll, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def detect_paths12(
    snapshots: DataFrame,
    profiles: DataFrame,
    metrics_order: list[str],
    sim_threshold: float = 0.90,
    z_threshold: float = 1.5,
) -> DataFrame:
    """Inline Path-1/Path-2 anomaly detection over snapshots — the
    streaming twin of the consumer's per-snapshot ``write_snapshot``
    detection (``pipeline/kafka_consumer.py:509-556`` calling
    ``detect_anomaly_paths_1_2``).

    ``profiles`` is a STATIC frame (device_id, mean_<m>, std_<m> per
    metric) — the output of the earlier batch profile-build job, which
    the reference loads per device from ``device_profiles``
    (``kafka_consumer.py:486-507``).  The stream-static broadcast join
    is the cache: every executor holds the profile table, no per-row
    lookup.  Works identically on a batch frame (used by the oracle
    twin and tests).

    Path 1 = ≥2 metrics with |z| > ``z_threshold`` (σ from the
    profile); Path 2 = cosine(featurized snapshot, profile centroid) <
    ``sim_threshold``; score = max(0, 1−sim) + min(1, Σ min(10,|z|)/40)
    (``pipeline/anomaly_detection.py:142-148``).  The featurizer
    0-fills metrics absent from the snapshot map, and all float math
    folds in ``metrics_order`` so a SQL oracle reproducing the same
    term order matches bit-for-bit.
    """
    from vectorsearch_scylla_spark.functions.vector import cosine_similarity

    v = {
        m: F.coalesce(F.element_at("metrics", F.lit(m)), F.lit(0.0))
        for m in metrics_order
    }
    joined = snapshots.join(F.broadcast(profiles), "device_id")
    z = {
        m: F.when(
            F.col(f"std_{m}") > 0,
            F.abs((v[m] - F.col(f"mean_{m}")) / F.col(f"std_{m}")),
        ).otherwise(0.0)
        for m in metrics_order
    }
    outliers = sum(F.when(z[m] > z_threshold, 1).otherwise(0) for m in metrics_order)
    svec = F.array(*[v[m] for m in metrics_order])
    cvec = F.array(*[F.col(f"mean_{m}") for m in metrics_order])
    sim = cosine_similarity(svec, cvec)
    zsum = sum(F.least(F.lit(10.0), z[m]) for m in metrics_order)
    score = F.greatest(F.lit(0.0), F.lit(1.0) - sim) + F.least(F.lit(1.0), zsum / 40.0)
    p1 = outliers >= 2
    p2 = sim < sim_threshold
    return joined.select(
        "device_id",
        "window_start",
        "window_end",
        "metrics",
        "snapshot_time",
        "n_metrics",
        outliers.cast("long").alias("outlier_count"),
        sim.alias("similarity"),
        score.alias("anomaly_score"),
        p1.alias("path1_triggered"),
        p2.alias("path2_triggered"),
        (p1 | p2).alias("is_anomalous"),
    )


def detect_path3_batch(
    snapdf: DataFrame,
    history: DataFrame,
    metrics_order: list[str],
    sim_threshold: float = 0.90,
    k: int = 10,
    min_similar: int = 7,
) -> DataFrame:
    """Path-3 ANN novelty over ONE micro-batch of snapshots — the
    streaming completion of the consumer's third detection path
    (``pipeline/path3_vector_search.py:119-170``): a state is NOVEL
    when fewer than ``min_similar`` of its top-``k`` same-device
    historical neighbors reach ``sim_threshold`` cosine.

    Meant for ``foreachBatch`` (the general top-k shape needs a
    non-time window, which streaming queries cannot express inline):
    ``history`` is the STATIC materialized snapshot table the earlier
    batch job wrote (device_id, ws epoch, m_<metric> 0-filled columns)
    and broadcasts to the stream — the same stream-static join shape
    as the profile cache in :func:`detect_paths12`.  Per batch row the
    candidate set is the device's own history (bounded per key), never
    the corpus.  All float math folds in ``metrics_order`` so the SQL
    oracle's spelled-out term order matches bit-for-bit.

    No ranking is computed: the count of top-``k`` neighbors at ≥
    threshold equals ``least(count(sim ≥ threshold), k)`` — every
    above-threshold neighbor outranks every below-threshold one, so
    the vote reduces to a capped conditional COUNT and the |batch| ×
    |history/device| pair set never needs a sort.  The whole batch is
    ONE broadcast LEFT join + ONE aggregation (r13): snapshots whose
    device has no usable history survive the left join as a null-
    history row and fold to ``similar_count = 0``, so no second join
    re-attaches zero-count snapshots — the r12 shape's count
    re-attach ran as a SortMergeJoin with two extra exchanges per
    micro-batch (plan pinned by tests/test_plans.py::
    test_novelty_batch_plan_is_broadcast_and_sort_free).
    """

    v = {
        m: F.coalesce(F.element_at("metrics", F.lit(m)), F.lit(0.0))
        for m in metrics_order
    }
    s = snapdf.select(
        "device_id",
        F.unix_timestamp("window_start").cast("long").alias("ws_epoch"),
        *[v[m].alias(f"__s_{m}") for m in metrics_order],
    )
    h = history.select(
        "device_id",
        F.col("ws").alias("__hws"),
        *[F.col(f"m_{m}").alias(f"__h_{m}") for m in metrics_order],
    )
    # fixed metric columns → the cosine is PLAIN scalar arithmetic
    # (whole-stage codegen), not an interpreted array fold: ~50× faster
    # on the |snapshots| × |per-device history| pair set, and the
    # left-associated term order matches the SQL oracle bit-for-bit
    def _lsum(terms):
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc

    dot = _lsum([F.col(f"__s_{m}") * F.col(f"__h_{m}") for m in metrics_order])
    ns = _lsum([F.col(f"__s_{m}") * F.col(f"__s_{m}") for m in metrics_order])
    nh = _lsum([F.col(f"__h_{m}") * F.col(f"__h_{m}") for m in metrics_order])
    sim = F.when((ns == 0.0) | (nh == 0.0), F.lit(0.0)).otherwise(
        dot / (F.sqrt(ns) * F.sqrt(nh))
    )
    # LEFT join with the self-window exclusion IN the join condition:
    # a snapshot with no usable history emits one null-history row
    # whose sim is null, scoring 0 — every snapshot therefore reaches
    # the aggregate and no re-attach join is needed (the windowed
    # pivot upstream guarantees one row per (device, window), so the
    # groupBy emits exactly one row per input snapshot)
    pairs = s.alias("s").join(
        F.broadcast(h.alias("h")),
        (F.col("s.device_id") == F.col("h.device_id"))
        & (F.col("h.__hws") != F.col("s.ws_epoch")),
        "left",
    )
    return (
        pairs.groupBy(
            F.col("s.device_id").alias("device_id"),
            F.col("s.ws_epoch").alias("window_start"),
        )
        .agg(
            F.least(
                F.sum(F.when(sim >= sim_threshold, 1).otherwise(0)), F.lit(k)
            )
            .cast("long")
            .alias("similar_count")
        )
        .select(
            "device_id",
            "window_start",
            "similar_count",
            (F.col("similar_count") < min_similar).alias("path3_triggered"),
        )
    )


def novelty_sink(
    snapshots: DataFrame,
    history: DataFrame,
    metrics_order: list[str],
    base_dir: str,
    **detect_kwargs,
):
    """S7 for Path 3: ``foreachBatch`` novelty detection + epoch-
    overwrite parquet sink (same exactly-once idempotence contract as
    :func:`detection_sinks`)."""
    import os

    events_dir = os.path.join(base_dir, "novelty")

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        out = detect_path3_batch(df, history, metrics_order, **detect_kwargs)
        out.write.mode("overwrite").parquet(
            os.path.join(events_dir, f"batch={epoch_id}")
        )

    return (
        snapshots.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(base_dir, "checkpoint"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def detection_sinks(detected: DataFrame, base_dir: str):
    """S4/S6/S7: ``foreachBatch`` fan-out to BOTH persistent sinks —
    every snapshot appends under ``<base>/snapshots``, anomalous rows
    also under ``<base>/events`` (the consumer's snapshot insert +
    ``_record_anomaly_event``, ``pipeline/kafka_consumer.py:509-556``).

    Exactly-once across restarts: each epoch writes (mode=overwrite)
    into its own ``batch=<epochId>`` subdirectory, so a replayed epoch
    replaces its previous partial output instead of appending
    duplicates; the checkpoint under ``<base>/checkpoint`` replaces
    Kafka committed offsets (T5/T6).
    """
    import os

    snap_dir = os.path.join(base_dir, "snapshots")
    events_dir = os.path.join(base_dir, "events")

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.persist()
        df.write.mode("overwrite").parquet(os.path.join(snap_dir, f"batch={epoch_id}"))
        df.filter(F.col("is_anomalous")).write.mode("overwrite").parquet(
            os.path.join(events_dir, f"batch={epoch_id}")
        )
        df.unpersist()

    return (
        detected.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(base_dir, "checkpoint"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def exact_dedup_stream(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Streaming exact-dedup state: running ``groupBy(content hash)``
    with the min-id keeper and duplicate count — the ingestion-time
    dedup every training-data pipeline runs before anything else.

    The aggregation is order-independent (min/count), so the final
    state is deterministic no matter how the source files are split
    into micro-batches — which is what makes it oracle-checkable
    against the batch GROUP BY.

    Scale posture: state is one tiny row per DISTINCT hash (the
    standard streaming-dedup state shape).  For a truly unbounded
    stream, bound it with ``dropDuplicatesWithinWatermark`` (dedup
    only within the late-data horizon); the complete-mode aggregation
    here is the bounded-corpus backfill shape, where the whole state
    is the deliverable.
    """
    return (
        docs.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keeper_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


def dedup_state_sink(state: DataFrame, base_dir: str):
    """Complete-mode ``foreachBatch`` sink for :func:`exact_dedup_stream`:
    every trigger rewrites the full dedup state, so the final parquet
    IS the keep/drop decision for everything ingested (idempotent under
    epoch replay — a replayed epoch rewrites the same complete state)."""
    import os

    out_dir = os.path.join(base_dir, "dedup_state")

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(out_dir)

    return (
        state.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", os.path.join(base_dir, "checkpoint"))
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )


def _recover_rolled_heal(rolled: str) -> None:
    """Heal the crash windows of the rolled store's FIXED-NAME
    two-rename heal swap (``<rolled>.heal.old`` / ``<rolled>.heal.
    staging`` — the ``compact_signature_artifact`` marker pattern, r12
    ADVICE): a crash between ``rename(rolled, old)`` and
    ``rename(staging, rolled)`` leaves no live dir — restore the
    pre-heal copy (the heal recomputes idempotently on the next
    entry); a crash after the promote leaves a stale ``.heal.old`` —
    live wins.  Any staging dir is an incomplete (or already-promoted)
    write and is discarded.  Idempotent, two existence checks when
    there is nothing to heal."""
    import os
    import shutil

    old = f"{rolled}.heal.old"
    if os.path.exists(old):
        if os.path.exists(rolled):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(old, rolled)
    staging = f"{rolled}.heal.staging"
    if os.path.exists(staging):
        shutil.rmtree(staging, ignore_errors=True)


def _resume_newest_generation(
    spark, base_dir: str, rolled: str, id_col: str, sidecar: str,
    partition_col: str | None, vec_col: str | None = None,
):
    """Entry-side generation recovery of the ``ivf_add_stream``
    entrypoints: sweep the crash debris no other path owns (stranded
    ``store_gen*.staging.*`` dirs from a swap that died mid-write, and
    interrupted rolled-heal swaps — see :func:`_recover_rolled_heal`),
    pick the newest persisted store generation (its
    underscore-prefixed sidecar JSON carries the model state adopted
    at swap time), sweep superseded generations a crash left behind,
    and heal the swap's one crash window — a crash between the
    generation rename and the rolled reset leaves the just-absorbed
    rows in BOTH stores, so rolled rows already present in the
    generation are dropped before anything reads the store (the pure
    crash shape empties rolled; post-fire adds survive).  With
    ``vec_col`` the match is on ``(id, vector)`` rather than id alone,
    so a stream that legitimately re-ingests an existing id with an
    UPDATED vector keeps the newer rolled copy — only bit-identical
    residue (crash duplicates, or idempotent re-adds already absorbed
    into the generation) is dropped.  NaN carve-out (r13 ADVICE): the
    residue match is SQL equality, which never matches NaN — a crash-
    duplicated row whose vector contains NaN survives the heal as a
    duplicate.  Accepted: NaN is not an admissible embedding value in
    any kernel of this engine (cosine/IVF/PQ all propagate it to
    garbage ranks), so the carve-out is documented next to the ID
    CONTRACT rather than paid for with an eqNullSafe-per-element join
    on every heal.  Generations commit through
    :mod:`~vectorsearch_scylla_spark.streaming.genstore`.  Returns
    ``(gen_dir, generation, sidecar_obj)`` or ``(None, 0, None)`` when
    no generation exists."""
    import glob
    import json
    import os
    import shutil

    from vectorsearch_scylla_spark.streaming import genstore

    # entry-side debris sweep (r12 ADVICE): a crash inside
    # _swap_in_generation before its commit point strands an
    # uncommitted write (the swap never happened — pre-swap state
    # is intact and the copy is safely discardable), and a
    # pre-r13 heal left uuid-suffixed .heal./.healed. dirs no code
    # path recovered.  Sweep both, then recover the fixed-name heal
    # markers.
    genstore.sweep_uncommitted(base_dir)
    # legacy uuid-suffixed heal dirs (pre-fixed-name swap): when the
    # live rolled dir exists they are post-promote debris — sweep;
    # when it is MISSING they may be the ONLY surviving copy of the
    # rolled rows (a crash between the legacy swap's two renames) —
    # restore the single pre-heal copy (.healed.*; the heal recomputes
    # idempotently), fall back to a single completed staged heal
    # (.heal.*), and refuse loudly on ambiguity rather than guess.
    legacy_old = sorted(glob.glob(f"{rolled}.healed.*"))
    legacy_staged = sorted(
        p
        for p in glob.glob(f"{rolled}.heal.*")
        if p not in (f"{rolled}.heal.old", f"{rolled}.heal.staging")
    )
    legacy_restored = False
    if not os.path.isdir(rolled) and (legacy_old or legacy_staged):
        candidates = legacy_old or legacy_staged
        if len(candidates) > 1:
            raise RuntimeError(
                f"interrupted legacy heal: {rolled} is missing and "
                f"{len(candidates)} heal siblings exist ({candidates}); "
                "cannot pick the survivor automatically — inspect and "
                "rename the correct one back to the rolled path"
            )
        os.rename(candidates[0], rolled)
        # the restored PRE-heal copy may carry absorbed residue, so
        # the heal below must actually run — an existing swap-
        # completed marker (from a swap that finished before the
        # legacy crash) no longer vouches for THIS rolled content
        legacy_restored = True
    for p in legacy_old + legacy_staged:
        shutil.rmtree(p, ignore_errors=True)
    _recover_rolled_heal(rolled)

    gens = genstore.list_committed(base_dir, sidecar)
    if not gens:
        return None, 0, None
    gen_n, gen_dir = gens[-1]
    with open(os.path.join(gen_dir, sidecar)) as f:
        obj = json.load(f)
    for _g, old_dir in gens[:-1]:
        genstore.retire(spark, old_dir)
    # the rolled-heal check reads the full generation (the anti-join's
    # build side is corpus-sized) — at 100 TB that is a whole store
    # scan per restart, paid even when there is nothing to heal.  The
    # _rolled_absorbed marker skips it: _swap_in_generation writes the
    # marker AFTER the rolled reset completes, so its presence proves
    # the swap's crash window closed cleanly; the pure crash shape
    # (gen renamed, rolled not yet reset) has no marker and the heal
    # runs.  Post-fire adds never invalidate it — they were routed
    # after the swap and are not in the generation (skipping the heal
    # merely skips the optional idempotent-re-add dedup, which the ID
    # CONTRACT already declares best-effort).
    if legacy_restored and genstore.rolled_absorbed(gen_dir):
        # the restored rolled content is unvouched
        genstore.clear_rolled_absorbed(gen_dir)
    # r13 ADVICE: a crash mid-way through the rolled reset's rmtree
    # (or mid-heal) can leave `rolled` as an existing dir with ZERO
    # parquet part files (only _SUCCESS, or nothing) — isdir() is true
    # but spark.read.parquet raises "unable to infer schema", fail-
    # stopping every restart.  A part-less rolled dir IS the reset's
    # end state — finish the rmtree and continue.
    if os.path.isdir(rolled) and not genstore.has_parquet_parts(rolled):
        shutil.rmtree(rolled, ignore_errors=True)
        spark.catalog.refreshByPath(rolled)
    if os.path.isdir(rolled) and not genstore.rolled_absorbed(gen_dir):
        match_cols = [id_col] + ([vec_col] if vec_col else [])
        gen_keys = spark.read.parquet(gen_dir).select(*match_cols)
        rolled_df = spark.read.parquet(rolled)
        n_all = rolled_df.count()
        kept = rolled_df.join(gen_keys, match_cols, "left_anti")
        n_kept = kept.count()
        if n_kept == 0:
            shutil.rmtree(rolled)
            spark.catalog.refreshByPath(rolled)
        elif n_kept < n_all:
            # fixed-name marker swap (not uuid-suffixed): a crash at
            # ANY point is recoverable by _recover_rolled_heal on the
            # next entry — between the two renames the pre-heal copy
            # sits at .heal.old and is restored, after the promote the
            # stale .heal.old is deleted
            staging = f"{rolled}.heal.staging"
            w = kept.write
            if partition_col:
                w = w.partitionBy(partition_col)
            w.parquet(staging)
            old = f"{rolled}.heal.old"
            os.rename(rolled, old)
            os.rename(staging, rolled)
            shutil.rmtree(old, ignore_errors=True)
            spark.catalog.refreshByPath(rolled)
    if not genstore.rolled_absorbed(gen_dir):
        # healed (or nothing to heal): the committed view is consistent
        # — stamp it so the next restart skips the corpus-sized check
        genstore.stamp_rolled_absorbed(gen_dir)
    return gen_dir, gen_n, obj


def _swap_in_generation(
    spark, base_dir: str, generation: int, frame: DataFrame, sidecar: str,
    sidecar_obj, rolled: str, prev_store: str | None,
    partition_col: str | None = None, n_parts: int = 32,
):
    """Adopt a rewritten full-index frame as the next store
    generation: invisible write + atomic commit (staged dir + rename,
    :mod:`~vectorsearch_scylla_spark.streaming.genstore`), sidecar
    JSON co-located so a restart resumes the adopted model state,
    rolled reset (its rows are absorbed into the generation),
    superseded generation retired (pure disk debt; a crash before the
    delete is healed by :func:`_resume_newest_generation`).  Returns
    ``(gen_dir, generation + 1)``."""
    import os
    import shutil

    from vectorsearch_scylla_spark.streaming import genstore

    gen_dir, gen = genstore.publish(
        frame, base_dir, generation, sidecar, sidecar_obj, partition_col, n_parts
    )
    if os.path.isdir(rolled):
        shutil.rmtree(rolled)
        spark.catalog.refreshByPath(rolled)
    # rolled reset done — the swap's crash window is closed: stamp the
    # marker that lets every future restart skip the corpus-sized
    # rolled-heal check (see _resume_newest_generation).  Written
    # AFTER the reset by construction: a crash before this line leaves
    # no marker and the next entry heals.
    genstore.stamp_rolled_absorbed(gen_dir)
    if prev_store and os.path.isdir(prev_store):
        genstore.retire(spark, prev_store)
    return gen_dir, gen


def _maintenance_day(
    spark, state: dict, base_dir: str, rolled: str, epoch_id: int,
    sidecar: str, audit_and_plan,
) -> None:
    """The audit→escalate→swap skeleton of the ``ivf_add_stream``
    maintenance days.
    ``audit_and_plan()`` runs the index's own ladder against the
    committed view and returns ``(report, adoption)``: ``adoption`` is
    ``None`` on a healthy (or rolled-back) day — audit-only, state
    untouched — else ``(frame, sidecar_obj, state_updates,
    partition_col, n_parts)`` describing the rewritten full index.
    This skeleton owns everything index-independent: the epoch-stamped
    report append, the generation persist (:func:`_swap_in_generation`
    — atomic rename commit, sidecar co-located, rolled absorbed,
    superseded generation retired), and the post-swap ``state`` update
    that makes THIS and every later micro-batch use the refreshed
    model."""
    report, adoption = audit_and_plan()
    state["reports"].append({"epoch": int(epoch_id), **report})
    if adoption is None:
        return
    frame, sidecar_obj, updates, partition_col, n_parts = adoption
    gen_dir, gen = _swap_in_generation(
        spark, base_dir, state["generation"], frame, sidecar, sidecar_obj,
        rolled, state["store"], partition_col=partition_col, n_parts=n_parts,
    )
    state.update(store=gen_dir, generation=gen, **updates)


def _fold_maintain_route(
    spark, state: dict, epoch_root: str, rolled: str,
    compact_at_files: int, maintenance, every: int, maintain, write_epoch,
):
    """Build the ``foreachBatch`` body of the ``ivf_add_stream``
    entrypoints.  ORDER IS LOAD-BEARING: fold first (every epoch <
    current moves into rolled), THEN maintain, THEN transform+write
    this epoch.  Maintenance therefore always sees the COMPLETE
    committed view, and at generation-swap time no epoch dir produced
    by the old model can be left pending — the only unfolded dir is a
    crashed attempt of THIS epoch, which ``write_epoch``'s overwrite
    replaces with refreshed-model output anyway."""
    from vectorsearch_scylla_spark.operators.dedup import (
        fold_streaming_epochs,
    )

    def route_batch(batch_df: DataFrame, epoch_id: int) -> None:
        fold_streaming_epochs(
            spark, epoch_root, rolled, int(epoch_id),
            compact_at_files=compact_at_files,
        )
        if maintenance and epoch_id >= every and epoch_id % every == 0:
            maintain(int(epoch_id))
        write_epoch(batch_df, int(epoch_id))
        state["epochs"] += 1

    return route_batch


def _drain_file_stream(
    spark, src_path: str, src_schema, base_dir: str, route_batch,
    max_files_per_trigger: int, timeout_sec: int, name: str,
    rolled: str, compact_at_files: int,
) -> None:
    """availableNow drain of a parquet file source through
    ``route_batch``, then the post-drain fold (in-stream folds always
    exclude the then-current epoch, so the last committed epoch is
    folded here)."""
    import os

    from vectorsearch_scylla_spark.operators.dedup import (
        fold_streaming_epochs,
    )

    epoch_root = os.path.join(base_dir, "epochs")
    stream = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_path)
    )
    q = (
        stream.writeStream.foreachBatch(route_batch)
        .option("checkpointLocation", os.path.join(base_dir, "checkpoint"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise RuntimeError(
            f"{name}: availableNow query did not drain within {timeout_sec}s"
        )
    last = max(
        (
            int(d.split("=", 1)[1])
            for d in os.listdir(epoch_root)
            if d.startswith("epoch=")
        ),
        default=-1,
    ) if os.path.isdir(epoch_root) else -1
    fold_streaming_epochs(
        spark, epoch_root, rolled, last + 1, compact_at_files=compact_at_files
    )


# the ``maintenance`` keys ivf_add_stream reads; any other key raises
_MAINTENANCE_KEYS = frozenset({
    "recall_budget", "nprobe_grid", "post_retrain_grid", "max_size",
    "retrain_k", "k", "max_audit_queries", "every",
})


def ivf_add_stream(
    spark: SparkSession,
    src_path: str,
    src_schema,
    cents: list[tuple[int, list[float]]],
    base_lists_path: str,
    base_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_col: str = "__sim",
    max_files_per_trigger: int = 8,
    compact_at_files: int = 48,
    maintenance: dict | None = None,
    timeout_sec: int = 600,
) -> dict:
    """STREAMING IVF ingest + index lifecycle — the single entrypoint
    behind ``streaming_ivf_add_e2e`` (reg) and the in-stream
    maintenance tests: new vectors arrive as a file-source stream in
    micro-batches, each batch routes through the CURRENT coarse
    quantizer (``assign_clusters``'s fused expression kernel — the
    oracle-certified path; the routing is per-row, so the committed
    state is independent of the micro-batch split while the quantizer
    is unchanged) and lands as a cluster-partitioned epoch-dir
    overwrite (exactly-once under epoch replay), then committed prior
    epochs FOLD (rename-only, ``fold_streaming_epochs``) into the
    rolled cluster-partitioned store with partition-aware
    auto-compaction past ``compact_at_files``.

    ``maintenance`` wires
    :func:`~vectorsearch_scylla_spark.operators.ivf.
    ivf_maintenance_step` INTO the stream — the scheduled "maintenance
    day" a 100 TB ingest path actually runs, not a separate batch job:
    every ``every`` epochs (default 1, skipping epoch 0 — nothing is
    committed yet), after the fold, the committed index view
    (base lists ∪ rolled adds) is audited against the era grid, with
    the whole committed corpus as the audit population.  Keys:
    ``recall_budget`` (default 0.85), ``nprobe_grid``, optional
    ``post_retrain_grid`` / ``max_size`` / ``retrain_k`` / ``k`` /
    ``max_audit_queries`` (default 64) / ``every``; any other key
    raises ``ValueError``.  A healthy day is audit-only (bounded exact
    pass at float32; state untouched).  When the grid exhausts below
    budget the ladder escalates in-stream: the returned re-routed
    members are persisted as a NEW store generation (staged dir +
    atomic rename — see :mod:`~vectorsearch_scylla_spark.streaming.
    genstore`), the rolled store is reset (its rows are absorbed into
    the generation), and THIS and every subsequent micro-batch route
    through the refreshed quantizer (per-batch order is fold →
    maintain → route, so the audit always sees the complete committed
    view and a generation swap can never leave an old-quantizer epoch
    dir pending).  Post-retrain state is therefore micro-batch-split
    DEPENDENT by design (which adds saw the old vs new quantizer
    depends on when the audit crossed) — the registered
    oracle-certified query runs with a grid whose ceiling probes every
    list, so its ladder provably never escalates and split-independence
    holds; the firing regime is certified by the state/plan tests and
    priced in BENCH_SCALE.md instead.  Single-writer contract: the
    generation swap plus rolled reset is two steps — run maintenance in
    the same window that owns the fold, exactly like compaction; a
    crash BETWEEN the two steps is healed on the next entry (rolled
    rows already absorbed into the newest generation are dropped before
    anything else reads the store — see the resume block).

    ID CONTRACT: the stream is ADD-ORIENTED — ids are expected to be
    new.  Re-ingesting an id with an UPDATED vector is safe (the
    crash heal matches on ``(id, vector)``, so the newer copy
    survives) but is NOT an update: the committed view keeps BOTH
    rows; deduplicate upstream or via a periodic compaction if LWW
    semantics are needed.  Re-ingesting a bit-identical ``(id,
    vector)`` row after a generation swap may be dropped by the heal
    as indistinguishable from crash residue — a semantic no-op, since
    that exact row is already in the committed view.  NaN carve-out
    (r13 ADVICE): the residue match is SQL equality, which never
    matches NaN, so a vector containing NaN is never deduplicated by
    the heal — crash residue with NaN persists as a duplicate.  NaN
    is not an admissible embedding value anywhere in this engine
    (cosine/IVF/PQ all propagate it to garbage ranks); reject NaN
    upstream rather than expect the heal to handle it.

    Returns the final state dict: ``cents`` (current quantizer),
    ``rolled`` (path of post-generation adds), ``store`` (current
    full-index generation dir, or None while generation 0's base
    lists + rolled view stands), ``generation``, ``reports`` (one
    maintenance report per maintenance day, each stamped with its
    epoch), ``epochs`` (micro-batch count).  RESTART: re-entering
    with the same ``base_dir``/checkpoint resumes from the newest
    persisted store generation — its ``_centroids.json`` (written
    atomically with the generation swap) overrides the caller's
    ``cents``, so a post-escalation restart keeps routing through
    the refreshed quantizer (pinned by the firing test's re-entry
    phase).

    Reference parity: the reference's HNSW index takes per-row inserts
    and is re-created wholesale to re-tile (scylladb_setup/
    create_iot_schema.py:137-155 + pipeline/kafka_consumer.py's
    insert path); this is the same lifecycle with the re-tile decision
    automated, priced, and escalation-laddered.
    """
    import os

    from vectorsearch_scylla_spark.operators.ivf import (
        assign_clusters,
        ivf_maintenance_step,
    )

    m = dict(maintenance or {})
    unknown = sorted(set(m) - _MAINTENANCE_KEYS)
    if unknown:
        raise ValueError(
            f"ivf_add_stream: unknown maintenance keys {unknown}; "
            f"accepted keys are {sorted(_MAINTENANCE_KEYS)}"
        )
    every = int(m.get("every", 1))
    epoch_root = os.path.join(base_dir, "epochs")
    rolled = os.path.join(base_dir, "rolled")
    state: dict = {
        "cents": cents,
        "rolled": rolled,
        "store": None,
        "generation": 0,
        "reports": [],
        "epochs": 0,
    }
    # RESTART RESUME (shared machinery): a prior run of this stream
    # may have escalated — its refreshed quantizer rides with the
    # newest store generation (_centroids.json, written atomically
    # with the generation swap).  A restarted stream must route
    # through THAT quantizer, not the caller's stale initial, or
    # every post-restart batch re-routes by the tiling the
    # maintenance ladder already retired.  The helper also sweeps
    # superseded generations and heals the swap's crash window.
    gen_dir, gen_n, sidecar = _resume_newest_generation(
        spark, base_dir, rolled, id_col, "_centroids.json", "cluster_id",
        vec_col=vec_col,
    )
    if gen_dir is not None:
        state["cents"] = [(int(c), list(v)) for c, v in sidecar]
        state["store"] = gen_dir
        state["generation"] = gen_n

    def _members_view() -> DataFrame:
        """The committed index: current generation (or gen-0 base
        lists) ∪ rolled adds, projected to routing columns.

        coalesce to the drain's shuffle-partition count (pinned by the
        caller's ``stream_shuffle_partitions`` to the scale-adaptive
        value): the store is cluster-partitioned small-file dirs, so
        the raw scan yields one task per file and the audit's Arrow
        kernels pay a fixed worker/serialization cost per task
        (measured 44 tasks × 0.3-2 s over a 2,000-vector view).
        coalesce merges file splits without a shuffle; on a production
        conf (thousands of partitions) it is a no-op."""
        base = spark.read.parquet(state["store"] or base_lists_path).select(
            id_col, vec_col, F.col("cluster_id").cast("int").alias("cluster_id")
        )
        if os.path.isdir(rolled):
            base = base.unionByName(
                spark.read.parquet(rolled).select(
                    id_col,
                    vec_col,
                    F.col("cluster_id").cast("int").alias("cluster_id"),
                )
            )
        return base.coalesce(conf_partitions(spark))

    def _audit_and_plan() -> tuple[dict, tuple | None]:
        members = _members_view()
        queries = members.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
        )
        c2, m2, report = ivf_maintenance_step(
            members,
            state["cents"],
            queries,
            recall_budget=float(m.get("recall_budget", 0.85)),
            nprobe_grid=tuple(m.get("nprobe_grid", (4, 8, 16, 32))),
            post_retrain_grid=m.get("post_retrain_grid"),
            max_size=m.get("max_size"),
            retrain_k=m.get("retrain_k"),
            k=int(m.get("k", 5)),
            id_col=id_col,
            vec_col=vec_col,
            max_audit_queries=int(m.get("max_audit_queries", 64)),
        )
        if not ({"split", "retrain"} & set(report["actions"])):
            return report, None
        # the ladder rewrote cluster ids: adopt the re-routed members
        # as a new generation (quantizer sidecar co-located —
        # underscore-prefixed so Spark's file index treats it as
        # metadata); THIS and every subsequent batch route through c2
        return report, (
            m2.select(id_col, vec_col, "cluster_id"),
            [[int(c), list(map(float, v))] for c, v in c2],
            {"cents": c2},
            "cluster_id",
            len(c2),
        )

    def _maintain(epoch_id: int) -> None:
        _maintenance_day(
            spark, state, base_dir, rolled, epoch_id,
            "_centroids.json", _audit_and_plan,
        )

    def _write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        routed = assign_clusters(
            batch_df, state["cents"], vec_col=vec_col, sim_col=sim_col
        )
        # the epoch store keeps the VECTORS, not just ids+sims: the
        # rolled store is the add-side of the index the maintenance
        # ladder audits and re-routes, and a vector store that cannot
        # reconstruct its vectors cannot be re-tiled.
        # repartition("cluster_id") clusters the batch BEFORE the
        # partitioned write (the hash write-distribution mode of every
        # table format): without it each scan task splits its rows
        # across up to K cluster_id= dirs, so one micro-batch sprays
        # O(tasks x K) row-sized files — the rolled store balloons,
        # auto-compaction fires per fold just to pay the write back,
        # and every members-view scan (the maintenance audit) launches
        # one task per crumb file.  After: <= one file per populated
        # cluster per epoch, for one extra shuffle of just the
        # micro-batch (tiny by definition).
        routed.select(id_col, vec_col, sim_col, "cluster_id").repartition(
            "cluster_id"
        ).write.mode("overwrite").partitionBy("cluster_id").parquet(
            os.path.join(epoch_root, f"epoch={epoch_id}")
        )

    route_batch = _fold_maintain_route(
        spark, state, epoch_root, rolled, compact_at_files,
        maintenance, every, _maintain, _write_epoch,
    )

    _drain_file_stream(
        spark, src_path, src_schema, base_dir, route_batch,
        max_files_per_trigger, timeout_sec, "ivf_add_stream",
        rolled, compact_at_files,
    )
    return state


