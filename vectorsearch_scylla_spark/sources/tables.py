"""Parquet table loaders for the driver test data, plus the mapping of
the generic ``events`` stream onto the reference's narrow IoT shape.

Reference data model (SURVEY.md §1): the raw table is one row per
(device_id, date, timestamp, metric_name, metric_value) —
``scylladb_setup/create_iot_schema.py:69-86`` — partition key
(device_id, date).  We derive the same shape from the driver's
``events`` table: user_id → device, event_type → metric_name,
value → metric_value.

At scale the physical layout would be Hive-partitioned parquet on
``date`` (partition pruning) with files sorted by (device_id, ts)
for min/max data skipping; the loaders here read the driver's flat
parquet but every downstream operator filters on the same columns so
pruning engages automatically once the layout is partitioned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Unexecuted scan-plan cache (r15 optimization): ``spark.read.parquet``
# costs ~120 ms per call on the driver (file listing + footer schema
# inference + py4j), and a bench/correctness run calls ``load_table``
# hundreds of times for the same handful of immutable files.  Caching
# the returned DataFrame reuses the analyzed SCAN PLAN only — nothing
# is computed or persisted; every action still reads the parquet from
# disk — so this is plan construction amortization, not result caching.
# Keyed by (session id, path, file fingerprint): a NEW session cannot
# reuse another session's plans, and regenerated testdata at the same
# path (new size/mtime) misses the cache.
_SCAN_PLAN_CACHE: dict[tuple, DataFrame] = {}


def _session_id(spark: SparkSession):
    """Per-SESSION cache identity, memoized on the Python wrapper so
    repeat calls skip the py4j round-trip — plans must not leak across
    sessions (conf differences, cloned/new sessions on one context)."""
    session_id = getattr(spark, "_vss_session_id", None)
    if session_id is None:
        try:
            session_id = spark._jsparkSession.sessionUUID()
        except Exception:
            session_id = (spark.sparkContext.applicationId, id(spark))
        try:
            spark._vss_session_id = session_id
        except Exception:
            pass
    return session_id


def _path_fingerprint(path: str) -> tuple:
    import os

    if os.path.isfile(path):
        st = os.stat(path)
        return (st.st_size, st.st_mtime_ns)
    parts = []
    for root, _dirs, files in os.walk(path):
        for fn in sorted(files):
            st = os.stat(os.path.join(root, fn))
            parts.append((fn, st.st_size, st.st_mtime_ns))
    return tuple(parts)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Column pruning / predicate pushdown reach the
    scan because we return the raw DataFrame (no materialization).

    ``events.ts`` has shipped as TIMESTAMP(NANOS) (older generator) and
    as TIMESTAMP_NTZ(MICROS); we normalize both to a UTC TimestampType
    instant.  Nanos: legacy nanos-as-long read (set at runtime so any
    caller-provided session works) + integer division — exact,
    timezone-independent.  NTZ: the naive values ARE UTC wall times, so
    we pin the session timezone to UTC and cast — exact and required
    for event-time streaming (``withWatermark`` rejects TIMESTAMP_NTZ).
    """
    path = f"{sf_dir}/{name}.parquet"
    key = (_session_id(spark), path, _path_fingerprint(path))
    cached = _SCAN_PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if name == "events":
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dt == "timestamp_ntz":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _SCAN_PLAN_CACHE[key] = df
    return df


def read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """Scan-plan cache for persisted artifact dirs (same discipline as
    ``load_table``): ``spark.read.parquet`` pays ~100 ms of listing +
    footer schema inference + py4j per call, and the ANN/dedup queries
    re-read the same immutable materialize-once artifacts on every
    plan construction.  Plan reuse only — every action still scans the
    files; the file-stat fingerprint in the key makes a rewritten or
    regenerated artifact miss the cache."""
    key = (_session_id(spark), "artifact", path, _path_fingerprint(path))
    cached = _SCAN_PLAN_CACHE.get(key)
    if cached is None:
        cached = spark.read.parquet(path)
        _SCAN_PLAN_CACHE[key] = cached
    return cached


def publish_dir(path: str, marker: str, write) -> None:
    """Build-once publish of an artifact dir: ``write(staging)`` fills a
    private staging dir, which then renames atomically to ``path``.

    A rename that fails because a concurrent builder published first is
    benign — that copy is equivalent, and ``marker`` (a path that exists
    once a complete copy is in place) shows it — so the loser deletes
    its own.  Any other failure (permissions, a bad temp dir) raises
    here instead of surfacing later as an unreadable artifact."""
    import os
    import shutil
    import uuid

    staging = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    write(staging)
    try:
        os.rename(staging, path)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not os.path.exists(marker):
            raise


def device_metrics_raw(
    spark: SparkSession,
    sf_dir: str,
    start_epoch: int | None = None,
    end_epoch: int | None = None,
) -> DataFrame:
    """``events`` → the reference's ``device_metrics_raw`` shape.

    Mirrors the Kafka message format of
    ``pipeline/kafka_producer.py:149-158`` (device_id, timestamp,
    metric_name, metric_value, + denormalized device metadata) and the
    raw table DDL ``scylladb_setup/create_iot_schema.py:69-86``.

    ``date`` is the reference's partition bucket
    (``strftime('%Y-%m-%d')``, ``pipeline/kafka_consumer.py:295``).

    ``[start_epoch, end_epoch)`` (UTC seconds) is applied on the
    PHYSICAL source column *before* any type conversion, as a literal
    the pushdown rule can see — so it reaches the parquet scan as a
    PushedFilter (row-group min/max skipping) in every source layout.
    Predicates added after conversion sit behind arithmetic/casts the
    rule can't invert and degrade to post-scan DataFilters.
    """
    import datetime

    # Read the parquet directly (not via load_table's eager ts
    # conversion) so the physical ts column survives for pushdown.
    # The WHOLE shaped frame is memoized below (same discipline as
    # load_table's scan-plan cache): this loader is called by ~15
    # device-metric queries per bench run and its construction is pure
    # in (session, path, file fingerprint, epoch bounds) — reusing the
    # analyzed plan skips ~100 ms of listing + footer schema inference
    # + py4j per call.  Plan reuse only: every action still scans the
    # parquet files.
    path = f"{sf_dir}/events.parquet"
    key = (
        _session_id(spark),
        "device_metrics_raw",
        path,
        _path_fingerprint(path),
        start_epoch,
        end_epoch,
    )
    cached = _SCAN_PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(path)
    dt = dict(ev.dtypes).get("ts")
    if dt == "bigint":
        # raw int64 nanos: epoch × 1e9 literals compare directly
        if start_epoch is not None:
            ev = ev.filter(F.col("ts") >= start_epoch * 1_000_000_000)
        if end_epoch is not None:
            ev = ev.filter(F.col("ts") < end_epoch * 1_000_000_000)
        ev = ev.withColumn("__ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    else:
        if dt == "timestamp_ntz":
            # naive micros are UTC wall times; pin the session tz so the
            # cast to an instant is deterministic on any caller session,
            # and so withWatermark (which rejects NTZ) gets TimestampType
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            # to_timestamp_ntz of a string literal constant-folds to an
            # NTZ constant (independent of any driver/session timezone),
            # so the comparison is attribute-vs-literal and pushes down
            def _ntz(epoch_s: int):
                wall = datetime.datetime.fromtimestamp(epoch_s, datetime.timezone.utc)
                return F.to_timestamp_ntz(F.lit(wall.strftime("%Y-%m-%d %H:%M:%S")))

            if start_epoch is not None:
                ev = ev.filter(F.col("ts") >= _ntz(start_epoch))
            if end_epoch is not None:
                ev = ev.filter(F.col("ts") < _ntz(end_epoch))
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        else:
            if start_epoch is not None:
                ev = ev.filter(F.col("ts") >= F.timestamp_seconds(F.lit(start_epoch)))
            if end_epoch is not None:
                ev = ev.filter(F.col("ts") < F.timestamp_seconds(F.lit(end_epoch)))
        ev = ev.withColumn("__ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
    out = ev.select(
        F.concat(F.lit("DEV-"), F.lpad(F.col("user_id").cast("string"), 3, "0")).alias("device_id"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        F.col("ts").alias("timestamp"),
        F.col("__ts_ns").alias("ts_ns"),
        F.col("event_type").alias("metric_name"),
        F.round(F.col("value"), 2).alias("metric_value"),
        F.col("event_id"),
    )
    _SCAN_PLAN_CACHE[key] = out
    return out
