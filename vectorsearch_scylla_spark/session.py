"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the same config block is what we'd
ship to a 1000-executor cluster — AQE on (runtime skew-join + coalesce),
adaptive shuffle partitions, Arrow for the few pandas-UDF paths, UTC
timestamps everywhere (the reference mixes naive/aware timestamps and
patches at read, ``dashboard/app.py:203-204`` — we standardize instead).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)
_stats_drop_warned = False

# At cluster scale spark.sql.shuffle.partitions should be ~2-3x total
# cores (or left to AQE coalescing, which we enable).  Locally, match
# the core count so tests don't create thousands of tiny tasks: the
# cores this process may run on, unless SPARK_GRAFT_CPUS says otherwise.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def drop_inherited_stats(df: DataFrame) -> DataFrame:
    """Rebuild a checkpointed ``df`` on its already-materialized RDD,
    discarding the statistics Spark 4's ``Dataset.checkpoint`` /
    ``localCheckpoint`` copies into the ``LogicalRDD``
    (``rewriteStatsAndConstraints``).

    Why: in an ITERATIVE algorithm whose round plan references the
    previous round's frame k times, the copied ``sizeInBytes``
    compounds as stats^k per round — after ~8 rounds the product is a
    BigInteger with millions of digits and every Catalyst stats walk
    (JoinSelection, InjectRuntimeFilter, AQE reOptimize) burns minutes
    of driver CPU in Toom-Cook multiplication while executors idle
    (diagnosed live via jstack, round 6).  Resetting to a fresh
    ``LogicalRDD`` (defaultSizeInBytes) keeps every round's stats walk
    trivial; the frames involved are big tables that should never
    broadcast anyway, so losing the copied estimate costs nothing.

    Call this on EVERY checkpointed frame that feeds an iterative loop
    (connected components, Lloyd iterations, pointer jumping).  Uses
    private JVM internals (``queryExecution().toRdd()``,
    ``internalCreateDataFrame``); on a Connect session or private-API
    drift it logs ONCE and returns ``df`` unchanged — correctness is
    unaffected, only planning speed, but the warning makes the silent
    revert visible.
    """
    global _stats_drop_warned
    try:
        jdf = df._jdf
        jrdd = jdf.queryExecution().toRdd()
        jds = df.sparkSession._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        return DataFrame(jds, df.sparkSession)
    except Exception as exc:  # non-classic session or API drift
        if not _stats_drop_warned:
            _stats_drop_warned = True
            _log.warning(
                "drop_inherited_stats: falling back to inherited plan "
                "statistics (%s: %s) — iterative planning may slow down",
                type(exc).__name__,
                exc,
            )
        return df


def conf_partitions(spark: SparkSession, default: int = 200) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int.
    Platforms running auto-optimized shuffle set the conf to a
    non-numeric sentinel (e.g. ``"auto"``); fall back to the cluster's
    default parallelism there."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism or default


def get_spark(
    app_name: str = "vectorsearch-scylla-spark",
    cpus: str | int | None = None,
    extra_configs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults.

    ``extra_configs`` only take effect when THIS call creates the
    session (Spark ignores builder configs on reuse) — callers that
    need e.g. the event log enabled must pass them on the first
    ``get_spark`` of the process.
    """
    cpus = str(cpus or _DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata writes events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos timestamp — read as long and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- adaptive execution: runtime plan fixes at scale ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        # --- broadcast small dims (profiles, rules, fleet config) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for the pandas-UDF paths (embedding inference, kNN blocks) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- keep the driver lean; results are written, not collected ---
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # many large generated-code queries in one JVM exhaust the
        # default ~240 MB code cache → JIT disables itself and every
        # subsequent query runs interpreted (observed 10-50× slowdowns
        # late in a bench run).  Reserve enough for the whole suite.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # per-DataFrame-API-call error-context capture (PySpark 4's
        # PySparkCurrentOrigin) costs a Python stack walk + ~3 py4j
        # round-trips on EVERY Column/DataFrame method — measured 4.5 s
        # of the 5 s plan CONSTRUCTION of the expression-heaviest query
        # (r15, OPTIMIZATION_r15.md "driver py4j overhead"); it only
        # enriches error messages, so trade it for throughput here
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        # the console progress bar interleaves \r frames with stdout,
        # corrupting bench/driver log lines
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_configs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
