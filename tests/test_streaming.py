"""Structured Streaming semantics tests: watermark emission, LWW pivot
correctness vs the batch twin, and late-data drop across a restart
(SURVEY §2.8 T1-T3, T6).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vectorsearch_scylla_spark.sources.tables import device_metrics_raw
from vectorsearch_scylla_spark.streaming.pipeline import windowed_snapshot_stream


def _run_stream(spark, src: str, ck: str, name: str, schema):
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        windowed_snapshot_stream(stream, window_seconds=60, watermark_windows=2)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@pytest.fixture(scope="module")
def raw(spark, sf_dir):
    return (
        device_metrics_raw(spark, sf_dir)
        .select("device_id", "timestamp", "metric_name", "metric_value")
        .cache()
    )


def test_stream_matches_batch_twin(spark, raw, tmp_path):
    """Emitted (finalized) windows must equal the batch LWW pivot
    restricted to windows at-or-before the final watermark."""
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    raw.write.parquet(src)
    out = _run_stream(spark, src, ck, "t_stream_batch", raw.schema)

    emitted = out.select(
        "device_id",
        F.unix_timestamp("window_start").alias("ws"),
        F.explode("metrics").alias("metric_name", "metric_value"),
    )

    max_ts = raw.agg(F.max("timestamp")).collect()[0][0]
    from pyspark.sql import Window

    w = Window.partitionBy(
        "device_id", (F.floor(F.unix_timestamp("timestamp") / 60)).alias("wfl"), "metric_name"
    ).orderBy(F.col("timestamp").desc(), F.col("metric_value").desc())
    batch = (
        raw.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "device_id",
            (F.floor(F.unix_timestamp("timestamp") / 60) * 60).cast("long").alias("ws"),
            "metric_name",
            "metric_value",
        )
        .filter(F.col("ws") + 60 <= F.lit(max_ts.timestamp() - 120))
    )
    assert emitted.count() == batch.count()
    assert emitted.exceptAll(batch).count() == 0
    assert batch.exceptAll(emitted).count() == 0


def test_detect_e2e_exactly_once_across_restart(spark, raw, tmp_path):
    """T5/T6 for the full detection pipeline: a restart with the same
    checkpoint must not duplicate snapshot or event rows (epoch-
    overwrite idempotence in detection_sinks), and events must equal
    the batch-computed Path-1/2 detections over the emitted windows."""
    import os

    from vectorsearch_scylla_spark.streaming.pipeline import (
        detect_paths12,
        detection_sinks,
    )

    src, base = str(tmp_path / "src3"), str(tmp_path / "e2e")
    # deterministic synthetic id (monotonically_increasing_id is
    # rejected inside streaming plans via the stream-static join)
    raw2 = raw.withColumn(
        "event_id", F.abs(F.xxhash64("device_id", "timestamp", "metric_name"))
    )
    raw2.write.parquet(src)

    metrics_order = ["click", "error", "purchase", "signup", "view"]
    lww = raw2.groupBy(
        "device_id",
        (F.floor(F.unix_timestamp("timestamp") / 60) * 60).cast("long").alias("ws"),
        "metric_name",
    ).agg(F.max_by("metric_value", F.struct("timestamp", "event_id")).alias("v"))
    snapb = lww.groupBy("device_id", "ws").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("metric_name") == m, F.col("v"))), F.lit(0.0)
            ).alias(f"m_{m}")
            for m in metrics_order
        ]
    )
    profiles = snapb.groupBy("device_id").agg(
        *[
            a
            for m in metrics_order
            for a in (
                F.avg(f"m_{m}").alias(f"mean_{m}"),
                F.stddev_pop(f"m_{m}").alias(f"std_{m}"),
            )
        ]
    )

    def run_phase():
        stream = spark.readStream.schema(raw2.schema).parquet(src)
        snaps = windowed_snapshot_stream(stream, window_seconds=60, watermark_windows=2)
        q = detection_sinks(detect_paths12(snaps, profiles, metrics_order), base)
        assert q.awaitTermination(300)
        return (
            spark.read.parquet(os.path.join(base, "snapshots")),
            spark.read.parquet(os.path.join(base, "events")),
        )

    snaps1, events1 = run_phase()
    n_snaps, n_events = snaps1.count(), events1.count()
    assert n_snaps > 0
    # every event is an anomalous snapshot; no event escaped the filter
    assert events1.filter(~F.col("is_anomalous")).count() == 0
    assert n_events == snaps1.filter(F.col("is_anomalous")).count()

    # "restart": same checkpoint, no new source data — a drained
    # availableNow query must add nothing to either sink
    snaps2, events2 = run_phase()
    assert snaps2.count() == n_snaps
    assert events2.count() == n_events


def test_late_rows_dropped_across_restart(spark, raw, tmp_path):
    """T3/T6: rows older than the persisted watermark, arriving in a
    later micro-batch after a restart, must not produce new windows.
    Uses a file sink — the memory sink cannot recover a checkpoint."""
    src, ck, sink = str(tmp_path / "src2"), str(tmp_path / "ck2"), str(tmp_path / "sink2")
    cutoff = raw.selectExpr(
        "cast(min(timestamp) as double) + (cast(max(timestamp) as double) - cast(min(timestamp) as double)) * 0.8"
    ).collect()[0][0]
    early = raw.filter(F.col("timestamp").cast("double") <= cutoff)
    late = raw.filter(F.col("timestamp").cast("double") > cutoff)
    assert late.count() > 0

    def run_phase():
        stream = spark.readStream.schema(raw.schema).parquet(src)
        q = (
            windowed_snapshot_stream(stream, window_seconds=60, watermark_windows=2)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(sink)

    # phase 1: stream the late 20% FIRST (advances the watermark far)
    late.write.mode("append").parquet(src)
    n1 = run_phase().count()
    assert n1 > 0

    # phase 2: the early 80% arrives late — entirely behind the persisted
    # watermark, so every row must be dropped before the aggregation and
    # no window (new or re-emitted) may appear in the sink.
    early.write.mode("append").parquet(src)
    n2 = run_phase().count()
    assert n2 == n1


def test_rolling_stats_state_carries_across_micro_batches(spark, tmp_path):
    """The applyInPandasWithState rolling operator must produce rows in
    batch N whose frame reaches back into values delivered in batch
    N−1 — i.e. the bounded state tail genuinely carries.  Two files,
    maxFilesPerTrigger=1 → ≥2 micro-batches; expected output is the
    batch ROWS-frame window over the union."""
    from pyspark.sql import Window

    from vectorsearch_scylla_spark.streaming.pipeline import rolling_stats_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rows1 = [("D1", float(i), i) for i in range(6)]           # t = 0..5
    rows2 = [("D1", float(10 + i), 6 + i) for i in range(6)]  # t = 6..11
    src, ck = str(tmp_path / "rsrc"), str(tmp_path / "rck")

    def to_df(rows):
        return spark.createDataFrame(
            rows, "device_id string, metric_value double, sec int"
        ).select(
            "device_id",
            F.timestamp_seconds(F.col("sec")).alias("timestamp"),
            F.lit("m").alias("metric_name"),
            "metric_value",
            F.col("sec").cast("long").alias("event_id"),
        )

    # one file per batch, earlier timestamps in the file listed first
    to_df(rows1).coalesce(1).write.parquet(src + "/f=1")
    to_df(rows2).coalesce(1).write.parquet(src + "/f=2")
    schema = to_df(rows1).schema

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f=*")
    )
    q = (
        rolling_stats_stream(stream, frame=10)
        .writeStream.format("memory")
        .queryName("t_roll_state")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["event_id"]: (r["rolling_avg"], r["rolling_max"], r["n_in_frame"])
        for r in spark.table("t_roll_state").collect()
    }
    assert len(got) == 12
    # event 11's frame spans both batches: values t=2..11
    union = to_df(rows1).unionByName(to_df(rows2))
    w = (
        Window.partitionBy("device_id", "metric_name")
        .orderBy("timestamp", "event_id")
        .rowsBetween(-9, 0)
    )
    expected = {
        r["event_id"]: (r["a"], r["m"], r["n"])
        for r in union.select(
            "event_id",
            F.floor(F.avg("metric_value").over(w) * 1e4 + 0.5 + 1e-6).cast("double")
            .alias("a"),
            F.max("metric_value").over(w).alias("m"),
            F.count("*").over(w).alias("n"),
        ).collect()
    }
    for eid, (a, m, n) in got.items():
        ea, em, en = expected[eid]
        assert abs(a * 1e4 - ea) < 1e-6 and m == em and n == en, (eid, got[eid], expected[eid])
    # the cross-batch row really used state: frame size 10 > batch size 6
    assert got[11][2] == 10


def test_kafka_message_shape_round_trips(spark, raw):
    """S1 sink shape → S2 parse round trip, broker-free: the producer
    transform and the consumer parser are pure DataFrame stages, so the
    (key = device_id, value = JSON) contract is verifiable in batch.
    Checks key partitioning semantics (per-device ordering key), JSON
    field fidelity including ISO8601 timestamps (F2), and that parse ∘
    serialize is the identity on the metric columns."""
    from vectorsearch_scylla_spark.streaming.pipeline import (
        parse_metric_messages,
        to_kafka_messages,
    )

    src = raw.select(
        "device_id",
        F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").alias(
            "timestamp"
        ),
        "metric_name",
        "metric_value",
    ).limit(200)
    msgs = to_kafka_messages(src)
    assert msgs.columns == ["key", "value"]
    # every message's key is its row's device_id (per-device ordering)
    assert (
        msgs.filter(
            F.get_json_object("value", "$.device_id") != F.col("key")
        ).count()
        == 0
    )
    back = parse_metric_messages(msgs.select("key", F.col("value").cast("binary").alias("value")))
    got = {
        (r["device_id"], r["metric_name"], r["timestamp"]): r["metric_value"]
        for r in back.collect()
    }
    exp = {
        (r["device_id"], r["metric_name"], r["timestamp"]): r["metric_value"]
        for r in src.withColumn("timestamp", F.to_timestamp("timestamp")).collect()
    }
    assert got == exp and len(got) > 0


def test_exact_dedup_stream_state_accumulates_across_micro_batches(spark, tmp_path):
    """The complete-mode dedup aggregation must merge duplicate groups
    whose members arrive in DIFFERENT micro-batches (the whole point of
    running it as a stream): two files, maxFilesPerTrigger=1 → ≥2
    micro-batches, a dup pair split across them.  The final state must
    equal the batch GROUP BY over the union — min-id keeper chosen even
    though the keeper arrived in the earlier batch."""
    import os

    from vectorsearch_scylla_spark.streaming.pipeline import (
        dedup_state_sink,
        exact_dedup_stream,
    )

    rows1 = [(1, "alpha beta"), (2, "gamma delta")]
    rows2 = [(3, "alpha beta"), (4, "epsilon zeta"), (5, "gamma delta")]
    src = str(tmp_path / "dsrc")
    base = str(tmp_path / "dbase")

    def to_df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    to_df(rows1).coalesce(1).write.parquet(src + "/f=1")
    to_df(rows2).coalesce(1).write.parquet(src + "/f=2")

    stream = (
        spark.readStream.schema(to_df(rows1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f=*")
    )
    q = dedup_state_sink(exact_dedup_stream(stream), base)
    assert q.awaitTermination(300)
    got = {
        r["keeper_doc_id"]: r["dup_count"]
        for r in spark.read.parquet(os.path.join(base, "dedup_state")).collect()
    }
    # dup groups split across batches resolved to the min-id keeper
    assert got == {1: 2, 2: 2, 4: 1}


def test_streaming_minhash_incremental_batch_split_independent(spark, tmp_path):
    """r8: the bipartite MinHash band join (``banded_pairs(against=)``,
    the incremental mode ngram_jaccard_incremental runs in batch) must
    compose with Structured Streaming the way the SimHash twin does —
    each micro-batch of NEW docs probes the ONCE-materialized base band
    index via foreachBatch, and the accumulated pair set must be
    identical however the increment splits across micro-batches (and
    equal to the static bipartite join over the whole increment)."""
    import os

    from vectorsearch_scylla_spark.operators.dedup import banded_pairs
    from vectorsearch_scylla_spark.plans.registry import (
        _minhash_sig,
        _with_word_shingles,
    )

    def mh(d):
        return _with_word_shingles(d).select(
            "doc_id", _minhash_sig(0, non_null=True), _minhash_sig(1, non_null=True)
        )

    base_rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "one two three four five"),
        (3, "red green blue yellow purple"),
    ]
    # two dups of base doc 1, one of base doc 2, one novel — split so a
    # base doc is probed from DIFFERENT micro-batches
    inc1 = [(101, "alpha beta gamma delta epsilon"), (102, "one two three four five")]
    inc2 = [(103, "alpha beta gamma delta epsilon"), (104, "nothing like the base")]

    def to_df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base_idx = str(tmp_path / "mh_base_idx")
    mh(to_df(base_rows)).write.parquet(base_idx)  # the persisted artifact
    src = str(tmp_path / "mh_src")
    to_df(inc1).coalesce(1).write.parquet(src + "/f=1")
    to_df(inc2).coalesce(1).write.parquet(src + "/f=2")
    out = str(tmp_path / "mh_pairs")

    stream = (
        spark.readStream.schema(to_df(inc1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f=*")
    )
    base_bands = spark.read.parquet(base_idx)

    def probe(batch_df, batch_id):
        banded_pairs(
            mh(batch_df), ["sig_0", "sig_1"], against=base_bands
        ).write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", str(tmp_path / "mh_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = {
        (r["id_a"], r["id_b"]) for r in spark.read.parquet(out).collect()
    }
    static = {
        (r["id_a"], r["id_b"])
        for r in banded_pairs(
            mh(to_df(inc1 + inc2)), ["sig_0", "sig_1"], against=base_bands
        ).collect()
    }
    assert streamed == static == {(101, 1), (103, 1), (102, 2)}


def test_drop_duplicates_within_watermark_bounds_state(spark, tmp_path):
    """The documented unbounded-stream dedup path
    (``dropDuplicatesWithinWatermark``): duplicates arriving within the
    watermark horizon are dropped, and rows later than the horizon are
    the state-eviction trade documented in exact_dedup_stream.  Pinned
    so the swap-in recipe in the docstring stays executable."""
    import os

    rows1 = [(1, "alpha", 100), (2, "beta", 110)]
    # doc 3 duplicates doc 1's content inside the 60 s horizon → dropped
    rows2 = [(3, "alpha", 120), (4, "gamma", 130)]
    src = str(tmp_path / "wsrc")
    out = str(tmp_path / "wout")
    ck = str(tmp_path / "wck")

    def to_df(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, sec int"
        ).select("doc_id", "text", F.timestamp_seconds(F.col("sec")).alias("ts"))

    to_df(rows1).coalesce(1).write.parquet(src + "/f=1")
    to_df(rows2).coalesce(1).write.parquet(src + "/f=2")

    stream = (
        spark.readStream.schema(to_df(rows1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f=*")
    )
    deduped = stream.withWatermark("ts", "60 seconds").dropDuplicatesWithinWatermark(
        ["text"]
    )
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 4]


def test_ivf_add_stream_exactly_once_and_batch_equivalent(spark, sf_dir, tmp_path):
    """T5 for streaming_ivf_add_e2e's sink pattern: route an increment
    through a FROZEN quantizer via foreachBatch epoch-dir overwrite in
    MULTIPLE micro-batches, restart with the same checkpoint (no new
    data ⇒ nothing may be added), and assert the final routed state
    equals the single-pass batch assignment — micro-batch-split
    independence is the property that lets the batch oracle certify
    the streaming query."""
    import os

    from vectorsearch_scylla_spark.operators.ivf import (
        assign_clusters,
        lloyd_kmeans,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base_corpus = vecs.filter(F.col("vec_id") % 10 != 7)
    inc = vecs.filter(F.col("vec_id") % 10 == 7)
    cents = lloyd_kmeans(base_corpus, k=8, iters=1)

    src, out_dir, ck = (
        str(tmp_path / "inc_src"),
        str(tmp_path / "added"),
        str(tmp_path / "ck"),
    )
    inc.repartition(4).write.parquet(src)

    def run_phase() -> int:
        def route_batch(batch_df, epoch_id):
            routed = assign_clusters(batch_df, cents, sim_col="__sim")
            routed.select("vec_id", "cluster_id", "__sim").write.mode(
                "overwrite"
            ).parquet(os.path.join(out_dir, f"batch={epoch_id}"))

        stream = (
            spark.readStream.schema(inc.schema)
            .option("maxFilesPerTrigger", 1)  # force ≥4 micro-batches
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(route_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        return spark.read.parquet(out_dir).count()

    n1 = run_phase()
    assert n1 == inc.count()
    # restart with the same checkpoint and no new files: a replayed /
    # re-drained query must add nothing (epoch-dir overwrite, T5)
    n2 = run_phase()
    assert n2 == n1

    # micro-batch-split independence: streamed routing == one-pass batch
    streamed = {
        (r["vec_id"], r["cluster_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    batch = {
        (r["vec_id"], r["cluster_id"])
        for r in assign_clusters(inc, cents).select("vec_id", "cluster_id").collect()
    }
    assert streamed == batch


def test_streaming_ivf_add_source_spans_multiple_microbatches(spark, sf_dir):
    """Pin the r6 ADVICE fix: the REGISTERED streaming_ivf_add_e2e run
    must genuinely span several micro-batches.  The staged increment is
    repartition(16)-materialized (same cache key as the registry query,
    so this asserts the exact files the registered stream reads), and
    with maxFilesPerTrigger=8 more than 8 part files means >= 2
    triggers — previously a single part file drained in one batch and
    the batch-split-independence claim was pytest-only."""
    import os

    from pyspark.sql import functions as F

    from vectorsearch_scylla_spark.plans.registry import _materialize_once
    from vectorsearch_scylla_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    inc = vecs.filter(F.col("vec_id") % 10 == 7)
    src = _materialize_once(
        inc.repartition(16), "vss_ivfadd_src", sf_dir, logic="mod10-7-v2"
    )
    parts = [f for f in os.listdir(src) if f.startswith("part-")]
    assert len(parts) > 8, parts


def test_streaming_neardup_roll_forward_catches_cross_batch_pairs(spark, tmp_path):
    """r9: the continuous near-dup gate's in-stream ROLL-FORWARD — a
    duplicate pair SPLIT ACROSS micro-batches must be caught (the old
    frozen-base probe missed it by construction), exactly once, in the
    LATER doc's epoch, via the epoch-keyed signature artifact; and an
    epoch's own signatures must be invisible to itself (the retry
    guard), so a same-batch pair surfaces only through the within-batch
    self-join.  Mirrors the registered streaming_neardup_e2e loop
    (r10 shape: per-batch fold into the rolled artifact) with a
    hand-built two-batch stream."""
    import os

    from vectorsearch_scylla_spark.operators.dedup import (
        fold_streaming_epochs,
        simhash128,
        simhash_near_dup_pairs,
        streaming_seen_signatures,
    )
    from vectorsearch_scylla_spark.session import drop_inherited_stats

    def to_df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base_rows = [(1, "alpha beta gamma delta epsilon zeta eta theta")]
    # batch 1: 101 dups base 1; 102/103 dup each other (same batch)
    inc1 = [
        (101, "alpha beta gamma delta epsilon zeta eta theta"),
        (102, "one two three four five six seven eight"),
        (103, "one two three four five six seven eight"),
    ]
    # batch 2: 201 dups 102/103 — findable ONLY via the rolled artifact
    inc2 = [(201, "one two three four five six seven eight")]

    sig_root = str(tmp_path / "sigs_seen")
    rolled = str(tmp_path / "sigs_rolled")
    os.makedirs(sig_root, exist_ok=True)
    base_sigs_path = str(tmp_path / "base_sigs")
    simhash128(to_df(base_rows)).write.parquet(base_sigs_path)
    base_sigs = spark.read.parquet(base_sigs_path)
    src = str(tmp_path / "src")
    to_df(inc1).coalesce(1).write.parquet(src + "/f=1")
    to_df(inc2).coalesce(1).write.parquet(src + "/f=2")
    out = str(tmp_path / "pairs")

    def detect(batch_df, epoch_id):
        inc_sigs = drop_inherited_stats(simhash128(batch_df).localCheckpoint())
        fold_streaming_epochs(spark, sig_root, rolled, int(epoch_id))
        seen = streaming_seen_signatures(
            spark, base_sigs, sig_root, rolled, int(epoch_id)
        )
        cross = simhash_near_dup_pairs(
            batch_df, max_hamming=5, docs_sigs=inc_sigs, against_sigs=seen
        )
        within = simhash_near_dup_pairs(batch_df, max_hamming=5, docs_sigs=inc_sigs)
        cross.unionByName(within).select(
            F.least("id_a", "id_b").alias("doc_lo"),
            F.greatest("id_a", "id_b").alias("doc_hi"),
            "hamming",
        ).write.mode("overwrite").parquet(os.path.join(out, f"batch={epoch_id}"))
        inc_sigs.write.mode("overwrite").parquet(
            os.path.join(sig_root, f"epoch={epoch_id}")
        )

    q = (
        spark.readStream.schema(to_df(inc1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f=*")
        .writeStream.foreachBatch(detect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    rows = spark.read.parquet(out).collect()
    pairs = sorted((r["doc_lo"], r["doc_hi"]) for r in rows)
    # every unordered pair exactly once: base↔101, the within-batch
    # 102↔103, and the CROSS-BATCH 102↔201 and 103↔201
    assert pairs == [(1, 101), (102, 103), (102, 201), (103, 201)]
    # the cross-batch pairs were discovered in the LATER doc's epoch
    by_epoch = {
        (r["doc_lo"], r["doc_hi"]): r["batch"]
        for r in spark.read.parquet(out).withColumn(
            "batch",
            F.regexp_extract(F.input_file_name(), r"batch=(\d+)", 1).cast("int"),
        ).collect()
    }
    assert by_epoch[(102, 201)] == by_epoch[(103, 201)] > by_epoch[(102, 103)]


def test_fold_streaming_epochs_bounds_plan(spark, tmp_path):
    """r10 (r9 VERDICT low): the continuous gate's per-batch `seen`
    plan must be CONSTANT in epoch count — fold_streaming_epochs moves
    committed epoch part files into the rolled artifact, so the union
    arity / parquet-scan count after 12 epochs equals the one after 3.
    Also pins fold retry safety (in-flight epoch never folds, its rows
    stay invisible), move-crash tolerance (a half-moved epoch refolds
    to exactly-once rows), and the compaction hook."""
    import contextlib
    import glob
    import io
    import os
    import re

    from vectorsearch_scylla_spark.operators.dedup import (
        fold_streaming_epochs,
        simhash128,
        streaming_seen_signatures,
    )

    def sig_frame(ids):
        return simhash128(
            spark.createDataFrame(
                [(i, f"doc number {i} payload {i * 31}") for i in ids],
                "doc_id long, text string",
            )
        )

    base_sigs = sig_frame(range(1000, 1003))

    def scan_count(n_epochs, root):
        sig_root = str(tmp_path / root / "sigs_seen")
        rolled = str(tmp_path / root / "sigs_rolled")
        os.makedirs(sig_root, exist_ok=True)
        all_ids = []
        for e in range(n_epochs):
            ids = [e * 10, e * 10 + 1]
            all_ids += ids
            sig_frame(ids).write.parquet(os.path.join(sig_root, f"epoch={e}"))
        folded = fold_streaming_epochs(
            spark, sig_root, rolled, current_epoch=n_epochs, compact_at_files=0
        )
        assert folded == n_epochs
        assert not glob.glob(os.path.join(sig_root, "epoch=*"))
        seen = streaming_seen_signatures(
            spark, base_sigs, sig_root, rolled, current_epoch=n_epochs
        )
        # every signature row exactly once after the folds
        got = sorted(r["doc_id"] for r in seen.select("doc_id").collect())
        assert got == sorted([1000, 1001, 1002] + all_ids)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            seen.explain("formatted")
        return len(re.findall(r"\(\d+\) Scan parquet", buf.getvalue()))

    assert scan_count(3, "e3") == scan_count(12, "e12")

    # retry safety: the in-flight epoch's own (failed-attempt) dir
    # neither folds nor reaches `seen`
    sig_root = str(tmp_path / "retry" / "sigs_seen")
    rolled = str(tmp_path / "retry" / "sigs_rolled")
    os.makedirs(sig_root, exist_ok=True)
    sig_frame([10]).write.parquet(os.path.join(sig_root, "epoch=0"))
    sig_frame([77]).write.parquet(os.path.join(sig_root, "epoch=1"))  # retry
    fold_streaming_epochs(spark, sig_root, rolled, current_epoch=1)
    assert os.path.isdir(os.path.join(sig_root, "epoch=1"))
    seen_ids = {
        r["doc_id"]
        for r in streaming_seen_signatures(
            spark, base_sigs, sig_root, rolled, current_epoch=1
        ).collect()
    }
    assert 10 in seen_ids and 77 not in seen_ids

    # crash mid-fold: half the part files already moved — refold
    # completes with every row exactly once (rename moves, never copies)
    sig_root = str(tmp_path / "crash" / "sigs_seen")
    rolled = str(tmp_path / "crash" / "sigs_rolled")
    os.makedirs(sig_root, exist_ok=True)
    os.makedirs(rolled, exist_ok=True)
    sig_frame([50, 51]).repartition(2).write.parquet(
        os.path.join(sig_root, "epoch=0")
    )
    parts = glob.glob(os.path.join(sig_root, "epoch=0", "*.parquet"))
    assert len(parts) == 2
    os.rename(parts[0], os.path.join(rolled, os.path.basename(parts[0])))
    fold_streaming_epochs(spark, sig_root, rolled, current_epoch=1)
    got = sorted(r["doc_id"] for r in spark.read.parquet(rolled).collect())
    assert got == [50, 51]

    # compaction hook: past the file threshold the rolled artifact is
    # rewritten to balanced files, rows preserved
    sig_root = str(tmp_path / "cmp" / "sigs_seen")
    rolled = str(tmp_path / "cmp" / "sigs_rolled")
    os.makedirs(sig_root, exist_ok=True)
    for e in range(4):
        sig_frame([e]).write.parquet(os.path.join(sig_root, f"epoch={e}"))
    fold_streaming_epochs(
        spark, sig_root, rolled, current_epoch=4, compact_at_files=2
    )
    assert len(glob.glob(os.path.join(rolled, "*.parquet"))) <= 2
    got = sorted(r["doc_id"] for r in spark.read.parquet(rolled).collect())
    assert got == [0, 1, 2, 3]

    # crash DURING the auto-compaction of rolled (between its two
    # renames): the rolled artifact is missing, its data stranded at
    # .compact.old — BOTH fold and the seen builder must heal it before
    # touching the live path, or the next fold recreates rolled and the
    # stranded pre-crash signatures are later deleted as debris
    # (r10 review finding — permanent silent data loss)
    import shutil as _sh

    _sh.rmtree(rolled + ".compact.old", ignore_errors=True)
    os.rename(rolled, rolled + ".compact.old")
    os.makedirs(rolled + ".compact.staging")  # stale staging too
    sig_frame([40]).write.parquet(os.path.join(sig_root, "epoch=4"))
    folded = fold_streaming_epochs(
        spark, sig_root, rolled, current_epoch=5, compact_at_files=0
    )
    assert folded == 1
    assert not os.path.exists(rolled + ".compact.old")
    assert not os.path.exists(rolled + ".compact.staging")
    got = sorted(r["doc_id"] for r in spark.read.parquet(rolled).collect())
    assert got == [0, 1, 2, 3, 40]  # pre-crash rows restored + new fold
    # the standalone reader heals the same window
    os.rename(rolled, rolled + ".compact.old")
    seen_ids = {
        r["doc_id"]
        for r in streaming_seen_signatures(
            spark, base_sigs, sig_root, rolled, current_epoch=5
        ).collect()
    }
    assert {0, 1, 2, 3, 40} <= seen_ids

    # cross-device layout fails FAST with an actionable message (the
    # fold must never degrade to copy+delete — that reopens the
    # duplication window renames exist to close)
    import errno
    from unittest import mock

    sig_root2 = str(tmp_path / "xdev" / "sigs_seen")
    rolled2 = str(tmp_path / "xdev" / "sigs_rolled")
    os.makedirs(sig_root2, exist_ok=True)
    sig_frame([7]).write.parquet(os.path.join(sig_root2, "epoch=0"))
    real_rename = os.rename

    def xdev_rename(src, dst):
        if src.endswith(".parquet"):
            raise OSError(errno.EXDEV, "Invalid cross-device link")
        return real_rename(src, dst)

    with mock.patch("os.rename", side_effect=xdev_rename):
        with pytest.raises(OSError, match="different filesystems"):
            fold_streaming_epochs(spark, sig_root2, rolled2, current_epoch=1)


def test_streaming_neardup_roll_forward_survives_restart(spark, tmp_path):
    """r9: the continuous near-dup gate across a STOP/RESUME boundary —
    drain two files, then add a third and resume from the SAME
    checkpoint: the artifact state built before the restart must serve
    the resumed stream (the new doc's only dup arrived pre-restart),
    epochs must not replay (no duplicate pairs), and the final pair set
    must equal the one-shot drain's.  r10: the loop folds per batch, so
    this also pins fold across the restart — the resumed epoch probes
    signatures that were MOVED into the rolled artifact before the
    stop."""
    import os

    from vectorsearch_scylla_spark.operators.dedup import (
        fold_streaming_epochs,
        simhash128,
        simhash_near_dup_pairs,
        streaming_seen_signatures,
    )
    from vectorsearch_scylla_spark.session import drop_inherited_stats

    def to_df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base_rows = [(1, "alpha beta gamma delta epsilon zeta eta theta")]
    f1 = [(101, "alpha beta gamma delta epsilon zeta eta theta")]
    f2 = [(102, "one two three four five six seven eight")]
    f3 = [(201, "one two three four five six seven eight")]  # dups 102 only

    sig_root = str(tmp_path / "sigs_seen")
    rolled = str(tmp_path / "sigs_rolled")
    os.makedirs(sig_root, exist_ok=True)
    base_sigs_path = str(tmp_path / "base_sigs")
    simhash128(to_df(base_rows)).write.parquet(base_sigs_path)
    base_sigs = spark.read.parquet(base_sigs_path)
    src = str(tmp_path / "src")
    out = str(tmp_path / "pairs")

    def detect(batch_df, epoch_id):
        inc_sigs = drop_inherited_stats(simhash128(batch_df).localCheckpoint())
        fold_streaming_epochs(spark, sig_root, rolled, int(epoch_id))
        seen = streaming_seen_signatures(
            spark, base_sigs, sig_root, rolled, int(epoch_id)
        )
        cross = simhash_near_dup_pairs(
            batch_df, max_hamming=5, docs_sigs=inc_sigs, against_sigs=seen
        )
        within = simhash_near_dup_pairs(batch_df, max_hamming=5, docs_sigs=inc_sigs)
        cross.unionByName(within).select(
            F.least("id_a", "id_b").alias("doc_lo"),
            F.greatest("id_a", "id_b").alias("doc_hi"),
            "hamming",
        ).write.mode("overwrite").parquet(os.path.join(out, f"batch={epoch_id}"))
        inc_sigs.write.mode("overwrite").parquet(
            os.path.join(sig_root, f"epoch={epoch_id}")
        )

    def drain():
        q = (
            spark.readStream.schema(to_df(f1).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/f=*")
            .writeStream.foreachBatch(detect)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    # phase 1: two files, drain to completion, stream stops
    to_df(f1).coalesce(1).write.parquet(src + "/f=1")
    to_df(f2).coalesce(1).write.parquet(src + "/f=2")
    drain()
    first = sorted(
        (r["doc_lo"], r["doc_hi"]) for r in spark.read.parquet(out).collect()
    )
    assert first == [(1, 101)]

    # phase 2: a third file arrives; RESUME from the same checkpoint
    to_df(f3).coalesce(1).write.parquet(src + "/f=3")
    drain()
    final = sorted(
        (r["doc_lo"], r["doc_hi"]) for r in spark.read.parquet(out).collect()
    )
    # 201's only dup (102) arrived BEFORE the restart — found via the
    # persisted artifact; pre-restart pairs present exactly once
    assert final == [(1, 101), (102, 201)]


def test_fold_heals_rolled_even_without_sig_root(spark, tmp_path):
    """r11 (r10 ADVICE low): a standalone maintenance caller whose
    sig_root was removed (or never created) still owns a possibly
    mid-swap rolled artifact — fold_streaming_epochs must heal a
    crashed compaction BEFORE its sig_root early-return, or the
    stranded .compact.old is later mistaken for post-promote debris
    and deleted (permanent loss)."""
    import os

    from vectorsearch_scylla_spark.operators.dedup import (
        fold_streaming_epochs,
    )

    rolled = str(tmp_path / "rolled_only")
    spark.createDataFrame(
        [(i, i * 3) for i in range(4)], "doc_id long, sig long"
    ).write.parquet(rolled)
    # crash between the compactor's two renames: live dir missing
    os.rename(rolled, rolled + ".compact.old")
    os.makedirs(rolled + ".compact.staging")
    folded = fold_streaming_epochs(
        spark, str(tmp_path / "no_such_sig_root"), rolled, current_epoch=9
    )
    assert folded == 0
    # the heal ran anyway: artifact restored, crash debris gone
    assert os.path.isdir(rolled)
    assert not os.path.exists(rolled + ".compact.old")
    assert not os.path.exists(rolled + ".compact.staging")
    got = sorted(r["doc_id"] for r in spark.read.parquet(rolled).collect())
    assert got == [0, 1, 2, 3]


def test_fold_streaming_epochs_partitioned_layout(spark, tmp_path):
    """r11: the cluster-routed IVF add stream writes each epoch
    partitionBy("cluster_id") — the fold must move each partition's
    files into the SAME cluster_id= subdir of the rolled store (layout
    and pruning preserved), the auto-compaction hook must take the
    partition-aware branch (never flatten), and the per-batch read
    plan must stay constant in epoch count, mirroring the flat-layout
    guarantee test_fold_streaming_epochs_bounds_plan pins."""
    import contextlib
    import glob
    import io
    import os
    import re

    from vectorsearch_scylla_spark.operators.dedup import (
        fold_streaming_epochs,
    )

    def routed_frame(ids):
        return spark.createDataFrame(
            [(i, i % 3, 0.5 + i / 100.0) for i in ids],
            "vec_id long, cluster_id int, sim double",
        )

    def scan_count(n_epochs, root):
        sig_root = str(tmp_path / root / "epochs")
        rolled = str(tmp_path / root / "rolled")
        os.makedirs(sig_root, exist_ok=True)
        all_ids = []
        for e in range(n_epochs):
            ids = [e * 10, e * 10 + 1, e * 10 + 2]
            all_ids += ids
            routed_frame(ids).write.partitionBy("cluster_id").parquet(
                os.path.join(sig_root, f"epoch={e}")
            )
        folded = fold_streaming_epochs(
            spark, sig_root, rolled, current_epoch=n_epochs, compact_at_files=0
        )
        assert folded == n_epochs
        # layout preserved: files live under cluster_id= dirs, none at root
        assert not glob.glob(os.path.join(rolled, "*.parquet"))
        assert sorted(
            d for d in os.listdir(rolled) if d.startswith("cluster_id=")
        ) == [f"cluster_id={c}" for c in range(3)]
        got = sorted(r["vec_id"] for r in spark.read.parquet(rolled).collect())
        assert got == sorted(all_ids)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            spark.read.parquet(rolled).explain("formatted")
        return len(re.findall(r"\(\d+\) Scan parquet", buf.getvalue()))

    assert scan_count(2, "p2") == scan_count(8, "p8")

    # auto-compaction past the recursive file threshold takes the
    # partition-aware branch: still one dir per cluster, fewer files,
    # rows exact, pruning alive
    sig_root = str(tmp_path / "pc" / "epochs")
    rolled = str(tmp_path / "pc" / "rolled")
    os.makedirs(sig_root, exist_ok=True)
    all_ids = []
    for e in range(4):
        ids = [e * 10, e * 10 + 1, e * 10 + 2]
        all_ids += ids
        routed_frame(ids).write.partitionBy("cluster_id").parquet(
            os.path.join(sig_root, f"epoch={e}")
        )
    fold_streaming_epochs(
        spark, sig_root, rolled, current_epoch=4, compact_at_files=5
    )
    files = glob.glob(os.path.join(rolled, "**", "*.parquet"), recursive=True)
    assert len(files) <= 5
    assert not glob.glob(os.path.join(rolled, "*.parquet"))  # never flattened
    got = sorted(r["vec_id"] for r in spark.read.parquet(rolled).collect())
    assert got == sorted(all_ids)
    pruned = spark.read.parquet(rolled).filter("cluster_id = 1")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    assert "PartitionFilters: [" in buf.getvalue()
    assert {r["cluster_id"] for r in pruned.collect()} == {1}


def test_fold_streaming_epochs_refuses_layout_mix(spark, tmp_path):
    """r11 review (verified by execution before the guard existed): a
    flat epoch folded into the same rolled_dir as a partitioned epoch
    produced a mixed artifact whose ROOT-level rows every Spark read
    silently dropped — rolled signatures vanished and duplicates
    passed the gate.  The fold must refuse all three mix shapes
    BEFORE moving anything: mixed epoch dir, flat-epoch-into-
    partitioned-rolled, partitioned-epoch-into-flat-rolled — and
    matched layouts must keep folding.

    r12 (r11 ADVICE): the refusal is now ALL-OR-NOTHING at the batch
    level — every pending epoch is layout-classified before the first
    move, so a mixed batch refuses with ZERO epochs folded instead of
    leaving earlier epochs already moved."""
    import os

    import pytest

    from vectorsearch_scylla_spark.operators.dedup import (
        fold_streaming_epochs,
    )

    flat = spark.createDataFrame(
        [(1, 0.5)], "vec_id long, sim double"
    )
    routed = spark.createDataFrame(
        [(2, 1, 0.5)], "vec_id long, cluster_id int, sim double"
    )

    # flat epoch + partitioned epoch under ONE sig_root: the pre-scan
    # sees epoch 0 would fix the rolled layout to flat and epoch 1
    # conflicts — the whole batch refuses with ZERO epochs moved
    sig_root = str(tmp_path / "mix" / "epochs")
    rolled = str(tmp_path / "mix" / "rolled")
    os.makedirs(sig_root, exist_ok=True)
    flat.write.parquet(os.path.join(sig_root, "epoch=0"))
    routed.write.partitionBy("cluster_id").parquet(
        os.path.join(sig_root, "epoch=1")
    )
    with pytest.raises(ValueError, match="mixed layout|is partitioned"):
        fold_streaming_epochs(
            spark, sig_root, rolled, current_epoch=2, compact_at_files=0
        )
    # all-or-nothing: nothing arrived in the rolled store and BOTH
    # epoch dirs are untouched — re-layout and refold starts clean
    assert not os.path.isdir(rolled)
    assert os.path.isdir(os.path.join(sig_root, "epoch=0"))
    assert os.path.isdir(os.path.join(sig_root, "epoch=1"))

    # a single epoch dir that ITSELF mixes layouts is refused outright
    sig2 = str(tmp_path / "mix2" / "epochs")
    rolled2 = str(tmp_path / "mix2" / "rolled")
    os.makedirs(sig2, exist_ok=True)
    flat.write.parquet(os.path.join(sig2, "epoch=0"))
    routed.write.partitionBy("cluster_id").mode("append").parquet(
        os.path.join(sig2, "epoch=0")
    )
    with pytest.raises(ValueError, match="mixes root part files"):
        fold_streaming_epochs(
            spark, sig2, rolled2, current_epoch=1, compact_at_files=0
        )

    # matched layouts still fold (both directions)
    for tag, frame, writer in (
        ("ff", flat, lambda df, p: df.write.parquet(p)),
        (
            "pp",
            routed,
            lambda df, p: df.write.partitionBy("cluster_id").parquet(p),
        ),
    ):
        sroot = str(tmp_path / tag / "epochs")
        rdir = str(tmp_path / tag / "rolled")
        os.makedirs(sroot, exist_ok=True)
        writer(frame, os.path.join(sroot, "epoch=0"))
        writer(frame, os.path.join(sroot, "epoch=1"))
        assert (
            fold_streaming_epochs(
                spark, sroot, rdir, current_epoch=2, compact_at_files=0
            )
            == 2
        )
        assert spark.read.parquet(rdir).count() == 2


def test_ivf_add_stream_rejects_unknown_maintenance_keys(spark, tmp_path):
    """A ``maintenance`` key ivf_add_stream does not read must raise
    before anything touches the store — a caller passing a removed
    option would otherwise silently get a different audit."""
    import os

    from vectorsearch_scylla_spark.streaming.pipeline import ivf_add_stream

    base = str(tmp_path / "work")
    for key, value in (("audit_source", "recent"), ("commission_margin", 0.1)):
        with pytest.raises(ValueError, match=key):
            ivf_add_stream(
                spark, str(tmp_path / "src"), None, [], str(tmp_path / "lists"),
                base, maintenance={"recall_budget": 0.9, key: value},
            )
    assert not os.path.exists(base)


def test_ivf_add_stream_maintenance_fires_in_stream(spark, tmp_path):
    """r12 (r11 VERDICT task 6): the composed maintenance ladder must
    fire INSIDE the add stream, not only as a batch job.  Fixture: a
    frozen 2-centroid quantizer over two clean directional clusters;
    the stream then delivers a drift-day — vectors on the diagonal
    BETWEEN the centroids, whose nearest neighbors scatter across
    both lists — so the era grid (nprobe=1 of 2) exhausts below
    budget mid-stream, the retrain rung fires, a new store generation
    swaps in, and the remaining micro-batches route through the
    refreshed quantizer."""
    import json
    import os

    from vectorsearch_scylla_spark.operators.ivf import assign_clusters_np
    from vectorsearch_scylla_spark.streaming.pipeline import ivf_add_stream

    dim = 4
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    base_rows = [
        (i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(20)
    ] + [
        (100 + i, [0.001 * i, 1.0, 0.0, 0.0]) for i in range(20)
    ]
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    base_lists = str(tmp_path / "base_lists")
    assign_clusters_np(base, cents, dtype="float64").write.partitionBy(
        "cluster_id"
    ).parquet(base_lists)

    # drift: PAIRS straddling the decision boundary (second coordinate
    # 1 ± ε decides the frozen routing), spread along a coordinate
    # NEITHER centroid sees (t = 0.02·pair) — so each vector's exact
    # top-5 is its opposite-side partner plus both members of the
    # adjacent pairs (~3 of 5 on the other list), while frozen nprobe=1
    # probing only ever sees its own side: recall ≈ 0.4 on drifted
    # queries, pulling the committed-view audit below budget
    drift_rows = [
        (
            1000 + i,
            [1.0, 1.0 + (0.0005 if i % 2 else -0.0005), 0.02 * (i // 2), 0.0],
        )
        for i in range(32)
    ]
    drift = spark.createDataFrame(
        drift_rows, "vec_id long, embedding array<double>"
    )
    src = str(tmp_path / "src")
    drift.repartition(4).write.parquet(src)

    work = str(tmp_path / "work")
    os.makedirs(work)
    state = ivf_add_stream(
        spark,
        src,
        drift.schema,
        cents,
        base_lists,
        work,
        max_files_per_trigger=1,  # 4 part files -> 4 micro-batches
        compact_at_files=0,
        maintenance={
            "recall_budget": 0.9,
            "nprobe_grid": (1,),
            "post_retrain_grid": (1, 2, 3),
            "retrain_k": 3,
            "every": 2,
            "max_audit_queries": 64,
        },
    )
    assert state["epochs"] == 4

    # the maintenance day ran at epoch 2 and escalated to retrain
    fired = [r for r in state["reports"] if "retrain" in r["actions"]]
    assert fired, f"no retrain fired; reports={state['reports']}"
    rep = fired[0]
    assert rep["epoch"] == 2
    assert rep["actions"] == ["retune", "retrain", "retune"]
    # the era grid exhausted below budget, the fresh tiling holds it
    assert max(rep["retune"]["recall_at"].values()) < 0.9
    assert rep["nprobe"] is not None
    assert rep["retune_after_retrain"]["recall_at"][rep["nprobe"]] >= 0.9
    # shared retrain-report contract (r14, operators/report.py): the
    # nested retrain report carries the cross-family keys with the
    # legacy aliases in sync
    rr = rep["retrain"]
    assert rr["fired"] is True and rr["retrained"] is True
    assert rr["rolled_back"] is False
    assert rr["audit_metric"] == "id_set"
    assert rr["budget"] == rr["recall_budget"] == 0.9
    assert rr["metric_before"] == rr["recall_before"] < 0.9
    assert rr["metric_after"] == rr["recall_after"]

    # generation swapped: partitioned store dir + co-located quantizer
    assert state["generation"] == 1 and state["store"] is not None
    assert os.path.isdir(state["store"])
    assert any(
        d.startswith("cluster_id=") for d in os.listdir(state["store"])
    )
    with open(os.path.join(state["store"], "_centroids.json")) as f:
        persisted = [(int(c), v) for c, v in json.load(f)]
    assert persisted == [(int(c), list(map(float, v))) for c, v in state["cents"]]
    # retrain asked for k=3; k-means may drop an empty cluster
    assert len(state["cents"]) == rep["k_after"] >= 2

    # nothing lost: store (re-routed base + pre-fire adds) ∪ rolled
    # (post-fire adds) is exactly base ∪ streamed, each id once
    store_df = spark.read.parquet(state["store"])
    rolled_df = spark.read.parquet(state["rolled"])
    all_ids = sorted(
        r["vec_id"] for r in store_df.unionByName(
            rolled_df.select(store_df.columns), allowMissingColumns=False
        ).collect()
    )
    assert all_ids == sorted(
        [r[0] for r in base_rows] + [r[0] for r in drift_rows]
    )

    # post-fire batches route through the REFRESHED quantizer: the
    # rolled rows' assignments must equal the new-centroid argmax
    expected = {
        r["vec_id"]: r["cluster_id"]
        for r in assign_clusters_np(
            rolled_df.select("vec_id", "embedding"),
            state["cents"],
            dtype="float64",
        ).collect()
    }
    for r in rolled_df.collect():
        assert int(r["cluster_id"]) == int(expected[r["vec_id"]])

    # RESTART after the escalation: re-entering with the same
    # base_dir + checkpoint must resume from the persisted generation
    # (its _centroids.json overrides the caller's stale initials) and,
    # with no new source files, drain zero batches and mutate nothing
    state_r = ivf_add_stream(
        spark,
        src,
        drift.schema,
        cents,  # the STALE initials — resume must ignore them
        base_lists,
        work,
        max_files_per_trigger=1,
        compact_at_files=0,
        maintenance={
            "recall_budget": 0.9,
            "nprobe_grid": (1,),
            "post_retrain_grid": (1, 2, 3),
            "retrain_k": 3,
            "every": 2,
            "max_audit_queries": 64,
        },
    )
    assert state_r["epochs"] == 0 and state_r["reports"] == []
    assert state_r["generation"] == 1
    assert state_r["cents"] == [
        (int(c), list(map(float, v))) for c, v in state["cents"]
    ]
    assert state_r["store"] == state["store"]

    # CRASH HEAL: simulate a crash between the generation rename and
    # the rolled reset — absorbed rows sit in BOTH stores.  Re-entry
    # must drop exactly the absorbed ids from rolled (they'd
    # double-count in the committed view) and keep post-fire adds.
    survivors = sorted(r["vec_id"] for r in rolled_df.collect())
    assert survivors  # post-fire epoch rows are present
    store_df.limit(3).select(
        "vec_id", "embedding", F.lit(0.5).alias("__sim"), "cluster_id"
    ).write.mode("append").partitionBy("cluster_id").parquet(state["rolled"])
    spark.catalog.refreshByPath(state["rolled"])
    # the real crash window closes BEFORE the swap-completed marker is
    # written — a faithful simulation must remove it, or the entry
    # rightly trusts the marker and skips the heal
    os.remove(os.path.join(state["store"], "_rolled_absorbed"))
    state_h = ivf_add_stream(
        spark,
        src,
        drift.schema,
        cents,
        base_lists,
        work,
        max_files_per_trigger=1,
        compact_at_files=0,
    )
    healed = sorted(
        r["vec_id"] for r in spark.read.parquet(state_h["rolled"]).collect()
    )
    assert healed == survivors

    # GENERATION RETIREMENT: a crash between a swap's rename and the
    # superseded-generation delete leaves two gens on disk — re-entry
    # keeps only the newest.  Fabricate a stranded OLDER generation
    # and re-enter: it must be swept, the newest stays live.
    import shutil as _shutil

    stale_gen = os.path.join(work, "store_gen0")
    _shutil.copytree(state["store"], stale_gen)
    state_g = ivf_add_stream(
        spark,
        src,
        drift.schema,
        cents,
        base_lists,
        work,
        max_files_per_trigger=1,
        compact_at_files=0,
    )
    assert not os.path.isdir(stale_gen)
    assert state_g["store"] == state["store"] and state_g["generation"] == 1

    # and a healthy-budget twin never escalates: audit-only days, no
    # generation bump — the regime the registered query certifies
    work2 = str(tmp_path / "work2")
    os.makedirs(work2)
    state2 = ivf_add_stream(
        spark,
        src,
        drift.schema,
        cents,
        base_lists,
        work2,
        max_files_per_trigger=1,
        compact_at_files=0,
        maintenance={
            "recall_budget": 0.9,
            "nprobe_grid": (1, 2),  # the probe-ALL ceiling
            "every": 2,
            "max_audit_queries": 64,
        },
    )
    assert state2["generation"] == 0 and state2["store"] is None
    assert state2["reports"] and all(
        r["actions"] == ["retune"] and r["nprobe"] is not None
        for r in state2["reports"]
    )


def test_resume_recovers_generation_swap_crash_debris(spark, tmp_path):
    """r12 ADVICE (crash-safety of the shared generation machinery):
    the entry-side recovery in ``_resume_newest_generation`` must (a)
    heal the rolled store's FIXED-NAME two-rename heal swap at any
    crash point — mid-swap (live dir missing, pre-heal copy at
    ``.heal.old``) restores then re-heals; post-promote (stale
    ``.heal.old`` beside a live dir) deletes the debris — (b) sweep
    stranded ``store_gen*.staging.*`` dirs a crashed
    ``_swap_in_generation`` write left behind, and (c) match crash
    residue on ``(id, vector)``, not id alone, so a legitimately
    re-ingested id with an UPDATED vector survives the heal."""
    import json
    import os

    from vectorsearch_scylla_spark.streaming.pipeline import (
        _resume_newest_generation,
    )

    base = str(tmp_path / "pqwork")
    os.makedirs(base)
    rolled = os.path.join(base, "rolled")
    gen_dir = os.path.join(base, "store_gen1")
    schema = "vec_id long, embedding array<double>"

    # newest generation holds ids 1,2,5,6 (5 and 6 matter for the
    # (id, vector) match below)
    spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (5, [1.0, 1.0]),
            (6, [2.0, 0.0]),
        ],
        schema,
    ).write.parquet(gen_dir)
    with open(os.path.join(gen_dir, "_centroids.json"), "w") as f:
        json.dump([[0, [1.0, 0.0]]], f)

    # crash shape (a)-mid-swap: no live rolled dir; the pre-heal copy
    # sits at .heal.old (id 2 = absorbed residue, id 3 = survivor,
    # id 5 = UPDATED vector for a generation id, id 6 = bit-identical
    # re-add) and a completed-but-unpromoted staging dir lingers
    spark.createDataFrame(
        [
            (2, [0.0, 1.0]),
            (3, [0.5, 0.5]),
            (5, [9.0, 9.0]),
            (6, [2.0, 0.0]),
        ],
        schema,
    ).write.parquet(f"{rolled}.heal.old")
    spark.createDataFrame([(3, [0.5, 0.5])], schema).write.parquet(
        f"{rolled}.heal.staging"
    )
    # crash shape (b): a swap that died mid-write stranded a staging
    # generation dir
    os.makedirs(os.path.join(base, "store_gen2.staging.deadbeef"))

    got_dir, got_gen, sidecar = _resume_newest_generation(
        spark, base, rolled, "vec_id", "_centroids.json", None,
        vec_col="embedding",
    )
    assert got_dir == gen_dir and got_gen == 1
    assert sidecar == [[0, [1.0, 0.0]]]
    assert not os.path.exists(f"{rolled}.heal.old")
    assert not os.path.exists(f"{rolled}.heal.staging")
    assert not os.path.exists(os.path.join(base, "store_gen2.staging.deadbeef"))
    healed = {
        r["vec_id"]: list(r["embedding"])
        for r in spark.read.parquet(rolled).collect()
    }
    # residue (2, identical) and re-add (6, identical) dropped; true
    # survivor (3) and updated-vector re-ingest (5) kept
    assert healed == {3: [0.5, 0.5], 5: [9.0, 9.0]}

    # crash shape (a)-post-promote: stale .heal.old beside a live
    # rolled dir — live wins, debris deleted, rolled untouched
    spark.createDataFrame([(2, [0.0, 1.0])], schema).write.parquet(
        f"{rolled}.heal.old"
    )
    got_dir2, got_gen2, _ = _resume_newest_generation(
        spark, base, rolled, "vec_id", "_centroids.json", None,
        vec_col="embedding",
    )
    assert got_dir2 == gen_dir and got_gen2 == 1
    assert not os.path.exists(f"{rolled}.heal.old")
    healed2 = {
        r["vec_id"]: list(r["embedding"])
        for r in spark.read.parquet(rolled).collect()
    }
    assert healed2 == healed

    # legacy (pre-fixed-name) uuid-suffixed heal debris: when the live
    # rolled dir is MISSING, the single surviving pre-heal copy must be
    # RESTORED, not swept (sweeping it would destroy the only copy of
    # the unabsorbed rows); the heal then recomputes idempotently
    import shutil as _sh

    _sh.rmtree(rolled)
    # pre-marker-era crash: no swap-completed marker existed
    os.remove(os.path.join(gen_dir, "_rolled_absorbed"))
    spark.createDataFrame(
        [(2, [0.0, 1.0]), (7, [3.0, 3.0])], schema
    ).write.parquet(f"{rolled}.healed.deadbeef")
    got_dir3, _, _ = _resume_newest_generation(
        spark, base, rolled, "vec_id", "_centroids.json", None,
        vec_col="embedding",
    )
    assert got_dir3 == gen_dir
    assert not os.path.exists(f"{rolled}.healed.deadbeef")
    restored = {
        r["vec_id"]: list(r["embedding"])
        for r in spark.read.parquet(rolled).collect()
    }
    # id 2 was absorbed residue (dropped by the recomputed heal);
    # id 7 is the surviving unabsorbed row
    assert restored == {7: [3.0, 3.0]}

    # swap-completed marker: with _rolled_absorbed present (the heal
    # above just rewrote it), a re-entry must SKIP the corpus-sized
    # heal check entirely — bit-identical residue survives, proving
    # the skip (the marker's contract: it only exists when the swap's
    # crash window closed cleanly, so there is no residue to find)
    assert os.path.isfile(os.path.join(gen_dir, "_rolled_absorbed"))
    spark.createDataFrame([(1, [1.0, 0.0])], schema).write.mode(
        "append"
    ).parquet(rolled)
    spark.catalog.refreshByPath(rolled)
    got_dir4, _, _ = _resume_newest_generation(
        spark, base, rolled, "vec_id", "_centroids.json", None,
        vec_col="embedding",
    )
    assert got_dir4 == gen_dir
    skipped = sorted(r["vec_id"] for r in spark.read.parquet(rolled).collect())
    assert skipped == [1, 7]  # the duplicate of gen-row 1 was NOT dropped

    # ambiguity (two legacy pre-heal copies, no live dir) refuses
    # loudly instead of guessing
    _sh.rmtree(rolled)
    for tag in ("aa", "bb"):
        spark.createDataFrame([(7, [3.0, 3.0])], schema).write.parquet(
            f"{rolled}.healed.{tag}"
        )
    with pytest.raises(RuntimeError, match="cannot pick the survivor"):
        _resume_newest_generation(
            spark, base, rolled, "vec_id", "_centroids.json", None,
            vec_col="embedding",
        )


def test_generation_swap_crash_states_all_converge(spark, tmp_path):
    """r13: enumerate the on-disk states a crash can leave at EACH
    step of the generation swap (staged write → atomic rename →
    rolled reset → swap-completed marker → superseded-generation
    delete) and assert the next entry converges every one of them to
    the correct committed view with no data loss, no duplicates, and
    no debris.  The swap absorbs rolled rows B into the new generation
    (A ∪ B), so the correct view is: pre-swap (A in gen1 + B in
    rolled) while the rename has not happened, post-swap (A ∪ B)
    after it — including the nasty middle states: a PARTIALLY deleted
    rolled dir (rmtree is not atomic; the survivors are bit-identical
    residue the (id, vector) heal must drop), a rolled dir whose
    rmtree got far enough to leave NO parquet part files (r13 ADVICE
    — isdir() true but spark.read.parquet raises; must converge, not
    fail-stop), and a not-yet-retired gen1."""
    import json
    import os
    import shutil

    from vectorsearch_scylla_spark.streaming import genstore
    from vectorsearch_scylla_spark.streaming.pipeline import (
        _resume_newest_generation,
    )

    schema = "vec_id long, embedding array<double>"
    rows_a = [(1, [1.0, 0.0]), (2, [0.0, 1.0])]
    rows_b = [(10, [0.5, 0.5]), (11, [0.25, 0.75])]
    sidecar1, sidecar2 = [[0, [1.0, 0.0]]], [[0, [0.9, 0.1]]]

    def write_gen(base, name, rows, sidecar_obj, marker):
        d = os.path.join(base, name)
        spark.createDataFrame(rows, schema).write.parquet(d)
        with open(os.path.join(d, "_centroids.json"), "w") as f:
            json.dump(sidecar_obj, f)
        if marker:
            with open(os.path.join(d, "_rolled_absorbed"), "w") as f:
                f.write("")

    def build(base: str, *, staging: bool, gen2: bool, rolled_rows,
              gen2_marker: bool, gen1_alive: bool, rolled_empty=False):
        os.makedirs(base)
        if gen1_alive:
            write_gen(base, "store_gen1", rows_a, sidecar1, marker=True)
        if staging:
            # an uncommitted gen-2 write the rename never promoted
            write_gen(base, "store_gen2.staging.cafe01", rows_a + rows_b,
                      sidecar2, marker=False)
        if gen2:
            write_gen(base, "store_gen2", rows_a + rows_b, sidecar2,
                      marker=gen2_marker)
        if rolled_rows:
            spark.createDataFrame(rolled_rows, schema).write.parquet(
                os.path.join(base, "rolled")
            )
        elif rolled_empty:
            # mid-rmtree crash that got all the part files but not the
            # dir: only a _SUCCESS marker survives
            os.makedirs(os.path.join(base, "rolled"))
            with open(os.path.join(base, "rolled", "_SUCCESS"), "w") as f:
                f.write("")

    # (name, state kwargs, expected (generation, sidecar, view rows))
    post = (2, sidecar2, sorted(r[0] for r in rows_a + rows_b))
    pre = (1, sidecar1, sorted(r[0] for r in rows_a + rows_b))
    cases = [
        # crash after the staging write, before the rename: swap never
        # happened — pre-swap state stands, uncommitted write swept
        ("staged-only", dict(staging=True, gen2=False, rolled_rows=rows_b,
                             gen2_marker=False, gen1_alive=True), pre),
        # crash right after the rename: rolled fully intact — every
        # rolled row is absorbed residue, heal empties it
        ("renamed", dict(staging=False, gen2=True, rolled_rows=rows_b,
                         gen2_marker=False, gen1_alive=True), post),
        # crash mid-rmtree of rolled: a strict subset survives
        ("partial-reset", dict(staging=False, gen2=True,
                               rolled_rows=rows_b[:1],
                               gen2_marker=False, gen1_alive=True), post),
        # crash mid-rmtree that removed every part file but not the
        # dir (r13 ADVICE): a part-less rolled dir must read as
        # already-reset, not fail-stop every restart
        ("empty-rolled", dict(staging=False, gen2=True, rolled_rows=[],
                              rolled_empty=True,
                              gen2_marker=False, gen1_alive=True), post),
        # crash after the reset, before the marker
        ("reset-no-marker", dict(staging=False, gen2=True, rolled_rows=[],
                                 gen2_marker=False, gen1_alive=True), post),
        # crash after the marker, before gen1 retirement
        ("marked-unretired", dict(staging=False, gen2=True, rolled_rows=[],
                                  gen2_marker=True, gen1_alive=True), post),
    ]
    for name, kw, (exp_gen, exp_sidecar, exp_ids) in cases:
        base = str(tmp_path / name)
        build(base, **kw)
        rolled = os.path.join(base, "rolled")
        for attempt in (1, 2):  # second entry pins idempotence
            gen_dir, gen_n, obj = _resume_newest_generation(
                spark, base, rolled, "vec_id", "_centroids.json", None,
                vec_col="embedding",
            )
            assert gen_n == exp_gen, (name, attempt, gen_n)
            assert obj == exp_sidecar, (name, attempt)
            view = spark.read.parquet(gen_dir)
            if os.path.isdir(rolled):
                view = view.unionByName(spark.read.parquet(rolled))
            got = sorted(r["vec_id"] for r in view.collect())
            assert got == exp_ids, (name, attempt, got)
            # converged: no staging/heal debris, marker present,
            # exactly the expected store remains
            left = sorted(os.listdir(base))
            assert not any(
                ".staging." in d or ".heal" in d for d in left
            ), (name, attempt, left)
            assert genstore.rolled_absorbed(gen_dir), (name, attempt)
            gens_left = [d for d in left if d.startswith("store_gen")]
            assert gens_left == [f"store_gen{exp_gen}"], (name, attempt, left)
        shutil.rmtree(base, ignore_errors=True)


def test_adaptive_stream_partitions_scale_adaptive(spark, tmp_path):
    """r15 optimization: stateful-stream shuffle partitions derive from
    source size (AQE cannot coalesce streaming state partitions), are
    floored for small sources, and are CAPPED at the session's
    configured spark.sql.shuffle.partitions so cluster tuning wins at
    scale."""
    from vectorsearch_scylla_spark.streaming.pipeline import (
        adaptive_stream_partitions,
        stream_shuffle_partitions,
    )

    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # tiny source -> floor
    small = tmp_path / "small"
    small.mkdir()
    (small / "part-0.parquet").write_bytes(b"x" * 1024)
    (small / "_SUCCESS").write_bytes(b"")  # metadata files don't count
    assert adaptive_stream_partitions(spark, str(small)) == min(4, conf_parts)

    # size-derived growth: 5 x 16 MB -> 5 partitions (if conf allows)
    big = tmp_path / "big"
    big.mkdir()
    for i in range(5):
        (big / f"part-{i}.parquet").write_bytes(b"x" * (16 << 20))
    assert adaptive_stream_partitions(spark, str(big)) == min(5, conf_parts)

    # never exceeds the configured value, however big the source claims
    huge = tmp_path / "huge"
    huge.mkdir()
    (huge / "part-0.parquet").write_bytes(b"x" * (16 << 20))
    assert (
        adaptive_stream_partitions(
            spark, *([str(huge)] * (conf_parts + 7))
        )
        <= conf_parts
    )

    # the context manager restores the session conf even on error
    with stream_shuffle_partitions(spark, 3):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(conf_parts)
