"""Physical-plan regression tests: assert the execution SHAPE of the
headline queries, not just their results.

These guard the properties that make the engine viable at 100 TB and
that a green correctness row cannot see:
- no accidental CartesianProduct anywhere;
- BroadcastNestedLoopJoin only where the build side is a bounded
  constant (the fleet simulator's literal device×tick grid);
- no ``collect_list`` in the near-dup pair plans — the round-1 SimHash
  scheme materialized whole LSH bands as single in-memory arrays,
  which OOMs when one band holds millions of docs; the banded
  per-band equi-join must never silently regress to that;
- parquet filter pushdown reaches the scan for the range-scan family
  (a scan that reads everything to apply a time filter is wrong).
"""

from __future__ import annotations

import contextlib
import io

import pytest

from vectorsearch_scylla_spark.plans.registry import REGISTRY

# BNLJ allowed: build side is a literal VALUES/range (bounded, tiny),
# a 1-row broadcast scalar (tfidf's corpus-size cross join), or the PQ
# LUT build (queries × m·ksub codebook entries, bounded broadcast).
_BNLJ_OK = {
    "fleet_simulator",
    "tfidf_top_terms",
    "unigram_logprob_score",
    "pq_knn",
    "ivfpq_knn",
    "retention_sweep",  # 1-row broadcast scalar (the cutoff aggregate)
}
# collect_list allowed: per-group cardinality is structurally bounded.
# Empty since r16 — device_profile_build's fused fixed-metric build
# (operators/profiles.build_profiles_fixed_metrics) dropped its map
# assembly; the set stays as the documented escape hatch.
_COLLECT_LIST_OK: set = set()

# Batch queries whose plan shape we pin.  Streaming queries are
# excluded (building them runs the stream); so are queries that only
# re-derive one of these shapes.
_PINNED = [
    "pricing_summary",
    "range_scan",
    "latest_event_per_user",
    "top_orders_per_customer",
    "market_share",
    "asof_nearest_join",
    "zscore_outliers",
    "threshold_rules",
    "window_pivot_snapshot",
    "path2_anomaly",
    "detect_consensus",
    "device_profile_build",
    "similar_state_metric_diff",
    "knn_bruteforce",
    "knn_distributed",
    "sq8_knn",
    "sq8_ivf_knn",
    "knn_same_label",
    "ivf_sampled_train_knn",
    "ivf_grouped_knn",
    "ann_recall_report",
    "ivf_incremental_add",
    "lsh_knn",
    "pq_knn",
    "ivfpq_knn",
    "ivfpq_residual_knn",
    "path3_novelty_flags",
    "dedup_exact",
    "minhash_dup_buckets",
    "simhash_dup_pairs",
    "dedup_incremental",
    "ngram_jaccard_incremental",
    "dedup_clusters_union_cascade",
    "chunk_dedup",
    "ngram_jaccard_pairs",
    "embedding_neardup_pairs",
    "text_quality",
    "language_id",
    "media_byte_features",
    "fleet_simulator",
    "benchmark_decontam",
    "token_packing",
    "doc_chunking",
    "pii_redaction",
    "source_mix_summary",
    "event_sessionization",
    "tfidf_top_terms",
    "approx_distinct_check",
    "source_lang_rollup",
    "metric_percentiles",
    "resample_daily_locf",
    "customer_order_coverage",
    "bpe_token_estimate",
    "event_props_stats",
    "domain_doc_cap",
    "token_budget_sample",
    "doc_repetition_stats",
    "semantic_dedup_keepers",
    "unigram_logprob_score",
    "retention_sweep",
]

_NEARDUP_PAIR_QUERIES = [
    "simhash_dup_pairs",
    "ngram_jaccard_incremental",
    "embedding_neardup_pairs",
    "ngram_jaccard_pairs",
    "minhash_dup_buckets",
    "dedup_incremental",
    "semantic_dedup_keepers",
]


def _plan(spark, sf_dir: str, name: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {name: _plan(spark, sf_dir, name) for name in _PINNED}


@pytest.mark.parametrize("name", _PINNED)
def test_no_cartesian_product(plans, name):
    assert "CartesianProduct" not in plans[name], name


@pytest.mark.parametrize("name", _PINNED)
def test_no_unexpected_broadcast_nested_loop(plans, name):
    if name in _BNLJ_OK:
        return
    assert "BroadcastNestedLoopJoin" not in plans[name], name


@pytest.mark.parametrize("name", _NEARDUP_PAIR_QUERIES)
def test_neardup_pair_plans_never_materialize_buckets(plans, name):
    """The banded schemes must stay per-band equi-joins — a
    ``collect_list`` here means some band's full membership is being
    built as one in-memory array again (the known 100 TB OOM)."""
    assert "collect_list" not in plans[name], name


@pytest.mark.parametrize("name", _PINNED)
def test_bounded_collect_list_only(plans, name):
    if name in _COLLECT_LIST_OK:
        return
    assert "collect_list" not in plans[name], name


@pytest.mark.parametrize(
    "name",
    ["doc_chunking", "pii_redaction", "bpe_token_estimate", "doc_repetition_stats"],
)
def test_map_only_queries_never_shuffle(plans, name):
    """Chunking, PII scrubbing, token counting, and intra-doc
    repetition stats are pure scan-side map stages — any Exchange
    appearing here means a silent plan regression that would shuffle
    the full corpus at 100 TB (repetition stats in particular must
    never regress to the explode-the-token-stream formulation)."""
    assert "Exchange" not in plans[name], name


def test_ngram_incremental_verify_broadcasts_candidates(plans):
    """The incremental ngram verify must shingle only candidate-matched
    base docs: the candidate id set BROADCASTS into the base documents
    scan before any shingle/md5 work — a plan without that broadcast
    hash join would shingle the whole base corpus per increment."""
    p = plans["ngram_jaccard_incremental"]
    assert "BroadcastHashJoin" in p, p


def test_domain_cap_single_partitioning(plans):
    """Both window functions (rank + domain size) must share ONE hash
    partitioning on source — a second Exchange would re-shuffle the
    corpus at 100 TB."""
    assert plans["domain_doc_cap"].count("hashpartitioning(") == 1, plans[
        "domain_doc_cap"
    ]


def test_range_scan_filter_pushdown(plans):
    """The time/key predicates must reach the parquet scan."""
    p = plans["range_scan"]
    assert "PushedFilters: [" in p, p
    assert "PushedFilters: []" not in p, p
    # the TIME RANGE itself must be pushed (row-group min/max skipping),
    # not just the metric-name IN filter — a comparison hidden behind
    # cast/arithmetic degrades to a post-scan DataFilter and silently
    # reads the whole table at scale
    import re

    assert re.search(r"PushedFilters:[^\n]*GreaterThanOrEqual\(ts", p), p
    assert re.search(r"PushedFilters:[^\n]*LessThan\(ts", p), p


def test_retention_sweep_builds_lazily(spark, sf_dir):
    """r10 (r9 VERDICT low): the TTL sweep used to run a separate
    .collect() job at BUILD time just to embed the max-ts cutoff as a
    literal — an extra full-column scan per invocation.  The cutoff is
    now a 1-row broadcast aggregate inside the single returned plan, so
    constructing the query must launch zero driver collects."""
    from unittest import mock

    from pyspark.sql import DataFrame

    real_collect = DataFrame.collect
    with mock.patch.object(
        DataFrame, "collect", autospec=True, side_effect=real_collect
    ) as mc:
        df = REGISTRY["retention_sweep"].fn(spark, sf_dir)
        assert mc.call_count == 0, "query construction ran a driver job"
    # and the single plan actually carries the scalar-cutoff join;
    # the cutoff subtree's scan must be pruned to the timestamp column
    # alone (the "second scan" is a cheap single-column columnar pass,
    # not a second full-table read)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoopJoin" in plan
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert any(s == "ts:timestamp_ntz" for s in schemas), schemas
    assert df.columns == ["device_id", "date", "rows_kept"]


def test_sessionization_single_partitioning(plans):
    """Both window passes (lag + running sum) and the final session
    aggregate must reuse ONE hash partitioning on user_id — a second
    Exchange would re-shuffle the full event stream at 100 TB."""
    p = plans["event_sessionization"]
    assert p.count("hashpartitioning(") == 1, p


def test_locf_single_scan(plans):
    """The lead+sequence gap-fill must read the events table ONCE — a
    second scan means the grid regressed to the bounds-join
    formulation that evaluates the LWW downsample twice.  (Each scan
    node prints one numbered detail header in formatted explain.)"""
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plans["resample_daily_locf"])) == 1


def test_locf_single_partitioning(plans):
    """r16: the per-day LWW pick and the gap-fill lead must share ONE
    (device, metric) hash partitioning and ONE sort — a second
    Exchange/Sort means the LWW window regressed to its own
    (device, metric, day) key and the series re-shuffles the full
    metric table at 100 TB."""
    import re

    p = plans["resample_daily_locf"]
    assert p.count("hashpartitioning(") == 1, p
    assert len(re.findall(r"\(\d+\) Sort\b", p)) == 1, p


def test_device_profile_build_fused_shape(plans):
    """r16: the fixed-metric profile build is TWO codegen hash
    aggregations and one final per-device explode — no map/array
    assembly (ObjectHashAggregate), no per-snapshot entry explode, no
    join.  4 Exchanges + 2 Generates regressing back means the generic
    map-pivot path snuck back in (see plans/r16/
    device_profile_build_{before,after}.txt)."""
    import re

    p = plans["device_profile_build"]
    assert "ObjectHashAggregate" not in p, p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 2, p
    assert len(re.findall(r"\(\d+\) Generate\b", p)) == 1, p
    assert "Join" not in p, p


def test_sessionization_gap_boundary(spark):
    """Events exactly 1800 s apart stay in ONE session (the gap test is
    strictly greater-than); 1801 s starts a new one.  Pinned here
    because the oracle would agree with either convention as long as
    both sides drift together — this nails the intended semantics."""
    from vectorsearch_scylla_spark.plans.registry import REGISTRY
    import pyspark.sql.functions as F

    rows = [
        (1, 100, "2024-01-01 00:00:00", 1.0),
        (2, 100, "2024-01-01 00:30:00", 1.0),  # +1800s: same session
        (3, 100, "2024-01-01 01:00:01", 1.0),  # +1801s: new session
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="vss_sess_fixture_")
    try:
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = {
            (r["user_id"], r["session_idx"]): r["n_events"]
            for r in REGISTRY["event_sessionization"].fn(spark, d).collect()
        }
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)
    assert out == {(100, 1): 2, (100, 2): 1}


def test_date_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """The deployment layout claim (sources/tables.py: Hive-partition on
    date at scale) made executable: write the raw metric shape
    date-partitioned, read it back with a date predicate, and assert
    the scan's partition filters prune — i.e. the non-matching
    partition directories never appear in the scan."""
    import pyspark.sql.functions as F

    from vectorsearch_scylla_spark.sources.tables import device_metrics_raw

    out = str(tmp_path / "hypertable")
    device_metrics_raw(spark, sf_dir).write.partitionBy("date").parquet(out)
    df = spark.read.parquet(out)
    days = sorted(r["date"] for r in df.select("date").distinct().collect())
    assert len(days) > 1
    pick = days[0]
    pruned = df.filter(F.col("date") == pick)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "isnotnull(date" in plan
    # row-level truth matches the partition: only the picked day's rows
    assert pruned.select("date").distinct().collect()[0]["date"] == pick
    # the optimizer reports one matching partition out of many
    stats = pruned.select(F.count("*")).collect()[0][0]
    full = df.count()
    assert 0 < stats < full


def test_bucketed_join_colocates_without_shuffle(spark, tmp_path):
    """The 100 TB co-located-join claim made executable: two tables
    bucketed on the join key join with NO Exchange on either side
    (bucket layout IS the partitioning), vs the same unbucketed join
    which must shuffle both.  This is the layout the engine prescribes
    for repeated big-big joins (snapshot ⋈ profile at full history
    scale) where neither side broadcasts."""
    import pyspark.sql.functions as F

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        for name, df in [("vss_bkt_a", a), ("vss_bkt_b", b)]:
            (
                df.write.bucketBy(8, "k")
                .sortBy("k")
                .option("path", str(tmp_path / name))
                .mode("overwrite")
                .saveAsTable(name)
            )
        joined = spark.table("vss_bkt_a").join(spark.table("vss_bkt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == 10_000
        # control: the same join without bucketing shuffles both sides
        unbucketed = a.join(b, "k")
        uplan = unbucketed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in uplan, uplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS vss_bkt_a")
        spark.sql("DROP TABLE IF EXISTS vss_bkt_b")


def test_grouped_ivf_family_uses_cogroup_kernel(plans):
    """The r5 production-configuration ANN queries must keep the
    two-sided cogrouped kernel (ivf_probe_topk_grouped) — a
    FlatMapCoGroupsInPandas node is the plan-level witness that
    NEITHER side collects to the driver.  A regression to the blocked
    kernel would silently reintroduce the driver-side query broadcast
    the grouped path exists to remove."""
    for name in [
        "ivf_grouped_knn",
        "sq8_ivf_knn",
        "ivfpq_residual_knn",
        "ivf_sampled_train_knn",
    ]:
        assert "FlatMapCoGroupsInPandas" in plans[name], name


def test_ivf_probe_prune_is_semi_join_not_in_list(plans):
    """r6: the toy-K certified IVF queries prune the inverted-list scan
    with a broadcast LEFT SEMI join on the distinct probed cluster ids
    — no driver collect, no literal IN-list (which at a realistic K
    becomes a multi-thousand-element expression).  The plan-level
    witness is a LeftSemi join; the regression would be a
    `cluster_id... IN (...)` filter reappearing in the scan."""
    import re

    for name in ["ivfpq_knn"]:
        p = plans[name]
        assert "LeftSemi" in p, name
        assert not re.search(r"cluster_id#\d+[^\n]* IN \(", p), name


def test_banded_pairs_salt_reaches_task_layout(spark):
    """Pin for the two planner behaviors that silently DEFEAT the
    salted skew split (found late r7 via REST task summaries — the
    "salted" 1,000-member clique still ran its 478 k fused
    verifications in ONE task):

    1. HashPartitioning on a SUBSET of join keys satisfies
       ClusteredDistribution, so the (band, gi, gj) join reuses the
       window-count's band-only exchange — and whenever AQE
       broadcast-converts the ids-only side, the join fuses into the
       band-only layout the same way.  The fix is an explicit
       repartition of both expansion sides on the FULL salted key.
    2. A bare repartition(cols) is AQE-coalescible; its shuffle
       carries only O(n·R) id rows, which AQE folds back to 1-2
       partitions, re-fusing the O(n²) work that explodes only after
       the exchange.  The fix is the explicit partition count, whose
       REPARTITION_BY_NUM origin AQE must preserve.

    Executed-plan pin (final adaptive plan, after an action): exactly
    two REPARTITION_BY_NUM exchanges, each keyed on the full
    (band, gi, gj) tuple at the session's shuffle-partition count.
    """
    import re

    import pyspark.sql.functions as F

    from vectorsearch_scylla_spark.operators.dedup import banded_pairs

    rows = [(1 if i < 300 else i, i) for i in range(400)]
    df = spark.createDataFrame(rows, "band_val int, doc_id long")
    pairs = banded_pairs(df, ["band_val"], oversized_at=64)
    assert pairs.count() == 300 * 299 // 2  # oversized bucket expanded
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    exchanges = re.findall(
        r"Exchange hashpartitioning\(([^)]*)\), REPARTITION_BY_NUM", plan
    )
    assert len(exchanges) == 2, plan
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for keys in exchanges:
        cols = [c.strip().split("#")[0] for c in keys.split(",")]
        assert cols[:3] == ["band_val", "gi", "gj"], keys
        assert keys.strip().endswith(str(n_shuffle)), keys


def test_simhash_incremental_probe_broadcasts_batch_side(spark, tmp_path):
    """The per-epoch (and daily-batch) bipartite SimHash probe must
    broadcast the SMALL new side and leave the base band index
    unshuffled — the shape the continuous gate's flat per-epoch cost
    rests on (BENCH_SCALE ndstream).  Pinned on the FINAL adaptive
    plan: with the base index above the broadcast threshold and the
    batch below it, the executed join is a BroadcastHashJoin (AQE
    re-plans it at runtime — the checkpointed batch side carries
    default stats, so only the runtime plan can see it is small)."""
    from vectorsearch_scylla_spark.operators.dedup import (
        simhash128,
        simhash_near_dup_pairs,
    )
    from vectorsearch_scylla_spark.session import drop_inherited_stats

    base = spark.createDataFrame(
        [(i, f"base document {i} with payload {i * 17}") for i in range(3000)],
        "doc_id long, text string",
    )
    art = str(tmp_path / "sigs")
    simhash128(base).write.parquet(art)
    batch = spark.createDataFrame(
        [(1_000_000 + i, f"base document {i * 50} with payload {i * 850}")
         for i in range(20)],
        "doc_id long, text string",
    )
    inc_sigs = drop_inherited_stats(simhash128(batch).localCheckpoint())
    # drop the size threshold so NO side auto-broadcasts: the only way
    # the plan below can be a BroadcastHashJoin is the explicit hint
    # (hints override the threshold).  Without the threshold guard the
    # test is vacuous at fixture scale — a small BASE artifact
    # auto-broadcasts, which is exactly the OTHER bad shape (a
    # corpus-sized hash map built and shipped per epoch; measured 3×
    # slower than the hinted plan at the 100× shape, and an OOM at
    # real scale).
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = simhash_near_dup_pairs(
            batch,
            max_hamming=5,
            docs_sigs=inc_sigs,
            against_sigs=spark.read.parquet(art),
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # the STATIC plan must already be a broadcast join (the hint,
        # not AQE's late conversion, which still pays the base-side
        # shuffle write before switching): the base index feeds the
        # join straight off its scan, and the only hash exchange left
        # is the DISTINCT's — on pair ids, sized by the candidates,
        # not the corpus
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_embedding_incremental_probe_broadcasts_batch_side(spark, sf_dir):
    """The embedding twin of the SimHash pin above:
    embedding_neardup_incremental's band join (banded_pairs' bipartite
    mode) must broadcast the increment statically and leave the base
    band index unshuffled.  With automatic broadcasts off, only the
    hint can make it a BroadcastHashJoin.  The id joins that re-attach
    the vectors after it become SortMergeJoins then, so the pin reads
    the joins keyed on the band columns."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = REGISTRY["embedding_neardup_incremental"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    band_joins = [ln for ln in plan.splitlines() if "Join [band_idx" in ln]
    assert band_joins, plan
    assert all("BroadcastHashJoin" in ln for ln in band_joins), plan
    assert "hashpartitioning(band_" not in plan, plan


def test_token_packing_single_shard_partitioning(plans):
    """r12 (r11 VERDICT task 4): token_packing's 0.40 s -> 1.40 s raw
    move in the r11 bench — its code was untouched between the stamps
    (git diff r10..r11 shows only a DRIVER_WINDOW reorder), so the
    move was host noise, not plan drift.  This pins the expected shape
    so any FUTURE regression fails a test instead of reopening the
    bench mystery: the per-shard running-sum window runs off ONE hash
    partitioning on shard (more shards = more parallelism; a global
    ORDER BY would serialize), and nothing else re-shuffles."""
    p = plans["token_packing"]
    assert p.count("hashpartitioning(") == 1, p
    assert "Window" in p, p
    # one shuffle total: the shard partitioning that feeds the window
    assert p.count("Exchange") <= 2, p  # Exchange node + its reuse ref


def test_novelty_batch_plan_is_broadcast_and_sort_free(spark):
    """r13 (r12 VERDICT task 2): streaming_novelty_e2e's raw bench
    wall drifted 6.9 -> 17.4 s over r10 -> r12 with ZERO code changes
    on its path; the attribution (BENCH_SCALE.md
    "streaming_novelty_e2e drift attribution") landed on artifact +
    first-stream JVM warmth, NOT plan drift.  This pins the
    foreachBatch body's plan shape so any FUTURE raw-wall move on this
    query can be triaged against a hard test instead of reopening the
    mystery: the per-batch kNN vote must (a) BROADCAST the
    materialized history into the stream-static join (a shuffled join
    would move the corpus-sized history every micro-batch), and (b)
    stay SORT-FREE — the top-k >= threshold vote reduces to a capped
    conditional count because every above-threshold neighbor outranks
    every below-threshold one, so no rank/sort may appear."""
    import datetime

    from vectorsearch_scylla_spark.streaming.pipeline import (
        detect_path3_batch,
    )

    metrics = ["temperature", "humidity"]
    snap = spark.createDataFrame(
        [
            ("d1", datetime.datetime(2026, 1, 1, 0, 0),
             {"temperature": 1.0, "humidity": 2.0}),
            ("d2", datetime.datetime(2026, 1, 1, 0, 1),
             {"temperature": 3.0, "humidity": 4.0}),
        ],
        "device_id string, window_start timestamp, "
        "metrics map<string,double>",
    )
    hist = spark.createDataFrame(
        [("d1", 0, 1.0, 2.0), ("d1", 60, 1.5, 2.5), ("d2", 0, 3.0, 4.0)],
        "device_id string, ws long, m_temperature double, "
        "m_humidity double",
    )
    out = detect_path3_batch(snap, hist, metrics)
    out.collect()  # execute THIS frame so AQE finalizes its plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "+- Sort " not in plan and ":- Sort " not in plan, plan
