"""Replicates the driver's correctness gate locally: run every
registered query through Spark AND its DuckDB oracle on the same
parquet tables, then compare row count, column names, and an
order-insensitive value multiset.

This is the engine's primary regression suite (the reference ships no
tests at all — SURVEY.md §5 — so the oracle harness IS the test
strategy).
"""

from __future__ import annotations

import duckdb
import pytest

from vectorsearch_scylla_spark.oracle import compare_results
from vectorsearch_scylla_spark.plans.registry import REGISTRY
from vectorsearch_scylla_spark.sources.tables import TABLES


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@pytest.mark.parametrize("name", [n for n, q in REGISTRY.items() if q.oracle])
def test_query_matches_oracle(spark, sf_dir, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_dir)
    res = con.execute(q.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    # the SHARED gate (vectorsearch_scylla_spark.oracle) — same helper
    # the CLI --check uses, so the two local gates cannot drift
    ok, reason = compare_results(spark_cols, spark_rows, duck_cols, duck_rows)
    assert ok, f"{name}: {reason}"


@pytest.mark.parametrize(
    "sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_folded_dedup_clusters_union_matches_oracle(spark, sf):
    """The full-union clustering with per-class edge attribution was
    FOLDED out of the registry in r8 (slot budget: the cascade is the
    registered execution sharing the same transitive-closure oracle).
    Its certificate survives here verbatim: replay the driver gate
    over the unregistered function + its kept oracle SQL — at BOTH the
    local-suite SF and the sf0.01 the driver used to certify it at —
    so the per-class edge-count surface never goes dark."""
    from vectorsearch_scylla_spark.plans.registry import (
        DEDUP_CLUSTERS_UNION_ORACLE,
        q_dedup_clusters_union,
    )

    sf_dir = sf
    sdf = q_dedup_clusters_union(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = _duck(sf_dir)
    res = con.execute(DEDUP_CLUSTERS_UNION_ORACLE)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()
    ok, reason = compare_results(spark_cols, spark_rows, duck_cols, duck_rows)
    assert ok, f"dedup_clusters_union (folded): {reason}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))

def test_window_rotation_policy():
    """Pin the r5 rotation policy: the committed manifest
    plans/window_history.json records the last round each query sat
    inside the driver's 50-slot window, and NO registered query may go
    more than one round without a hard driver row — i.e. every entry
    is `round` (in the driver window now) or `round - 1` (sat out exactly
    this round).  A query slipping to round-2 staleness, a manifest
    drifting from the registry, or a window edit without a manifest
    update all fail here."""
    import json
    import os

    from vectorsearch_scylla_spark.plans import registry

    path = os.path.join(
        os.path.dirname(registry.__file__), "window_history.json"
    )
    with open(path) as f:
        hist = json.load(f)
    rnd = hist["round"]
    last = hist["last_in_window"]

    assert set(last) == set(REGISTRY), (
        "manifest/registry drift: "
        f"manifest-only={sorted(set(last) - set(REGISTRY))} "
        f"registry-only={sorted(set(REGISTRY) - set(last))}"
    )
    in_window = set(registry.driver_window())
    for name, r in last.items():
        if name in in_window:
            assert r == rnd, f"{name} is in the driver window but manifest says {r} != {rnd}"
        else:
            assert r == rnd - 1, (
                f"{name} last had a driver row in round {r}; with current "
                f"round {rnd} it would go {rnd - r} rounds unchecked — "
                "stamp the next window with tools/rotate_window.py --write"
            )


def test_driver_window_exposure_order():
    """Pin the driver-window contract: the external harness checks only
    the first 50 entries of queries()/oracle_sql(), so those slots must
    hold exactly the window derived from the manifest, batch queries
    before streaming ones, and the full exposure must cover the
    registry with no duplicates."""
    from vectorsearch_scylla_spark.plans.registry import (
        driver_window,
        spark_queries,
    )

    window = driver_window()
    assert len(window) == len(set(window)) == 50
    streams = [n.startswith("streaming_") for n in window]
    assert streams == sorted(streams)

    exposed = list(spark_queries())
    assert exposed[:50] == window
    assert sorted(exposed) == sorted(REGISTRY)
