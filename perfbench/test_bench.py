"""Checks of the benchmark's own contract that need no Spark session.

    python3 -m pytest perfbench/test_bench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.run import WORKLOADS, all_queries  # noqa: E402

SIZES = {"events": 500, "devices": 15, "documents": 40, "embeddings": 60, "replicas": 3}


def _digests(out_dir: str, seed: int) -> dict[str, str]:
    paths = inputs.generate(out_dir, seed, **SIZES)
    return {t: hashlib.sha256(open(p, "rb").read()).hexdigest() for t, p in paths.items()}


def test_same_seed_gives_identical_bytes_and_another_seed_differs(tmp_path):
    a = _digests(str(tmp_path / "a"), 7)
    b = _digests(str(tmp_path / "b"), 7)
    c = _digests(str(tmp_path / "c"), 8)
    assert a == b
    assert all(a[t] != c[t] for t in a)


def test_inputs_keep_the_engine_key_domains(tmp_path):
    import pyarrow.parquet as pq

    from vectorsearch_scylla_spark.plans.registry import METRICS

    paths = inputs.generate(str(tmp_path), 3, **SIZES)
    ev = pq.read_table(paths["events"]).to_pydict()
    assert set(ev["event_type"]) == set(METRICS)
    assert ev["event_id"] == list(range(SIZES["events"]))
    assert ev["ts"] == sorted(ev["ts"])
    assert set(ev["user_id"]) <= set(range(SIZES["devices"]))
    emb = pq.read_table(paths["embeddings"]).to_pydict()
    assert set(emb["label"]) <= set(range(inputs.LABELS))
    assert emb["vec_id"] == list(range(SIZES["embeddings"]))
    base = SIZES["embeddings"] // SIZES["replicas"]
    assert emb["label"] == emb["label"][:base] * SIZES["replicas"]
    assert {len(v) for v in emb["embedding"]} == {inputs.DIM}
    docs = pq.read_table(paths["documents"]).to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_benchmark_json_matches_the_runner():
    from perfbench.trace import metric_units

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metric_units(all_queries())
    assert len(spec["per_layer"]) <= 128
