"""Seeded input generator for the benchmark.

Writes the three tables the benchmarked queries read -- ``events``,
``documents`` and ``embeddings`` -- as parquet files with the same
schemas and key domains as the engine's fixture tables:

- ``events``: ``event_id`` dense from 0, naive-UTC microsecond ``ts``
  increasing with ``event_id`` over 30 days from 2024-01-01, ``user_id``
  in ``[0, devices)`` (the engine maps it to ``DEV-%03d``), ``event_type``
  drawn from the five ``METRICS`` names, 2-decimal exponential ``value``
  and a ``{"k": n}`` ``props`` string.
- ``documents``: ``doc_id`` dense from 0, space-joined words from a
  fixed vocabulary (some rows end in ``dup`` tokens), ``lang`` in five
  languages, ``source`` = ``src{doc_id % 20}``, ``n_chars`` = text length.
- ``embeddings``: ``vec_id`` dense from 0, unit-norm float32 vectors of
  dimension 64 drawn from a 10-component mixture, ``label`` = component.
  With ``replicas`` > 1 the table holds ``embeddings / replicas`` base
  vectors and, after them, ``replicas - 1`` perturbed copies of each
  (``vec_id = r * base + i``, same label): copy ``r`` of vector ``i``
  adds Gaussian noise of a per-copy scale, so some copies stay within
  cosine 0.90 of the base vector and some do not -- the near-duplicate
  states a fleet keeps seeing, which give the top-k queries real
  neighbours to rank.

The same (sizes, seed) always produces byte-identical files; the engine
sees only the generated directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

METRICS = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64
LABELS = 10
EPOCH0_US = 1704067200 * 10**6  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 10**6


def _events(rng: np.random.Generator, n: int, devices: int) -> pa.Table:
    ts = EPOCH0_US + np.sort(rng.integers(0, SPAN_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, devices, n).astype(np.int64)),
            "event_type": pa.array([METRICS[i] for i in rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        if rng.random() < 0.05:
            words += ["dup"] * int(rng.integers(1, 3))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _embeddings(rng: np.random.Generator, n: int, replicas: int) -> pa.Table:
    if n % replicas:
        raise ValueError(f"embeddings={n} is not a multiple of replicas={replicas}")
    base = n // replicas
    centers = _unit(rng.standard_normal((LABELS, DIM)))
    labels = rng.integers(0, LABELS, base)
    x = _unit(0.15 * centers[labels] + rng.standard_normal((base, DIM)) / np.sqrt(DIM))
    # noise scale s gives a copy cosine ~ 1 / sqrt(1 + s^2) to its base
    # vector: s < 0.48 stays above 0.90
    scale = rng.uniform(0.1, 0.7, (replicas - 1, base, 1))
    noise = rng.standard_normal((replicas - 1, base, DIM)) / np.sqrt(DIM)
    copies = [_unit(x + s * g) for s, g in zip(scale, noise)]
    x = np.concatenate([x, *copies]).astype(np.float32)
    labels = np.tile(labels, replicas)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def generate(out_dir: str, seed: int, events: int, devices: int, documents: int,
             embeddings: int, replicas: int = 1) -> dict[str, str]:
    """Write the three tables for ``seed`` into ``out_dir``; return
    ``{table: path}``.  Each table has its own stream derived from the
    seed, so resizing one table leaves the others' bytes unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    builders = {
        "events": lambda r: _events(r, events, devices),
        "documents": lambda r: _documents(r, documents),
        "embeddings": lambda r: _embeddings(r, embeddings, replicas),
    }
    paths = {}
    for i, (name, build) in enumerate(builders.items()):
        rng = np.random.default_rng([seed, i])
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(build(rng), paths[name], compression="snappy")
    return paths
