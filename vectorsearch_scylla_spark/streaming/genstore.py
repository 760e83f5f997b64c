"""Index-generation commits for ``ivf_add_stream``.

The generation machinery commits a rewritten full index in three
steps: (1) write it where readers cannot see it (a
``store_gen{N}.staging.*`` dir), (2) make it visible atomically (one
``os.rename`` to ``store_gen{N}``), (3) retire the superseded
generation.  An empty ``_rolled_absorbed`` marker file inside the live
generation dir records that the swap's rolled reset completed.  This is
correct where directory rename is atomic and O(1): a POSIX local
filesystem and HDFS.

The rolled store's fixed-name heal swap (``_recover_rolled_heal``) and
the epoch fold / signature compaction (``operators/dedup.py``) use the
same directory-rename primitive.

Reference parity: the reference re-creates its HNSW index wholesale
on re-tile (scylladb_setup/create_iot_schema.py:137-155) and leans on
ScyllaDB for commit atomicity; the atomic rename is that commit here.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

_MARKER = "_rolled_absorbed"


def has_parquet_parts(path: str) -> bool:
    """True iff ``path`` is a directory containing at least one
    parquet part file (recursively — generation dirs may be
    partitioned).  A dir with only ``_SUCCESS`` / sidecars / empty
    partition dirs has no readable data and ``spark.read.parquet``
    raises on it."""
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def sweep_uncommitted(base_dir: str) -> None:
    """A crash inside :func:`publish` before its atomic rename strands
    a ``.staging.`` dir forever — the swap never happened, pre-swap
    state is intact, the staging copy is safely discardable."""
    for p in glob.glob(os.path.join(base_dir, "store_gen*.staging.*")):
        shutil.rmtree(p, ignore_errors=True)


def list_committed(base_dir: str, sidecar: str) -> list[tuple[int, str]]:
    """All committed generations, oldest→newest, as ``(generation,
    dir)``.  Committed = promoted dir whose sidecar landed (the sidecar
    is written before the rename, so its presence inside a promoted dir
    is implied; the check also excludes foreign debris)."""
    if not os.path.isdir(base_dir):
        return []
    gens = sorted(
        int(d[len("store_gen"):])
        for d in os.listdir(base_dir)
        if d.startswith("store_gen")
        and d[len("store_gen"):].isdigit()
        and os.path.isfile(os.path.join(base_dir, d, sidecar))
    )
    return [(g, os.path.join(base_dir, f"store_gen{g}")) for g in gens]


def retire(spark, gen_dir: str) -> None:
    shutil.rmtree(gen_dir, ignore_errors=True)
    spark.catalog.refreshByPath(gen_dir)


def publish(
    frame, base_dir: str, generation: int, sidecar: str, sidecar_obj,
    partition_col: str | None, n_parts: int,
) -> tuple[str, int]:
    """Write ``frame`` + its sidecar JSON to a staging dir, then rename
    it to ``store_gen{generation + 1}``.  Returns ``(gen_dir, gen)``."""
    gen = generation + 1
    gen_dir = os.path.join(base_dir, f"store_gen{gen}")
    staging = f"{gen_dir}.staging.{uuid.uuid4().hex[:8]}"
    out = frame
    if partition_col:
        out = out.repartition(max(1, int(n_parts)), partition_col)
    writer = out.write
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(staging)
    with open(os.path.join(staging, sidecar), "w") as f:
        json.dump(sidecar_obj, f)
    os.rename(staging, gen_dir)  # the commit point (atomic on POSIX)
    return gen_dir, gen


def rolled_absorbed(gen_dir: str) -> bool:
    return os.path.isfile(os.path.join(gen_dir, _MARKER))


def stamp_rolled_absorbed(gen_dir: str) -> None:
    with open(os.path.join(gen_dir, _MARKER), "w") as f:
        f.write("")


def clear_rolled_absorbed(gen_dir: str) -> None:
    marker = os.path.join(gen_dir, _MARKER)
    if os.path.isfile(marker):
        os.remove(marker)
