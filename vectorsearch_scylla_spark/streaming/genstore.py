"""Storage-strategy seam for index-generation commits (r13 VERDICT
task 3).

The ``ivf_add_stream`` generation machinery commits a rewritten full
index in three steps: (1) write it somewhere invisible to readers,
(2) make it visible atomically, (3) retire the superseded copy.  HOW
each step is durable is a property of the storage system, not of the
index logic, so it lives behind this seam:

- :class:`RenameGenerationStorage` (default): staged dir + atomic
  ``os.rename`` promote + empty-file markers.  Correct exactly where
  directory rename is atomic and O(1) — POSIX local FS and HDFS.
  Every existing test and the registered queries run on this.

- :class:`ManifestGenerationStorage`: object stores (S3 / GCS / ABFS
  without hierarchical namespace) have NO atomic directory rename —
  "rename" is a server-side copy of every object followed by deletes,
  observable half-done — and empty-file markers are just more objects
  with no ordering guarantee relative to the data they vouch for.
  The one atomic, strongly-consistent primitive both S3 (since 2020)
  and GCS give is the single-object PUT.  So: each generation is
  written under a UNIQUE, never-renamed prefix
  (``store_gen{N}.{uuid}``), and the commit point is an
  atomically-replaced tiny ``_CURRENT`` manifest naming the live
  prefix; readers resolve through the manifest; retirement deletes
  unreferenced prefixes (idempotent, resumable — a half-deleted
  unreferenced prefix is still unreferenced).  The swap-completed
  ``rolled_absorbed`` marker becomes a manifest FIELD, flipped by a
  second single-object PUT, inheriting the same atomicity.  On the
  local FS of this harness the single-object PUT is modeled by
  write-tmp + ``os.replace`` of ONE FILE — the same durability class
  a real object store gives a PUT, and deliberately NOT a directory
  rename.

Scope note (honest): this seam covers the GENERATION commit — the
machinery r13's crash-state matrix enumerates.  The rolled store's
fixed-name heal swap (``_recover_rolled_heal``) and the epoch fold /
signature compaction (``operators/dedup.py``) still use directory
renames; they are the next increment if the rolled/epoch paths ever
move off a rename-atomic FS.  (At 100 TB the GENERATION store is the
object-store resident — it is the corpus-sized artifact; rolled and
epochs are the small hot tail a deployment keeps on HDFS/local NVMe
anyway.)

Reference parity: the reference re-creates its HNSW index wholesale
on re-tile (scylladb_setup/create_iot_schema.py:137-155) and leans on
ScyllaDB for commit atomicity; this seam is where the Spark engine
picks the commit primitive its index store actually provides.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid


def _has_parquet_parts(path: str) -> bool:
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


def _write_generation(
    frame, dest: str, sidecar: str, sidecar_obj,
    partition_col: str | None, n_parts: int,
) -> None:
    """Materialize a generation frame + its sidecar JSON under
    ``dest`` (shared by both strategies; the strategies differ only in
    how ``dest`` becomes visible)."""
    out = frame
    if partition_col:
        out = out.repartition(max(1, int(n_parts)), partition_col)
    writer = out.write
    if partition_col:
        writer = writer.partitionBy(partition_col)
    writer.parquet(dest)
    with open(os.path.join(dest, sidecar), "w") as f:
        json.dump(sidecar_obj, f)


class RenameGenerationStorage:
    """Local-FS / HDFS strategy: ``store_gen{N}`` dirs promoted by
    atomic directory rename, ``_rolled_absorbed`` as an empty marker
    file inside the live generation dir."""

    name = "rename"

    def __init__(self, base_dir: str):
        self.base_dir = base_dir

    # -- discovery ----------------------------------------------------
    def sweep_uncommitted(self, spark) -> None:
        """A crash inside :meth:`publish` before its atomic rename
        strands a ``.staging.`` dir forever — the swap never happened,
        pre-swap state is intact, the staging copy is safely
        discardable.  STRATEGY-MISMATCH RAIL: a ``_CURRENT`` manifest
        means this store was committed by the MANIFEST strategy — its
        uuid-suffixed prefixes are invisible to this strategy's
        discovery, so a rename-mode restart would silently resume from
        nothing; refuse instead."""
        if os.path.isfile(os.path.join(self.base_dir, "_CURRENT")):
            raise RuntimeError(
                f"{self.base_dir} carries a _CURRENT manifest (committed "
                "by storage='manifest') but storage='rename' was "
                "requested — rename-mode discovery cannot see "
                "manifest-committed prefixes and would resume from "
                "nothing.  Restart with storage='manifest' (or migrate "
                "explicitly)."
            )
        for p in glob.glob(os.path.join(self.base_dir, "store_gen*.staging.*")):
            shutil.rmtree(p, ignore_errors=True)

    def list_committed(self, sidecar: str) -> list[tuple[int, str]]:
        """All committed generations, oldest→newest, as
        ``(generation, dir)``.  Committed = promoted dir whose sidecar
        landed (the sidecar is written before the rename, so its
        presence inside a promoted dir is implied; the check also
        excludes pre-seam debris)."""
        if not os.path.isdir(self.base_dir):
            return []
        gens = sorted(
            int(d[len("store_gen"):])
            for d in os.listdir(self.base_dir)
            if d.startswith("store_gen")
            and d[len("store_gen"):].isdigit()
            and os.path.isfile(os.path.join(self.base_dir, d, sidecar))
        )
        return [(g, os.path.join(self.base_dir, f"store_gen{g}")) for g in gens]

    def retire(self, spark, gen_dir: str) -> None:
        shutil.rmtree(gen_dir, ignore_errors=True)
        spark.catalog.refreshByPath(gen_dir)

    # -- commit -------------------------------------------------------
    def publish(
        self, spark, frame, generation: int, sidecar: str, sidecar_obj,
        partition_col: str | None, n_parts: int,
    ) -> tuple[str, int]:
        gen = generation + 1
        gen_dir = os.path.join(self.base_dir, f"store_gen{gen}")
        staging = f"{gen_dir}.staging.{uuid.uuid4().hex[:8]}"
        _write_generation(
            frame, staging, sidecar, sidecar_obj, partition_col, n_parts
        )
        os.rename(staging, gen_dir)  # the commit point (atomic on POSIX)
        return gen_dir, gen

    # -- swap-completed marker ---------------------------------------
    def rolled_absorbed(self, gen_dir: str) -> bool:
        return os.path.isfile(os.path.join(gen_dir, "_rolled_absorbed"))

    def stamp_rolled_absorbed(self, gen_dir: str) -> None:
        with open(os.path.join(gen_dir, "_rolled_absorbed"), "w") as f:
            f.write("")

    def clear_rolled_absorbed(self, gen_dir: str) -> None:
        marker = os.path.join(gen_dir, "_rolled_absorbed")
        if os.path.isfile(marker):
            os.remove(marker)


class ManifestGenerationStorage:
    """Object-store-safe strategy: unique never-renamed prefixes,
    committed by atomically replacing the tiny ``_CURRENT`` manifest
    (single-object PUT semantics).  See the module docstring for the
    crash-window analysis; the matrix is pinned by
    ``tests/test_streaming.py::test_generation_swap_crash_states_all_
    converge`` parameterized over both strategies."""

    name = "manifest"

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        self.manifest_path = os.path.join(base_dir, "_CURRENT")

    # -- manifest primitives ------------------------------------------
    def _read_manifest(self) -> dict | None:
        if not os.path.isfile(self.manifest_path):
            return None
        with open(self.manifest_path) as f:
            return json.load(f)

    def _put_manifest(self, obj: dict) -> None:
        """The single-object PUT: on a real object store this is one
        ``PutObject`` (atomic + read-after-write on S3/GCS); locally,
        write-tmp + ``os.replace`` of one FILE — atomic on POSIX and
        never a directory rename."""
        tmp = f"{self.manifest_path}.tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, self.manifest_path)

    # -- discovery ----------------------------------------------------
    def _refuse_rename_mode_debris(self) -> None:
        """STRATEGY-MISMATCH RAIL: a canonical ``store_gen<N>`` dir
        (no uuid suffix) was committed by the RENAME strategy.  This
        strategy's sweep treats unreferenced prefixes as deletable
        debris — applied to a rename-mode store that dir is the ONLY
        copy of the committed index (and of the rolled rows absorbed
        into it), so a deployment that flips ``storage=`` on an
        existing base_dir must be refused, not "cleaned"."""
        canonical = [
            os.path.basename(p)
            for p in glob.glob(os.path.join(self.base_dir, "store_gen*"))
            if os.path.basename(p)[len("store_gen"):].isdigit()
        ]
        if canonical:
            raise RuntimeError(
                f"{self.base_dir} contains rename-strategy generation "
                f"dirs {sorted(canonical)} but storage='manifest' was "
                "requested — switching commit strategies on an existing "
                "store would delete the committed index as 'unreferenced "
                "debris'.  Migrate explicitly (publish the current "
                "generation through the manifest strategy once, then "
                "retire the rename-mode dir) or restart with "
                "storage='rename'."
            )

    def sweep_uncommitted(self, spark) -> None:
        """Delete every ``store_gen*`` prefix the manifest does not
        reference: crashed mid-write prefixes (commit never happened)
        AND superseded generations a crash left unretired — under a
        manifest commit the two debris classes collapse into one
        idempotent rule.  Also sweeps crashed manifest ``.tmp``
        writes (a half-written tmp is never the live manifest —
        ``os.replace``/PUT is all-or-nothing).  Refuses outright when
        the dir holds RENAME-strategy generations (see
        :meth:`_refuse_rename_mode_debris`)."""
        self._refuse_rename_mode_debris()
        man = self._read_manifest()
        live = man["prefix"] if man else None
        for p in glob.glob(os.path.join(self.base_dir, "store_gen*")):
            if os.path.basename(p) != live:
                shutil.rmtree(p, ignore_errors=True)
                spark.catalog.refreshByPath(p)
        for p in glob.glob(f"{self.manifest_path}.tmp.*"):
            os.remove(p)

    def list_committed(self, sidecar: str) -> list[tuple[int, str]]:
        man = self._read_manifest()
        if man is None:
            return []
        gen_dir = os.path.join(self.base_dir, man["prefix"])
        if not os.path.isdir(gen_dir):
            raise RuntimeError(
                f"_CURRENT references missing prefix {man['prefix']} under "
                f"{self.base_dir} — a referenced prefix is never deleted by "
                "this machinery (only unreferenced ones are swept), so the "
                "store was damaged externally; refusing to guess"
            )
        return [(int(man["generation"]), gen_dir)]

    def retire(self, spark, gen_dir: str) -> None:
        """Idempotent prefix delete.  Guarded: retiring the prefix the
        manifest currently references would destroy the live index."""
        man = self._read_manifest()
        if man and os.path.basename(gen_dir) == man["prefix"]:
            raise RuntimeError(
                f"refusing to retire live prefix {gen_dir} — it is "
                "referenced by _CURRENT"
            )
        shutil.rmtree(gen_dir, ignore_errors=True)
        spark.catalog.refreshByPath(gen_dir)

    # -- commit -------------------------------------------------------
    def publish(
        self, spark, frame, generation: int, sidecar: str, sidecar_obj,
        partition_col: str | None, n_parts: int,
    ) -> tuple[str, int]:
        gen = generation + 1
        prefix = f"store_gen{gen}.{uuid.uuid4().hex[:8]}"
        gen_dir = os.path.join(self.base_dir, prefix)
        _write_generation(
            frame, gen_dir, sidecar, sidecar_obj, partition_col, n_parts
        )
        # the commit point: one PUT flips readers to the new prefix;
        # rolled_absorbed starts false — the rolled reset has not
        # happened yet, so a crash here leaves the heal to run
        self._put_manifest(
            {"generation": gen, "prefix": prefix, "rolled_absorbed": False}
        )
        return gen_dir, gen

    # -- swap-completed marker ---------------------------------------
    def _flip_marker(self, gen_dir: str, value: bool) -> None:
        man = self._read_manifest()
        if man is None or os.path.basename(gen_dir) != man["prefix"]:
            raise RuntimeError(
                f"marker flip for {gen_dir} but _CURRENT references "
                f"{man and man['prefix']} — markers vouch only for the "
                "live generation"
            )
        if bool(man.get("rolled_absorbed")) != value:
            self._put_manifest({**man, "rolled_absorbed": value})

    def rolled_absorbed(self, gen_dir: str) -> bool:
        man = self._read_manifest()
        return bool(
            man
            and os.path.basename(gen_dir) == man["prefix"]
            and man.get("rolled_absorbed")
        )

    def stamp_rolled_absorbed(self, gen_dir: str) -> None:
        self._flip_marker(gen_dir, True)

    def clear_rolled_absorbed(self, gen_dir: str) -> None:
        self._flip_marker(gen_dir, False)


def make_generation_storage(storage, base_dir: str):
    """Resolve the ``storage`` knob of ``ivf_add_stream``:
    ``"rename"`` (default) / ``"manifest"`` / an already-constructed
    strategy object (tests inject these)."""
    if storage is None or storage == "rename":
        return RenameGenerationStorage(base_dir)
    if storage == "manifest":
        return ManifestGenerationStorage(base_dir)
    if hasattr(storage, "publish") and hasattr(storage, "list_committed"):
        return storage
    raise ValueError(
        f"unknown generation storage strategy {storage!r} — expected "
        "'rename', 'manifest', or a strategy object"
    )
