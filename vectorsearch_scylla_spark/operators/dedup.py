"""Near-duplicate fingerprints for the training-data dedup pipeline.

128-bit SimHash with b×r LSH banding — the corpus-scale near-dup
candidate generator (replaces round 1's 16-bit/256-band scheme whose
band key had too little entropy to bound bucket sizes at 100 TB).

Scheme (b=6 bands × r=21 bits over a 128-bit fingerprint):
- fingerprint: one md5 per word; all 128 digest bits vote ±1 per word,
  bit i of the fingerprint set iff its vote sum is positive.  Computed
  in an Arrow-batched NumPy kernel — higher-order-function expression
  folds run interpreted (outside whole-stage codegen) and a 128-wide
  fold per word is ~8× the work of round 1's 16-wide one, while the
  kernel hashes each word once at C speed and never shuffles the text.
- banding: any pair within Hamming distance b−1 (=5) differs in ≤5 bit
  positions, which touch ≤5 of the 6 bands, so at least one band is
  identical on both sides — the per-band equi-join finds EVERY such
  pair (pigeonhole): the operator is exact for h ≤ 5, not approximate.
- band-key entropy: 2^21 values per band (× 6 band ids) — expected
  bucket size N/2^21, so the per-band join's quadratic term stays
  bounded at 100 TB (vs 2^8 buckets in the old scheme).

Reference parity: the reference dedups via embedding ANN (HNSW,
scylladb_setup/create_iot_schema.py:137-155); this is the text-side
twin a training pipeline runs before embedding.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorsearch_scylla_spark.session import conf_partitions, drop_inherited_stats

SIMHASH_BITS = 128
SIMHASH_BANDS = 6
SIMHASH_BAND_BITS = 21  # 6×21 = 126 bits banded; bits 126-127 unbanded
SIG_WORDS = 4  # fingerprint surfaced as 4 × 32-bit little-endian words


def simhash128(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, text) → (id, s0..s3, b0..b5): 128-bit SimHash fingerprint as
    four 32-bit signature words plus six 21-bit LSH band values.

    Bit layout (shared verbatim with the DuckDB oracle in
    ``plans/registry.py``): word w's md5 digest byte j contributes bits
    i = 8j+b with value ``(byte >> b) & 1`` (LSB-first within each
    byte); vote = 2·bit − 1; fingerprint bit i = (Σ votes over words)
    > 0.  s_m packs bits 32m..32m+31 LSB-first; band_k packs bits
    21k..21k+20 LSB-first.

    Rows with NULL text must be filtered by the caller (they carry no
    words to hash); the kernel raises on None rather than guessing.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    # packing matrix: column m<4 holds weights for sig word m (bits
    # 32m..32m+31 LSB-first), column 4+k for band k (bits 21k..21k+20)
    pack = np.zeros((SIMHASH_BITS, SIG_WORDS + SIMHASH_BANDS), dtype=np.int64)
    for m in range(SIG_WORDS):
        pack[32 * m : 32 * m + 32, m] = 1 << np.arange(32, dtype=np.int64)
    for k in range(SIMHASH_BANDS):
        lo = SIMHASH_BAND_BITS * k
        pack[lo : lo + SIMHASH_BAND_BITS, SIG_WORDS + k] = 1 << np.arange(
            SIMHASH_BAND_BITS, dtype=np.int64
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # word → 128-bit row cache: a word is md5'd once per PARTITION,
        # not once per occurrence (corpora repeat words heavily)
        cache: dict[str, np.ndarray] = {}
        md5 = hashlib.md5
        unpack = np.unpackbits
        for pdf in batches:
            if pdf.empty:
                continue
            fps = np.empty((len(pdf), SIMHASH_BITS), dtype=np.int64)
            for di, text in enumerate(pdf[text_col]):
                words = text.split(" ")
                rows = np.empty((len(words), SIMHASH_BITS), dtype=np.uint8)
                for j, w in enumerate(words):
                    row = cache.get(w)
                    if row is None:
                        row = unpack(
                            np.frombuffer(md5(w.encode("utf-8")).digest(), np.uint8),
                            bitorder="little",
                        )
                        cache[w] = row
                    rows[j] = row
                # votes = Σ(2·bit−1) = 2·Σbit − n; fingerprint bit = votes>0
                fps[di] = 2 * rows.sum(axis=0, dtype=np.int64) - len(words) > 0
            packed = fps @ pack  # (B, 10): s0..s3, b0..b5
            out = {id_col: pdf[id_col]}
            out.update({f"s{m}": packed[:, m] for m in range(SIG_WORDS)})
            out.update(
                {f"b{k}": packed[:, SIG_WORDS + k] for k in range(SIMHASH_BANDS)}
            )
            yield pd.DataFrame(out)

    schema = T.StructType(
        [T.StructField(id_col, docs.schema[id_col].dataType, True)]
        + [T.StructField(f"s{m}", T.LongType(), False) for m in range(SIG_WORDS)]
        + [T.StructField(f"b{k}", T.LongType(), False) for k in range(SIMHASH_BANDS)]
    )
    return docs.select(id_col, text_col).mapInPandas(kernel, schema=schema)


def banded_pairs(
    sides: DataFrame,
    band_cols: list[str],
    id_col: str = "doc_id",
    oversized_at: int | None = None,
    split_target: int | None = None,
    max_salts: int | None = None,
    against: DataFrame | None = None,
) -> DataFrame:
    """All within-bucket unordered id pairs ``(id_a < id_b)`` where a
    bucket is the set of rows equal on ``band_cols`` — the pairwise
    expansion step of every LSH band join, SKEW-HARDENED.

    Incremental mode (``against`` given) — the MinHash-class twin of
    ``simhash_near_dup_pairs(against_sigs=…)`` / ``hyperplane_near_dup_pairs
    (against=…)``, completing the daily-increment story for the third
    dedup evidence class: ``sides`` is the NEW batch's band table and
    ``against`` the (persisted) BASE corpus band table with the same
    ``band_cols``/``id_col`` schema; output is every bipartite bucket
    collision ``(id_a = sides id, id_b = against id)``, the base never
    re-paired against itself — |new|-proportional probe rows against
    the base band index instead of |base|².  Caller guarantees
    disjoint id spaces.  No salted expansion is needed: per-bucket
    work is |new∩bucket|·|base∩bucket|, AQE's skew split applies to
    the bipartite join, and the new side broadcasts STATICALLY,
    leaving the base band index unshuffled — the planner cannot pick
    that shape itself because checkpointed increments carry default
    (huge) stats.  KNOW THE FAILURE MODE: an increment too large to
    broadcast does not degrade — it HARD-FAILS, either at Spark's 8 GB
    broadcast-table cap (``SparkException: Cannot broadcast the table
    that is larger than 8GB``) or as a driver OOM while building the
    broadcast relation; either symptom means the increment is outside
    this mode's |new| ≪ |base| contract.

    The failure mode this kills (diagnosed via jstack on the r6 100×
    union bench): a replica clique puts its whole membership into ONE
    band bucket, so the plain self-join hashes all n² pair expansions
    of that bucket onto a single task — AQE skew-join cannot split it
    because the skew is inside one key, and one straggler task runs
    ``array_intersect`` for minutes while the rest of the cluster
    idles.

    Fix: a bucket of n > ``oversized_at`` rows splits its triangular
    expansion across ``R·(R+1)/2`` join keys with R chosen PER BUCKET:
    ``R = clamp(ceil(n / split_target), 2, max_salts)``.  Each member
    gets a deterministic salt g = xxhash64(id) mod R; the (i≤j) salt
    combo becomes part of the join key, so each join key holds
    ~(n/R)² pairs — which with the adaptive R is ~``split_target``²,
    a CONSTANT independent of clique size, until the ``max_salts``
    cap engages (buckets beyond split_target·max_salts members
    degrade gracefully to (n/max_salts)² per key).  A fixed R cannot
    do this: R=8 still lands (n/8)² on one task for a 10 k-member
    clique.  A member is replicated R+1 times (left role: own salt ×
    all gj ≥ gi; right role: all gi ≤ own salt) — only members of
    oversized buckets are replicated, the replication factor grows
    only as the bucket's quadratic blow-up does (n·(R+1) ≪ the n²/2
    pair output it shards), and the cap bounds it at max_salts+1.
    Every unordered pair appears exactly once: cross-group combos
    (gi < gj) orient uniquely by construction and are normalized with
    least/greatest; same-group combos keep the ``id_a < id_b``
    orientation.  Both roles derive R from the same bucket count, so
    the salt spaces always agree.  Small buckets take the plain
    equi-join: zero replication, same output.

    The two knobs are deliberately separate.  ``oversized_at`` is the
    SPLIT TRIGGER: the salted path costs replication plus two pinned
    shuffles, so it should engage only where a bucket's single-task
    expansion time actually hurts — at the measured ~37 k verify-fused
    ``array_intersect``/s per core, n=256 is ~0.9 s on one task, and
    below that splitting buys nothing while taxing every moderately
    common band value (measured: a 64-trigger salted EVERY ~100-member
    bucket of the 100× replica corpus at R=2 and slowed the cascade
    bench ~1.7×, protecting nothing).  ``split_target`` (default
    ``min(64, oversized_at)``) is the SUB-BUCKET GRANULARITY: join
    keys must heavily outnumber shuffle partitions or the weighted
    balls-into-bins packing clumps (measured on the 3,908-member
    clique: R=16 → 136 keys over 32 partitions gave a 21.1 s max task;
    R=62 → 1,953 keys gave 13.2 s ≈ the balanced optimum), so keys are
    sized at ~split_target²/2 ≈ 2 k pairs — fine enough to pack evenly
    at any partition count, coarse enough that per-key constant costs
    stay negligible against the expansion they carry.

    Output schema: ``(id_a, id_b)`` — ids only, deliberately narrow so
    the oversized expansion shuffles ~16-byte rows; callers re-attach
    payloads (shingle arrays, signatures) to the — much smaller —
    surviving pair set by id join.

    Preconditions (all in-tree callers satisfy both by construction):
    ``band_cols`` values must be non-NULL — the expansion joins use
    plain equality, so a NULL-keyed bucket's pairs would be silently
    dropped (every caller bands over computed hashes, which are never
    NULL) — and ``sides`` must be unique on (band key, id), or the
    duplicate rows multiply into duplicate pairs.
    """
    if against is not None:
        # the bipartite mode never salts (per-bucket work is
        # |new∩bucket|·|base∩bucket|, handled by AQE's skew split +
        # the broadcast of the small new side), so explicitly passed
        # skew knobs would be silently ignored — reject them instead
        # of letting a caller believe they took effect.  The knobs
        # default to None sentinels (resolved inside the triangular
        # branch) precisely so "caller passed a value" is detected
        # structurally, not by comparing against default values that
        # could drift (r9 ADVICE).
        if (oversized_at, split_target, max_salts) != (None, None, None):
            raise ValueError(
                "banded_pairs: oversized_at/split_target/max_salts do "
                "not apply in against= (bipartite) mode — the salted "
                "expansion only exists for the triangular self-join"
            )
        # STATIC broadcast hint on the new side (r9, found by a plan
        # pin): without it the planner emits a SortMergeJoin that
        # shuffles the BASE band index per run — the new side usually
        # arrives checkpointed with default (huge) stats, so neither
        # static planning nor AQE's late conversion (which still pays
        # the base-side shuffle WRITE before switching) can see it is
        # small.  The mode's contract IS |new| ≪ |base|.
        new_side = F.broadcast(
            sides.select(*band_cols, F.col(id_col).alias("id_a"))
        )
        return (
            new_side.join(
                against.select(*band_cols, F.col(id_col).alias("id_b")),
                band_cols,
            )
            .select("id_a", "id_b")
        )
    # resolve the None sentinels to the documented defaults (kept out
    # of the signature so against= mode can tell explicit from default)
    if oversized_at is None:
        oversized_at = 256
    if max_salts is None:
        max_salts = 64
    if max_salts < 2:
        raise ValueError(f"max_salts={max_salts}: need >= 2 to split a bucket")
    if split_target is None:
        split_target = min(64, int(oversized_at))
    if split_target < 1:
        raise ValueError(f"split_target={split_target}: need >= 1")
    from pyspark.sql import Window

    # ONE shuffle on the band key does everything: the window count
    # tags each row with its bucket size, the small/big split is a
    # filter, and both sides of the small self-join inherit the same
    # hash partitioning so the join adds no further exchange.  (The
    # earlier groupBy-sizes + broadcast anti/semi formulation scanned
    # the sides three times and cost ~0.5-1 s per fixture-scale query
    # even when no bucket was oversized.)
    tagged = sides.withColumn(
        "__n", F.count("*").over(Window.partitionBy(*band_cols))
    )
    small = tagged.filter(F.col("__n") <= int(oversized_at)).drop("__n")
    big = tagged.filter(F.col("__n") > int(oversized_at)).withColumn(
        "__r",
        F.least(
            F.greatest(
                F.ceil(F.col("__n") / F.lit(int(split_target))), F.lit(2)
            ),
            F.lit(int(max_salts)),
        ).cast("int"),
    ).drop("__n")

    plain = (
        small.select(*band_cols, F.col(id_col).alias("id_a"))
        .join(
            small.select(*band_cols, F.col(id_col).alias("id_b")),
            band_cols,
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )

    g = F.pmod(F.xxhash64(F.col(id_col)), F.col("__r")).cast("int")
    # The explicit repartition on the FULL salted key is the whole
    # point — without it the salt never reaches the task layout.  Two
    # planner behaviors collapse the split otherwise (measured: the
    # 1,000-member clique ran its 478 k verifications in ONE 12.9 s
    # task even "salted"): (a) HashPartitioning on a SUBSET of join
    # keys satisfies ClusteredDistribution, so the window's band-only
    # exchange is reused and the (band, gi, gj) join never reshuffles;
    # (b) AQE broadcast-converts the ids-only right side, after which
    # the join simply fuses into whatever partitioning the left side
    # has — band-only again.  Forcing both sides onto the full key
    # makes the join tasks (and everything verification fuses into
    # them downstream) split R(R+1)/2 ways per bucket.  The partition
    # count must be EXPLICIT: a bare repartition(cols) is
    # AQE-coalescible, and the shuffle it guards carries only O(n·R)
    # ids-and-salts rows — a few KB that AQE folds back to 1-2
    # partitions (measured), re-fusing the O(n²) downstream expansion
    # it cannot see through the exchange.  With the count pinned the
    # shuffle still moves only oversized-bucket rows, i.e. nothing at
    # all on skew-free inputs.
    n_shuffle = conf_partitions(sides.sparkSession)
    left = (
        big.select(
            *band_cols, F.col(id_col).alias("id_a"), g.alias("gi"), "__r"
        )
        .withColumn("gj", F.explode(F.sequence(F.col("gi"), F.col("__r") - 1)))
        .drop("__r")
        .repartition(n_shuffle, *band_cols, "gi", "gj")
    )
    right = (
        big.select(*band_cols, F.col(id_col).alias("id_b"), g.alias("gj"))
        .withColumn("gi", F.explode(F.sequence(F.lit(0), F.col("gj"))))
        .repartition(n_shuffle, *band_cols, "gi", "gj")
    )
    salted = (
        left.join(right, [*band_cols, "gi", "gj"])
        .filter((F.col("gi") < F.col("gj")) | (F.col("id_a") < F.col("id_b")))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )
    return plain.unionByName(salted)


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = SIMHASH_BANDS - 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    against_sigs: DataFrame | None = None,
    docs_sigs: DataFrame | None = None,
) -> DataFrame:
    """All pairs with SimHash Hamming distance ≤ ``max_hamming`` —
    EXACT for max_hamming ≤ bands−1 (pigeonhole: see module
    docstring), LSH-approximate above that.

    Self-join mode (``against_sigs=None``): pairs within ``docs``,
    constrained ``id_a < id_b``.

    Incremental mode (``against_sigs`` given: the BASE corpus's
    simhash128 output, e.g. a persisted signature artifact): pairs
    (docs × base) — the daily-increment shape at 100 TB: the NEW batch
    fingerprints and band-joins against the already fingerprinted BASE
    corpus without ever re-pairing the base against itself, so the
    join is |new|·bands probe rows against the base's band index, not
    |base|².  Caller guarantees disjoint id spaces.  The new side
    broadcasts statically — see :func:`banded_pairs`' against= note
    for why the planner cannot pick that shape itself, and for the
    oversized-increment failure mode (the 8 GB broadcast cap / driver
    OOM reads as a hard failure, not a slowdown).

    Plan shape: one fingerprint pass over ``docs``, bands unpivoted to
    (id, band_idx, band_val) rows, per-band hash equi-join, Hamming
    filter, DISTINCT (a pair may collide in several bands).  No
    whole-band ``collect_list`` — a skewed band is an AQE skew-join,
    never a single in-memory array.

    ``docs_sigs``: a pre-fingerprinted ``docs`` side (simhash128
    output shape) — the caller that needs the SAME increment on both a
    within-increment self-join and a vs-base incremental join
    fingerprints it once and passes it to both calls.  The self-join
    plan feeds the signature table to three subtrees, so a caller
    passing ``docs_sigs`` there must hand over an already-materialized
    frame (parquet read or localCheckpoint) — this function only
    checkpoints signatures it computed itself.
    """
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the exactness bound "
            f"{SIMHASH_BANDS - 1}; results would silently miss pairs"
        )
    sigs = (
        docs_sigs
        if docs_sigs is not None
        else simhash128(docs, id_col=id_col, text_col=text_col)
    )

    def _banded(s: DataFrame) -> DataFrame:
        return s.select(
            id_col,
            *[f"s{m}" for m in range(SIG_WORDS)],
            F.posexplode(F.array(*[f"b{k}" for k in range(SIMHASH_BANDS)])).alias(
                "band_idx", "band_val"
            ),
        )

    hamming = F.expr(
        " + ".join(f"bit_count(a_s{m} ^ b_s{m})" for m in range(SIG_WORDS))
    ).cast("long")

    if against_sigs is None:
        # SELF-JOIN mode: candidate ids through the skew-hardened
        # salted expansion (a replica clique shares every band key and
        # would otherwise put its whole n² expansion on one task).
        # The signature table feeds three subtrees (banded sides, the
        # id_a re-attach, the id_b re-attach); materialize it once so
        # the mapInPandas fingerprint kernel runs one pass, not three
        # (~22 s/pass at the 100× point).
        if docs_sigs is None:
            # LAZY (r15): the first consuming action materializes the
            # fingerprint pass; all three subtrees then share the
            # persisted RDD — one pass either way, one fewer job
            sigs = drop_inherited_stats(sigs.localCheckpoint(eager=False))
        # Order matters at scale: a true-dup clique collides in EVERY
        # band, so the raw candidate stream carries up to `bands`×
        # duplicates of each pair — the signature words re-attach
        # FIRST (broadcast-joinable: 8 longs per doc) and the cheap
        # Hamming filter runs BEFORE the DISTINCT, so the dedup
        # shuffle carries only surviving pairs instead of the ~bands×
        # candidate stream (measured 3× on the 100× replica corpus
        # when distinct ran first).
        cand = banded_pairs(
            _banded(sigs).select(id_col, "band_idx", "band_val"),
            ["band_idx", "band_val"],
            id_col=id_col,
        )
        wa = sigs.select(
            F.col(id_col).alias("id_a"),
            *[F.col(f"s{m}").alias(f"a_s{m}") for m in range(SIG_WORDS)],
        )
        wb = sigs.select(
            F.col(id_col).alias("id_b"),
            *[F.col(f"s{m}").alias(f"b_s{m}") for m in range(SIG_WORDS)],
        )
        return (
            cand.join(wa, "id_a")
            .join(wb, "id_b")
            .select("id_a", "id_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )

    # INCREMENTAL mode: |new|·bands probe rows against the base band
    # index — a bipartite hash join, not a self-join, so per-bucket
    # work is |new∩bucket|·|base∩bucket| and AQE's skew split applies.
    # The new side takes a STATIC broadcast hint (see banded_pairs'
    # against= note): a checkpointed increment carries default stats,
    # and without the hint the planner SortMergeJoins — shuffling the
    # whole base band index per run/epoch, exactly the cost the
    # persisted artifact exists to avoid.
    a = F.broadcast(
        _banded(sigs).select(
            F.col(id_col).alias("id_a"),
            *[F.col(f"s{m}").alias(f"a_s{m}") for m in range(SIG_WORDS)],
            "band_idx",
            "band_val",
        )
    )
    b = _banded(against_sigs).select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"s{m}").alias(f"b_s{m}") for m in range(SIG_WORDS)],
        F.col("band_idx").alias("band_idx_b"),
        F.col("band_val").alias("band_val_b"),
    )
    pair_cond = (F.col("band_idx") == F.col("band_idx_b")) & (
        F.col("band_val") == F.col("band_val_b")
    )
    return (
        a.join(b, pair_cond)
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def roll_forward_signatures(inc_sigs: DataFrame, artifact_path: str) -> None:
    """Fold a certified increment's signature rows into the PERSISTED
    base signature artifact, so the NEXT increment probes
    base ∪ increment — the missing step that turns the one-shot
    incremental modes (``simhash_near_dup_pairs(against_sigs=…)``,
    ``hyperplane_near_dup_pairs(against_sigs=…)``, ``banded_pairs
    (against=…)``) into a CHAINABLE daily pipeline: day d+1's run sees
    every document through day d without any corpus re-fingerprint.
    Generic over the signature shape (SimHash words+bands, MinHash
    band tables, hyperplane band longs): it appends rows to a parquet
    artifact whose schema must match EXACTLY — a near-miss schema
    (int vs long band values, renamed column) would silently produce
    an unreadable mixed artifact, so it is rejected here.

    Write semantics: ``mode("append")`` adds NEW part files only —
    existing base files are never rewritten, so a reader that races
    the append sees a consistent prefix (yesterday's artifact), never
    a torn file.  The intended deployment contract is a single daily
    writer appending AFTER the day's pair extraction is certified;
    ids across appended batches must be disjoint (the same contract
    the against= join itself requires).  At 100 TB the append is
    |increment| rows of fixed-width longs — independent of base size.

    The equality this enables — chained incremental labels ==
    batch-recompute labels after ANY number of roll-forwards — is
    pinned end-to-end by ``tests/test_operators.py::
    test_incremental_chain_roll_forward_equals_batch``.
    """
    spark = inc_sigs.sparkSession
    _check_artifact_schema(
        spark.read.parquet(artifact_path),
        inc_sigs,
        f"the artifact at {artifact_path}",
    )
    inc_sigs.write.mode("append").parquet(artifact_path)


def _check_artifact_schema(existing: DataFrame, inc: DataFrame, label: str) -> None:
    """Shared (name, type) schema gate for the two roll-forward twins:
    compare name/type pairs, not full StructTypes — a parquet/table
    read-back reports every column nullable while kernel-produced
    frames declare non-null fields, a harmless difference (appends
    never widen types)."""
    if [(f.name, f.dataType) for f in existing.schema] != [
        (f.name, f.dataType) for f in inc.schema
    ]:
        raise ValueError(
            f"increment schema does not match {label}:\n"
            f"  artifact:  {existing.schema.simpleString()}\n"
            f"  increment: {inc.schema.simpleString()}"
        )


def _recover_interrupted_compaction(artifact_path: str) -> None:
    """Heal the crash windows of :func:`compact_signature_artifact`'s
    two-rename swap for ``artifact_path`` — shared by the compactor's
    own entry AND by every reader/maintainer of an auto-compacted
    artifact (:func:`fold_streaming_epochs`,
    :func:`streaming_seen_signatures`).  The reader-side call is what
    makes the streaming gate's auto-compaction actually crash-safe: if
    the stream died between the compactor's two renames, the live dir
    is missing and the data sits in ``.compact.old`` — a reader that
    doesn't recover would silently see an EMPTY artifact (missing
    every rolled signature), and a later fold would recreate the live
    dir, after which the stranded ``.compact.old`` looks like
    post-promote debris and gets deleted: permanent loss.  Idempotent
    and cheap (two existence checks) when there is nothing to heal.
    """
    import glob
    import os
    import shutil

    old_candidates = [
        p for p in [f"{artifact_path}.compact.old"] if os.path.exists(p)
    ]
    old_candidates += sorted(glob.glob(f"{artifact_path}.old.*"))
    if os.path.exists(artifact_path):
        for p in old_candidates:  # crashed after promote: live wins
            shutil.rmtree(p, ignore_errors=True)
    elif len(old_candidates) == 1:
        os.rename(old_candidates[0], artifact_path)  # restore pre-compaction
    elif old_candidates:
        raise RuntimeError(
            f"interrupted compaction: {artifact_path} is missing and "
            f"{len(old_candidates)} .old siblings exist ({old_candidates}); "
            "cannot pick the survivor automatically — inspect and rename "
            "the correct one back to the artifact path"
        )
    staging = f"{artifact_path}.compact.staging"
    if os.path.exists(staging):
        shutil.rmtree(staging)  # incomplete write from a crashed run


def fold_streaming_epochs(
    spark,
    sig_root: str,
    rolled_dir: str,
    current_epoch: int,
    compact_at_files: int = 64,
) -> int:
    """Fold COMMITTED streaming epoch signature dirs into one rolled
    artifact — the maintenance step that makes a continuous dedup gate
    (``streaming_neardup_e2e``) truly continuous: without it, every
    micro-batch's ``seen`` frame unions base + EVERY prior ``epoch=N``
    dir, so plan size and file-listing cost grow O(epochs) — fine for
    an afternoon, broken after a day of micro-batches.

    Mechanics — MOVE, never rewrite: each ``epoch=N`` dir with
    ``N < current_epoch`` has its parquet part files renamed into
    ``rolled_dir`` (part-file names carry globally unique UUIDs, so no
    collisions), then the emptied dir is removed.  Epoch dirs may be
    flat OR single-level Hive-partitioned (``col=value`` subdirs — the
    cluster-routed IVF add stream writes ``partitionBy("cluster_id")``
    per epoch): partitioned epochs move each partition's files into
    the same ``col=value`` subdir of ``rolled_dir``, so the rolled
    artifact keeps the prunable layout and the auto-compaction below
    takes :func:`compact_signature_artifact`'s partition-aware branch.  A rename is atomic
    and moves — it cannot duplicate — so a crash at ANY point leaves
    every signature row present exactly once across
    rolled ∪ remaining epoch dirs, and re-running the fold finishes
    the job (idempotent).  Cost per batch is O(files in one epoch)
    renames, ZERO data rewrite — the difference matters because the
    rolled artifact grows to stream-corpus size, and rewriting it per
    fold would be O(|stream|) per batch.

    LAYOUT REFUSAL IS ALL-OR-NOTHING (r12, from r11 ADVICE): every
    pending epoch is layout-classified BEFORE the first move, so a
    batch containing a mixed-layout epoch or a flat/partitioned
    conflict with the rolled artifact is refused with ZERO epochs
    folded — operators never face a partially-applied fold after a
    refusal.  (Crash-interrupted folds remain resumable as below;
    the all-or-nothing guarantee is about the refusal path, not
    power loss.)

    RETRY SAFETY (the in-flight-epoch exclusion): only epochs strictly
    below ``current_epoch`` fold.  A retried epoch's own
    failed-attempt dir is therefore never folded, so the caller's
    ``epoch != current`` filter on the leftover dirs keeps excluding
    it — a doc can never pair with its own retry.

    The file-count debt the moves accrue is paid by
    :func:`compact_signature_artifact` (crash-safe since r10): when
    ``rolled_dir`` exceeds ``compact_at_files`` part files (counted
    recursively — a partitioned rolled artifact keeps them inside its
    ``col=value`` subdirs) it is rewritten to balanced files —
    amortized O(|rolled| / compact_at_files) per epoch.  A crash
    DURING that auto-compaction is healed here on the next entry (the
    shared ``_recover_interrupted_compaction`` runs before ANYTHING
    else, including the sig_root existence check — a standalone
    maintenance caller whose sig_root is gone, or not yet created,
    still owns a possibly-mid-swap rolled artifact) — this
    entry-side recovery is load-bearing: without it, a crash between
    the compactor's two renames would leave the rolled artifact
    missing, the next fold would recreate it, and the stranded
    pre-crash data would later be deleted as post-promote debris.
    Pass ``compact_at_files=0`` to disable auto-compaction (callers
    owning their own maintenance window).

    ``sig_root`` and ``rolled_dir`` must live on the SAME filesystem:
    the move is ``os.rename``, which cannot cross devices — a
    cross-device layout fails fast here with an actionable error
    rather than degrading to a copy (a copy+delete would reopen the
    duplication crash window the rename design exists to close).

    Returns the number of epoch dirs folded.  Per-batch plan-shape
    independence from epoch count is pinned by
    ``tests/test_streaming.py::test_fold_streaming_epochs_bounds_plan``.
    """
    import errno
    import glob
    import os
    import shutil

    # heal a crashed auto-compaction of the rolled artifact BEFORE
    # anything — including the sig_root existence check below: a
    # standalone maintenance caller whose sig_root was removed (or not
    # yet created) still owns a possibly-mid-swap rolled artifact, and
    # returning early without healing it would break the docstring's
    # "heal before any touch" contract (r10 ADVICE).
    _recover_interrupted_compaction(rolled_dir)

    def _move_parts(src: str, dst: str) -> None:
        parts = glob.glob(os.path.join(src, "*.parquet"))
        if not parts:
            return
        os.makedirs(dst, exist_ok=True)
        for part in parts:
            try:
                os.rename(part, os.path.join(dst, os.path.basename(part)))
            except OSError as e:
                if e.errno == errno.EXDEV:
                    raise OSError(
                        errno.EXDEV,
                        "fold_streaming_epochs: sig_root and rolled_dir "
                        "are on different filesystems — the fold moves "
                        "files with rename (atomic, no duplication "
                        "window) and cannot cross devices; co-locate "
                        f"rolled_dir ({rolled_dir}) with sig_root "
                        f"({sig_root})",
                    ) from e
                raise

    def _layout(path: str) -> str:
        """'flat' | 'partitioned' | 'mixed' | 'empty' for one level of
        a signature dir — the same classification
        compact_signature_artifact guards on."""
        if not os.path.isdir(path):
            return "empty"
        has_root = bool(glob.glob(os.path.join(path, "*.parquet")))
        has_part = any(
            "=" in sub
            and os.path.isdir(os.path.join(path, sub))
            and glob.glob(os.path.join(path, sub, "*.parquet"))
            for sub in os.listdir(path)
        )
        if has_root and has_part:
            return "mixed"
        if has_part:
            return "partitioned"
        if has_root:
            return "flat"
        return "empty"

    folded = 0
    if not os.path.isdir(sig_root):
        return folded
    rolled_layout = _layout(rolled_dir)
    if rolled_layout == "mixed":
        raise ValueError(
            f"fold_streaming_epochs: rolled artifact {rolled_dir} already "
            "mixes root part files with col=value partition dirs — a "
            "mixed layout is silently HALF-read by Spark (root files "
            "are dropped when partition dirs exist).  Classify or "
            "delete the stray files before folding."
        )
    # ---- pre-scan: classify EVERY pending epoch before the first
    # move (r11 ADVICE — the refusal used to raise mid-loop, leaving
    # earlier epochs already folded; operators had to know the fold
    # was partially applied.  Pre-scanning makes a mixed batch refuse
    # with ZERO epochs moved, so the fold is all-or-nothing at the
    # batch level, not merely resumable).
    pending: list[tuple[int, str, str]] = []
    for d in sorted(os.listdir(sig_root)):
        if not d.startswith("epoch="):
            continue
        try:
            epoch = int(d.split("=", 1)[1])
        except ValueError:
            continue
        if epoch >= int(current_epoch):
            continue
        src_dir = os.path.join(sig_root, d)
        # flat epoch dirs move root part files; Hive-partitioned epoch
        # dirs (one level of col=value subdirs — the cluster-routed IVF
        # add stream writes partitionBy("cluster_id") per epoch) move
        # each partition's files into the SAME partition subdir of the
        # rolled artifact, so partition pruning survives the fold and
        # compact_signature_artifact's partition-aware branch keeps the
        # layout when the auto-compaction below fires.  REFUSE to mix
        # layouts (r11, found by layout-fuzzing the fold): folding a
        # flat epoch into a partitioned rolled artifact (or vice
        # versa) produces exactly the mixed store whose root-level
        # rows every Spark read then silently DROPS — for the dedup
        # gate that means rolled signatures vanish and duplicates
        # pass.
        epoch_layout = _layout(src_dir)
        if epoch_layout == "mixed":
            raise ValueError(
                f"fold_streaming_epochs: epoch dir {src_dir} mixes root "
                "part files with col=value partition dirs — refusing to "
                "fold a layout Spark cannot fully read (no epoch was "
                "moved).  Two different streams writing one sig_root is "
                "the usual cause."
            )
        if (
            epoch_layout != "empty"
            and rolled_layout != "empty"
            and epoch_layout != rolled_layout
        ):
            raise ValueError(
                f"fold_streaming_epochs: epoch dir {src_dir} is "
                f"{epoch_layout} but the rolled artifact {rolled_dir} is "
                f"{rolled_layout} — folding them together would produce "
                "a mixed layout whose root-level rows Spark silently "
                "drops (no epoch was moved).  Use a separate rolled_dir "
                "per stream layout."
            )
        if epoch_layout != "empty" and rolled_layout == "empty":
            rolled_layout = epoch_layout
        pending.append((epoch, src_dir, epoch_layout))

    for epoch, src_dir, epoch_layout in pending:
        _move_parts(src_dir, rolled_dir)
        for sub in sorted(os.listdir(src_dir)) if os.path.isdir(src_dir) else []:
            sub_src = os.path.join(src_dir, sub)
            if "=" in sub and os.path.isdir(sub_src):
                _move_parts(sub_src, os.path.join(rolled_dir, sub))
        shutil.rmtree(src_dir, ignore_errors=True)
        folded += 1
    if folded:
        # moves happened OUTSIDE Spark: a stale file-status cache on
        # sig_root would reference moved-away epoch files
        # (FAILED_READ_FILE) and one on rolled_dir would silently MISS
        # the newly arrived files — invalidate both.
        spark.catalog.refreshByPath(sig_root)
        spark.catalog.refreshByPath(rolled_dir)
    if (
        compact_at_files
        and os.path.isdir(rolled_dir)
        # recursive: a partitioned rolled artifact keeps its files
        # inside col=value subdirs, which a root-only glob never sees
        and len(
            glob.glob(
                os.path.join(rolled_dir, "**", "*.parquet"), recursive=True
            )
        )
        > int(compact_at_files)
    ):
        compact_signature_artifact(spark, rolled_dir)
    return folded


def streaming_seen_signatures(
    spark,
    base_sigs: DataFrame,
    sig_root: str,
    rolled_dir: str,
    current_epoch: int,
) -> DataFrame:
    """The ``seen`` frame a continuous dedup micro-batch probes:
    base corpus signatures ∪ rolled prior-epoch signatures ∪ any
    not-yet-folded epoch dirs (excluding ``current_epoch`` — a RETRIED
    epoch must not see its own failed attempt's signatures, or every
    doc pairs with itself).  After :func:`fold_streaming_epochs` the
    leftover-dir arm is empty or the retry dir alone, so the union
    arity — and the per-batch plan — is CONSTANT in epoch count.

    Entry heals a crashed auto-compaction of ``rolled_dir`` first
    (idempotent; see ``_recover_interrupted_compaction``) so a
    standalone reader can never mistake a mid-swap artifact for an
    empty one.
    """
    import glob
    import os

    _recover_interrupted_compaction(rolled_dir)
    seen = base_sigs
    if os.path.isdir(rolled_dir) and glob.glob(
        os.path.join(rolled_dir, "*.parquet")
    ):
        seen = seen.unionByName(spark.read.parquet(rolled_dir))
    if glob.glob(os.path.join(sig_root, "epoch=*", "*.parquet")):
        seen = seen.unionByName(
            spark.read.option("basePath", sig_root)
            .parquet(sig_root)
            .filter(F.col("epoch") != int(current_epoch))
            .drop("epoch")
        )
    return seen


def compact_signature_artifact(
    spark, artifact_path: str, target_partitions: int | None = None
) -> int:
    """Small-files maintenance for a rolled-forward artifact: each
    daily :func:`roll_forward_signatures` append adds the increment's
    part files, so after a year of small increments the artifact is
    thousands of KB-sized files and every probe pays file-open/footers
    instead of scan.  Rewrite it to ``target_partitions`` balanced
    files (default: size-based, ~128 MB per file, minimum 1) and swap
    atomically-enough for the single-writer contract: write to a
    staging dir, rename the live dir aside, rename staging in, delete
    the old.  Run it in the same maintenance window the daily append
    owns — the swap is two renames, not atomic as a pair, so a READER
    racing it belongs to a deployment that violated the single-writer
    window this artifact already requires.

    WRITER-CRASH RECOVERY: the staging/old names are DETERMINISTIC
    (``<artifact>.compact.staging`` / ``<artifact>.compact.old``), so
    every crash window is distinguishable on the next entry and healed
    before compacting:

    * crash mid-write → a stale staging dir exists; it is deleted;
    * crash between the two renames → the live path is missing and the
      old dir holds the full pre-compaction artifact; the old dir is
      renamed back (the staging copy is discarded rather than promoted
      because its completeness cannot be proven from names alone);
    * crash after the promote, before cleanup → both live and old
      exist; the old dir is deleted (the live dir is already the
      compacted artifact).

    Legacy ``<artifact>.old.<hex>`` dirs from pre-recovery versions are
    healed the same way when the live path is missing and exactly one
    such sibling exists.  Rows are preserved exactly (pinned by
    ``test_compact_signature_artifact`` and the crash-window tests);
    returns the new file count.

    PARTITIONED artifacts (r10): a Hive-layout dir (``col=value``
    subdirs, no root part files — e.g. the IVF inverted-list store,
    ``partitionBy("cluster_id")``, whose daily ``ivf_incremental_add``
    appends accrue small files PER CLUSTER DIR) compacts
    partition-preservingly: the rewrite repartitions on the detected
    partition columns and writes ``partitionBy(them)``, so partition
    pruning — the whole point of that layout — survives the rewrite
    (a naive single-dir rewrite would silently flatten it).  Default
    ``target_partitions`` there is the partition-dir count (~1 file
    per partition); the crash recovery above is layout-agnostic
    (dir-level renames)."""
    import glob
    import os
    import shutil

    staging = f"{artifact_path}.compact.staging"
    old = f"{artifact_path}.compact.old"
    # --- on-entry recovery from a previously crashed compaction ---
    # (shared with the readers/maintainers of auto-compacted artifacts
    # — see _recover_interrupted_compaction for why they need it too)
    _recover_interrupted_compaction(artifact_path)

    df = spark.read.parquet(artifact_path)
    # Hive-partitioned layout detection: col=value subdirs and no root
    # part files.  Single-level only — that is the only layout the
    # repo's artifacts use (lists store: cluster_id=N).
    part_dirs = [
        d
        for d in os.listdir(artifact_path)
        if "=" in d and os.path.isdir(os.path.join(artifact_path, d))
    ]
    part_cols = sorted({d.split("=", 1)[0] for d in part_dirs})
    root_parts = glob.glob(os.path.join(artifact_path, "*.parquet"))
    if part_dirs and root_parts:
        # a partitioned store polluted with stray root part files would
        # otherwise flip is_partitioned to False and the rewrite would
        # silently FLATTEN the Hive layout — pruning gone, and the
        # stray rows' partition values gone with it (they were never in
        # the root files' columns).  No automatic choice is safe here:
        # refuse loudly and let the owner classify the strays (r10
        # ADVICE).
        raise ValueError(
            f"compact_signature_artifact: {artifact_path} mixes a Hive "
            f"partition layout ({len(part_dirs)} col=value dirs, e.g. "
            f"{part_dirs[0]}) with {len(root_parts)} root-level part "
            "file(s) — compacting would silently flatten the layout or "
            "drop the strays' partition values; move the stray root "
            "files into their partitions (or delete them) first"
        )
    is_partitioned = bool(part_cols) and not root_parts
    if target_partitions is None:
        if is_partitioned:
            target_partitions = max(1, len(part_dirs))
        else:
            total = sum(
                os.path.getsize(p)
                for p in glob.glob(os.path.join(artifact_path, "*.parquet"))
            )
            target_partitions = max(1, int(total / (128 * 2**20)))
    if is_partitioned:
        df.repartition(int(target_partitions), *part_cols).write.partitionBy(
            *part_cols
        ).parquet(staging)
    else:
        df.repartition(int(target_partitions)).write.parquet(staging)
    os.rename(artifact_path, old)
    os.rename(staging, artifact_path)
    shutil.rmtree(old, ignore_errors=True)
    # the swap happened OUTSIDE Spark (os renames), so this session's
    # shared file-status cache can still serve the pre-compaction
    # listing for the path — a later read would hit FAILED_READ_FILE
    # on the replaced part files.  Invalidate explicitly.
    spark.catalog.refreshByPath(artifact_path)
    return len(
        glob.glob(
            os.path.join(artifact_path, "**", "*.parquet"), recursive=True
        )
    )


