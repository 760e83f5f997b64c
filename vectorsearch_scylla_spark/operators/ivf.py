"""IVF (inverted-file) ANN index build: deterministic distributed
Lloyd's k-means over an embedding column.

The reference's ANN index is an HNSW build maintained by the database
(scylladb_setup/create_iot_schema.py:137-155); the Spark-first
equivalent of "build the index" is training a coarse quantizer over
the corpus and materializing the cluster assignment as a partition
key, so probes become hash-join partition scans (N/C candidates per
query instead of N).

Why hand-rolled Lloyd instead of ``pyspark.ml.clustering.KMeans``:
this engine's correctness gate is bit-exact parity with a DuckDB SQL
oracle, and MLlib's k-means|| init + treeAggregate reduction order is
not reproducible in SQL.  This trainer is deterministic BY
CONSTRUCTION on both engines:

- init: the k vectors with the smallest ``md5(cast(id as string))``
  (tie-break id) — a seeded pseudo-random draw both engines compute
  identically;
- assignment: argmax cosine against the current centroids, tie-break
  lowest cluster id — a map-side-only expression (no shuffle, no
  join: centroids ride along as literals, exactly how MLlib
  broadcasts them);
- update: per-(cluster, position) mean via ``posexplode`` +
  ``groupBy`` — partially aggregated map-side, the same shape as
  MLlib's treeAggregate — then QUANTIZED to ``decimals`` places, so
  both engines enter the next iteration with bit-identical centroids
  and fp-accumulation order can never drift across iterations;
- fixed iteration count (no convergence test — a data-dependent stop
  would have to match across engines).

Execution cost per iteration at scale: one corpus scan (assignment is
embarrassingly parallel) plus one k×d-sized shuffle (the update
aggregate) — identical asymptotics to MLlib.
``tests/test_operators.py`` checks the trainer's clustering quality
against ``pyspark.ml.KMeans`` on the same corpus so determinism isn't
bought with a degenerate clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorsearch_scylla_spark.functions.vector import (
    _EPS,
    _cosine_block,
    _entries_sql,
    _rerank,
    _topk_keep,
    _unit_rows,
    quantize,
)
from vectorsearch_scylla_spark.operators.report import retrain_report
from vectorsearch_scylla_spark.session import drop_inherited_stats
from vectorsearch_scylla_spark.sources.tables import publish_dir


def _centroid_block(centroids, dtype):
    """(ids sorted ascending, d × k matrix of unit centroid columns in
    that order) — the setup the NumPy assignment and probe kernels
    share.  Sorted ids make the first maximum the lowest id."""
    import numpy as np

    ordered = sorted(centroids)
    ids = np.array([cid for cid, _ in ordered], dtype=np.int64)
    return ids, _unit_rows(np.asarray([v for _, v in ordered], dtype=dtype))[0].T


def _id_out_dtype(centroids):
    """(Spark type, numpy dtype) for an assignment/probe output column.

    Small coarse ids stay int32 — every existing consumer, oracle, and
    inverted-list parquet schema keeps its shape.  Post-compaction
    child ids ((parent+1)*child_base+child, second generation ~1e12)
    exceed int32, where the old unconditional astype("int32") silently
    WRAPPED and mis-routed members/probes — the same id-width bug class
    the r6 advice flagged inside split_oversized_clusters, one layer
    up.  Widen to long exactly when the centroid table demands it.
    """
    from pyspark.sql.types import IntegerType, LongType

    if centroids and not all(
        -(2**31) <= cid <= 2**31 - 1 for cid, _ in centroids
    ):
        return LongType(), "int64"
    return IntegerType(), "int32"


def assign_clusters(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "cluster_id",
    sim_col: str | None = None,
) -> DataFrame:
    """Attach each row's nearest-centroid id (max cosine, tie-break
    lowest id).  Pure projection — no shuffle, no join: the centroid
    matrix is embedded as literals, the per-row work is k fused cosine
    folds.  ``sim_col`` optionally also emits the winning cosine (the
    struct is materialized once and both fields project from it, so
    the k folds are not re-evaluated).  Built as one SQL-text
    expression: the Column-API construction costs k×d py4j round-trips
    of driver time per plan (seconds at k ≈ √N)."""
    best_sql = f"array_max({_entries_sql(f'`{vec_col}`', centroids)})"
    sql_t = "bigint" if _id_out_dtype(centroids)[1] == "int64" else "int"
    out = df.withColumn("__best", F.expr(best_sql)).withColumn(
        out_col, (-F.col("__best")["nc"]).cast(sql_t)
    )
    if sim_col is not None:
        out = out.withColumn(sim_col, F.col("__best")["s"])
    return out.drop("__best")


def assign_clusters_np(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "cluster_id",
    dtype: str = "float32",
    sim_col: str | None = None,
) -> DataFrame:
    """Blocked NumPy assignment kernel — the documented scale swap-in
    for :func:`assign_clusters` when bit-exact oracle parity is not
    required (the fold-based cosine runs interpreted, outside
    whole-stage codegen; one BLAS matmul per Arrow batch replaces
    k interpreted folds per row).

    Semantics match :func:`assign_clusters`: argmax cosine, tie-break
    LOWEST cluster id (centroid rows are sorted by id and ``argmax``
    takes the first maximum), zero vectors get similarity 0.0 against
    every centroid and so land in the lowest cluster id.  Only the fp
    reduction ORDER differs (BLAS pairwise vs left-fold), which can
    flip an assignment only on a genuine cosine tie at ~1e-15 —
    ``tests/test_operators.py`` asserts full agreement on the fixture
    corpus.  ``dtype='float32'`` is the 100 TB default (half the Arrow
    transfer + matmul cost); use ``'float64'`` to match the expression
    kernel's precision.  ``sim_col`` optionally also emits the winning
    cosine (same contract as :func:`assign_clusters`; the block is
    computed once, both columns read from it).
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    ids, Cn = _centroid_block(centroids, dtype)
    spark_t, np_t = _id_out_dtype(centroids)

    fields = list(df.schema.fields) + [StructField(out_col, spark_t, False)]
    if sim_col is not None:
        fields.append(StructField(sim_col, DoubleType(), False))
    schema = StructType(fields)

    def assign(batches):
        for pdf in batches:
            Vn, zero = _unit_rows(np.asarray(list(pdf[vec_col]), dtype=dtype))
            sims = Vn @ Cn  # n × k cosine block
            sims[zero, :] = 0.0
            best_ix = np.argmax(sims, axis=1)
            pdf = pdf.copy()
            pdf[out_col] = ids[best_ix].astype(np_t)
            if sim_col is not None:
                pdf[sim_col] = sims[np.arange(len(best_ix)), best_ix].astype(
                    np.float64
                )
            yield pdf

    return df.mapInPandas(assign, schema)


def probe_clusters(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    vec_col: str = "embedding",
    out_col: str = "cluster_id",
) -> DataFrame:
    """Explode each row into its ``nprobe`` nearest-centroid ids
    (cosine desc, tie-break lowest id) — the multi-probe fan-out of an
    IVF search.  Also a pure projection + explode; no join.  SQL-text
    construction (see assign_clusters): one JVM parse instead of k×d
    py4j round-trips per plan."""
    # ascending lexicographic sort on (s, nc), reversed = (s DESC, nc
    # DESC); nc = -cluster_id, so nc DESC = cluster_id ASC on ties
    ranked_sql = (
        f"slice(reverse(array_sort({_entries_sql(f'`{vec_col}`', centroids)}))"
        f", 1, {int(nprobe)})"
    )
    sql_t = "bigint" if _id_out_dtype(centroids)[1] == "int64" else "int"
    return df.withColumn("__probe", F.explode(F.expr(ranked_sql))).withColumn(
        out_col, (-F.col("__probe")["nc"]).cast(sql_t)
    ).drop("__probe")


def probe_clusters_np(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    vec_col: str = "embedding",
    out_col: str = "cluster_id",
    dtype: str = "float32",
) -> DataFrame:
    """Blocked NumPy multi-probe fan-out — the scale twin of
    :func:`probe_clusters`.  The expression version embeds every
    centroid as a literal struct, which is fine at the oracle-pinned
    k=8 but produces an O(k·d)-node expression tree at a realistic
    k ≈ √N (1000 clusters × 64 dims); here the centroid matrix is one
    broadcast ndarray and each Arrow batch ranks all k centroids with
    a single BLAS matmul.

    Semantics match :func:`probe_clusters`: cosine DESC, tie-break
    LOWEST cluster id (centroid columns are sorted by id; a stable
    argsort on -sims breaks ties by lower column index = lower id),
    zero vectors get similarity 0.0 everywhere and probe the nprobe
    lowest cluster ids.
    """
    import numpy as np
    from pyspark.sql.types import StructField, StructType

    ids, Cn = _centroid_block(centroids, dtype)
    np_ = min(nprobe, len(ids))
    spark_t, np_t = _id_out_dtype(centroids)

    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, spark_t, False)]
    )

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Vn, zero = _unit_rows(np.asarray(list(pdf[vec_col]), dtype=dtype))
            sims = Vn @ Cn
            sims[zero, :] = 0.0
            top = np.argsort(-sims, axis=1, kind="stable")[:, :np_]
            rep = pdf.loc[pdf.index.repeat(np_)].reset_index(drop=True)
            rep[out_col] = ids[top].ravel().astype(np_t)
            yield rep

    return df.mapInPandas(kernel, schema)


def ivf_probe_topk_grouped(
    probes: DataFrame,
    members: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "corpus_vec",
    cluster_col: str = "cluster_id",
    exclude_self: bool = False,
    dtype: str = "float32",
) -> DataFrame:
    """Fully distributed IVF probe scan: cogroup the probe fan-out and
    the inverted lists on ``cluster_col`` and run one blocked matmul
    PER CLUSTER, so total dot products are Σ_c |queries probing c|·|c|
    ≈ Q·N·(nprobe/K) — the real compute pruning an inverted file buys.

    Contrast ``topk_similarity_join_blocked(join_keys=[cluster_col])``,
    which collects the probe fan-out to the driver and multiplies every
    corpus batch against EVERY probe row before masking: correct, and
    fine at the oracle-pinned K=8, but its matmul work is
    Q·nprobe·N — MORE than brute force.  Here neither side touches the
    driver (the probe side may itself be huge), the only shuffle is the
    cogroup on cluster id, and each task's working set is one cluster's
    members plus the queries probing it — at K ≈ √N both are O(√N)
    rows, so skew is bounded by the quantizer's balance rather than by
    data volume.

    Each cluster's cosine block and candidate retention are
    :mod:`~vectorsearch_scylla_spark.functions.vector`'s
    ``_cosine_block`` and ``_topk_keep``, and the global re-rank over
    the Q·nprobe·k candidate rows is its ``_rerank``, so results are
    exact over the probed clusters; recall vs the unpruned scan is the
    standard IVF nprobe/K trade, measured in ``bench_scale.py``.
    """
    import numpy as np
    import pandas as pd

    keep = k + (1 if exclude_self else 0)
    qdt = probes.schema[query_id].dataType.simpleString()
    cdt = members.schema[corpus_id].dataType.simpleString()
    out_schema = f"{query_id} {qdt}, {corpus_id} {cdt}, similarity double"
    empty = pd.DataFrame({query_id: [], corpus_id: [], "similarity": []})

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return empty
        sims = _cosine_block(
            np.asarray(list(left[query_vec]), dtype=dtype),
            np.asarray(list(right[corpus_vec]), dtype=dtype),
        ).astype(np.float64)
        qi, ci = _topk_keep(sims, keep)
        return pd.DataFrame(
            {
                query_id: left[query_id].to_numpy()[qi],
                corpus_id: right[corpus_id].to_numpy()[ci],
                "similarity": sims[qi, ci],
            }
        )

    cands = (
        probes.groupBy(cluster_col)
        .cogroup(members.groupBy(cluster_col))
        .applyInPandas(score, schema=out_schema)
    )
    return _rerank(cands, k, query_id, corpus_id, "similarity", exclude_self)


def build_ivf_index(
    df: DataFrame,
    cache_token: str,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    train_rows: int | None = None,
) -> tuple[list[tuple[int, list[float]]], str]:
    """Build-once IVF index: train the coarse quantizer, materialize the
    inverted lists as ``cluster_id``-partitioned parquet, and cache both
    on disk keyed by ``cache_token`` (caller folds in source-file
    fingerprints + hyperparameters).  Returns ``(centroids, lists_path)``.

    This is the "index build" half of the reference's ANN story
    (scylladb_setup/create_iot_schema.py:137-155 builds an HNSW index
    ONCE; queries then only probe it).

    100 TB posture:

    - ``train_rows`` caps the TRAINING corpus at a deterministic
      md5-ordered sample (default ``256·k``, FAISS's coarse-quantizer
      training practice) — k-means iterations touch sample-sized data
      only, and the FULL corpus is scanned exactly once, by the final
      assignment pass.  Without the cap, ``iters`` full-corpus passes
      each cost a petabyte-scale scan before the one you need.
    - both the training assignments and the final materialization run
      through the blocked float64 BLAS kernel (:func:`assign_clusters_np`)
      instead of the interpreted cosine fold — identical results off
      exact cosine ties (pinned by ``tests/test_operators.py``), ~5-8×
      lower constant.

    Every subsequent search reads ONLY its probed clusters' partitions —
    Spark prunes the non-probed directories at the parquet scan, so a
    probe touches nprobe/C of the corpus bytes.  Concurrent builders
    race safely through :func:`~vectorsearch_scylla_spark.sources.
    tables.publish_dir`.
    """
    import json
    import os
    import tempfile

    spark = df.sparkSession
    cap = 256 * k if train_rows is None else int(train_rows)
    # build parameters fold into the cache key so a logic change can
    # never serve a stale index from a previous configuration
    path = os.path.join(tempfile.gettempdir(), f"vss_ivf_idx_{cache_token}_s{cap}")
    cents_file = os.path.join(path, "centroids.json")
    lists_path = os.path.join(path, "lists")
    if os.path.isfile(cents_file):
        with open(cents_file) as f:
            cents = [(int(c), v) for c, v in json.load(f)]
        return cents, lists_path
    cents = lloyd_kmeans(
        df, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        decimals=decimals, train_rows=cap, kernel="numpy",
    )
    members = assign_clusters_np(df, cents, vec_col=vec_col, dtype="float64")

    def write(staging: str) -> None:
        # one file per non-empty cluster partition: the shuffle co-locates
        # each inverted list, partitionBy splits them into prunable dirs
        members.repartition(k, "cluster_id").write.partitionBy(
            "cluster_id"
        ).parquet(os.path.join(staging, "lists"))
        with open(os.path.join(staging, "centroids.json"), "w") as f:
            json.dump(cents, f)

    publish_dir(path, cents_file, write)
    return cents, lists_path


def lloyd_kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    kernel: str = "expr",
    train_rows: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Train the coarse quantizer; returns ``[(cluster_id, centroid)]``
    sorted by cluster id.  ``iters + 1`` Spark jobs: one seed draw and
    one assignment+update aggregate per iteration; only k×d values
    ever reach the driver.  A cluster that loses every member simply
    drops out (deterministically on both engines).

    ``train_rows`` bounds the training corpus: the ``train_rows``
    vectors with the smallest ``md5(cast(id as string))`` (tie-break
    id) — the SAME seeded pseudo-random ordering the k-seed draw uses,
    so the seeds are by construction the sample's first k rows, and the
    sample is deterministic in SQL (``ORDER BY md5(..), id LIMIT n``)
    and across reruns.  With ``train_rows >= N`` the sample is the
    whole corpus and the result is unchanged.  At 100 TB this is the
    difference between ``iters`` petabyte scans and ``iters`` scans of
    a ~256·k-row sample; the full corpus should be touched only by the
    caller's single final assignment (see :func:`build_ivf_index`).

    ``kernel='expr'`` (default) assigns via the fused cosine-fold
    expression — interpreted, but bit-reproducible in SQL, which the
    oracle parity gate requires.  ``kernel='numpy'`` swaps in the
    blocked float64 BLAS kernel (:func:`assign_clusters_np`) for the
    assignment pass — the 100 TB build path (identical asymptotics,
    ~5× lower constant; can differ from the fold only on exact cosine
    ties).  Both feed the SAME Spark-side quantized-mean update, so
    centroids stay deterministic either way."""
    def _assign(vdf, cents):
        if kernel == "numpy":
            return assign_clusters_np(vdf, cents, vec_col="__v", dtype="float64")
        return assign_clusters(vdf, cents, vec_col="__v")

    if train_rows is not None and int(train_rows) < k:
        # the documented invariant "seeds are the sample's first k
        # rows" breaks when the sample is smaller than k (seeds
        # train_rows..k-1 would lie outside the training set)
        raise ValueError(
            f"lloyd_kmeans: train_rows={train_rows} < k={k}; the "
            "training sample must contain at least the k seed rows"
        )
    vecs = df.select(id_col, F.col(vec_col).cast("array<double>").alias("__v"))
    hashed = vecs.withColumn("__h", F.md5(F.col(id_col).cast("string")))
    if train_rows is not None:
        # md5-prefix sample; spread back over the cluster after the
        # single-partition global limit so the per-iteration assignment
        # scans parallelize (row membership, and therefore every
        # aggregate below, is partitioning-independent).  The sample is
        # bounded (<= train_rows rows), so materialize it ONCE
        # (localCheckpoint) instead of re-running the corpus-wide
        # orderBy+limit lineage in every one of the ``iters``
        # assignment jobs, and drop the stats Spark 4's checkpoint
        # copies into the LogicalRDD (see session.drop_inherited_stats).
        vecs = drop_inherited_stats(
            hashed.orderBy("__h", id_col)
            .limit(int(train_rows))
            .select(id_col, "__v")
            .repartition(max(df.sparkSession.sparkContext.defaultParallelism, 4))
            # LAZY (r15): the first Lloyd assignment job materializes it
            .localCheckpoint(eager=False)
        )
    seeds = hashed.orderBy("__h", id_col).limit(k).collect()
    cents = [(i, list(r["__v"])) for i, r in enumerate(seeds)]
    for _ in range(iters):
        assigned = _assign(vecs, cents)
        # per-(cluster, pos) quantized means exactly as the oracle CTEs
        # unroll them, then REASSEMBLE the d-length centroid arrays
        # executor-side: the driver collects k ROWS, not k·d — at
        # K ≈ 10⁵ / d = 384 that is the difference between a ~10⁵-row
        # collect and a ~4·10⁷-row one per iteration.  The inner
        # collect_list is structurally bounded at d entries; array_sort
        # on (pos, val) structs orders by pos, so assembly is
        # deterministic and value-identical to the old driver-side
        # dict assembly.
        rows = (
            assigned.select("cluster_id", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cluster_id", "pos")
            .agg(quantize(F.avg("val"), decimals).alias("avg_val"))
            .groupBy("cluster_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "avg_val"))
                ).alias("entries")
            )
            .collect()
        )
        cents = [
            (int(r["cluster_id"]), [e["avg_val"] for e in r["entries"]])
            for r in sorted(rows, key=lambda r: r["cluster_id"])
        ]
    return cents


def split_oversized_clusters(
    members: DataFrame,
    centroids: list[tuple[int, list[float]]],
    max_size: int,
    split_k: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster_id",
    decimals: int = 6,
    child_base: int = 1_000_000,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Index COMPACTION for the append-only IVF maintenance story:
    after enough ``ivf_incremental_add`` appends, skewed inserts grow
    some inverted lists past the size the grouped probe kernel was
    balanced for.  Rather than retraining the whole quantizer (a full
    re-index), split each oversized cluster IN PLACE: run a small
    deterministic k-means over that cluster's members only, replace
    the parent centroid with ``split_k`` children (LONG ids
    ``(parent+1)*child_base + j``; the ``+1`` offset makes every child
    id >= ``child_base``, so a child can never collide with an
    original coarse id (those are < K << child_base) — parent 0
    included, which under the old ``parent*base`` mint produced ids
    0..split_k-1 that aliased untouched coarse clusters.  Across split
    parents the ranges [(p+1)*base, (p+1)*base+split_k) are disjoint
    whenever split_k <= child_base, and a parent is removed the round
    it splits, so ids stay unique across repeated compactions,
    including children of children, until
    ``(max(parent)+1)*child_base + split_k`` would exceed int64, which
    this function rejects with ``ValueError`` AT ENTRY — conservatively
    bounding max(parent) by the largest given centroid id, so the
    invalid configuration fails before any Spark work instead of
    silently wrapping or passing on a no-split run), and reassign ONLY
    the split
    clusters' members.  Output ``cluster_col`` is LongType end-to-end
    (untouched members' ids are widened at the union boundary).
    Untouched clusters' lists and centroids are byte-identical on
    output — at 100 TB the work is proportional to the oversized
    lists, never the corpus, and the per-cluster trainer runs inside
    one ``applyInPandas`` group (a cluster that outgrew one task's
    memory should have been split earlier, which is the point of
    running this periodically).

    Determinism mirrors :func:`lloyd_kmeans` exactly — md5-ordered
    seed draw (smallest ``md5(str(id))``, tie id), argmax-cosine
    assignment with lowest-child tie-break, per-iteration means
    quantized to ``decimals`` — so the split is reproducible across
    runs/engines and SQL-oracle-expressible per cluster (certified by
    the registered ``ivf_compaction`` query's unrolled per-cluster
    CTE oracle).  Returns ``(new_centroids, new_members)``
    where ``new_members`` has the same rows as ``members`` with only
    ``cluster_col`` rewritten for split members, and ``new_centroids``
    is the updated (sorted) centroid table.

    OPERATIONAL NOTE (measured, BENCH_SCALE.md "IVF maintenance week
    under drift"): splitting makes the affected clusters FINER, so a
    probe at the PRE-split ``nprobe`` covers less volume and recall
    drops (measured 0.89 → 0.66 at nprobe=4 after splitting 51
    drift-bloated lists).  The split also shrinks each probed list by
    the same factor, so the paired deployment move is raising nprobe
    with the granularity — nprobe 8–16 post-split measured the SAME
    probe wall as nprobe 4 pre-split and recall 0.87–0.95.  Budget
    compaction and the nprobe bump together.

    FAISS parity note: this is the in-place half of what
    ``IndexIVF`` deployments do by periodic retrain; the frozen-outer
    contract matches ``ivf_incremental_add``'s (no existing
    assignment outside split clusters changes).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, BooleanType, DoubleType, IntegerType, LongType,
        StructField, StructType,
    )

    # validate the id-minting preconditions BEFORE any Spark work: an
    # invalid configuration used to pass silently on runs where no
    # cluster happened to be oversized, and otherwise wasted a full
    # applyInPandas split pass before raising.  The headroom check is
    # conservative — every possible split parent is one of the given
    # centroid ids, so max(centroid id) bounds max(parent).
    if split_k > child_base:
        raise ValueError(
            "split_oversized_clusters: split_k="
            f"{split_k} > child_base={child_base} — child id "
            "ranges of adjacent parents would overlap"
        )
    if centroids:
        max_cid = max(cid for cid, _ in centroids)
        if (max_cid + 1) * child_base + split_k > 2**63 - 1:
            raise ValueError(
                "split_oversized_clusters: child id "
                f"(max possible parent={max_cid} + 1) * child_base="
                f"{child_base} + split_k={split_k} exceeds int64 — "
                "the id space is exhausted; retrain the quantizer "
                "instead of compacting further"
            )

    sizes = (
        members.groupBy(cluster_col).agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > int(max_size))
        .select(cluster_col)
    )
    scale = float(10 ** decimals)
    eps = 0.5 + _EPS

    out_schema = StructType([
        StructField("parent", LongType(), False),
        StructField("child", IntegerType(), False),
        StructField(id_col, LongType(), True),
        StructField("cvec", ArrayType(DoubleType()), True),
        StructField("is_centroid", BooleanType(), False),
    ])

    def split_one(pdf: pd.DataFrame) -> pd.DataFrame:
        parent = int(pdf[cluster_col].iloc[0])
        ids = pdf[id_col].to_numpy()
        V = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        order = np.lexsort((
            ids,
            np.array([hashlib.md5(str(i).encode()).hexdigest() for i in ids]),
        ))
        kk = min(split_k, len(ids))
        C = V[order[:kk]].copy()

        def assign_to(Cm: np.ndarray) -> np.ndarray:
            # first max = lowest child
            return np.argmax(_cosine_block(V, Cm), axis=1)

        for _ in range(iters):
            a = assign_to(C)
            for j in range(len(C)):
                mask = a == j
                if mask.any():
                    C[j] = np.floor(V[mask].mean(axis=0) * scale + eps) / scale
        final = assign_to(C)
        mem = pd.DataFrame({
            "parent": parent,
            "child": final.astype("int32"),
            id_col: ids,
            "cvec": None,
            "is_centroid": False,
        })
        # a child that wins no member drops out, mirroring
        # lloyd_kmeans' drop-empty-cluster semantics (no probe should
        # ever route to a list that cannot exist)
        live = np.unique(final)
        cen = pd.DataFrame({
            "parent": parent,
            "child": live.astype("int32"),
            id_col: None,
            "cvec": [list(C[j]) for j in live],
            "is_centroid": True,
        })
        return pd.concat([mem, cen], ignore_index=True)

    split = (
        members.join(F.broadcast(sizes), cluster_col, "left_semi")
        .groupBy(cluster_col)
        .applyInPandas(split_one, schema=out_schema)
    )
    cen_rows = split.filter(F.col("is_centroid")).select("parent", "child", "cvec").collect()
    split_parents = {int(r["parent"]) for r in cen_rows}
    new_cents = sorted(
        [(cid, v) for cid, v in centroids if cid not in split_parents]
        + [
            ((int(r["parent"]) + 1) * child_base + int(r["child"]), list(r["cvec"]))
            for r in cen_rows
        ]
    )
    reassigned = (
        split.filter(~F.col("is_centroid"))
        .select(
            id_col,
            (
                (F.col("parent") + F.lit(1)) * F.lit(child_base).cast("long")
                + F.col("child")
            )
            .cast("long")
            .alias(cluster_col),
        )
    )
    untouched = members.join(F.broadcast(sizes), cluster_col, "left_anti").withColumn(
        cluster_col, F.col(cluster_col).cast("long")
    )
    moved = (
        members.drop(cluster_col)
        .join(reassigned, id_col)
        .select(*members.columns)
    )
    return new_cents, untouched.unionByName(moved)


def ivf_recall_audit(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    members: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "corpus_id",
    corpus_vec: str = "corpus_vec",
    cluster_col: str = "cluster_id",
    exclude_self: bool = True,
    dtype: str = "float32",
    max_queries: int = 512,
) -> tuple[float | None, int]:
    """Sampled recall@k of the IVF multi-probe search against the exact
    blocked sweep — the measurement half of the index-maintenance loop
    (the registered ``ann_recall_report`` query certifies this shape
    against the DuckDB oracle).  Returns ``(recall, n_exact_pairs)``;
    recall is ``None`` when the sample yields no ground-truth pairs.

    No ``tie_aware`` option here, deliberately: the IVF probe scores
    candidates with the TRUE cosine — the same kernel as the ground
    truth — so within the probed lists its ordering matches the exact
    sweep up to fp noise and the id-set metric carries no
    tie/resolution floor; every miss is a genuine routing miss, which
    is exactly what the maintenance ladder gates on.

    The audit is BOUNDED by construction: ``max_queries`` queries are
    drawn by the same deterministic md5-order the trainers sample with
    (smallest ``md5(cast(id as string))``, tie-break id), so repeated
    audits of an unchanged index agree exactly and the exact-truth
    pass costs O(sample·N) — never O(N²) — while the corpus itself is
    scanned, not collected (the blocked sweep collects only the
    bounded query sample; ``max_collect_rows`` still guards it).
    """
    sample, exact, denom = _audit_ground_truth(
        queries, members,
        k=k, query_id=query_id, query_vec=query_vec,
        corpus_id=corpus_id, corpus_vec=corpus_vec,
        exclude_self=exclude_self, dtype=dtype, max_queries=max_queries,
    )
    if not denom:
        return None, 0
    recall = _audit_recall_at(
        sample, exact, denom, centroids, members,
        nprobe=nprobe, k=k, query_id=query_id, query_vec=query_vec,
        corpus_id=corpus_id, corpus_vec=corpus_vec,
        cluster_col=cluster_col, exclude_self=exclude_self, dtype=dtype,
    )
    return recall, denom


def _audit_ground_truth(
    queries, members, *, k, query_id, query_vec, corpus_id, corpus_vec,
    exclude_self, dtype, max_queries,
):
    """Bounded md5-ordered query sample + its exact top-k over the
    corpus — the expensive O(sample·N) half of every recall audit,
    computed ONCE and reused across however many nprobe points the
    caller evaluates against it."""
    from vectorsearch_scylla_spark.operators.knn import (
        topk_similarity_join_blocked,
    )

    # LAZY checkpoints (r15): the exact kernel's bounded query collect
    # materializes ``sample`` and ``exact.count()`` (the denominator,
    # returned below) materializes ``exact`` — same single-evaluation
    # guarantee, two fewer dedicated checkpoint jobs per audit.  The
    # md5 order with id tie-break is a total order, so laziness cannot
    # change which queries the sample holds.
    sample = drop_inherited_stats(
        queries.orderBy(
            F.md5(F.col(query_id).cast("string")), F.col(query_id)
        )
        .limit(int(max_queries))
        .localCheckpoint(eager=False)
    )
    exact = (
        topk_similarity_join_blocked(
            sample,
            members.select(corpus_id, corpus_vec),
            k=k,
            query_id=query_id,
            corpus_id=corpus_id,
            query_vec=query_vec,
            corpus_vec=corpus_vec,
            exclude_self=exclude_self,
            dtype=dtype,
        )
        # __exact_sim rides along for tie-aware consumers.  min(
        # __exact_sim) per query is the kth score ONLY because the
        # blocked kernel's global row_number re-rank caps output at
        # exactly k rows (ties beyond k are trimmed, broken by
        # corpus_id) — this is NOT the complete acceptable-set at the
        # kth score; a tie-aware consumer needing the full tie cohort
        # must re-score against the members table.
        .select(
            query_id,
            F.col(corpus_id).alias("__exact_id"),
            F.col("similarity").alias("__exact_sim"),
        )
        .localCheckpoint(eager=False)
    )
    return sample, exact, exact.count()


def _audit_recall_at(
    sample, exact, denom, centroids, members, *, nprobe, k,
    query_id, query_vec, corpus_id, corpus_vec, cluster_col,
    exclude_self, dtype,
):
    """Recall of the IVF multi-probe search at one nprobe point
    against a precomputed ground truth (cheap half: O(sample·probed
    lists))."""
    probes = probe_clusters_np(
        sample, centroids, nprobe=nprobe, vec_col=query_vec,
        out_col=cluster_col, dtype=dtype,
    )
    approx = ivf_probe_topk_grouped(
        probes,
        members,
        k=k,
        query_id=query_id,
        corpus_id=corpus_id,
        query_vec=query_vec,
        corpus_vec=corpus_vec,
        cluster_col=cluster_col,
        exclude_self=exclude_self,
        dtype=dtype,
    ).select(query_id, F.col(corpus_id).alias("__approx_id"))
    hits = exact.join(
        approx,
        (exact[query_id] == approx[query_id])
        & (exact["__exact_id"] == approx["__approx_id"]),
        "left_semi",
    ).count()
    return hits / denom


def maybe_retrain(
    members: DataFrame,
    centroids: list[tuple[int, list[float]]],
    queries: DataFrame,
    recall_budget: float = 0.85,
    nprobe_max: int = 8,
    k: int = 5,
    retrain_k: int | None = None,
    iters: int = 2,
    train_rows: int | None = None,
    id_col: str = "corpus_id",
    vec_col: str = "corpus_vec",
    cluster_col: str = "cluster_id",
    dtype: str = "float32",
    max_audit_queries: int = 512,
    decimals: int = 6,
    audit_after: bool = True,
    recall_before: float | None = None,
) -> tuple[list[tuple[int, list[float]]], DataFrame, dict]:
    """The EXECUTABLE retrain trigger closing the IVF maintenance loop
    (r10 VERDICT #5): evaluate the sampled recall audit at the maximum
    probe budget the deployment will pay, and — only past budget —
    retrain the coarse quantizer on a bounded sample and re-route the
    corpus in one map-only pass.  Returns ``(centroids, members,
    report)``: unchanged inputs plus ``report["retrained"]=False`` when
    the index still holds budget (the no-op path costs one bounded
    audit, never a training pass).

    Maintenance semantics (the week study in BENCH_SCALE.md "IVF
    maintenance week under drift" quantifies the escalation ladder this
    sits atop): daily drifted increments route through the FROZEN
    quantizer (``ivf_incremental_add``); bloated lists split in place
    (:func:`split_oversized_clusters`) with the paired nprobe bump;
    and when even ``nprobe_max`` probes cannot hold ``recall_budget``
    — the quantizer itself no longer tiles the data — this trigger
    fires the full retrain.  That is the same ladder FAISS IndexIVF
    deployments operate (add → rebalance → periodic re-train), and the
    Spark re-expression of rebuilding the reference's HNSW index
    (scylladb_setup/create_iot_schema.py:137-155 recreates the index
    to retile the graph).

    Retrain path — certified pieces only, nothing novel: the trainer
    is :func:`lloyd_kmeans` with the bounded md5-ordered sample
    (default ``256·k`` rows — the binding-sample semantics the
    registered ``ivf_sampled_train_knn`` certifies end-to-end), and
    the re-route is one :func:`assign_clusters_np` pass over the
    corpus (the same map-only kernel every routed append uses).  The
    default ``retrain_k`` re-derives K ≈ √N from the CURRENT corpus
    size, so a store that grew under appends retrains to the coarse
    granularity its size now warrants, not the one it was born with.
    At 100 TB: audit O(sample·N), training O(iters·sample), re-route
    one full scan — the corpus never collects to the driver and never
    self-joins.  ``audit_after=False`` skips the post-retrain audit
    for callers that persist the re-routed store first and audit the
    persisted artifact instead (cheaper: the audit's passes then scan
    parquet rather than recompute the assignment lineage).

    The returned ``members`` frame has ``cluster_col`` rewritten for
    EVERY row (ids from the new quantizer's id space, starting at 0);
    the caller owns persisting it (``partitionBy(cluster_col)``) and
    swapping the store (``ivf_add_stream`` commits it as a new
    generation through :mod:`~vectorsearch_scylla_spark.streaming.
    genstore`'s staged rename).  ``queries`` carries
    ``(query_id, query_vec)`` — the audit sample the deployment
    watches, typically the most recent increment's vectors (drift
    shows up in NEW queries first; the week study samples exactly
    that).

    ``recall_before`` short-circuits the entry audit when the caller
    has ALREADY measured recall at ``nprobe_max`` on this exact
    (queries, centroids, members) state — :func:`ivf_maintenance_step`
    passes the grid-max point of the retune it just ran, saving the
    redundant O(sample·N) exact pass.  Never pass a stale or
    different-state measurement; the trigger decision is only as
    honest as this number.

    REPORT CONTRACT (r14, see
    :mod:`~vectorsearch_scylla_spark.operators.report`): the returned
    report carries ``fired`` / ``rolled_back`` / ``budget`` /
    ``audit_metric`` / ``metric_before`` / ``metric_after`` (IVF
    always audits ``"id_set"`` and never rolls back — ``rolled_back``
    is a constant False here, present so report tooling needs no key
    map),
    plus the IVF diagnostics ``nprobe``/``k``/``k_before``/
    ``k_after``/``n_audit_pairs`` and the legacy aliases.
    """
    if recall_before is None:
        recall_before, denom = ivf_recall_audit(
            queries, centroids, members,
            k=k, nprobe=nprobe_max,
            query_id="query_id", query_vec="query_vec",
            corpus_id=id_col, corpus_vec=vec_col, cluster_col=cluster_col,
            dtype=dtype, max_queries=max_audit_queries,
        )
    else:
        # caller-supplied measurement; pair count unknown here.  None —
        # not a -1 sentinel — so a consumer that sums or thresholds
        # pair counts across reports fails loudly instead of silently
        # skewing the total (r11 ADVICE).
        denom = None
    # the report contract (r13 VERDICT task 7): fired / rolled_back /
    # budget / audit_metric / metric_before / metric_after, IVF
    # diagnostics alongside, legacy spellings as aliases — see
    # operators/report.py.  IVF's audit is always the
    # id-set recall (ivf_recall_audit has no tie-aware mode; coarse
    # routing is not tie-dominated the way ADC scoring is).
    report = retrain_report(
        fired=False,
        budget=float(recall_budget),
        audit_metric="id_set",
        metric_before=recall_before,
        nprobe=int(nprobe_max),
        k=int(k),
        n_audit_pairs=None if denom is None else int(denom),
        k_before=len(centroids),
        k_after=len(centroids),
    )
    if recall_before is None or recall_before >= recall_budget:
        return centroids, members, report

    n = members.count()
    kk = int(retrain_k) if retrain_k is not None else max(8, int(round(n**0.5)))
    cap = 256 * kk if train_rows is None else int(train_rows)
    vecs = members.drop(cluster_col)
    new_cents = lloyd_kmeans(
        vecs,
        k=kk,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        decimals=decimals,
        kernel="numpy",
        train_rows=cap,
    )
    routed = assign_clusters_np(
        vecs, new_cents, vec_col=vec_col, out_col=cluster_col, dtype=dtype
    )
    report["retrained"] = report["fired"] = True
    report["k_after"] = len(new_cents)
    report["n_corpus"] = int(n)
    if audit_after:
        recall_after, _ = ivf_recall_audit(
            queries, new_cents, routed,
            k=k, nprobe=nprobe_max,
            query_id="query_id", query_vec="query_vec",
            corpus_id=id_col, corpus_vec=vec_col, cluster_col=cluster_col,
            dtype=dtype, max_queries=max_audit_queries,
        )
        report["recall_after"] = report["metric_after"] = recall_after
    return new_cents, routed, report


def ivf_maintenance_step(
    members: DataFrame,
    centroids: list[tuple[int, list[float]]],
    queries: DataFrame,
    recall_budget: float = 0.85,
    nprobe_grid: tuple[int, ...] = (4, 8, 16, 32),
    max_size: int | None = None,
    split_k: int = 4,
    k: int = 5,
    id_col: str = "corpus_id",
    vec_col: str = "corpus_vec",
    cluster_col: str = "cluster_id",
    dtype: str = "float32",
    max_audit_queries: int = 512,
    retrain_k: int | None = None,
    iters: int = 2,
    post_retrain_grid: tuple[int, ...] | None = None,
) -> tuple[list[tuple[int, list[float]]], DataFrame, dict]:
    """One scheduled pass of the full IVF maintenance ladder — the
    single production entrypoint composing the rungs the drift weeks
    in BENCH_SCALE.md priced individually: **split** bloated lists in
    place when ``max_size`` is given (cheap, work ∝ oversized lists),
    **re-tune** the probe budget to the current tiling's knee (the
    smallest grid ``nprobe`` whose sampled recall@k meets budget — one
    bounded exact pass), and only when
    the whole grid is exhausted below budget, **retrain** the coarse
    quantizer (:func:`maybe_retrain`'s bounded-sample path) and
    re-tune once more against the new tiling.  Escalation is strictly
    cheap-to-expensive; the common healthy day costs one bounded
    audit and touches nothing.

    Returns ``(centroids, members, report)``.  ``report["actions"]``
    lists what actually ran (subset of ``["split", "retune",
    "retrain"]`` in execution order); ``report["nprobe"]`` is the
    re-tuned probe budget to serve with, or ``None`` if even the
    post-retrain grid missed budget — the deployment's signal that
    the budget/grid themselves need revisiting (report carries every
    measured recall for that conversation).  The returned ``members``
    has rewritten cluster ids iff ``"split"`` or ``"retrain"`` is in
    actions; the caller owns persisting it partition-by-cluster and
    swapping the store (``compact_signature_artifact``'s staged
    two-rename is the crash-safe pattern).

    **The grid IS the policy** (measured — the week-2 replay in
    BENCH_SCALE.md): ``nprobe_grid`` is the spend ceiling you will
    pay on the CURRENT tiling before declaring it stale, and
    ``post_retrain_grid`` (defaults to ``nprobe_grid``) is the range
    re-tuned on a FRESH tiling — two different economic decisions.
    On the drift week's day-8 state, a wide current-era grid
    ``(8,16,32)`` finds the old tiling still holds budget at
    nprobe=32 (recall 0.913) and defers the retrain — paying ~1.8×
    the probed volume of the fresh tiling's knee (32/600 vs 16/529
    lists) every day, on an index that keeps decaying under drift;
    the week's policy ``nprobe_grid=(8,), post_retrain_grid=
    (8,16,32)`` ("8 is the ceiling for THIS era; a fresh tiling may
    re-tune upward") fires the retrain and reproduces the manual
    study bit-for-bit (K 600→529, knee 16, recall 0.918).

    The measured week (BENCH_SCALE.md "IVF maintenance week under
    drift" + "Week 2"): days 1-7 this step would no-op or split
    (day 4: 51 lists, 4.6 s) and re-tune 4→8; day 8's new-source
    scatter exhausts the era grid, the retrain fires (19.8 s total
    on 280 k rows), and the re-tune lands 16 at the old nprobe-8
    wall.  Reference parity: the reference recreates its HNSW index
    wholesale to re-tile (scylladb_setup/create_iot_schema.py:
    137-155); this is the same lifecycle with each rung priced and
    the cheap ones tried first.
    """
    if not nprobe_grid or (
        post_retrain_grid is not None and not post_retrain_grid
    ):
        # fail fast BEFORE the split/audit spend — an empty grid would
        # otherwise surface as a bare max() ValueError after the
        # expensive rungs already ran
        raise ValueError(
            "ivf_maintenance_step: nprobe_grid and post_retrain_grid "
            "must be non-empty — the grid IS the probe-spend policy"
        )

    report: dict = {
        "recall_budget": float(recall_budget),
        "actions": [],
        "k_before": len(centroids),
        "nprobe": None,
    }
    if max_size is not None:
        sizes = members.groupBy(cluster_col).count()
        n_oversized = sizes.filter(F.col("count") > int(max_size)).count()
        report["oversized_lists"] = int(n_oversized)
        if n_oversized:
            centroids, members = split_oversized_clusters(
                members, centroids, max_size=int(max_size),
                split_k=split_k, iters=iters,
                id_col=id_col, vec_col=vec_col, cluster_col=cluster_col,
            )
            members = drop_inherited_stats(members.localCheckpoint())
            report["actions"].append("split")
            report["k_after_split"] = len(centroids)

    # ONE exact ground-truth pass funds the entire pass (r11 review):
    # neither the split nor the retrain ever rewrites a ROW — both
    # rewrite cluster ids only — so the (queries × members) exact
    # top-k computed here stays valid across every rung below, exactly
    # as the manual week study reuses its per-day truth.  Paying
    # _audit_ground_truth again after the retrain (what two separate
    # re-tune passes would do) doubles the dominant O(sample·N)
    # cost of a retrain day for zero information.
    sample, exact, denom = _audit_ground_truth(
        queries, members,
        k=k, query_id="query_id", query_vec="query_vec",
        corpus_id=id_col, corpus_vec=vec_col,
        exclude_self=True, dtype=dtype, max_queries=max_audit_queries,
    )

    def _walk_grid(grid, cents_now, members_now) -> tuple[int | None, dict]:
        tune_rep: dict = {
            "recall_budget": float(recall_budget),
            "n_audit_pairs": int(denom),
            "recall_at": {},
        }
        if not denom:
            return None, tune_rep
        for np_i in sorted(int(n) for n in grid):
            recall = _audit_recall_at(
                sample, exact, denom, cents_now, members_now,
                nprobe=np_i, k=k, query_id="query_id",
                query_vec="query_vec", corpus_id=id_col,
                corpus_vec=vec_col, cluster_col=cluster_col,
                exclude_self=True, dtype=dtype,
            )
            tune_rep["recall_at"][np_i] = recall
            if recall >= recall_budget:
                return np_i, tune_rep
        return None, tune_rep

    knee, tune = _walk_grid(nprobe_grid, centroids, members)
    report["actions"].append("retune")
    report["retune"] = tune
    if knee is not None or not tune["n_audit_pairs"]:
        # budget holds at some grid point (or there is nothing to
        # audit yet) — the ladder stops at the cheap rung
        report["nprobe"] = knee
        report["k_after"] = len(centroids)
        return centroids, members, report

    # grid exhausted below budget: the tiling itself is stale.  The
    # walk already measured recall at the grid max on this exact
    # state — hand it to maybe_retrain so the trigger skips its
    # redundant entry audit (the O(sample·N) half).
    grid_max = max(int(n) for n in nprobe_grid)
    centroids, members, retrain_rep = maybe_retrain(
        members, centroids, queries,
        recall_budget=recall_budget,
        nprobe_max=grid_max,
        k=k, retrain_k=retrain_k, iters=iters,
        id_col=id_col, vec_col=vec_col, cluster_col=cluster_col,
        dtype=dtype, max_audit_queries=max_audit_queries,
        audit_after=False,
        recall_before=tune["recall_at"][grid_max],
    )
    report["retrain"] = retrain_rep
    if retrain_rep["retrained"]:
        members = drop_inherited_stats(members.localCheckpoint())
        report["actions"].append("retrain")
        knee, tune2 = _walk_grid(
            post_retrain_grid if post_retrain_grid is not None
            else nprobe_grid,
            centroids, members,
        )
        report["actions"].append("retune")
        report["retune_after_retrain"] = tune2
        report["nprobe"] = knee
    report["k_after"] = len(centroids)
    return centroids, members, report
