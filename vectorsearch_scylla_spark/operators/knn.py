"""Batch top-k similarity join — the engine's replacement for ScyllaDB's
``ORDER BY embedding ANN OF ? LIMIT k`` (HNSW/USearch, SURVEY §4.4).

Three exact strategies, one API:

1. ``topk_similarity_join`` (exact, expression-based): broadcast the
   query side, join against the corpus, cosine via native array exprs,
   rank per query.  O(Q·N·d) but fully JVM-side and embarrassingly
   parallel over corpus partitions; correct oracle for everything else.

2. ``topk_similarity_join_blocked`` (exact, vectorized): same result,
   but the corpus side is consumed per-partition by a ``mapInPandas``
   NumPy matmul with a per-partition top-k, then a cheap global re-rank
   of Q·k·P candidate rows.  This is the 100 TB path: float32 BLAS
   inside Arrow batches, shuffle only the per-partition winners
   (Q × k rows per partition), never the corpus.

3. ``topk_similarity_join_cogrouped`` (exact, two-sided): both sides
   are hash-blocked and cogrouped, so neither the query set nor the
   corpus is collected to the driver — the large-Q shape.

The approximate path (random-hyperplane band candidates + exact
re-rank) is ``functions.hyperplane.hyperplane_topk_join``.

Unlike ScyllaDB's ANN (no WHERE allowed — the reference over-fetches
LIMIT 50-100 then client-filters, ``detect_anomalies_vector_search.py:
106-149``), filters here compose *before* ranking: pass a pre-filtered
corpus DataFrame and LIMIT semantics stay exact (SURVEY §4 last row).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectorsearch_scylla_spark.functions.vector import (
    _collect_capped,
    _rerank,
    _topk_keep,
    _unit_rows,
    cosine_similarity,
)


def topk_similarity_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "corpus_vec",
    exclude_self: bool = False,
    join_keys: list[str] | None = None,
) -> DataFrame:
    """Exact brute-force top-k cosine join.

    Returns (query_id, corpus_id, [join_keys...], similarity, rank),
    rank 1..k per query ordered by similarity desc (ties broken by
    corpus_id so results are deterministic / oracle-stable).

    ``exclude_self`` drops corpus rows whose id equals the query id —
    the reference's anti-self join (SURVEY J6,
    ``pipeline/path3_vector_search.py:149-151``) — encoded in the join
    predicate, not post-hoc, so LIMIT semantics are preserved
    (SURVEY §7.5).

    ``join_keys``: columns present on BOTH sides that must match
    (e.g. same-device constraint, ``path3_vector_search.py:137-140``).
    Equi-keys turn the broadcast nested-loop into a broadcast HASH
    join — at scale this prunes the candidate space from Q×N to
    Q×N/keys before any cosine is computed.

    Scale: the query side is broadcast (Q small — detection works on
    one microbatch of new snapshots); the corpus side streams through
    executors partition-by-partition.  No shuffle of the corpus; the
    only shuffle is the final rank over Q·N' candidate rows.
    """
    join_keys = join_keys or []
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qvec"),
        *[F.col(kcol) for kcol in join_keys],
    )
    c = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.col(corpus_vec).alias("__cvec"),
        *[F.col(kcol).alias(f"__k_{kcol}") for kcol in join_keys],
    )
    cond = F.lit(True) if not exclude_self else (F.col("__qid") != F.col("__cid"))
    for kcol in join_keys:
        cond = cond & (F.col(kcol) == F.col(f"__k_{kcol}"))
    pairs = c.join(F.broadcast(q), on=cond, how="inner").withColumn(
        "similarity", cosine_similarity("__qvec", "__cvec")
    )
    w = Window.partitionBy("__qid").orderBy(
        F.col("similarity").desc(), F.col("__cid").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            *join_keys,
            "similarity",
            "rank",
        )
    )


def topk_similarity_join_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "corpus_vec",
    exclude_self: bool = False,
    dtype: str = "float32",
    join_keys: list[str] | None = None,
    max_query_rows: int = 4096,
    max_collect_rows: int = 1_048_576,
) -> DataFrame:
    """Exact top-k via per-partition NumPy matmul + global re-rank.

    Same result set as ``topk_similarity_join`` (with ``dtype=
    "float64"`` the dot products agree with the expression/SQL oracles
    to fp rounding; float32 is the cheaper 100 TB default).  The corpus
    never shuffles: each partition emits ~Q×k candidate rows, and the
    global re-rank runs over Q×k×num_partitions rows — negligible
    versus N.

    ``join_keys`` restricts each query's candidates to corpus rows with
    equal key values (IVF cluster probe / same-device constraint) —
    applied as a mask INSIDE the kernel so per-batch top-k stays exact.

    The query side is collected ONCE (a single evaluation of the query
    plan — safe for nondeterministic inputs like ``sample``/``limit``)
    then sliced into chunks of ``max_query_rows``: each chunk is a
    bounded broadcast whose kernel scans the corpus once, and all
    chunks' candidates union into one global re-rank (one job — chunk
    scans run concurrently).  Driver memory is O(Q × d) for the collect
    (the query side is assumed small relative to the corpus); chunking
    bounds each broadcast and each kernel's working set to
    O(max_query_rows × d).  The corpus still never shuffles; the trade
    is ceil(Q / max_query_rows) corpus scans, the classic blocked
    exact-kNN sweep.  Id columns keep whatever type the inputs carry
    (string snapshot ids, long vec ids, ...).

    This is strategy (1)+(2) of SURVEY §4.4: block matmul in
    ``mapInPandas``, top-k per block, re-rank global top-k.

    **Large-Q / no-driver-collect variant**: when Q is itself corpus-
    sized (a full self-join, 100 TB query stream), the driver collect
    here is the wrong shape.  The repo's distributed alternative is
    ``functions.hyperplane.hyperplane_topk_join``: both sides are
    signed against the same fixed-seed hyperplane matrix (a map-only
    matmul, no fit, no collect), candidates come from a (band_idx,
    band_val) equi-join — a plain shuffle join Spark scales
    horizontally, AQE handling any skewed bucket — and an Arrow
    float64 kernel re-ranks exactly over candidates only.  Trade-off:
    it is approximate (recall is a function of n_bands × band_bits vs
    the similarity floor; 16×16 bands miss a 0.995-cosine neighbor
    with prob ~5e-7), so this blocked exact sweep remains the path for
    small-Q / exactness; the hyperplane join is the path when Q no
    longer fits a driver.  When EXACTNESS must also survive large Q,
    ``topk_similarity_join_cogrouped`` (below) is the two-sided block
    join: no collect on either side, same |Q|·|C| dot products (the
    cost exactness admits nothing less than), shuffle volume
    Q·CB + N·QB replica rows.  Banding remains the only way to beat
    that product, which is why the distributed default stays
    LSH-first.

    ``max_collect_rows`` enforces that bounded-Q contract through
    ``functions.vector._collect_capped`` — the guard itself can never
    OOM the driver — and exceeding the cap raises, naming the two
    large-Q paths above.
    """
    import functools

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    np_dtype = np.dtype(dtype)
    join_keys = join_keys or []
    sc = queries.sparkSession
    qrows_all = _collect_capped(
        queries.select(query_id, query_vec, *join_keys),
        max_collect_rows,
        "topk_similarity_join_blocked: query side exceeds "
        f"max_collect_rows={max_collect_rows} — this exact sweep "
        "collects Q to the driver and is the SMALL-Q path.  For a "
        "corpus-sized Q use topk_similarity_join_cogrouped (exact, "
        "no collect on either side) or "
        "functions.hyperplane.hyperplane_topk_join (approximate, "
        "banded); or raise max_collect_rows if the driver can "
        "genuinely hold Q.",
    )
    n_q = len(qrows_all)
    if not n_q:
        return topk_similarity_join(
            queries, corpus, k, query_id, corpus_id, query_vec, corpus_vec
        )

    out_fields = [
        T.StructField(corpus_id, corpus.schema[corpus_id].dataType, True),
        T.StructField("__qidx", T.IntegerType(), False),
        T.StructField("similarity", T.DoubleType(), False),
    ]
    out_schema = T.StructType(out_fields)
    qid_schema = T.StructType(
        [
            T.StructField("__qidx", T.IntegerType(), False),
            T.StructField(query_id, queries.schema[query_id].dataType, True),
        ]
    )
    keep = k + 1 if exclude_self else k

    def chunk_candidates(qrows: list) -> DataFrame:
        qids = [r[query_id] for r in qrows]
        qunit = _unit_rows(np.asarray([r[query_vec] for r in qrows], dtype=np_dtype))[0]
        if join_keys:
            # build a 1-D object array explicitly — np.asarray of
            # equal-length tuples would silently produce a 2-D array and
            # break broadcasting
            qkeys = np.empty(len(qrows), dtype=object)
            qkeys[:] = [tuple(r[kc] for kc in join_keys) for r in qrows]
        else:
            qkeys = None
        bq = sc.sparkContext.broadcast((qunit, qkeys))

        def block_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qunit_b, qkeys_b = bq.value
            for pdf in batches:
                if pdf.empty:
                    continue
                cmat = np.asarray(list(pdf[corpus_vec]), dtype=np_dtype)
                sims = _unit_rows(cmat)[0] @ qunit_b.T  # (n_corpus, n_queries)
                if qkeys_b is not None:
                    btuples = [
                        tuple(t) for t in pdf[join_keys].itertuples(index=False)
                    ]
                    bkeys = np.empty(len(btuples), dtype=object)
                    bkeys[:] = btuples
                    match = bkeys[:, None] == qkeys_b[None, :]
                    sims = np.where(match, sims, -np.inf)
                qi, ci = _topk_keep(sims.T, keep)
                yield pd.DataFrame(
                    {
                        corpus_id: pdf[corpus_id].to_numpy()[ci],
                        "__qidx": qi,
                        "similarity": sims[ci, qi].astype(np.float64),
                    }
                )

        cand = corpus.select(corpus_id, corpus_vec, *join_keys).mapInPandas(
            block_topk, schema=out_schema
        )
        qid_df = sc.createDataFrame(
            [(i, qid) for i, qid in enumerate(qids)], schema=qid_schema
        )
        return cand.join(F.broadcast(qid_df), "__qidx").drop("__qidx")

    joined = functools.reduce(
        DataFrame.unionByName,
        [
            chunk_candidates(qrows_all[i : i + max_query_rows])
            for i in range(0, n_q, max_query_rows)
        ],
    )
    return _rerank(joined, k, query_id, corpus_id, "similarity", exclude_self)


def topk_similarity_join_cogrouped(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "corpus_vec",
    exclude_self: bool = False,
    dtype: str = "float32",
    n_query_blocks: int = 8,
    n_corpus_blocks: int = 8,
) -> DataFrame:
    """Exact top-k cosine with NO driver collect on EITHER side — the
    large-Q shape ``topk_similarity_join_blocked``'s docstring reserves
    for when the query set no longer fits a driver.

    Two-sided block join: each query gets a deterministic block id
    ``pmod(xxhash64(id), QB)`` and is replicated once per corpus block
    (CB copies); each corpus row symmetrically gets ``pmod(xxhash64(id),
    CB)`` and QB copies.  A cogrouped ``applyInPandas`` then runs the
    same BLAS matmul + per-group top-k (boundary ties kept, one spare
    candidate under exclude_self) on every (qb, cb) cell, and the global
    re-rank merges Q·k·CB candidate rows.  Exactness argument is the
    per-batch one: every global top-k neighbor is inside its (qb, cb)
    cell's top-k because the cell's corpus is a subset of the corpus.

    Cost model vs the blocked sweep: total dot products are identical
    (|Q|·|C| — exactness admits nothing less); what changes is WHERE
    the query side lives.  Shuffle volume is Q·CB + N·QB rows instead
    of a driver collect + ceil(Q/4096) broadcast corpus scans, so both
    sides stream through executors and Q is unbounded.  Choose
    QB ≈ |Q|/4096, CB ≈ |C|/4096 so each cell's matmul fits an Arrow
    working set; at fixed cell size the cell count grows with Q·N — at
    which point the banded ``hyperplane_topk_join`` remains the
    recommended escape from exactness (see the blocked docstring).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    np_dtype = np.dtype(dtype)
    qb_n, cb_n = int(n_query_blocks), int(n_corpus_blocks)
    keep = k + 1 if exclude_self else k

    qrep = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qvec"),
        F.pmod(F.xxhash64(F.col(query_id)), F.lit(qb_n)).cast("int").alias("__qb"),
    ).withColumn("__cb", F.explode(F.array(*[F.lit(i) for i in range(cb_n)])))
    crep = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.col(corpus_vec).alias("__cvec"),
        F.pmod(F.xxhash64(F.col(corpus_id)), F.lit(cb_n)).cast("int").alias("__cb"),
    ).withColumn("__qb", F.explode(F.array(*[F.lit(i) for i in range(qb_n)])))

    out_schema = T.StructType(
        [
            T.StructField(query_id, queries.schema[query_id].dataType, True),
            T.StructField(corpus_id, corpus.schema[corpus_id].dataType, True),
            T.StructField("similarity", T.DoubleType(), False),
        ]
    )

    def block_topk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({query_id: [], corpus_id: [], "similarity": []})
        qunit = _unit_rows(np.asarray(list(left["__qvec"]), dtype=np_dtype))[0]
        cmat = np.asarray(list(right["__cvec"]), dtype=np_dtype)
        sims = _unit_rows(cmat)[0] @ qunit.T  # (n_corpus, n_queries)
        qi, ci = _topk_keep(sims.T, keep)
        return pd.DataFrame(
            {
                query_id: left["__qid"].to_numpy()[qi],
                corpus_id: right["__cid"].to_numpy()[ci],
                "similarity": sims[ci, qi].astype(np.float64),
            }
        )

    cand = (
        qrep.groupby("__qb", "__cb")
        .cogroup(crep.groupby("__qb", "__cb"))
        .applyInPandas(block_topk, schema=out_schema)
    )
    return _rerank(cand, k, query_id, corpus_id, "similarity", exclude_self)
