"""Product quantization (PQ): per-subspace k-means codebooks + an
asymmetric-distance (ADC) scan — the memory-side half of a scale ANN
index (IVF-PQ), complementing the IVF partition pruning in
``operators/ivf.py``.

The reference's ANN index is an in-database HNSW build
(scylladb_setup/create_iot_schema.py:137-155) whose value proposition
is approximate retrieval without touching full vectors per candidate.
PQ is the Spark-expressible equivalent of the "compressed residency"
half: the corpus is stored as ``m`` small codes per vector (here
4 × 16-dim subspaces → 4 bytes/vector vs 256 bytes raw, a 64×
compression), and query scoring reads ONLY the codes plus a
query-specific lookup table (LUT) of size m × ksub — the corpus's
full vectors are never touched during the scan.

Determinism contract (shared with the DuckDB oracle in
``plans/registry.py``): each subspace trains the SAME deterministic
Lloyd's k-means as the IVF coarse quantizer (``operators/ivf.py`` —
md5-seeded init over vec_id, argmax-cosine assignment with
lowest-cluster-id tie-break, per-(cluster, position) quantized-mean
update), so both engines hold bit-identical codebooks.  ADC sums the
per-subspace dots in fixed subspace order, normalizes by query norm ×
reconstructed-codeword norm, and ranks on the QUANTIZED score
(tie-break corpus id): equal code tuples produce exactly equal scores,
so ranking is reproducible across engines.

Scale shape: codebooks are tiny driver-side literals; encoding is a
pure map stage; the ADC scan is a broadcast hash join (LUT ≤ Q·m·ksub
rows) against the exploded code table followed by a partial-aggregated
groupBy — no shuffle of vectors, no driver collect of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorsearch_scylla_spark.functions.vector import (
    _EPS,
    _collect_capped,
    _entries_sql,
    _rerank,
    _row_norms,
    _topk_keep,
    quantize,
)
from vectorsearch_scylla_spark.operators.ivf import lloyd_kmeans
from vectorsearch_scylla_spark.sources.tables import publish_dir


def train_pq(
    df: DataFrame,
    m: int,
    ksub: int,
    iters: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    kernel: str = "expr",
    train_rows: int | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """Train ``m`` per-subspace codebooks of ``ksub`` centroids each
    over ``dsub``-wide vector slices.  Returns one ``[(code, centroid)]``
    list per subspace (codes are the surviving k-means cluster ids).

    Each subspace runs the deterministic Lloyd trainer on the SAME
    md5-seeded row draw (the seed order depends only on ``id_col``), so
    the full train is ``m × (iters + 1)`` Spark jobs and only
    ``m × ksub × dsub`` floats ever reach the driver.  ``kernel``
    passes through to :func:`~vectorsearch_scylla_spark.operators.ivf.
    lloyd_kmeans` — ``'expr'`` (bit-exact with the SQL oracle) or
    ``'numpy'`` (blocked BLAS assignment, the 100 TB build path).
    ``train_rows`` caps the TRAINING corpus at the deterministic
    md5-ordered sample (also per ``lloyd_kmeans``); because the sample
    depends only on ``id_col``, every subspace trains on the SAME rows
    — the shared-sample contract FAISS's PQ trainer uses.  Encoding
    (the caller's job) still covers the full corpus.
    """
    vecs = df.select(id_col, F.col(vec_col).cast("array<double>").alias("__full"))
    books = []
    for s in range(m):
        sub = vecs.select(id_col, F.slice("__full", s * dsub + 1, dsub).alias("__v"))
        books.append(
            lloyd_kmeans(
                sub, k=ksub, iters=iters, id_col=id_col, vec_col="__v",
                decimals=decimals, kernel=kernel, train_rows=train_rows,
            )
        )
    return books


def encode_pq(
    df: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    dsub: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach ``code0..code{m-1}`` (nearest codeword per subspace:
    argmax cosine, tie-break lowest code) and ``rnorm`` (the
    reconstructed codeword's L2 norm, used as the ADC denominator).
    Pure projection — codebooks ride along as literals, no shuffle."""
    out = df
    for s, book in enumerate(books):
        sub = f"slice(CAST(`{vec_col}` AS ARRAY<DOUBLE>), {s * dsub + 1}, {dsub})"
        best = F.expr(f"array_max({_entries_sql(sub, book)})")
        out = out.withColumn(f"code{s}", (-best["nc"]).cast("int"))
    nsq = {
        (s, code): float(sum(v * v for v in cvec))
        for s, book in enumerate(books)
        for code, cvec in book
    }
    rnorm_sq = None
    for s, book in enumerate(books):
        branch = None
        for code, _ in book:
            cond = F.col(f"code{s}") == code
            val = F.lit(nsq[(s, code)])
            branch = F.when(cond, val) if branch is None else branch.when(cond, val)
        rnorm_sq = branch if rnorm_sq is None else rnorm_sq + branch
    return out.withColumn("rnorm", F.sqrt(rnorm_sq))


def build_pq_index(
    df: DataFrame,
    cache_token: str,
    m: int,
    ksub: int,
    iters: int,
    dsub: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
    train_rows: int | None = None,
) -> tuple[list[list[tuple[int, list[float]]]], str]:
    """Build-once PQ index: train the codebooks AND materialize the
    encoded code table (id, code0..code{m-1}, rnorm) as parquet, both
    cached on disk keyed by ``cache_token`` (caller folds in source
    fingerprints + hyperparameters).  Returns ``(books, codes_path)``.

    ``train_rows`` (default ``256·ksub``, FAISS practice) bounds the
    codebook TRAINING at the deterministic md5-ordered sample — at
    100 TB the per-subspace k-means must never scan the corpus
    ``iters`` times; only the single encode pass below touches every
    row.  At every fixture SF the cap exceeds the corpus, so certified
    values are unchanged (``_pq_cte`` mirrors the same sample CTE).

    Encoding is index-BUILD work, not query work (the reference's HNSW
    analog: the index is constructed once, queries only read it) — the
    16 interpreted cosine folds per row run once per corpus, and every
    subsequent ADC scan reads 4 ints + 1 double per vector instead of
    re-deriving them.  Concurrent builders race safely through
    :func:`~vectorsearch_scylla_spark.sources.tables.publish_dir`.
    """
    import json
    import os
    import tempfile

    cap = 256 * ksub if train_rows is None else int(train_rows)
    path = os.path.join(
        tempfile.gettempdir(), f"vss_pq_idx_{cache_token}_s{cap}"
    )
    books_file = os.path.join(path, "codebooks.json")
    codes_path = os.path.join(path, "codes")
    if os.path.isfile(books_file):
        with open(books_file) as f:
            books = [[(int(c), v) for c, v in book] for book in json.load(f)]
        return books, codes_path
    books = train_pq(
        df, m=m, ksub=ksub, iters=iters, dsub=dsub,
        id_col=id_col, vec_col=vec_col, decimals=decimals, train_rows=cap,
    )

    def write(staging: str) -> None:
        codes = encode_pq(df.select(id_col, vec_col), books, dsub=dsub, vec_col=vec_col)
        codes.drop(vec_col).write.parquet(os.path.join(staging, "codes"))
        with open(os.path.join(staging, "codebooks.json"), "w") as f:
            json.dump(books, f)

    publish_dir(path, books_file, write)
    return books, codes_path


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    k: int,
    dsub: int,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
    decimals: int = 4,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: for each query, rank the code table by approximate
    cosine ``Σ_s dot(q_s, codeword_s) / (|q|·|x̂|)`` and keep the top
    ``k`` (quantized-score DESC, corpus id ASC).

    Plan: LUT = queries × codebook entries (bounded broadcast build
    side of m·ksub rows), exploded codes hash-join the broadcast LUT
    on (subspace, code), and per-subspace conditional sums re-add the
    dots in FIXED subspace order so equal code tuples score exactly
    equally in both engines.  ``exclude_self`` assumes query ids live
    in the corpus id space.

    ``pairs`` (query_id, corpus_id) restricts scoring to an explicit
    candidate set — the IVF-PQ composition: the coarse quantizer's
    probes prune candidates to nprobe/C of the corpus, and ADC scores
    only those (the LUT join then also keys on query_id, so each
    candidate row scores against exactly its own query).
    """
    from vectorsearch_scylla_spark.functions.vector import dot, l2_norm

    m = len(books)
    spark = queries.sparkSession
    cb = spark.createDataFrame(
        [(s, code, [float(x) for x in cvec]) for s, book in enumerate(books)
         for code, cvec in book],
        schema="s int, code int, cvec array<double>",
    )
    qn = queries.select(
        query_id,
        F.col(query_vec).cast("array<double>").alias("__q"),
    ).withColumn("qnorm", l2_norm("__q"))
    lut = (
        qn.join(F.broadcast(cb))
        .select(
            query_id,
            "qnorm",
            "s",
            "code",
            dot(F.slice("__q", F.col("s") * dsub + 1, dsub), F.col("cvec")).alias("d"),
        )
    )
    side = codes if pairs is None else pairs.join(codes, corpus_id)
    exploded = side.select(
        *([query_id] if pairs is not None else []),
        corpus_id,
        "rnorm",
        F.posexplode(F.array(*[f"code{s}" for s in range(m)])).alias("s", "code"),
    )
    per_s = [
        F.sum(F.when(F.col("s") == s, F.col("d"))).alias(f"d{s}") for s in range(m)
    ]
    join_keys = ["s", "code"] if pairs is None else [query_id, "s", "code"]
    scored = (
        exploded.join(F.broadcast(lut), join_keys)
        .groupBy(query_id, corpus_id, "rnorm", "qnorm")
        .agg(*per_s)
    )
    dotsum = None
    for s in range(m):
        dotsum = F.col(f"d{s}") if dotsum is None else dotsum + F.col(f"d{s}")
    approx = F.when(
        (F.col("qnorm") == 0.0) | (F.col("rnorm") == 0.0), F.lit(0.0)
    ).otherwise(dotsum / (F.col("qnorm") * F.col("rnorm")))
    scored = scored.withColumn("approx_sim", quantize(approx, decimals))
    if exclude_self:
        scored = scored.filter(F.col(corpus_id) != F.col(query_id))
    from pyspark.sql import Window

    w = Window.partitionBy(query_id).orderBy(
        F.col("approx_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "approx_sim", F.col("rank").cast("int").alias("rank"))
    )


def pq_adc_topk_np(
    queries: DataFrame,
    codes: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    k: int,
    dsub: int,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    query_vec: str = "query_vec",
    exclude_self: bool = False,
    decimals: int = 4,
    dtype: str = "float32",
    probes: DataFrame | None = None,
    probe_col: str = "cluster_id",
    max_collect_rows: int = 1_048_576,
) -> DataFrame:
    """Blocked NumPy ADC kernel — the shipped-quality ADC path (the
    declarative LUT-join twin :func:`pq_adc_topk` is retained as its
    cross-engine agreement oracle; with ``dtype="float64"`` the two are
    quantize-identical, pinned by tests).

    The per-query LUT becomes one (Q × m × ksub) ndarray broadcast to
    every task; each Arrow batch of the code table scores all queries
    with m gather-adds (no join, no per-pair aggregation rows), keeps
    each query's batch-local candidates by
    :mod:`~vectorsearch_scylla_spark.functions.vector`'s ``_topk_keep``
    and merges them with its ``_rerank`` — the retention and ranking
    every blocked kNN kernel shares.  Driver memory is O(Q × d) for the
    collected query side (callers bound Q, enforced by
    ``_collect_capped``); shuffle is candidates-only.

    ``probes`` (query_id, ``probe_col``) restricts each query's
    candidates to code rows whose ``probe_col`` value is among that
    query's probed keys — the IVF-PQ composition.  The restriction is
    a boolean mask INSIDE the kernel (a (Q × probed_keys) bit matrix
    broadcast with the LUT), so per-batch top-k stays exact and no
    per-pair candidate rows ever materialize; callers should also
    pre-filter ``codes`` to probed members so unprobed partitions are
    pruned at the scan.
    """
    import numpy as np

    m = len(books)
    qrows = _collect_capped(
        queries.select(query_id, query_vec),
        max_collect_rows,
        "pq_adc_topk_np: query side exceeds max_collect_rows="
        f"{max_collect_rows} — the ADC LUT is built on the driver "
        "(O(Q·m·ksub)), so this is the SMALL-Q path.  For a "
        "corpus-sized Q use functions.hyperplane.hyperplane_topk_join "
        "(approximate, no collect) or raise max_collect_rows if the "
        "driver can genuinely hold the LUT.",
    )
    qids = np.array([r[query_id] for r in qrows])
    Qv = np.asarray([list(r[query_vec]) for r in qrows], dtype=dtype)
    qn = _row_norms(Qv).astype(np.float64)
    code_maps = []  # per subspace: (sorted code ids, LUT slice (Q, ksub), nsq)
    lut = np.zeros((len(qids), m, max(len(b) for b in books)), dtype=np.float64)
    for s, book in enumerate(books):
        ordered = sorted(book)
        bids = np.array([c for c, _ in ordered], dtype=np.int64)
        C = np.asarray([v for _, v in ordered], dtype=dtype)
        lut[:, s, : len(bids)] = (Qv[:, s * dsub : (s + 1) * dsub] @ C.T).astype(
            np.float64
        )
        code_maps.append(bids)
    if probes is not None:
        # same cap as the query side: probes is Q × nprobe rows by
        # contract, but a caller that passes a corpus-sized frame by
        # mistake must get the actionable error, not a driver OOM
        prows = _collect_capped(
            probes.select(query_id, probe_col),
            max_collect_rows,
            "pq_adc_topk_np: probes side exceeds max_collect_rows="
            f"{max_collect_rows} — probes must be the Q × nprobe "
            "per-query fan-out (probe_clusters output), never a "
            "corpus-sized assignment table; or raise "
            "max_collect_rows if the driver can genuinely hold it.",
        )
        pkeys = np.array(sorted({r[probe_col] for r in prows}))
        qpos = {qid: i for i, qid in enumerate(qids.tolist())}
        probemat = np.zeros((len(qids), len(pkeys)), dtype=bool)
        for r in prows:
            qi = qpos.get(r[query_id])
            if qi is not None:
                probemat[qi, np.searchsorted(pkeys, r[probe_col])] = True
    else:
        pkeys = probemat = None
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((qids, qn, lut, code_maps, pkeys, probemat))
    keep = k + 1 if exclude_self else k
    eps, scale = _EPS, float(10**decimals)
    qid_dt = queries.schema[query_id].dataType.simpleString()
    cid_dt = codes.schema[corpus_id].dataType.simpleString()

    def kernel(batches):
        import pandas as pd

        qids_b, qn_b, lut_b, maps_b, pkeys_b, probemat_b = bc.value
        nq = len(qids_b)
        for pdf in batches:
            if pdf.empty:
                continue
            nb = len(pdf)
            rnorm = pdf["rnorm"].to_numpy(dtype=np.float64)
            scores = np.zeros((nq, nb), dtype=np.float64)
            for s in range(m):
                idx = np.searchsorted(maps_b[s], pdf[f"code{s}"].to_numpy())
                scores += lut_b[:, s, :][:, idx]
            denom = qn_b[:, None] * rnorm[None, :]
            zero = denom == 0.0
            denom[zero] = 1.0
            scores /= denom
            scores[zero] = 0.0
            scores = np.floor(scores * scale + 0.5 + eps) / scale
            if probemat_b is not None:
                ck = pdf[probe_col].to_numpy()
                kidx = np.searchsorted(pkeys_b, ck)
                kidx_c = np.clip(kidx, 0, len(pkeys_b) - 1)
                known = pkeys_b[kidx_c] == ck
                mask = probemat_b[:, kidx_c] & known[None, :]
                scores = np.where(mask, scores, -np.inf)
            qi, ci = _topk_keep(scores, keep)
            yield pd.DataFrame(
                {
                    query_id: qids_b[qi],
                    corpus_id: pdf[corpus_id].to_numpy()[ci],
                    "approx_sim": scores[qi, ci],
                }
            )

    cands = codes.mapInPandas(
        kernel,
        schema=f"{query_id} {qid_dt}, {corpus_id} {cid_dt}, approx_sim double",
    )
    return _rerank(cands, k, query_id, corpus_id, "approx_sim", exclude_self)
