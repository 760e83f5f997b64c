"""Random-hyperplane LSH for cosine similarity — the corpus-scale
candidate generator for embedding near-duplicate detection.

Scheme (signed random projections, Charikar 2002 — the SimHash family
applied to real vectors):
- planes: ``n_bands × band_bits`` unit-free Gaussian directions drawn
  from a fixed-seed ``numpy.random.RandomState`` (legacy generator —
  its stream is frozen forever, so signatures are reproducible across
  processes and sessions).
- signature: bit p = (v · r_p ≥ 0); band k packs its ``band_bits``
  bits into one integer key.  P(bit differs) = θ/π for angle θ, so a
  pair at cosine s collides in a band with prob (1 − θ/π)^band_bits —
  near-certain for s → 1, vanishing for unrelated vectors.
- candidates: per-band equi-join on (band_idx, band_val) — bucket
  sizes are N/2^band_bits in expectation, so the quadratic term stays
  bounded at 100 TB and a skewed bucket is an AQE skew join, never a
  driver-side array.

Reference parity: this replaces the reference's HNSW ANN index for the
pair-retrieval use (scylladb_setup/create_iot_schema.py:137-155) — the
index *build* is the signature pass, the *probe* is the band join.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vectorsearch_scylla_spark.functions.vector import _pair_cosine, _rerank


def _planes(n_planes: int, dim: int, seed: int):
    import numpy as np

    # RandomState (not default_rng): NumPy guarantees this stream never
    # changes across versions, which makes seeded signatures a stable
    # contract for tests and oracles.
    return np.random.RandomState(seed).standard_normal((dim, n_planes))


def hyperplane_signatures(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bands: int = 8,
    band_bits: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """(id, vec) → (id, b0..b{n_bands-1}): per-band LSH keys.

    One Arrow-batched NumPy matmul per batch: (B × d) @ (d × planes),
    signs packed LSB-first per band.  The plane matrix is tiny
    (d × n_bands·band_bits) and ships once per task via broadcast.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    n_planes = n_bands * band_bits
    planes = _planes(n_planes, dim, seed)
    pack = np.zeros((n_planes, n_bands), dtype=np.int64)
    for k in range(n_bands):
        pack[k * band_bits : (k + 1) * band_bits, k] = 1 << np.arange(
            band_bits, dtype=np.int64
        )
    bc = df.sparkSession.sparkContext.broadcast((planes, pack))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes_b, pack_b = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            signs = (mat @ planes_b) >= 0.0  # (B, n_planes)
            keys = signs.astype(np.int64) @ pack_b  # (B, n_bands)
            out = {id_col: pdf[id_col]}
            out.update({f"b{k}": keys[:, k] for k in range(n_bands)})
            yield pd.DataFrame(out)

    schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType, True)]
        + [T.StructField(f"b{k}", T.LongType(), False) for k in range(n_bands)]
    )
    return df.select(id_col, vec_col).mapInPandas(kernel, schema=schema)


def hyperplane_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    query_vec: str = "query_vec",
    corpus_vec: str = "corpus_vec",
    n_bands: int = 16,
    band_bits: int = 16,
    seed: int = 42,
    dim: int | None = None,
    threshold: float | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate top-k cosine join via seeded hyperplane band
    candidates + EXACT float64 re-rank — the build-free ANN retrieval
    path (replaces the per-call MLlib ``BucketedRandomProjectionLSH``
    fit+transform+approxSimilarityJoin, which re-trained the hash model
    on every invocation).

    Both sides are signed against the SAME fixed-seed plane matrix, so
    collisions are a pure equi-join on (band_idx, band_val): corpus
    band keys on one side, query band keys on the other — no model
    object, no fit step, nothing driver-side.  A pair at cosine s
    collides in ≥1 of ``n_bands`` bands with prob
    1 − (1 − (1 − θ/π)^band_bits)^n_bands: with 16×16 bands a 0.995
    neighbor is missed with prob ~5e-7, while unrelated pairs
    (s ≲ 0.6) almost never collide, so the candidate set stays
    output-bound.  Exact copies share every band key and are recalled
    with certainty.

    Candidates dedup on (query, corpus) id, re-attach both vectors by
    hash join, and an Arrow-batched float64 kernel computes exact
    cosine (zero-norm → 0.0) for the final ``row_number`` rank —
    similarity DESC, corpus id ASC, matching every other kNN operator.
    ``threshold`` prunes candidates below a similarity floor before the
    rank (the reference's 0.85 floor,
    ``pipeline/find_similar_states.py:106-134``).

    Scale: per-band bucket sizes are N/2^band_bits in expectation; a
    skewed bucket is an AQE skew join.  Q never collects to the driver
    (contrast ``topk_similarity_join_blocked``) — both sides stay
    distributed end-to-end, so this is also the large-Q shape.
    """
    import pandas as pd

    if dim is None:
        dim = len(corpus.select(corpus_vec).first()[0])
    sig_q = hyperplane_signatures(
        queries, vec_col=query_vec, id_col=query_id,
        n_bands=n_bands, band_bits=band_bits, seed=seed, dim=dim,
    ).select(
        query_id,
        F.posexplode(F.array(*[f"b{i}" for i in range(n_bands)])).alias(
            "band_idx", "band_val"
        ),
    )
    sig_c = hyperplane_signatures(
        corpus, vec_col=corpus_vec, id_col=corpus_id,
        n_bands=n_bands, band_bits=band_bits, seed=seed, dim=dim,
    ).select(
        corpus_id,
        F.posexplode(F.array(*[f"b{i}" for i in range(n_bands)])).alias(
            "__bi", "__bv"
        ),
    )
    cond = (F.col("band_idx") == F.col("__bi")) & (
        F.col("band_val") == F.col("__bv")
    )
    if exclude_self:
        cond = cond & (F.col(query_id) != F.col(corpus_id))
    cand = (
        sig_q.join(sig_c, cond).select(query_id, corpus_id).distinct()
    )
    vq = queries.select(query_id, F.col(query_vec).alias("__vq"))
    vc = corpus.select(corpus_id, F.col(corpus_vec).alias("__vc"))
    paired = cand.join(vq, query_id).join(vc, corpus_id)

    qid_dt = queries.schema[query_id].dataType.simpleString()
    cid_dt = corpus.schema[corpus_id].dataType.simpleString()

    def cosine_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = pd.DataFrame(
                {
                    query_id: pdf[query_id],
                    corpus_id: pdf[corpus_id],
                    "similarity": _pair_cosine(pdf["__vq"], pdf["__vc"]),
                }
            )
            if threshold is not None:
                out = out[out["similarity"] >= threshold]
            yield out

    scored = paired.mapInPandas(
        cosine_kernel,
        schema=f"{query_id} {qid_dt}, {corpus_id} {cid_dt}, similarity double",
    )
    return _rerank(scored, k, query_id, corpus_id, "similarity", exclude_self=False)


def hyperplane_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 8,
    band_bits: int = 16,
    seed: int = 42,
    dim: int | None = None,
    against: DataFrame | None = None,
    against_sigs: DataFrame | None = None,
    docs_sigs: DataFrame | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine > ``threshold`` among band-collision
    candidates: signature pass → band unpivot → per-band equi-join →
    DISTINCT pair ids → re-attach both vectors (two hash joins against
    the input — candidates are tiny relative to N) → exact float64
    cosine in an Arrow-batched kernel → threshold filter.

    Nothing collects to the driver and the input never self-joins at
    full width: the only quadratic surface is within-bucket, bounded by
    the 2^band_bits band-key entropy.  Exact copies collide in every
    band (identical signs), so recall loss is confined to pairs near
    the decision boundary — tune ``n_bands`` up for tighter thresholds.

    Incremental mode (``against`` given) — the embedding twin of
    ``simhash_near_dup_pairs(against_sigs=…)``, the daily-increment shape
    at 100 TB: the NEW batch signs and band-joins against the BASE
    corpus's band index without ever re-pairing the base against
    itself, so the join is |new|·n_bands probe rows against the base
    bands, not |base|².  Output is (id_a = new id, id_b = base id,
    similarity); caller guarantees disjoint id spaces.  The bipartite
    join needs no salted expansion — per-bucket work is
    |new∩bucket|·|base∩bucket| and AQE's skew split applies (and the
    small new side broadcasts, leaving the base unshuffled).  The
    exact-cosine verification needs the base VECTORS, so ``against``
    is required; ``against_sigs`` (a persisted ``hyperplane_signatures``
    output for the base — the artifact a deployment keeps) skips the
    base's signature matmul, leaving base-side work at one columnar
    scan of the ids+vectors actually hit by candidates.  ``docs_sigs``
    is the same pre-computed option for the ``df`` side.  All three
    frames must share ``n_bands``/``band_bits``/``seed``/``dim``.
    The new side broadcasts statically — see ``operators/dedup.
    banded_pairs``' against= note for why the planner cannot pick that
    shape itself, and for the oversized-increment failure mode (Spark's
    8 GB broadcast-table cap or a driver OOM building the relation — a
    hard failure, not a slowdown).
    """
    import pandas as pd

    if against is None and against_sigs is not None:
        raise ValueError(
            "against_sigs without against: the exact-cosine verification "
            "needs the base VECTORS, not just its signatures"
        )

    sigs = (
        docs_sigs
        if docs_sigs is not None
        else hyperplane_signatures(
            df, vec_col=vec_col, id_col=id_col, n_bands=n_bands,
            band_bits=band_bits, seed=seed, dim=dim,
        )
    )

    def _banded(s: DataFrame) -> DataFrame:
        return s.select(
            id_col,
            F.posexplode(F.array(*[f"b{k}" for k in range(n_bands)])).alias(
                "band_idx", "band_val"
            ),
        )

    from vectorsearch_scylla_spark.operators.dedup import banded_pairs

    if against is None:
        # skew-hardened within-bucket expansion: a replica clique shares
        # every band key, and the plain self-join would hash its whole n²
        # expansion onto one task (operators/dedup.banded_pairs splits
        # oversized buckets across salted sub-keys).  DISTINCT because a
        # pair may collide in several bands.
        #
        # MATERIALIZE the signature kernel first (r15, mirroring
        # simhash_near_dup_pairs): banded_pairs' triangular expansion
        # references its input ~5 times (bucket-size window, both small
        # join sides, both salted sides), and Catalyst re-executes an
        # opaque mapInPandas subtree at every reference — the plan
        # carried 5 copies of the signing matmul, i.e. 5 full corpus
        # scans + signature passes at 100 TB.  Lazy: the first
        # consuming action materializes it.  Caveat (r15 ADVICE): the
        # exactly-once guarantee is per-BlockManager — in the first
        # materializing job several stages reference this RDD, and on
        # a multi-executor cluster two executors can compute the same
        # partition concurrently before its cached block registers;
        # deployments where the signing kernel dominates may prefer
        # eager=True there (one dedicated pass, strictly once).
        from vectorsearch_scylla_spark.session import drop_inherited_stats

        if docs_sigs is None:
            sigs = drop_inherited_stats(sigs.localCheckpoint(eager=False))
        cand = banded_pairs(
            _banded(sigs), ["band_idx", "band_val"], id_col=id_col,
        ).distinct()
        va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    else:
        # INCREMENTAL: banded_pairs' bipartite (new × base) band join,
        # the new side statically broadcast; DISTINCT for the same
        # several-bands reason
        sigs_b = (
            against_sigs
            if against_sigs is not None
            else hyperplane_signatures(
                against, vec_col=vec_col, id_col=id_col, n_bands=n_bands,
                band_bits=band_bits, seed=seed, dim=dim,
            )
        )
        cand = banded_pairs(
            _banded(sigs), ["band_idx", "band_val"], id_col=id_col,
            against=_banded(sigs_b),
        ).distinct()
        va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
        vb = against.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
        )
    paired = cand.join(va, "id_a").join(vb, "id_b")

    id_dt = df.schema[id_col].dataType.simpleString()

    def cosine_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            sims = _pair_cosine(pdf["__va"], pdf["__vb"])
            keep = sims > threshold
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"][keep],
                    "id_b": pdf["id_b"][keep],
                    "similarity": sims[keep],
                }
            )

    return paired.mapInPandas(
        cosine_kernel, schema=f"id_a {id_dt}, id_b {id_dt}, similarity double"
    )
