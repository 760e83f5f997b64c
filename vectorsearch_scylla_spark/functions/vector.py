"""The one home of the engine's cosine and ranking convention, in its
three forms: Catalyst column expressions, SQL text, and the NumPy
blocks every Arrow-batched kNN kernel runs.

The reference computes cosine similarity in NumPy, duplicated five
times (``pipeline/anomaly_detection.py:37-44`` and four copies, SURVEY
V1).  Here the expression form is a single higher-order-function fold
that runs on the JVM with no Python round-trip; its SQL-text twin
builds the same fold as one parsed string for large literal centroid
sets; and the NumPy helpers are what the blocked kNN, IVF, PQ and
hyperplane kernels call, so a kNN result means the same thing in
every operator.

The convention:
- zero-norm guard: ``cos(a, b) = 0.0`` when either norm is 0
  (``pipeline/anomaly_detection.py:41-43`` — failed embeddings are
  zero vectors, ``pipeline/kafka_consumer.py:377-379``).
- expression math in double precision regardless of input element
  type; NumPy blocks run in the caller's dtype.
- ranking: similarity DESC, ties broken by the lower corpus id.  A
  kernel scoring one batch keeps each query's top ``k`` (one spare
  under ``exclude_self``) plus every candidate tied at the cutoff
  (:func:`_topk_keep`), so the global ``row_number`` re-rank
  (:func:`_rerank`) sees every row that can win rank ``k``.
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Executor kernels call the NumPy helpers below.  Pickling this module's
# functions by value means a Python worker never imports the package,
# whatever its working directory and path.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array columns (double)."""
    a, b = _c(a), _c(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm of an array column."""
    a = _c(a)
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """cos(a,b) = a·b / (‖a‖‖b‖), 0.0 if either norm is 0.

    Parity: ``pipeline/anomaly_detection.py:37-44`` (reference V1).

    Single-pass: one ``aggregate`` accumulating (a·b, ‖a‖², ‖b‖²) in a
    struct, then a finish lambda.  Higher-order functions are
    interpreted (not codegen'd), so a naive dot/norm/norm composition
    costs 5 array traversals per row — measured ~50× slower on
    pairwise joins than this fused form.
    """
    a, b = _c(a), _c(b)
    acc0 = F.struct(
        F.lit(0.0).alias("ab"), F.lit(0.0).alias("aa"), F.lit(0.0).alias("bb")
    )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))),
        acc0,
        lambda acc, s: F.struct(
            (acc["ab"] + s["x"] * s["y"]).alias("ab"),
            (acc["aa"] + s["x"] * s["x"]).alias("aa"),
            (acc["bb"] + s["y"] * s["y"]).alias("bb"),
        ),
        lambda acc: F.when(
            (acc["aa"] == 0.0) | (acc["bb"] == 0.0), F.lit(0.0)
        ).otherwise(acc["ab"] / (F.sqrt(acc["aa"]) * F.sqrt(acc["bb"]))),
    )


# --- SQL-text form ----------------------------------------------------
# The same fold as cosine_similarity, built as ONE SQL string parsed
# JVM-side: every F.lit is a py4j round-trip, and a k×d centroid matrix
# embedded through the Column API costs seconds of driver time per plan
# (measured 4 s at k=22, d=64).  Literals render via repr(float), whose
# shortest-round-trip decimal parses back to the identical double in
# both Python and Java, and the fold keeps cosine_similarity's zip_with
# struct, accumulator init, operation order and zero-norm guard, so the
# two forms evaluate bit-identically.


def _arr_sql(vec: list[float]) -> str:
    return "array(" + ",".join(
        f"CAST('{float(x)!r}' AS DOUBLE)" for x in vec
    ) + ")"


def _fused_cos_sql(vec_sql: str, arr_sql: str) -> str:
    return (
        f"aggregate(zip_with({vec_sql}, {arr_sql}, "
        "(x, y) -> named_struct('x', CAST(x AS DOUBLE), 'y', CAST(y AS DOUBLE))), "
        "named_struct('ab', 0.0D, 'aa', 0.0D, 'bb', 0.0D), "
        "(acc, s) -> named_struct("
        "'ab', acc.ab + s.x * s.y, "
        "'aa', acc.aa + s.x * s.x, "
        "'bb', acc.bb + s.y * s.y), "
        "acc -> CASE WHEN acc.aa = 0.0D OR acc.bb = 0.0D THEN 0.0D "
        "ELSE acc.ab / (sqrt(acc.aa) * sqrt(acc.bb)) END)"
    )


def _entries_sql(vec_sql: str, centroids: list[tuple[int, list[float]]]) -> str:
    """Array of (s = cosine, nc = -centroid id) structs: ``array_max``
    of it is the argmax cosine with ties to the LOWEST id, and a
    reversed ``array_sort`` ranks cosine DESC, id ASC — the oracle's
    ``ORDER BY cos DESC, cluster_id ASC``."""
    entries = ", ".join(
        f"named_struct('s', {_fused_cos_sql(vec_sql, _arr_sql(cvec))}, "
        f"'nc', {-cid})"
        for cid, cvec in centroids
    )
    return f"array({entries})"


# --- cross-engine decimal quantization --------------------------------

_EPS = 1e-6


def quantize(c: Column, n: int = 4) -> Column:
    """floor(x*10^n + 0.5 + eps)/10^n — Spark side of ``registry.Q``."""
    scale = float(10**n)
    return F.floor(c.cast("double") * scale + F.lit(0.5 + _EPS)) / scale


# --- NumPy kernel blocks ----------------------------------------------
# Each helper computes in the dtype it is given, and a kernel that
# multiplies unit rows itself keeps its own matmul operand order: both
# fix a kernel's result bits, which its oracle tests pin.


def _row_norms(m):
    """L2 norm of each row of a 2-D block, in the block's dtype."""
    import numpy as np

    return np.linalg.norm(m, axis=1)


def _unit_rows(m):
    """(rows of ``m`` scaled to unit norm, mask of its zero rows).  A
    zero row is divided by 1 and stays zero — the zero-norm guard."""
    n = _row_norms(m)
    zero = n == 0.0
    n[zero] = 1.0
    return m / n[:, None], zero


def _cosine_block(a, b):
    """(len(a) × len(b)) cosines between the rows of two blocks, one
    matmul in their dtype; a zero row scores exactly 0.0 against
    everything."""
    an, az = _unit_rows(a)
    bn, bz = _unit_rows(b)
    sims = an @ bn.T
    sims[az, :] = 0.0
    sims[:, bz] = 0.0
    return sims


def _pair_cosine(a, b):
    """Row-pair cosines cos(a_i, b_i) in float64 for two equal-length
    sequences of vectors: the dot product divided by the norm product
    (not a dot of unit vectors), 0.0 where either norm is 0."""
    import numpy as np

    a = np.asarray(list(a), dtype=np.float64)
    b = np.asarray(list(b), dtype=np.float64)
    denom = _row_norms(a) * _row_norms(b)
    zero = denom == 0.0
    denom[zero] = 1.0
    sims = np.einsum("ij,ij->i", a, b) / denom
    sims[zero] = 0.0
    return sims


def _topk_keep(scores, keep: int):
    """The (query index, candidate index) pairs one batch must emit
    from a (queries × candidates) score matrix.

    Each query keeps its ``keep`` best candidates plus every candidate
    tied with the ``keep``-th score: ``argpartition`` splits a boundary
    tie arbitrarily, while the global re-rank breaks it by corpus id,
    so the batch must not choose.  A ``-inf`` score marks a masked-out
    candidate and is never kept.  Pairs come out query-major, candidates
    ascending within a query."""
    import numpy as np

    take = min(keep, scores.shape[1])
    if take < 1:
        return np.nonzero(scores[:, :0])
    part = np.argpartition(-scores, take - 1, axis=1)[:, :take]
    cutoff = np.take_along_axis(scores, part, axis=1).min(axis=1)
    return np.nonzero((scores >= cutoff[:, None]) & (scores > -np.inf))


def _rerank(
    cands: DataFrame,
    k: int,
    query_id: str,
    corpus_id: str,
    score: str,
    exclude_self: bool,
) -> DataFrame:
    """Global top-k over per-batch candidates: drop self matches under
    ``exclude_self``, ``row_number`` over (``score`` DESC, corpus id
    ASC), keep ``rank <= k``.  Returns (query_id, corpus_id, score,
    rank)."""
    if exclude_self:
        cands = cands.filter(F.col(query_id) != F.col(corpus_id))
    w = Window.partitionBy(query_id).orderBy(
        F.col(score).desc(), F.col(corpus_id).asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, score, "rank")
    )


def _collect_capped(df: DataFrame, cap: int, message: str) -> list:
    """``df.collect()`` for a side the caller bounds at ``cap`` rows.
    The transfer stops at ``cap + 1`` rows, so the guard itself cannot
    exhaust driver memory; more than ``cap`` raises ``ValueError(message)``.
    On an in-contract side the limit is the identity and the plan is
    evaluated exactly once."""
    rows = df.limit(int(cap) + 1).collect()
    if len(rows) > cap:
        raise ValueError(message)
    return rows
