"""Vector column expressions for embedding similarity (north-star).

All math is done in DOUBLE with sequential left-to-right accumulation
(F.aggregate), which matches DuckDB's list_* kernels bit-for-bit closely
enough that results agree after rounding. JVM-side codegen — no Python.

At 100 TB scale: these expressions vectorize inside whole-stage codegen; for
very wide vectors a pandas_udf + numpy dot is the alternative (BLAS), kept in
operators/similarity.py for the brute-force path.

``dot_like_spark`` and ``cosine_like_spark`` are the driver's mirrors of
``dot`` and ``cosine_similarity``: the same fold in the same order, so they
give the same raw doubles. A BLAS or ``einsum`` form sums in another order
and differs in the last bits.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """The cosine of two vector columns; NULL when either vector has zero
    norm (a plain ``/`` raises DIVIDE_BY_ZERO under ANSI). NULL ranks after
    every number under ``cosine desc``. DuckDB's ``list_cosine_similarity``
    returns -1.0 for a zero vector, so the oracles cannot settle this case;
    no test table has a zero vector."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def dot_like_spark(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``dot`` of every row of ``a`` (..., m, d) with every row of ``b``
    (..., n, d), as (..., m, n) float64: each product rounded to double,
    then summed left to right from 0.0, as ``dot``'s ``aggregate`` does.
    Callers widen float32 cells to float64 first (exact), as ``_as_double``
    does."""
    acc = np.zeros(a.shape[:-1] + b.shape[-2:-1])
    for j in range(a.shape[-1]):
        acc += a[..., :, j, None] * b[..., None, :, j]
    return acc


def cosine_like_spark(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``cosine_similarity`` of every row of ``a`` with every row of ``b``,
    as ``dot_like_spark``: ``dot / (|a| * |b|)`` with each norm the ``sqrt``
    of the same fold. NaN where ``cosine_similarity`` is NULL."""

    def norm(x):
        acc = np.zeros(x.shape[:-1])
        for j in range(x.shape[-1]):
            acc += x[..., j] * x[..., j]
        return np.sqrt(acc)

    with np.errstate(invalid="ignore", divide="ignore"):
        return dot_like_spark(a, b) / (norm(a)[..., :, None] * norm(b)[..., None, :])
