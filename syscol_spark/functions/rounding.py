"""The driver's mirror of ``F.round(x, 6)`` on a double.

Spark rounds a double by its SHORTEST decimal representation
(``BigDecimal.valueOf`` == ``Double.toString`` == Python ``repr``) HALF_UP,
not by the full binary expansion and not half-to-even, and the result
carries no sign of zero (``BigDecimal`` has none): ``F.round(-1e-9, 6)`` is
``0.0``. Driver code that compares or emits a rounded cosine next to a
Spark-rounded one must round the same way, bit for bit.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_QUANTUM = Decimal("0.000001")


def round6_like_spark(x: float) -> float:
    """``F.round(x, 6)`` for one double."""
    if not math.isfinite(x):
        return x
    # + 0.0 turns the -0.0 of a small negative into 0.0
    return float(Decimal(repr(x)).quantize(_QUANTUM, rounding=ROUND_HALF_UP)) + 0.0


def round6_like_spark_array(x: np.ndarray) -> np.ndarray:
    """``F.round(x, 6)`` over a float64 array. ``np.round(x * 1e6) / 1e6``
    is exact wherever the scaled value is not near a half-quantum: the
    rounded integer is exact, and the division rounds once to the double
    nearest the 6-decimal result, as ``float(Decimal)`` does. The scaled
    product and the shortest repr are each off by a few ulps of
    ``x * 1e6`` at most, so only values within a window far wider than that
    of a half-quantum (where half-to-even and HALF_UP can disagree), and
    values too large for an exact integer, take the scalar ``Decimal``
    path. Any shape; the result has ``x``'s."""
    shape = np.shape(x)
    x = np.asarray(x, dtype="float64").ravel()
    y = x * 1e6
    out = np.round(y) / 1e6
    ay = np.abs(y)
    with np.errstate(invalid="ignore"):  # inf - inf
        near_half = np.abs(ay - np.floor(ay) - 0.5) <= 1e-9 + ay * 1e-12
    exact = np.flatnonzero(near_half | (ay >= 2.0**52))
    if len(exact):
        out[exact] = [round6_like_spark(v) for v in x[exact].tolist()]
    return (out + 0.0).reshape(shape)
