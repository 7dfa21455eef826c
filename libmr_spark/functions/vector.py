"""Vector math over ``array<float>`` columns — all JVM-side via
higher-order functions (``F.zip_with`` / ``F.aggregate``), no Python in
the hot path. Computation is promoted to double for stable results
across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(to_double_array(a), to_double_array(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(to_double_array(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def symmetric_int8(v: Column) -> tuple[Column, Column]:
    """Per-vector symmetric int8 quantization: ``(scale, qvec)`` with
    ``scale = 127 / max|v_i|`` (0 for the zero vector) and
    ``qvec_i = round(v_i * scale)`` — integral doubles in [-127, 127],
    castable exactly to any narrower type. Per-VECTOR scale means no
    store-level range state; cosine over ``qvec`` equals cosine over
    the dequantized vector (scale-invariance per argument). Shared by
    the int8 signature-store payload and the md5-plane ANN bucketing;
    both engines replay it bit-identically (single division, round
    half-away-from-zero)."""
    dv = to_double_array(v)
    absmax = F.array_max(F.transform(dv, lambda x: F.abs(x)))
    scale = F.when(absmax == 0.0, F.lit(0.0)).otherwise(F.lit(127.0) / absmax)
    qvec = F.transform(dv, lambda x: F.round(x * scale, 0))
    return scale, qvec


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
