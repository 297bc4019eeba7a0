"""Vector math over ``array<float|double>`` columns — built-in higher-order
functions only (zip_with / aggregate run in the JVM; no Python UDF, no
per-row Arrow crossing).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    """Promote array<float> to array<double> so all arithmetic happens in
    binary64 — keeps results bit-identical with double-based oracles."""
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic fp order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
