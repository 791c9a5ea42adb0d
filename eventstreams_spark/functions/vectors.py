"""Vector math over array<double> columns — JVM-side higher-order fns.

No Python UDFs: dot/norm/cosine compile to Catalyst ``zip_with`` /
``aggregate`` expressions, so they run inside codegen and scale with
the scan (SURVEY §2.11 L3). Cast float arrays to double first
(to_double_array) for DuckDB-oracle parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
