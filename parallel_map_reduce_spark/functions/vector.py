"""Vector math over ARRAY<FLOAT/DOUBLE> columns — pure Column expressions.

``F.zip_with`` + ``F.aggregate`` run JVM-side inside codegen: no Python,
no UDF serialization. For 64-dim embeddings this is a tight per-row loop;
the same expressions vectorize fine at 100 TB because they're per-row
compute with no shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-order dot product (matches DuckDB list_dot_product)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def double_sql(v) -> str:
    """SQL text of one exact DOUBLE literal.

    The value is written ``repr(v) + "D"``: repr is the shortest string
    that round-trips the float, and the ``D`` suffix makes the parser
    read it as a DOUBLE, so the literal is bit-identical to
    ``F.lit(float(v))``. Raises ValueError on NaN or infinity, which
    have no numeric literal form."""
    v = float(v)
    if not math.isfinite(v):
        raise ValueError(f"double_sql: non-finite value {v!r}")
    return repr(v) + "D"


def double_array_sql(values) -> str:
    """SQL text of an ``array(...)`` of exact DOUBLE literals
    (``double_sql`` each). One parsed ``F.expr`` replaces a py4j round
    trip per element."""
    return "array(" + ", ".join(double_sql(v) for v in values) + ")"
