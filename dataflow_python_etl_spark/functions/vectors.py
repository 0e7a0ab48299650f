"""Vector column functions over ``array<float|double>`` embeddings.

All pure Catalyst higher-order functions (``zip_with`` /
``aggregate``) — JVM-side, no UDFs, so similarity math runs inside
whole-stage codegen and scales linearly with executors. Elements are
cast to double before multiplying so cross-engine (DuckDB oracle)
results agree to the ULP.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product (deterministic summation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; both inputs must already be double arrays."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# ---------------------------------------------------------------------------
# SQL-text builders (optimization r12, guide §5 "the driver should do
# almost no data work"): composing a K×D literal expression through the
# Column API costs one py4j round-trip PER CALL — measured 39,801
# round-trips (~8 s of driver wall) building ONE q163 plan, with
# execution at 0.2 s. Rendering the same expression as ONE SQL string
# parsed by F.expr produces the IDENTICAL Catalyst tree (same fold
# order, same doubles — oracle hashes unchanged) at ~zero driver cost.
# ---------------------------------------------------------------------------


def dlit(x: float) -> str:
    """Exact double literal: repr() is the shortest round-tripping
    decimal, and Spark's parser reads it with correctly-rounded
    Double.parseDouble — bit-identical to F.lit(x). NaN and ±Inf have
    no literal syntax (repr gives ``nan``/``inf``), so they render as
    the string casts Spark folds to the same doubles."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def darr(xs) -> str:
    """array<double> literal."""
    return "array(" + ", ".join(dlit(x) for x in xs) + ")"


def dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot` (same sequential left fold from 0.0)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def l2_norm_sql(a: str) -> str:
    """SQL text of :func:`l2_norm`."""
    return f"sqrt({dot_sql(a, a)})"


def as_double_array_sql(col_name: str) -> str:
    """SQL text of :func:`as_double_array` over a named column."""
    return f"transform(`{col_name}`, x -> CAST(x AS DOUBLE))"
