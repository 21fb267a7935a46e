"""Data-sized literal arrays built in ONE driver call.

``F.lit(list)`` looks like a single-call literal but PySpark lowers it
to ``array(*[lit(x) for x in list])`` — two py4j round-trips per
element (pyspark/sql/functions/builtin.py, the list branch).  A knot
table, Bloom bitset or model-weight vector is DATA-sized, so plan
construction cost grows with the data: an 800-knot table costs ~3 200
round-trips ≈ 2 s of driver time per call (measured, optimization
round r10).

These helpers render the array as one SQL string and hand it to the
parser in a single ``F.expr`` round-trip.  ``repr(float)`` is the
shortest round-trip-exact decimal (Python ≥3.1) and Spark's ``D``
suffix parses it back to the identical IEEE double, so the resulting
``Literal(array<double>)`` is bit-for-bit the one ``F.lit`` builds —
verified by plan comparison in tests.  Non-finite doubles (NaN/inf
have no SQL literal) fall back to ``F.lit(list)``.

:func:`sql_double`, :func:`sql_string` and :func:`sql_ident` render one
value or column name as SQL text, for operators that build a whole
expression (a ``CASE`` chain, a bisect tree) as one ``F.expr`` string.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def lit_double_array(values) -> Column:
    """``array<double>`` literal parsed in one driver round-trip."""
    vals = [float(v) for v in values]
    if not vals:
        return F.lit([]).cast("array<double>")
    if not all(math.isfinite(v) for v in vals):
        return F.lit(vals)  # NaN/inf: no SQL literal form
    return F.expr("array(" + ",".join(f"{v!r}D" for v in vals) + ")")


def lit_double_matrix(rows) -> Column:
    """``array<array<double>>`` literal parsed in one driver round-trip
    (hyperplane tables and other small constant matrices).  Same
    round-trip-exactness argument as :func:`lit_double_array`; any
    non-finite entry falls back to per-row ``F.lit`` arrays."""
    mat = [[float(v) for v in r] for r in rows]
    if not mat:
        return F.lit([]).cast("array<array<double>>")
    if not all(math.isfinite(v) for r in mat for v in r):
        return F.array(*[F.lit(r) for r in mat])
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{v!r}D" for v in r) + ")" for r in mat
        )
        + ")"
    )


def lit_long_array(values) -> Column:
    """``array<bigint>`` literal parsed in one driver round-trip."""
    vals = [int(v) for v in values]
    if not vals:
        return F.lit([]).cast("array<bigint>")
    if not all(-(1 << 63) <= v < (1 << 63) for v in vals):
        raise ValueError("lit_long_array: value out of int64 range")
    return F.expr("array(" + ",".join(f"{v}L" for v in vals) + ")")


def sql_double(v) -> str:
    """SQL text of a double: ``repr`` + ``D`` (the identical IEEE double
    when parsed back); NaN and +-inf, which have no numeric literal, are
    cast from their string names."""
    v = float(v)
    if math.isfinite(v):
        return f"{v!r}D"
    name = "NaN" if math.isnan(v) else "Infinity" if v > 0 else "-Infinity"
    return f"CAST('{name}' AS DOUBLE)"


def sql_string(s: str) -> str:
    """SQL text of a string literal that parses back to ``s`` exactly
    (backslash escapes, the parser's default
    ``spark.sql.parser.escapedStringLiterals=false``)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """Backtick-quoted column name: any string, dots and backticks
    included, names one top-level column."""
    return "`" + name.replace("`", "``") + "`"
