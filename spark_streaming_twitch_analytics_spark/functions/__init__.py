"""Column-expression library (JVM-side, codegen-friendly).

Every function here returns a ``pyspark.sql.Column`` built from built-in
functions — no Python row UDFs. Functions with a DuckDB-oracle story ship
a ``*_sql`` twin that renders the equivalent DuckDB expression from the
same constants, so Spark results and oracle results agree by construction.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_literal(x) -> str:
    """Spark SQL literal of the type ``F.lit(x)`` would give ``x``."""
    if x is None:
        return "NULL"
    if isinstance(x, str):
        if "'" in x or "\\" in x:
            # UTF-8 bytes: read the same whatever the session's
            # escapedStringLiterals setting
            return f"CAST(X'{x.encode().hex()}' AS STRING)"
        return f"'{x}'"
    if isinstance(x, int):  # bool too: True/False parse as BOOLEAN
        return str(x)
    if isinstance(x, float) and math.isfinite(x):
        return f"{float(x)!r}D"  # float(): numpy scalars repr with their type
    # inf / nan: only a cast from a string spells them, and it is nullable
    raise ValueError(f"no SQL literal for {type(x).__name__} {x!r}")


def lit_array(values: Iterable) -> Column:
    """``F.array(*[F.lit(x) for x in values])`` built with one JVM call.

    The unrolled form costs a few Py4J round trips per element, plus the
    analysis of one ``Literal`` node per element; a 50-label or 64-weight
    array made that a large share of building a query. Here
    the elements are rendered as one ``array(...)`` SQL expression, which
    parses to the same ``CreateArray`` of literals, so element types
    (string, int, double; ints are NOT widened to bigint), nullability
    and the constant-folded plan are those of the unrolled form. An
    empty ``values`` gives ``array()``, like ``F.array()``."""
    return F.expr(f"array({', '.join(_sql_literal(x) for x in values)})")
