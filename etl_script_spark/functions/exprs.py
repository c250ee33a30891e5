"""Expression-level helpers shared across the operator library."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body) -> Column:
    """Bind an expensive expression ONCE inside a single projection.

    ``element_at(transform(array(value), v -> body(v)), 1)`` evaluates
    ``value`` exactly once no matter how many times ``body`` references
    ``v``. Catalyst's CollapseProject re-inlines a plain column alias
    into every consumer — referencing a normalized-text or parsed-array
    intermediate k times re-runs its regexes k times (the round-1
    512 s MinHash lesson). A lambda variable is bound, not substituted,
    so this is the Column-expression equivalent of a local variable.
    Nesting is fine; inner lambdas may capture outer variables.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, so a projection
    can be written as ONE SQL string (``selectExpr`` / ``F.expr``):
    one JVM call where per-column Column builders cost several py4j
    round trips per column. Any name is safe, spaces, dots and
    backticks included."""
    return "`" + name.replace("`", "``") + "`"
