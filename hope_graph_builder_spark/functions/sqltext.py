"""Helpers for writing fixed expression trees as Spark SQL text.

A Column tree built through the Python API costs JVM round trips per
node (and every Column method also captures its call site), so the
plan builders emit their fixed trees as SQL fragments — one parse on
the JVM each — through ``F.expr``, ``selectExpr`` and ``filter(str)``.
"""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dbl(v: float) -> str:
    """``v`` as a DOUBLE literal (a bare ``0.5`` is DECIMAL in Spark
    SQL); ``repr`` round-trips the exact IEEE value."""
    return repr(float(v)) + "D"
