"""Python values and names as Spark SQL text.

The engine builds its projections and filters as SQL text, one
``selectExpr``/``filter``/``F.expr`` parse each, instead of one py4j
round trip per Column operation; every literal and backquoted name in
that text goes through these two helpers.
"""

from __future__ import annotations

INT_MIN, INT_MAX = -(2**31), 2**31 - 1


def sql_lit(v) -> str:
    """``v`` as an exact SQL literal of the type ``F.lit(v)`` gives: a
    str quoted with its backslashes and quotes escaped, a float as its
    exact DOUBLE (``repr`` + D), an int as INT, or BIGINT beyond INT's
    range, a bool as BOOLEAN, None as NULL."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v) if INT_MIN <= v <= INT_MAX else f"{v}L"
    if isinstance(v, float):
        return f"{v!r}D"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"no SQL literal for {type(v).__name__}")


def sql_ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"
