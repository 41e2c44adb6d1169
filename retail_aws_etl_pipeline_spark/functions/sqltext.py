"""The one way engine constants enter Spark SQL text.

The lake path builds its per-file projections as SQL text (``F.expr`` /
``selectExpr``): one JVM parse per expression instead of one py4j round
trip per Column call. Only ENGINE constants — column names, regex
patterns, datetime formats, reject labels, tolerances — are spliced into
that text, and only through :func:`sql_lit` / :func:`sql_ident`. Data
values (a file name, a run id, an injected clock) never are: they enter
the plan as ``F.lit`` / Column objects, so no file name can change the
meaning of a plan.

The literal form assumes the default ``spark.sql.parser.escapedStringLiterals
= false`` (backslash escapes inside ``'...'``).
"""

from __future__ import annotations


def sql_lit(value: str | float) -> str:
    """``value`` as a Spark SQL literal of the same type as ``F.lit(value)``:
    a quoted, backslash-escaped STRING or a DOUBLE (``D`` suffix — a bare
    ``0.01`` would parse as DECIMAL)."""
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, float):
        return f"{value!r}D"
    raise TypeError(f"cannot splice {type(value).__name__} into SQL text")


def sql_ident(name: str) -> str:
    """``name`` as a back-quoted column identifier."""
    return "`" + name.replace("`", "``") + "`"
