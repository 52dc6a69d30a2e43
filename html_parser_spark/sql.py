"""Spark SQL text for per-row expressions: one ``F.expr``/``selectExpr``
call per column instead of ~12 JVM round trips per ``Column`` method
(PySpark's call-site capture).  Values holding a quote or a backslash
go in as ``F.lit`` arguments, never as SQL text (CLAUDE.md)."""


def ident(name: str) -> str:
    """``name`` as a Spark SQL identifier: in backticks, any backtick doubled."""
    return "`" + name.replace("`", "``") + "`"
