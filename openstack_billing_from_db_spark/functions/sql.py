"""SQL-text building blocks shared by the plans that are written as SQL."""

from __future__ import annotations


def sql_string(text: str) -> str:
    """A Spark SQL string literal (backslash escapes are on by default)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"
