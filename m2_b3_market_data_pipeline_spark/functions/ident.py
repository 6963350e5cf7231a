"""Identifier quoting for generated Spark SQL strings."""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier, safe to
    splice into a generated SQL string: a backtick inside the name is
    doubled, so a column called ``emb`x`` stays one identifier."""
    return "`" + name.replace("`", "``") + "`"
