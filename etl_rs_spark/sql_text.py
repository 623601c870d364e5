"""Quoting for the SQL expression strings operators build plans from
(a few py4j calls per DataFrame operation, where a Column chain costs
one per function and per Python lambda). Only identifiers quoted by
``ident``, DDL type names, ``int()``s and literals quoted by
``literal`` are interpolated into that text."""

from __future__ import annotations


def ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier; an embedded backtick is
    doubled, so any column name parses back to itself."""
    return "`" + name.replace("`", "``") + "`"


def literal(s: str) -> str:
    """``s`` as a single-quoted string literal, with backslash and quote
    escaped for Spark's default parser
    (``spark.sql.parser.escapedStringLiterals=false``)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
