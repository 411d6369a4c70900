"""Spark SQL literal spelling for expression trees built as text.

A large constant expression tree built from ``F.*`` calls costs one py4j
round trip per node, every time a plan is built. The same tree written as
SQL text and parsed by one ``F.expr`` costs one. These helpers spell the
leaves so the parsed tree is the one the ``F.*`` builders made:

- :func:`double` writes ``<repr>D``. ``repr`` is the shortest string that
  reads back as the same IEEE double, and the ``D`` suffix makes the
  parser produce a DOUBLE literal. A bare ``0.55`` would parse as a
  DECIMAL and change the arithmetic.
- :func:`string` escapes backslash and quote for the default (escaping)
  string-literal parser.
- :func:`ident` backquotes a column name.

The text is plain Python strings, so it can be generated once at import.
Never cache the parsed ``Column``: it belongs to one JVM session.
"""

from __future__ import annotations


def double(x: float) -> str:
    return f"{float(x)!r}D"


def string(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"
