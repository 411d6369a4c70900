"""Guard against dead library code: every top-level ``def`` or ``class``
under ``documentai_spark/`` must be referenced by some ``.py`` file in
the repo (library, tools, entry points or tests) other than through its
own definition. Pure AST, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "documentai_spark"

# write_po_docs_parquet writes the committed data/po_docs fixture
# (FIXTURES.md names it as the generator). It is run by hand to
# regenerate that fixture, so no .py file calls it.
ALLOWED_UNREFERENCED = {"write_po_docs_parquet"}


def _py_files():
    for path in sorted(REPO.rglob("*.py")):
        if not any(part.startswith(".")
                   for part in path.relative_to(REPO).parts):
            yield path


def _names_used(node: ast.AST) -> set[str]:
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            used.update(a.name for a in n.names)
    return used


def test_every_library_definition_is_referenced():
    defined: dict[str, str] = {}
    used: set[str] = set()
    for path in _py_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        in_package = PACKAGE in path.parents
        for stmt in tree.body:
            names = _names_used(stmt)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                if in_package:
                    defined.setdefault(stmt.name,
                                       str(path.relative_to(REPO)))
                # a definition does not reference itself (recursion)
                names.discard(stmt.name)
            used |= names
    dead = sorted(f"{src}: {name}" for name, src in defined.items()
                  if name not in used and name not in ALLOWED_UNREFERENCED)
    assert not dead, "unreferenced library definitions:\n" + "\n".join(dead)
