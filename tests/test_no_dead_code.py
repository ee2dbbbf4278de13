"""Dead-code guard: every top-level function and class of the package must be
referenced by name somewhere in the repo's Python files, outside its own
definition. A use from the tests is enough, so a reference implementation
kept as a test oracle survives; a helper nothing calls does not.

A name counts as referenced when it appears as an identifier (``f(...)``),
an attribute (``mod.f``) or an imported name (``from mod import f``) in any
``.py`` file of the repo; the ``def``/``class`` statement itself is not a
reference. Pure AST scan: no Spark, no imports of the package."""

from __future__ import annotations

import ast
import os
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "invoice_anomaly_detection_sieve_spark"


def _repo_py_files():
    # prune hidden and cache directories (.git, run work dirs) while walking
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        for name in files:
            if name.endswith(".py"):
                yield pathlib.Path(root, name)


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in _repo_py_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def _package_definitions():
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield f"{path.relative_to(REPO)}::{node.name}", node.name


def test_every_package_function_and_class_is_referenced():
    referenced = _referenced_names()
    unreferenced = [
        where for where, name in _package_definitions() if name not in referenced
    ]
    assert not unreferenced, (
        "top-level definitions nothing references (delete them, or call "
        "them from a test if they are a reference implementation):\n"
        + "\n".join(unreferenced)
    )
