"""Dead-code guards.

Every top-level function and class of the package must be
referenced by name somewhere in the repo's Python files, outside its own
definition. A use from the tests is enough, so a reference implementation
kept as a test oracle survives; a helper nothing calls does not.

A name counts as referenced when it is read as an identifier (``f(...)``),
an attribute (``mod.f``) or an imported name (``from mod import f``) in any
``.py`` file of the repo; the ``def``/``class`` statement or the assignment
itself is not a reference.

Every top-level assignment of the package must be read somewhere in the
repo: a constant nothing reads fails. Dunder names (``__all__``) are exempt.

Every optional parameter of a package function (nested ones included) must
be set by some call: a call to a function of that name, in any ``.py`` file
of the repo, passes it by keyword or positionally. A function also called with ``*args`` or ``**kwargs`` counts as
fully set. A default no caller overrides is a constant, not an option.

No import may bind a name its scope never uses: a module-level import must
be used somewhere in its module, an import inside a function somewhere in
that function. Checked in the package, ``tests/``, ``tools/`` and the
top-level scripts.

Pure AST scans: no Spark, no imports of the package."""

from __future__ import annotations

import ast
import os
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "invoice_anomaly_detection_sieve_spark"
IMPORT_CHECKED = [PACKAGE, REPO / "tests", REPO / "tools"]
IMPORT_CHECKED_SCRIPTS = ["bench.py", "__spark_entry__.py"]
_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


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
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
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


def test_every_package_constant_is_read():
    read = _referenced_names()
    unread = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for target in targets:
                for name in ast.walk(target):
                    if (isinstance(name, ast.Name) and name.id not in read
                            and not (name.id.startswith("__") and name.id.endswith("__"))):
                        unread.append(f"{path.relative_to(REPO)}:{node.lineno}: {name.id}")
    assert not unread, "module-level names nothing reads:\n" + "\n".join(unread)


# deployment settings: where a table lives, which table a sink writes
SETTINGS = {"run_incremental.source_catalog", "sink_registry.table"}


def _calls():
    """Per called name: (positional count, keyword names) of every call,
    and the names also called with ``*args``/``**kwargs``."""
    calls: dict[str, list[tuple[int, set[str]]]] = {}
    starred: set[str] = set()
    for path in _repo_py_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            if isinstance(node.func, ast.Name):
                name = node.func.id
            elif isinstance(node.func, ast.Attribute):
                name = node.func.attr
            else:
                continue
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                starred.add(name)
            calls.setdefault(name, []).append(
                (len(node.args), {k.arg for k in node.keywords if k.arg})
            )
    return calls, starred


def _optional_params(fn):
    """(positional index or None for keyword-only, name) per defaulted
    parameter; the index does not count ``self``/``cls``."""
    args = fn.args
    pos = args.posonlyargs + args.args
    skip = 1 if pos and pos[0].arg in ("self", "cls") else 0
    first = len(pos) - len(args.defaults)
    out = [(i - skip, a.arg) for i, a in enumerate(pos) if i >= first]
    out += [(None, a.arg) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None]
    return out


def test_every_optional_parameter_is_set_by_a_caller():
    calls, starred = _calls()
    unset = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or fn.name in starred:
                continue
            seen = calls.get(fn.name, [])
            for index, name in _optional_params(fn):
                if f"{fn.name}.{name}" in SETTINGS:
                    continue
                if not any(
                    name in kw or (index is not None and n_pos > index) for n_pos, kw in seen
                ):
                    unset.append(f"{path.relative_to(REPO)}:{fn.lineno}: {fn.name}({name})")
    assert not unset, (
        "optional parameters no call sets (make them constants):\n" + "\n".join(unset)
    )


def _unused_imports(path: pathlib.Path):
    tree = ast.parse(path.read_text(), str(path))
    parent = {
        child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)
    }
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        scope = parent[node]
        while not isinstance(scope, _SCOPES):
            scope = parent[scope]
        used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        for alias in node.names:
            # ``import a.b`` binds ``a``
            bound = alias.asname or alias.name.split(".", 1)[0]
            if bound not in used:
                yield f"{path.relative_to(REPO)}:{node.lineno}: {bound}"


def test_no_unused_imports():
    paths = [p for d in IMPORT_CHECKED for p in sorted(d.rglob("*.py"))]
    paths += [REPO / name for name in IMPORT_CHECKED_SCRIPTS]
    unused = [where for path in paths for where in _unused_imports(path)]
    assert not unused, "imports nothing in their scope uses:\n" + "\n".join(unused)
