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

A parameter of a package function (nested ones included) is an option
only when the calls to a function of that name, in any ``.py`` file of the
repo, give it two distinct values; with one value in use it is a constant.
An omitted argument counts as its default, a literal or module constant as
its value, a parameter of the calling function passed on by name as the
values that function's own calls give it, and any other expression as a
value of its own. A call that forwards ``*args``/``**kwargs`` counts only
the arguments it spells out. A required parameter is checked once two
calls give it a value. The fields of a package dataclass follow the same
rule, set by constructor and ``replace(...)`` calls. Deployment settings
(``SETTINGS``) are exempt.

What the frozen benchmark (``perfbench/``) and the driver's entry points
(``bench.py``, ``__spark_entry__.py``) call must keep resolving: every
keyword they pass to a package function names one of its parameters, and
every ``cfg.<name>`` ``perfbench/layers.py`` reads exists on
``ValidationConfig``.

No import may bind a name its scope never uses: a module-level import must
be used somewhere in its module, an import inside a function somewhere in
that function. Checked in the package, ``tests/``, ``tools/`` and the
top-level scripts.

Pure AST scans: no Spark, no imports of the package."""

from __future__ import annotations

import ast
import functools
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


# deployment settings: where a table lives, which table a sink writes, the
# stored baseline history a nightly run validates against
SETTINGS = {"run_incremental.source_catalog", "sink_registry.table", "run.baseline_profiles"}

_FUNCTIONS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _literal(node, constants):
    """The value of a literal, or of a module constant named bare or as
    ``mod.NAME``; raises ``ValueError`` for any other expression."""
    name = node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)
    if name in constants:
        return constants[name]
    return ast.literal_eval(node)


def _module_constants(trees) -> dict:
    """UPPER_CASE module-level names bound to a literal; a name bound to two
    different values anywhere in the repo is left out."""
    constants, clashing = {}, set()
    for tree in trees:
        for node in tree.body:
            if not (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)
                    and node.targets[0].id.isupper()):
                continue
            name = node.targets[0].id
            try:
                value = _literal(node.value, constants)
            except ValueError:
                continue
            if constants.get(name, value) != value:
                clashing.add(name)
            constants[name] = value
    return {k: v for k, v in constants.items() if k not in clashing}


def _signature(fn):
    """Positional parameter names (without ``self``/``cls``), all parameter
    names, and name -> default expression."""
    args = fn.args
    pos = args.posonlyargs + args.args
    if pos and pos[0].arg in ("self", "cls"):
        pos = pos[1:]
    defaults = {a.arg: d for a, d in zip(pos[len(pos) - len(args.defaults):], args.defaults)}
    defaults.update({a.arg: d for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None})
    positional = [a.arg for a in pos]
    return positional, positional + [a.arg for a in args.kwonlyargs], defaults


@functools.cache
def _assigned_names(fn) -> set[str]:
    return {n.id for n in ast.walk(fn) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)}


class _Census:
    """Every call of the repo, read for the values it gives each argument."""

    def __init__(self):
        self.trees = {
            path: ast.parse(path.read_text(), str(path)) for path in _repo_py_files()
        }
        self.constants = _module_constants(self.trees.values())
        self.calls: dict[str, list[tuple[ast.Call, tuple]]] = {}
        self._resolving: set[int] = set()
        for tree in self.trees.values():
            self._collect(tree, ())

    def _collect(self, node, scopes):
        if isinstance(node, _FUNCTIONS):
            scopes = (*scopes, node)
        elif isinstance(node, ast.Call):
            name = getattr(node.func, "id", getattr(node.func, "attr", None))
            self.calls.setdefault(name, []).append((node, scopes))
        for child in ast.iter_child_nodes(node):
            self._collect(child, scopes)

    def value(self, node, scopes=()) -> set:
        """A literal or module constant counts as its value. A parameter of
        an enclosing function passed on by name carries the values its own
        calls give it. Any other expression is a value of its own."""
        if isinstance(node, ast.Name):
            for fn in reversed(scopes):
                if node.id in _signature(fn)[1]:
                    stored = node.id in _assigned_names(fn)
                    passed = set() if stored else self.values(fn)[0][node.id]
                    if passed:
                        return passed
                    break
        try:
            return {("value", repr(_literal(node, self.constants)))}
        except ValueError:
            return {("expression", id(node))}

    def spelled_out(self, call, scopes, positional):
        """(name -> values) of the arguments ``call`` spells out, and
        whether it also forwards ``*args``/``**kwargs``."""
        given = {}
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                break
            if i < len(positional):
                given[positional[i]] = self.value(arg, scopes)
        for kw in call.keywords:
            if kw.arg:
                given[kw.arg] = self.value(kw.value, scopes)
        forwarded = any(isinstance(a, ast.Starred) for a in call.args) or any(
            kw.arg is None for kw in call.keywords
        )
        return given, forwarded

    def values(self, fn, name=None, positional=None, params=None, defaults=None):
        """Per parameter of ``fn`` (a ``def``, or a dataclass given by its
        ``name`` and fields): the values the calls to that name give it, and
        how many calls give one. An omitted argument counts as its default,
        except in a call that forwards ``*args``/``**kwargs``, which counts
        only what it spells out."""
        if name is None:
            name, (positional, params, defaults) = fn.name, _signature(fn)
        seen = {p: set() for p in params}
        n_calls = dict.fromkeys(params, 0)
        if id(fn) in self._resolving:  # a recursive pass-through adds nothing
            return seen, n_calls
        self._resolving.add(id(fn))
        for call, scopes in self.calls.get(name, []):
            given, forwarded = self.spelled_out(call, scopes, positional)
            for p in params:
                if p in given:
                    seen[p] |= given[p]
                elif p in defaults and not forwarded:
                    seen[p] |= self.value(defaults[p])
                else:
                    continue
                n_calls[p] += 1
        self._resolving.discard(id(fn))
        return seen, n_calls

    def package(self):
        for path, tree in sorted(self.trees.items()):
            if PACKAGE in path.parents:
                yield str(path.relative_to(REPO)), tree


def test_every_parameter_takes_two_values_across_calls():
    """A parameter is an option only when the repo's calls give it two
    distinct values: an optional one always, a required one once two calls
    give it a value. A default no call overrides, or one value every call
    passes, is a constant."""
    census = _Census()
    constant = []
    for where, tree in census.package():
        for fn in ast.walk(tree):
            if not isinstance(fn, _FUNCTIONS):
                continue
            _, params, defaults = _signature(fn)
            seen, n_calls = census.values(fn)
            for p in params:
                if f"{fn.name}.{p}" in SETTINGS:
                    continue
                if len(seen[p]) < 2 and (p in defaults or n_calls[p] >= 2):
                    constant.append(f"{where}:{fn.lineno}: {fn.name}({p})")
    assert not constant, (
        "parameters with one value in use (make them constants):\n" + "\n".join(constant)
    )


def _dataclass_fields(cls):
    """name -> default expression (None when required) of the fields a
    dataclass ``__init__`` takes: ``ClassVar`` and ``field(init=False)``
    are not fields."""
    fields = {}
    for node in cls.body:
        if not (isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name)):
            continue
        if "ClassVar" in ast.unparse(node.annotation):
            continue
        default = node.value
        if isinstance(default, ast.Call) and getattr(default.func, "id", None) == "field":
            kw = {k.arg: k.value for k in default.keywords}
            if isinstance(kw.get("init"), ast.Constant) and kw["init"].value is False:
                continue
            default = kw.get("default", kw.get("default_factory"))
        fields[node.target.id] = default
    return fields


def _is_dataclass(cls) -> bool:
    return any("dataclass" in ast.unparse(d) for d in cls.decorator_list)


def test_every_config_field_takes_two_values_across_calls():
    """A dataclass field is an option only when a constructor or
    ``replace(...)`` call sets it to a second value; ``replace`` keeps the
    fields it does not name."""
    census = _Census()
    constant = []
    for where, tree in census.package():
        for cls in ast.walk(tree):
            if not (isinstance(cls, ast.ClassDef) and _is_dataclass(cls)):
                continue
            fields = _dataclass_fields(cls)
            defaults = {k: v for k, v in fields.items() if v is not None}
            seen, _ = census.values(cls, cls.name, list(fields), list(fields), defaults)
            for call, scopes in census.calls.get("replace", []):
                given, _ = census.spelled_out(call, scopes, [])
                for name in given.keys() & seen.keys():
                    seen[name] |= given[name]
            constant += [
                f"{where}:{cls.lineno}: {cls.name}.{n}" for n, v in seen.items() if len(v) < 2
            ]
    assert not constant, (
        "config fields with one value in use (make them ClassVar constants):\n"
        + "\n".join(constant)
    )


# the frozen benchmark and the driver's entry points: their calls into the
# package must keep resolving
BENCHMARK_CALLERS = [*sorted((REPO / "perfbench").glob("*.py")), REPO / "bench.py",
                     REPO / "__spark_entry__.py"]


def _package_module(dotted: str):
    """The parsed package module ``dotted`` names, or None."""
    parts = dotted.split(".")
    if parts[0] != PACKAGE.name:
        return None
    path = REPO.joinpath(*parts)
    for candidate in (path.with_suffix(".py"), path / "__init__.py"):
        if candidate.is_file():
            return ast.parse(candidate.read_text(), str(candidate))
    return None


def _bound_names(tree) -> dict:
    """Top-level name -> its ``def``/``class`` node, or None for any other
    binding (an assignment or import)."""
    names = {}
    for node in tree.body:
        if isinstance(node, (*_FUNCTIONS, ast.ClassDef)):
            names[node.name] = node
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update({(a.asname or a.name).split(".")[0]: None for a in node.names})
        else:
            names.update({n.id: None for n in ast.walk(node) if isinstance(n, ast.Name)
                          and isinstance(n.ctx, ast.Store)})
    return names


def _accepted_keywords(node):
    """Keywords a ``def`` or a class accepts; None when it takes any."""
    if isinstance(node, ast.ClassDef):
        if _is_dataclass(node):
            return set(_dataclass_fields(node))
        node = next((n for n in node.body if getattr(n, "name", None) == "__init__"), None)
    if node is None or node.args.kwarg:
        return None
    return set(_signature(node)[1])


def test_benchmark_calls_match_the_package():
    """Every keyword that perfbench/, bench.py or __spark_entry__.py passes
    to a package function names one of its parameters, and every
    ``cfg.<name>`` perfbench/layers.py reads exists on ValidationConfig."""
    broken = []
    for path in BENCHMARK_CALLERS:
        tree = ast.parse(path.read_text(), str(path))
        modules, defs = {}, {}  # local name -> package module / (module, name)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.module:
                for a in node.names:
                    sub = _package_module(f"{node.module}.{a.name}")
                    if sub is not None:
                        modules[a.asname or a.name] = sub
                    elif (mod := _package_module(node.module)) is not None:
                        defs[a.asname or a.name] = (mod, a.name)
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            f = call.func
            if isinstance(f, ast.Name) and f.id in defs:
                mod, name = defs[f.id]
            elif (isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
                  and f.value.id in modules):
                mod, name = modules[f.value.id], f.attr
            else:
                continue
            where = f"{path.relative_to(REPO)}:{call.lineno}: {ast.unparse(f)}"
            bound = _bound_names(mod)
            if name not in bound:
                broken.append(f"{where}: no such package name")
                continue
            accepted = _accepted_keywords(bound[name]) if bound[name] else None
            if accepted is not None:
                broken += [f"{where}({k.arg}=)" for k in call.keywords
                           if k.arg and k.arg not in accepted]
    layers = ast.parse((REPO / "perfbench" / "layers.py").read_text())
    config = next(n for n in ast.walk(_package_module(f"{PACKAGE.name}.plans.validate"))
                  if isinstance(n, ast.ClassDef) and n.name == "ValidationConfig")
    members = {n.target.id for n in config.body if isinstance(n, ast.AnnAssign)}
    members |= {n.name for n in config.body if isinstance(n, _FUNCTIONS)}
    broken += [
        f"perfbench/layers.py:{n.lineno}: cfg.{n.attr}" for n in ast.walk(layers)
        if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
        and n.value.id == "cfg" and n.attr not in members
    ]
    assert not broken, "benchmark calls the package no longer accepts:\n" + "\n".join(broken)


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
