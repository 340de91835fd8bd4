"""Every option of the package is a value some caller actually varies.

A defaulted parameter that every call site leaves alone, or sets to the
same literal, is a constant that doubles the configurations tests and
benchmarks must cover. The scan reads the package and every file that
drives it (the entry scripts of ``tests/test_reachability.py``, plus
``tests/``, ``tools/`` and ``perfbench/``) with ``ast`` and matches calls
to definitions by name. A function whose call sites are not all visible
is skipped: one referenced as a value, one wrapped by a decorator that
may call it itself, and one called with ``*args`` or ``**kwargs``.

An environment read is an option too, set from outside any call site.
The package may read only the deployment settings in ``ALLOWED_ENV``.
"""

from __future__ import annotations

import ast
import glob
import os

from tests.test_reachability import ENTRY_SCRIPTS, PKG, ROOT

#: files that call the package besides the package and its entry scripts
CALLER_GLOBS = ("tests/**/*.py", "tools/**/*.py", "perfbench/**/*.py")

#: decorators that keep the calling convention of the function they wrap
PLAIN_DECORATORS = {"lru_cache", "cache", "contextmanager", "classmethod", "staticmethod"}

#: environment variables the package may read, each with its reason
ALLOWED_ENV = {
    "SPARK_GRAFT_CPUS": "deployment sizing: cores of the local master",
    "SPARK_MASTER": "deployment: the cluster to run on",
    "SPARK_DRIVER_MEMORY": "deployment sizing: the driver's heap",
    "SPARK_SHUFFLE_PARTITIONS": "deployment sizing: shuffle width for the cluster's cores",
}

_DEFAULT = ("default",)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _decorator_name(node: ast.expr) -> str | None:
    return _name(node.func if isinstance(node, ast.Call) else node)


def _definitions(trees: dict[str, ast.Module]) -> list[tuple]:
    """(file, call name, def, is_method) for every function in ``trees``.
    A class's ``__init__`` is listed under the class name, its call name."""
    found = []

    def visit(path, node, in_class):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                decorators = {_decorator_name(d) for d in child.decorator_list}
                method = in_class and "staticmethod" not in decorators
                init = method and child.name == "__init__"
                found.append((path, node.name if init else child.name, child, method))
                visit(path, child, False)
            elif isinstance(child, ast.ClassDef):
                visit(path, child, True)
            else:
                visit(path, child, in_class)

    for path, tree in trees.items():
        visit(path, tree, False)
    return found


def _value(node: ast.expr) -> tuple:
    """A call site's argument: a literal compares by value, anything else
    is distinct from every other argument."""
    try:
        return ("literal", repr(ast.literal_eval(node)))
    except (ValueError, TypeError, SyntaxError, RecursionError):
        return ("expr", id(node))


def fixed_options(
    package: dict[str, ast.Module], callers: dict[str, ast.Module]
) -> list[str]:
    """``file:line function(param)`` for each defaulted parameter of a
    function in ``package`` whose call sites in ``callers`` all leave it
    at its default or all pass it the same literal."""
    calls: dict[str, list[ast.Call]] = {}
    called: set[int] = set()
    for tree in callers.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                calls.setdefault(_name(node.func), []).append(node)
                called.add(id(node.func))
    as_value: set[str] = set()
    for tree in callers.values():
        for node in ast.walk(tree):
            if id(node) in called:
                continue
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                as_value.add(node.id)
            elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                as_value.add(node.attr)

    fixed = []
    for path, name, fn, method in _definitions(package):
        if name in as_value or any(
            _decorator_name(d) not in PLAIN_DECORATORS for d in fn.decorator_list
        ):
            continue
        sites = calls.get(name, [])
        if any(
            any(isinstance(a, ast.Starred) for a in c.args)
            or any(k.arg is None for k in c.keywords)
            for c in sites
        ):
            continue
        a = fn.args
        params = [p.arg for p in a.posonlyargs + a.args]
        positional = params[1:] if method else params
        defaults = dict(zip(params[len(params) - len(a.defaults):], a.defaults))
        defaults.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d})
        for param, default in defaults.items():
            seen = set()
            for call in sites:
                kw = [k.value for k in call.keywords if k.arg == param]
                idx = positional.index(param) if param in positional else None
                if kw:
                    arg = kw[0]
                elif idx is not None and idx < len(call.args):
                    arg = call.args[idx]
                else:
                    seen.add(_DEFAULT)
                    continue
                v = _value(arg)
                seen.add(_DEFAULT if v == _value(default) else v)
            if len(seen) <= 1 and not any(v[0] == "expr" for v in seen):
                rel = os.path.relpath(path, ROOT)
                fixed.append(f"{rel}:{fn.lineno} {name}({param})")
    return sorted(fixed)


def env_reads(package: dict[str, ast.Module]) -> list[tuple[str, str]]:
    """(``file:line``, variable) for each environment read in ``package``;
    the variable is ``?`` where the scan cannot name it."""
    reads = []
    for path, tree in package.items():
        rel = os.path.relpath(path, ROOT)
        # ``environ`` nodes that a read found above them accounts for;
        # ast.walk visits a node before its children
        accounted: set[int] = set()
        for node in ast.walk(tree):
            func = getattr(node, "func", None)
            if isinstance(node, ast.Call) and _name(func) == "getenv":
                key = node.args[0] if node.args else None
            elif (
                isinstance(func, ast.Attribute)
                and func.attr in ("get", "setdefault", "pop")
                and _is_environ(func.value)
            ):
                accounted.add(id(func.value))
                key = node.args[0] if node.args else None
            elif isinstance(node, ast.Subscript) and _is_environ(node.value):
                accounted.add(id(node.value))
                if isinstance(node.ctx, ast.Store):
                    continue
                key = node.slice
            elif _is_environ(node) and id(node) not in accounted:
                key = None
            else:
                continue
            name = key.value if isinstance(key, ast.Constant) else "?"
            reads.append((f"{rel}:{node.lineno}", name))
    return sorted(reads)


def _name(node: ast.AST | None) -> str | None:
    """The called or referenced name: ``f`` of ``f`` and of ``x.f``."""
    return getattr(node, "id", None) or getattr(node, "attr", None)


def _is_environ(node: ast.AST) -> bool:
    return isinstance(node, (ast.Name, ast.Attribute)) and _name(node) == "environ"


def _trees(patterns) -> dict[str, ast.Module]:
    paths = {p for pat in patterns for p in glob.glob(os.path.join(ROOT, pat), recursive=True)}
    return {p: _parse(p) for p in sorted(paths)}


def test_every_default_has_a_caller_that_varies_it():
    package = _trees([f"{PKG}/**/*.py"])
    callers = {**package, **_trees(ENTRY_SCRIPTS + CALLER_GLOBS)}
    assert fixed_options(package, callers) == []


def test_the_package_reads_only_deployment_settings_from_the_environment():
    reads = env_reads(_trees([f"{PKG}/**/*.py"]))
    assert reads, "the scan must see session.py's deployment settings"
    assert [r for r in reads if r[1] not in ALLOWED_ENV] == []


def test_scan_flags_fixed_options_and_skips_hidden_callers(tmp_path):
    lib = tmp_path / "lib.py"
    lib.write_text(
        "import os\n"
        "def unset(x, k=1): pass\n"
        "def same(x, k=1): pass\n"
        "def varied(x, k=1): pass\n"
        "def forwarded(x, k=1): pass\n"
        "def splatted(x, k=1): pass\n"
        "def handed(x, k=1): pass\n"
        "class C:\n"
        "    def __init__(self, k=1): pass\n"
        "    def m(self, x, k=1): pass\n"
        "X = os.environ.get('A', 1)\n"
        "Y = os.getenv('B')\n"
        "Z = os.environ['C']\n"
        "os.environ['D'] = '1'\n"
        "E = dict(os.environ)\n"
    )
    use = tmp_path / "use.py"
    use.write_text(
        "unset(1); same(1, k=2); same(2, 2); varied(1); varied(1, k=3)\n"
        "forwarded(1, k=y); splatted(*a); register(handed)\n"
        "C(); C(2); C().m(1, 2); C().m(1)\n"
    )
    package = {str(lib): _parse(str(lib))}
    callers = {**package, str(use): _parse(str(use))}
    flagged = [f.split(" ")[1] for f in fixed_options(package, callers)]
    assert flagged == ["unset(k)", "same(k)"]
    assert [r[1] for r in env_reads(package)] == ["A", "B", "C", "?"]
