"""Every package module is reachable from an entry point.

A module that nothing on a real entry path imports can only rot: its
tests pass while no query, command or benchmark runs it. The scan reads
import statements with ``ast`` (no Spark, no imports executed) and
follows them from the entry points: ``registry.load_all``, ``cli``,
``pipelines``, ``__spark_entry__.py``, ``bench.py`` and
``perfbench/*.py``. Importing a submodule also runs its packages'
``__init__``, so those count as reached too.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "nyc_landmarks_datalake_spark"

#: package modules that are entry points themselves
ENTRY_MODULES = (f"{PKG}.registry", f"{PKG}.cli", f"{PKG}.pipelines")
#: scripts outside the package that drive it
ENTRY_SCRIPTS = ("__spark_entry__.py", "bench.py", "perfbench/*.py")

ALLOWED_UNREACHED = {
    # the plan-shape harness that tests/test_plans.py drives
    f"{PKG}.plans",
    f"{PKG}.plans.audit",
    # job attribution, to be wired into the lake's own reports
    f"{PKG}.plans.observe",
}


def _package_modules() -> dict[str, str]:
    """Dotted module name → file path, for every module in the package."""
    mods = {}
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _imports(path: str, name: str, modules: dict[str, str]) -> set[str]:
    """Package modules that ``path`` imports anywhere in its body, with
    their packages. ``name`` is its dotted module name ("" for a script),
    against which relative imports resolve."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    is_pkg = os.path.basename(path) == "__init__.py"
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = name.split(".")[: len(name.split(".")) - node.level + is_pkg]
                base = ".".join(parts + ([base] if base else []))
            found.add(base)
            found.update(f"{base}.{a.name}" for a in node.names)
    reached = set()
    for mod in found:
        parts = mod.split(".")
        reached.update(
            ".".join(parts[:i]) for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in modules
        )
    return reached


def _reachable(modules: dict[str, str]) -> set[str]:
    todo = list(ENTRY_MODULES)
    for pattern in ENTRY_SCRIPTS:
        for script in glob.glob(os.path.join(ROOT, pattern)):
            todo.extend(_imports(script, "", modules))
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imports(modules[mod], mod, modules) - seen)
    return seen


def test_every_package_module_is_reachable_from_an_entry_point():
    modules = _package_modules()
    assert set(ENTRY_MODULES) <= modules.keys()
    unreached = modules.keys() - _reachable(modules) - ALLOWED_UNREACHED
    assert not unreached, sorted(unreached)


def test_scan_follows_function_level_and_relative_imports(tmp_path):
    """``load_all`` imports inside a function body, and a package may
    import its submodules relatively; both must count as reached."""
    pkg = tmp_path / "p"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("from . import a\n")
    (pkg / "a.py").write_text("def f():\n    from .b import g\n")
    (pkg / "b.py").write_text("def g():\n    import p.c\n")
    (pkg / "c.py").write_text("")
    (pkg / "d.py").write_text("")
    modules = {
        "p": str(pkg / "__init__.py"),
        **{f"p.{m}": str(pkg / f"{m}.py") for m in "abcd"},
    }
    assert _imports(modules["p"], "p", modules) == {"p", "p.a"}
    assert _imports(modules["p.a"], "p.a", modules) == {"p", "p.b"}
    assert _imports(modules["p.b"], "p.b", modules) == {"p", "p.c"}
