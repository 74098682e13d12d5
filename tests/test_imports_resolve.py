"""Every ``polars_mas_spark`` import in the repo resolves — checked
statically, without Spark.

A function-level import of a deleted module or name only fails when the
function is called, which may be never in the test suite. This walks
the AST of every ``.py`` under the package, ``masbench/``, ``tools/``
and ``tests/`` (module-level and function-level imports alike) and
checks each imported module exists and each imported name is bound at
the top level of its module or is a submodule.
"""

from __future__ import annotations

import ast
import os
from functools import lru_cache
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "polars_mas_spark"
SCANNED = (PKG, "masbench", "tools", "tests")


def _module_file(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _bind_targets(target: ast.expr) -> set[str]:
    if isinstance(target, ast.Name):
        return {target.id}
    if isinstance(target, (ast.Tuple, ast.List)):
        return set().union(*(_bind_targets(t) for t in target.elts))
    return set()


def _top_level_names(stmts: list[ast.stmt]) -> set[str]:
    """Names bound at module scope, descending into module-level
    ``if``/``try``/``with`` blocks but not into functions or classes."""
    names: set[str] = set()
    for node in stmts:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                names |= _bind_targets(t)
        elif isinstance(node, ast.AnnAssign):
            names |= _bind_targets(node.target)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                names.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, ast.If):
            names |= _top_level_names(node.body) | _top_level_names(node.orelse)
        elif isinstance(node, ast.Try):
            names |= _top_level_names(node.body + node.orelse + node.finalbody)
            for h in node.handlers:
                names |= _top_level_names(h.body)
        elif isinstance(node, ast.With):
            names |= _top_level_names(node.body)
    return names


@lru_cache(maxsize=None)
def _exports(module: str) -> frozenset[str]:
    path = _module_file(module)
    tree = ast.parse(path.read_text(), filename=str(path))
    return frozenset(_top_level_names(tree.body))


def _package_imports(path: Path):
    """Yield (lineno, module, name-or-None) for every absolute import of
    the package in ``path``, at any nesting depth."""
    tree = ast.parse(path.read_text(), filename=str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name == PKG or a.name.startswith(PKG + "."):
                    yield node.lineno, a.name, None
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module == PKG or node.module.startswith(PKG + "."):
                for a in node.names:
                    yield node.lineno, node.module, a.name


def _unresolved(path: Path) -> list[str]:
    bad = []
    for lineno, module, name in _package_imports(path):
        where = f"{os.path.relpath(path, ROOT)}:{lineno}"
        if _module_file(module) is None:
            bad.append(f"{where}: no module {module}")
        elif name not in (None, "*") and name not in _exports(module):
            if _module_file(f"{module}.{name}") is None:
                bad.append(f"{where}: {module} has no name {name}")
    return bad


def _scanned_files() -> list[Path]:
    return sorted(p for d in SCANNED for p in (ROOT / d).rglob("*.py"))


def test_every_package_import_resolves():
    bad = [msg for p in _scanned_files() for msg in _unresolved(p)]
    assert not bad, "dangling imports:\n" + "\n".join(bad)


def test_api_doc_modules_exist():
    """tools/gen_api_docs.py imports its MODULES by name string, which
    the AST walk above cannot see."""
    tree = ast.parse((ROOT / "tools" / "gen_api_docs.py").read_text())
    modules = next(
        ast.literal_eval(n.value)
        for n in tree.body
        if isinstance(n, ast.Assign) and _bind_targets(n.targets[0]) == {"MODULES"}
    )
    missing = [m for m, _ in modules if _module_file(m) is None]
    assert not missing, missing


# Library modules no MAS entry point reaches, left from the operator
# library (ROADMAP item 1). Each deletion step shrinks this set; a new
# module that nothing reaches fails the test below.
LEFTOVER_LIBRARY = {
    f"{PKG}.{m}" for m in (
        "operators.bloom", "operators.dedup", "operators.similarity",
        "operators.text", "staging",
    )
}
ENTRY_POINTS = (PKG, f"{PKG}.__main__", f"{PKG}.cli", f"{PKG}.pipeline")


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _reachable(roots) -> set[str]:
    """Package modules imported, transitively and at any nesting depth,
    from ``roots``. Importing ``a.b.c`` also imports ``a.b`` and ``a``;
    ``from a.b import c`` imports ``a.b.c`` when ``c`` is a submodule."""
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        module = todo.pop()
        if module in seen or _module_file(module) is None:
            continue
        seen.add(module)
        for _, imported, name in _package_imports(_module_file(module)):
            parts = imported.split(".")
            todo += [".".join(parts[:i]) for i in range(1, len(parts) + 1)]
            if name is not None:
                todo.append(f"{imported}.{name}")
    return seen


def test_unreachable_modules_are_the_listed_leftovers():
    modules = {_module_name(p) for p in (ROOT / PKG).rglob("*.py")}
    unreachable = modules - _reachable(ENTRY_POINTS)
    assert unreachable == LEFTOVER_LIBRARY, (
        f"newly unreachable: {sorted(unreachable - LEFTOVER_LIBRARY)}; "
        f"listed but reachable or gone: {sorted(LEFTOVER_LIBRARY - unreachable)}"
    )


def test_walk_catches_function_level_imports(tmp_path):
    """The checker itself: a dangling import inside a function body and
    a missing name in an existing module are both reported."""
    src = tmp_path / "probe.py"
    src.write_text(
        "def f():\n"
        f"    from {PKG}.no_such_module import x\n"
        f"    from {PKG}.config import no_such_name\n"
        f"    from {PKG}.config import MASConfig\n"
    )
    bad = _unresolved(src)
    assert len(bad) == 2
    assert "no module" in bad[0] and "no_such_name" in bad[1]

