"""Every public module-level function of the package has a reference.

A JVM-free AST scan: a public (no leading underscore) function defined
at module level under ``us_immigration_data_lake_spark/`` must be
referenced by name somewhere outside its own body — in a package
module other than the ``__init__.py`` re-exports, or in ``perfbench/``,
``scripts/``, ``bench.py``, ``__spark_entry__.py`` or ``tests/``. Only
``ast.Name`` ids, ``ast.Attribute`` attrs and import aliases count as
references; strings (``__all__`` entries, docs) and comments do not.
Registry bodies decorated with ``_register`` are exempt: the registry
reaches them through ``QUERIES``. A planted source shows the scan
going red."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "us_immigration_data_lake_spark")


def _py_files(base: str) -> list[str]:
    return sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(base)
        for f in files
        if f.endswith(".py")
    )


def _search_files() -> list[str]:
    files = [p for p in _py_files(PKG) if os.path.basename(p) != "__init__.py"]
    for sub in ("perfbench", "scripts", "tests"):
        files += _py_files(os.path.join(REPO, sub))
    return files + [os.path.join(REPO, "bench.py"),
                    os.path.join(REPO, "__spark_entry__.py")]


def _is_register(dec: ast.expr) -> bool:
    return (
        isinstance(dec, ast.Call)
        and isinstance(dec.func, ast.Name)
        and dec.func.id == "_register"
    )


def public_functions(tree: ast.Module) -> list[ast.FunctionDef]:
    return [
        n for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not n.name.startswith("_")
        and not any(_is_register(d) for d in n.decorator_list)
    ]


def referenced_names(tree: ast.Module) -> set[str]:
    """Names a module references, except inside a function's own body
    when the name is that function's (recursion is not a caller)."""
    inside: dict[ast.AST, str] = {}
    for top in tree.body:
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(top):
                inside[node] = top.name
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name.rsplit(".", 1)[-1]
        else:
            continue
        if inside.get(node) != name:
            names.add(name)
    return names


def unreferenced(defining: dict[str, str], searched: dict[str, str]) -> list[str]:
    """``defining``/``searched``: {label: source}. Public functions of
    the defining sources that no searched source references."""
    refs = set()
    for src in searched.values():
        refs |= referenced_names(ast.parse(src))
    return sorted(
        f"{label}: {fn.name}"
        for label, src in defining.items()
        for fn in public_functions(ast.parse(src))
        if fn.name not in refs
    )


def _read(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


def test_every_public_function_is_referenced():
    defining = {os.path.relpath(p, REPO): _read(p) for p in _py_files(PKG)}
    searched = {os.path.relpath(p, REPO): _read(p) for p in _search_files()}
    assert unreferenced(defining, searched) == []


_PLANTED_MODULE = '''
def used(df):
    return df


def unused(df):
    """Named in this docstring: unused."""
    return unused(df)  # recursion is not a caller


def _private(df):
    return df


@_register("q_planted", oracle=None)
def q_planted(spark, sf_dir):
    return used(None)
'''


def test_scan_goes_red_on_planted_unreferenced_function():
    found = unreferenced(
        {"pkg/mod.py": _PLANTED_MODULE},
        {"pkg/mod.py": _PLANTED_MODULE, "tests/test_x.py": "x = 'unused'\n"},
    )
    assert found == ["pkg/mod.py: unused"]
    # an import alias is a reference, so the package's own re-exports
    # are left out of the searched files
    assert "unused" in referenced_names(ast.parse("from pkg.mod import unused"))
    assert not any(
        p.startswith(PKG) and p.endswith("__init__.py") for p in _search_files()
    )
