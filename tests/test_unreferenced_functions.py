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
going red.

The same files feed a parameter census: a defaulted parameter of such a
function must be passed something other than its default by at least
one call, or it is a constant and belongs in the body."""

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


# ---------------------------------------------------------------------------
# Parameter census: no defaulted parameter that one value serves.
#
# Every ``ast.Call`` in the package and the searched files binds to every
# public module-level definition of the callee's name (``ast.Name`` id or
# ``ast.Attribute`` attr): positional arguments by position, keywords by
# name. A function passed as a positional argument (a forwarding helper
# such as ``rec.call("layer", fn, a, b, k=v)``) binds that call's later
# positional arguments and its keywords. A parameter passes when some
# binding gives it a non-literal expression or a literal other than its
# default (compared by ``repr``, so ``0`` differs from ``0.0``). A
# function is exempt when a call hands it ``*args``/``**kwargs`` or it is
# referenced as a value in any other way (kwargs-forwarded, passed to a
# non-forwarding context, monkeypatched): its bindings are not visible.
# ---------------------------------------------------------------------------

_NOT_LITERAL = object()


def _literal(node: ast.expr):
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return _NOT_LITERAL


def _callee(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, ast.expr]]:
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [(p.arg, d) for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)]
    return out + [
        (p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def unvaried_parameters(
    defining: dict[str, str], searched: dict[str, str]
) -> list[str]:
    """``defining``/``searched``: {label: source}. Every defaulted
    parameter of the defining sources' public functions that no call in
    the searched sources varies, as ``label: fn(param)``."""
    defs: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    for label, src in defining.items():
        for fn in public_functions(ast.parse(src)):
            defs.setdefault(fn.name, []).append((label, fn))
    passed: dict[tuple[str, str, str], list[ast.expr]] = {}
    exempt: set[str] = set()

    def bind(name: str, args: list[ast.expr], keywords: list[ast.keyword]):
        if any(isinstance(a, ast.Starred) for a in args) or any(
            k.arg is None for k in keywords
        ):
            exempt.add(name)
            return
        for label, fn in defs[name]:
            pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
            for p, a in zip(pos, args):
                passed.setdefault((label, name, p), []).append(a)
            for k in keywords:
                passed.setdefault((label, name, k.arg), []).append(k.value)

    for src in searched.values():
        tree = ast.parse(src)
        bound: set[int] = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            bound.add(id(node.func))
            if _callee(node.func) in defs:
                bind(_callee(node.func), node.args, node.keywords)
            for i, a in enumerate(node.args):
                if _callee(a) in defs:
                    bound.add(id(a))
                    bind(_callee(a), node.args[i + 1:], node.keywords)
        for node in ast.walk(tree):
            if (
                isinstance(node, (ast.Name, ast.Attribute))
                and isinstance(node.ctx, ast.Load)
                and _callee(node) in defs
                and id(node) not in bound
            ):
                exempt.add(_callee(node))
    return sorted(
        f"{label}: {name}({param})"
        for name, fns in defs.items()
        if name not in exempt
        for label, fn in fns
        for param, default in _defaulted(fn)
        if not any(
            _literal(v) is _NOT_LITERAL or _literal(v) != _literal(default)
            for v in passed.get((label, name, param), [])
        )
    )


def test_no_defaulted_parameter_is_unvaried():
    defining = {os.path.relpath(p, REPO): _read(p) for p in _py_files(PKG)}
    searched = {
        os.path.relpath(p, REPO): _read(p) for p in _py_files(PKG) + _search_files()
    }
    assert unvaried_parameters(defining, searched) == []


_PLANTED_PARAMS = '''
def op(df, never=1, only_default=2.0, varied=3, computed="a"):
    return df


def forwarded(df, opt=1):
    return df


def splatted(df, opt=1):
    return df


def caller(df, x, kw):
    op(df, only_default=2.0, varied=4)
    op(df, 1, 2.0, 3, computed=x)
    op(df, only_default=2)  # an int is not the float default
    rec.call("layer", forwarded, df, 5)
    splatted(df, **kw)
'''


def test_census_goes_red_on_planted_unvaried_parameters():
    found = unvaried_parameters(
        {"pkg/mod.py": _PLANTED_PARAMS}, {"pkg/mod.py": _PLANTED_PARAMS}
    )
    # caller(x, kw) has no defaults; forwarded(opt) binds through
    # rec.call; splatted is exempt through **kw
    assert found == ["pkg/mod.py: op(never)"]
    without_int_call = _PLANTED_PARAMS.replace(
        "    op(df, only_default=2)  # an int is not the float default\n", ""
    )
    found = unvaried_parameters(
        {"pkg/mod.py": without_int_call}, {"pkg/mod.py": without_int_call}
    )
    assert found == ["pkg/mod.py: op(never)", "pkg/mod.py: op(only_default)"]
