"""Option guard (pure AST, no Spark): every defaulted parameter of a package
function must be set by some caller.

A parameter that no call passes, by keyword or by position, always takes its
default, so it is an option nobody uses: delete it and inline the default.
Callers are the package itself, the roots of ``tests/test_reachability.py``
and the tests; a parameter that only a test sets stays, and so does its
test.  Like the reachability guard, callees resolve by bare name (``f(...)``
and ``x.f(...)`` both reach every function named ``f``), and a call that
spreads ``*args`` or ``**kwargs`` counts as setting every parameter of that
name.  The OTTL function-table builders are exempt: OTTL calls set their
optional arguments through ``ottl._FUNCTIONS``."""

import ast
import glob
import os
from pathlib import Path

from tests.test_reachability import PACKAGE, REPO, ROOTS

OTTL = os.path.join(PACKAGE, "functions", "ottl.py")

# "func(param)" -> why a parameter no call sets stays.
ALLOWED: dict[str, str] = {}


def _sources() -> list[str]:
    pkg = glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)
    tests = glob.glob(os.path.join(REPO, "tests", "**", "*.py"), recursive=True)
    return sorted(pkg) + [os.path.join(REPO, r) for r in ROOTS] + sorted(tests)


def _callee(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _ottl_builders() -> set[str]:
    for st in ast.parse(Path(OTTL).read_text(encoding="utf-8")).body:
        if isinstance(st, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_FUNCTIONS" for t in st.targets
        ):
            return {n.id for v in st.value.values for n in ast.walk(v) if isinstance(n, ast.Name)}
    raise AssertionError("ottl._FUNCTIONS not found")


def _defaulted(fn: ast.FunctionDef, is_method: bool) -> tuple[list[str], list[str]]:
    """(positional parameter names a caller fills in order, defaulted names);
    a method's caller fills ``self`` through the attribute access."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaulted = positional[len(positional) - len(a.defaults):] if a.defaults else []
    defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return positional[1:] if is_method else positional, defaulted


def _package_options() -> dict[str, list[tuple[str, list[str], list[str]]]]:
    """Function name -> [(module, positional params, defaulted params)] for
    every package function (any nesting) with at least one default."""
    exempt = _ottl_builders()
    out: dict[str, list[tuple[str, list[str], list[str]]]] = {}
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        tree = ast.parse(Path(path).read_text(encoding="utf-8"))
        methods = {
            id(f) for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
            for f in c.body if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and fn.name not in exempt:
                positional, defaulted = _defaulted(fn, id(fn) in methods)
                if defaulted:
                    out.setdefault(fn.name, []).append(
                        (os.path.relpath(path, REPO), positional, defaulted))
    return out


def _unset() -> list[str]:
    options = _package_options()
    set_by_name: dict[str, set[str]] = {}
    spread: set[str] = set()
    for path in _sources():
        for call in ast.walk(ast.parse(Path(path).read_text(encoding="utf-8"))):
            if not isinstance(call, ast.Call) or _callee(call.func) not in options:
                continue
            name = _callee(call.func)
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            ):
                spread.add(name)
                continue
            got = set_by_name.setdefault(name, set())
            got |= {k.arg for k in call.keywords}
            for _, positional, _ in options[name]:
                got |= set(positional[: len(call.args)])
    return sorted(
        f"{mod}: {name}({p})"
        for name, defs in options.items() if name not in spread
        for mod, _, defaulted in defs
        for p in defaulted
        if p not in set_by_name.get(name, set()) and f"{name}({p})" not in ALLOWED
    )


def test_every_defaulted_parameter_is_set_by_a_caller():
    assert _unset() == []


def test_allowlist_entries_exist():
    known = {f"{n}({p})" for n, defs in _package_options().items() for _, _, ds in defs for p in ds}
    assert sorted(set(ALLOWED) - known) == []
