"""Option guard (pure AST, no Spark): every defaulted parameter of a package
function must be set by some caller to something other than its default.

A parameter that no call passes, by keyword or by position, always takes its
default, so it is an option nobody uses: delete it and inline the default.
So is a parameter that some calls pass but every one of them passes the same
literal as the default.  Callers are the package itself, the roots of
``tests/test_reachability.py`` and the tests; a parameter that only a test
sets stays, and so does its test.  Like the reachability guard, callees
resolve by bare name (``f(...)`` and ``x.f(...)`` both reach every function
named ``f``), and a call that spreads ``*args`` or ``**kwargs`` counts as
setting every parameter of that name to an unknown value.  The OTTL
function-table builders are exempt: OTTL calls set their optional arguments
through ``ottl._FUNCTIONS``."""

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


def _defaulted(fn: ast.FunctionDef, is_method: bool) -> tuple[list[str], dict[str, ast.expr]]:
    """(positional parameter names a caller fills in order, defaulted name ->
    default expression); a method's caller fills ``self`` through the
    attribute access."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
    return positional[1:] if is_method else positional, defaults


def _package_options() -> dict[str, list[tuple[str, list[str], dict[str, ast.expr]]]]:
    """Function name -> [(module, positional params, defaults)] for every
    package function (any nesting) with at least one default."""
    exempt = _ottl_builders()
    out: dict[str, list[tuple[str, list[str], dict[str, ast.expr]]]] = {}
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        tree = ast.parse(Path(path).read_text(encoding="utf-8"))
        methods = {
            id(f) for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
            for f in c.body if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        }
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) and fn.name not in exempt:
                positional, defaults = _defaulted(fn, id(fn) in methods)
                if defaults:
                    out.setdefault(fn.name, []).append(
                        (os.path.relpath(path, REPO), positional, defaults))
    return out


_UNKNOWN = object()


def _literal(node: ast.expr):
    """(type, value) of a literal expression, or ``_UNKNOWN``; the type keeps
    ``True`` apart from ``1``."""
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return _UNKNOWN
    return type(v), v


def _violations() -> tuple[list[str], list[str]]:
    """(parameters no call sets, parameters every setting call sets to the
    literal of their default), as ``"module: func(param)"``."""
    options = _package_options()
    # (name, param) -> the literal each call passes for it
    passed: dict[tuple[str, str], list] = {}
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
            args = {k.arg: k.value for k in call.keywords}
            for _, positional, _ in options[name]:
                args.update(zip(positional, call.args))
            for param, value in args.items():
                passed.setdefault((name, param), []).append(_literal(value))
    unset, default_only = [], []
    for name, defs in options.items():
        if name in spread:
            continue
        for mod, _, defaults in defs:
            for p, default in defaults.items():
                if f"{name}({p})" in ALLOWED:
                    continue
                values, literal = passed.get((name, p), []), _literal(default)
                if not values:
                    unset.append(f"{mod}: {name}({p})")
                elif literal is not _UNKNOWN and all(v == literal for v in values):
                    default_only.append(f"{mod}: {name}({p})")
    return sorted(unset), sorted(default_only)


def test_every_defaulted_parameter_is_set_by_a_caller():
    assert _violations()[0] == []


def test_no_parameter_is_only_ever_set_to_its_default():
    assert _violations()[1] == []


def test_allowlist_entries_exist():
    known = {f"{n}({p})" for n, defs in _package_options().items() for _, _, ds in defs for p in ds}
    assert sorted(set(ALLOWED) - known) == []
