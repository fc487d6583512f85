"""Every optional parameter in the package earns its place: some caller
sets it.

An option that no caller sets is a constant with plumbing around it, and
any branch it selects is reached by nothing. The rule this test enforces
is the one the package was trimmed to: every parameter with a default on
a ``def`` under ``cinegraph_spark/`` is passed — by keyword, by position,
or through ``functools.partial`` — at one or more call sites in the
package, ``perfbench/``, ``scripts/``, ``bench.py`` or ``tests/``.
Parameters that stay optional without a caller go on ``ALLOWED`` with a
one-line reason. Pure AST: no Spark session, no imports of the package.
"""

from __future__ import annotations

import ast
import pathlib
import warnings

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cinegraph_spark"
CALLER_ROOTS = ("cinegraph_spark", "perfbench", "scripts", "tests")

#: (module path under the repo, function, parameter) → why it may stay
#: optional with no caller setting it.
ALLOWED: dict[tuple[str, str, str], str] = {
    ("cinegraph_spark/queries/strings.py", "_q", "fname"): (
        "the bound default is how tests/test_registry_guard.py checks "
        "which function each strfn_* factory closure registered"
    ),
}


def _parse(path: pathlib.Path) -> ast.Module:
    with warnings.catch_warnings():  # a script's escape-sequence warnings
        warnings.simplefilter("ignore")
        return ast.parse(path.read_text(), filename=str(path))


def optional_params() -> list[tuple[str, int, str, str, ast.FunctionDef]]:
    """(module, line, function, parameter, def) for every defaulted
    parameter of every def in the package, nested defs included."""
    out = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for fn in ast.walk(_parse(path)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            names = [p.arg for p in pos[len(pos) - len(a.defaults):]]
            names += [
                p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
            out.extend((rel, fn.lineno, fn.name, n, fn) for n in names)
    return out


def _callee(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def call_sites() -> dict[str, list[ast.Call]]:
    """Calls by callee name; ``partial(f, ...)`` counts as a call of f."""
    paths = [ROOT / "bench.py"]
    for d in CALLER_ROOTS:
        paths.extend(sorted((ROOT / d).rglob("*.py")))
    calls: dict[str, list[ast.Call]] = {}
    for path in paths:
        for node in ast.walk(_parse(path)):
            if not isinstance(node, ast.Call):
                continue
            name = _callee(node.func)
            if name == "partial" and node.args:
                name = _callee(node.args[0])
                node = ast.Call(
                    func=node.args[0],
                    args=node.args[1:],
                    keywords=node.keywords,
                )
            if name:
                calls.setdefault(name, []).append(node)
    return calls


def _sets(fn: ast.FunctionDef, param: str, call: ast.Call) -> bool:
    if any(k.arg == param for k in call.keywords):
        return True
    pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    if pos and pos[0] in ("self", "cls") and isinstance(
        call.func, ast.Attribute
    ):
        pos = pos[1:]
    if any(isinstance(a, ast.Starred) for a in call.args):
        return param in pos
    return param in pos[: len(call.args)]


def unset_options() -> list[tuple[str, int, str, str]]:
    calls = call_sites()
    return [
        (rel, line, name, param)
        for rel, line, name, param, fn in optional_params()
        if not any(_sets(fn, param, c) for c in calls.get(name, []))
    ]


def test_every_optional_parameter_has_a_caller():
    unset = [
        f"{rel}:{line} {name}({param}=)"
        for rel, line, name, param in unset_options()
        if (rel, name, param) not in ALLOWED
    ]
    assert not unset, (
        "optional parameters no caller sets — make each a constant or a "
        "literal and delete the branch only its other values reached, or "
        "allow-list it with a reason:\n  " + "\n  ".join(unset)
    )


def test_allow_list_is_current():
    """An allow-listed option that is gone, or that a caller now sets,
    is a stale entry."""
    unset = {(rel, name, param) for rel, _, name, param in unset_options()}
    stale = sorted(set(ALLOWED) - unset)
    assert not stale, stale
