"""Every operator option has a caller (AST only, no Spark).

A keyword option whose default no call site ever overrides is a settable
value with exactly one value in use: it belongs in the code as a constant,
not in the signature. This test scans the public module-level functions of
the engine's operator, function, source, streaming and plan layers plus
``session``, ``catalog`` and ``engine``, and requires each defaulted,
non-column parameter to have at least one call site anywhere in the
repository's Python files (package, registry, tests, tools, benchmark) that
passes a different value.

Column-name rule: a parameter names a column of the caller's input schema,
and is exempt, when its name ends in ``col`` or ``cols`` or is one of
``COLUMN_PARAMS``.

A call site "passes a different value" when the argument bound to the
parameter (by keyword or by position) is not the same literal as the
default; a non-literal argument, a ``*args`` / ``**kwargs`` splat, or a
``functools.partial`` binding counts as a different value. Calls resolve by
the function's name, so a same-named call elsewhere can only make the check
more lenient. Class methods are not scanned.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "ascii_hydra_spark"
SCANNED = (
    "operators/*.py",
    "functions/*.py",
    "sources/*.py",
    "streaming/*.py",
    "plans/*.py",
    "session.py",
    "catalog.py",
    "engine.py",
)
COLUMN_PARAMS = frozenset(
    {
        "by", "columns", "dst", "key", "left_ts", "order_tiebreak", "pair_a",
        "pair_b", "partition_by", "partition_column", "right_ts", "src",
        "tiebreak", "tiebreaks", "weight_by",
    }
)


def _is_column(name: str) -> bool:
    return name.endswith(("col", "cols")) or name in COLUMN_PARAMS


def _options() -> list[tuple[str, str, str, ast.expr, int | None]]:
    """(module, function, parameter, default, position or None if kw-only)."""
    out = []
    for pattern in SCANNED:
        for path in sorted(PKG.glob(pattern)):
            mod = path.relative_to(PKG).as_posix()
            for fn in ast.parse(path.read_text()).body:
                if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                    continue
                a = fn.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                for i, (p, d) in enumerate(zip(pos[first:], a.defaults)):
                    out.append((mod, fn.name, p.arg, d, first + i))
                for p, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out.append((mod, fn.name, p.arg, d, None))
    return [o for o in out if not _is_column(o[2])]


def _same_literal(arg: ast.expr, default: ast.expr) -> bool:
    try:
        a, d = ast.literal_eval(arg), ast.literal_eval(default)
    except ValueError:
        return ast.dump(arg) == ast.dump(default)
    return type(a) is type(d) and a == d


def _callee(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _overridden(options) -> set[int]:
    by_name = defaultdict(list)
    for i, (_, fn, *_rest) in enumerate(options):
        by_name[fn].append(i)
    hit: set[int] = set()
    files = [
        p for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name, args = _callee(node.func), list(node.args)
            if name == "partial" and args:
                name, args = _callee(args[0]), args[1:]
            for i in by_name.get(name, ()):
                _, _, param, default, pos = options[i]
                passed = None
                for k, a in enumerate(args):
                    if isinstance(a, ast.Starred) or k == pos:
                        passed = a
                        break
                for kw in node.keywords:
                    if kw.arg is None or kw.arg == param:
                        passed = kw.value
                if passed is not None and (
                    isinstance(passed, ast.Starred)
                    or not _same_literal(passed, default)
                ):
                    hit.add(i)
    return hit


def test_every_option_has_a_caller_that_sets_it():
    options = _options()
    assert options, "scan found no options: the scanned paths moved"
    hit = _overridden(options)
    unset = [
        f"{mod}:{fn}({param}={ast.unparse(default)})"
        for i, (mod, fn, param, default, _) in enumerate(options)
        if i not in hit
    ]
    assert not unset, (
        f"{len(unset)} options are never set to a non-default value; make "
        "each a constant where it is used:\n" + "\n".join(unset)
    )
