"""Every keyword default in the library is a value some caller overrides.

A default that no caller sets is a way to run an op that nothing runs, and
for a registry query a way its DuckDB oracle (which replays the module
constant) does not check. The scan is static (AST only, no Spark): a
parameter counts as set when some call to a function of that name passes it
by keyword, positionally, or through *args/**kwargs. Callers are the
library itself, scripts/, perfbench/ and the top-level bench and entry
files; tests do not count, except for the options below that tests set as
reference implementations."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "rossete_rdf_spark"

# (function, parameter) pairs that only tests set
ALLOWED = {
    ("asof_join", "tolerance_sec"),
    ("asof_join_bucketed", "tolerance_sec"),
    ("salted_top_k_per_group", "n_salts"),
    ("incremental_minhash_neardup", "max_bucket"),
    ("synth_media", "partitions"),
}


def _defaults():
    """(file, function, parameter, positional index or None) per default."""
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "oracles.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            bound = 1 if pos and pos[0].arg in ("self", "cls") else 0
            first = len(pos) - len(a.defaults)
            for i, arg in enumerate(pos[first:], start=first):
                yield path.relative_to(ROOT), node.name, arg.arg, i - bound
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    yield path.relative_to(ROOT), node.name, arg.arg, None


def _calls() -> dict[str, list[ast.Call]]:
    files = [
        *PKG.rglob("*.py"),
        *(ROOT / "scripts").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "bench_extra.py",
        ROOT / "__spark_entry__.py",
    ]
    calls: dict[str, list[ast.Call]] = {}
    for path in files:
        if "tests" in path.relative_to(ROOT).parts:
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def _is_set(call: ast.Call, param: str, index: int | None) -> bool:
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    if index is None:
        return False
    return len(call.args) > index or any(
        isinstance(a, ast.Starred) for a in call.args
    )


def test_every_keyword_default_is_set_by_a_caller():
    calls = _calls()
    unset = [
        f"{path}: {fn}({param}=...)"
        for path, fn, param, index in _defaults()
        if (fn, param) not in ALLOWED
        and not any(_is_set(c, param, index) for c in calls.get(fn, []))
    ]
    assert not unset, (
        f"{len(unset)} keyword defaults that no caller sets; make each a "
        "module constant:\n" + "\n".join(unset)
    )
