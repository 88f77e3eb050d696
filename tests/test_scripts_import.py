"""Every `hgn_spark` name a script imports still exists, and every call
to an imported `hgn_spark` callable still fits its signature.

The scripts (probes, generators, bench tooling) and the other entry
points outside the package are not exercised by the test suite, so a
library refactor that deletes or renames a public name, or drops a
keyword argument, would otherwise leave a dead caller behind unnoticed.
Each file is parsed with `ast`, never executed.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect

import pytest

from tests.conftest import REPO

SCRIPTS = sorted((REPO / "scripts").glob("*.py"))
# Entry points outside scripts/: read only, never edited by this test.
ENTRY_POINTS = [
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
    REPO / ".claude" / "skills" / "verify" / "driver_sim.py",
    *sorted((REPO / "perfbench").glob("*.py")),
]
CALLERS = SCRIPTS + [p for p in ENTRY_POINTS if p.exists()]


def _caller_id(path) -> str:
    if path.parent == REPO / "scripts":
        return path.name
    return str(path.relative_to(REPO))


def _tree(path) -> ast.AST:
    return ast.parse(path.read_text(), filename=str(path))


def _package_imports(path) -> list[tuple[str, str | None, int]]:
    """(module, name or None, line) for every import of `hgn_spark`."""
    out = []
    for node in ast.walk(_tree(path)):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == "hgn_spark":
                out += [(node.module, a.name, node.lineno) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None, node.lineno)
                for a in node.names
                if a.name.split(".")[0] == "hgn_spark"
            ]
    return out


def test_scripts_found():
    assert SCRIPTS


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
        if name is None or name == "*" or hasattr(mod, name):
            return True
        return importlib.util.find_spec(f"{module}.{name}") is not None
    except ModuleNotFoundError:
        return False


@pytest.mark.parametrize("path", SCRIPTS, ids=_caller_id)
def test_script_package_imports_resolve(path):
    missing = [
        f"{path.name}:{line}: {module} {name or ''}"
        for module, name, line in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "\n".join(missing)


def _bound_names(tree: ast.AST) -> dict[str, object]:
    """Local name -> imported `hgn_spark` object, for every import in
    the file (module-level or inside a function). Names that do not
    resolve are skipped here; test_script_package_imports_resolve
    reports them."""
    names: dict[str, object] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] != "hgn_spark":
                continue
            for a in node.names:
                if a.name != "*" and _resolves(node.module, a.name):
                    mod = importlib.import_module(node.module)
                    obj = getattr(mod, a.name, None)
                    if obj is None:
                        obj = importlib.import_module(f"{node.module}.{a.name}")
                    names[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != "hgn_spark":
                    continue
                if a.asname:
                    names[a.asname] = importlib.import_module(a.name)
                else:
                    names["hgn_spark"] = importlib.import_module("hgn_spark")
    return names


def _resolve_callee(func: ast.expr, names: dict[str, object]):
    """The object a call's ``func`` refers to when it is an imported
    name or an attribute chain on one (``dedup.minhash_lsh_pairs``)."""
    if isinstance(func, ast.Name):
        return names.get(func.id)
    if isinstance(func, ast.Attribute):
        base = _resolve_callee(func.value, names)
        if inspect.ismodule(base):
            return getattr(base, func.attr, None)
    return None


def _signature_errors(path) -> list[str]:
    tree = _tree(path)
    names = _bound_names(tree)
    errors = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = _resolve_callee(node.func, names)
        if fn is None or not callable(fn) or inspect.ismodule(fn):
            continue
        try:
            sig = inspect.signature(fn)
        except (TypeError, ValueError):
            continue
        params = sig.parameters
        takes_any = any(p.kind is p.VAR_KEYWORD for p in params.values())
        for kw in node.keywords:
            if kw.arg is None or takes_any:
                continue
            p = params.get(kw.arg)
            if p is None or p.kind in (p.POSITIONAL_ONLY, p.VAR_POSITIONAL):
                errors.append(
                    f"{_caller_id(path)}:{node.lineno}: "
                    f"{getattr(fn, '__qualname__', fn)}() takes no "
                    f"keyword {kw.arg!r}"
                )
    return errors


@pytest.mark.parametrize("path", CALLERS, ids=_caller_id)
def test_script_calls_match_signatures(path):
    errors = _signature_errors(path)
    assert not errors, "\n".join(errors)
