"""Every `hgn_spark` name a script under scripts/ imports still exists.

The scripts (probes, generators, bench tooling) are not exercised by the
test suite, so a library refactor that deletes or renames a public name
would otherwise leave a dead script behind unnoticed. Each script is
parsed with `ast`, never executed.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util

import pytest

from tests.conftest import REPO

SCRIPTS = sorted((REPO / "scripts").glob("*.py"))


def _package_imports(path) -> list[tuple[str, str | None, int]]:
    """(module, name or None, line) for every import of `hgn_spark`."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
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


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_package_imports_resolve(path):
    missing = [
        f"{path.name}:{line}: {module} {name or ''}"
        for module, name, line in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, "\n".join(missing)
