"""Every package name a probe imports must still exist.

The scripts in ``probes/`` are not run by the test suite, so an API
deletion or rename can strand one without any test failing. This
check parses each probe with ``ast`` (imports inside functions
included) and resolves every ``from strat_backtest_spark... import
name`` and ``import strat_backtest_spark...`` against the package,
without starting Spark.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

PROBES = sorted((Path(__file__).resolve().parents[1] / "probes").glob("*.py"))
PACKAGE = "strat_backtest_spark"


def _package_imports(path: Path) -> list[tuple[str, str | None, int]]:
    """(module, name or None, line) for each package import in ``path``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).split(".")[0] == PACKAGE:
            out += [(node.module, a.name, node.lineno) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None, node.lineno)
                for a in node.names
                if a.name.split(".")[0] == PACKAGE
            ]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_probes_found():
    assert len(PROBES) > 10


@pytest.mark.parametrize("probe", PROBES, ids=lambda p: p.name)
def test_probe_package_imports_resolve(probe):
    missing = [
        f"{probe.name}:{line}: {module}" + (f".{name}" if name else "")
        for module, name, line in _package_imports(probe)
        if not _resolves(module, name)
    ]
    assert not missing, "probe imports names the package no longer has:\n" + "\n".join(missing)
