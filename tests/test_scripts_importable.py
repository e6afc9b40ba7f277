"""Every ``scripts/*.py`` import from the library resolves: a library
rename must break this test, never silently a script (scripts run by
hand, outside the test suite)."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

import pytest

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
PACKAGE = "cassandra_analytics_spark"


def _library_imports(path):
    """``(line, module, name)`` for every library import in a script;
    ``name`` is None for a plain ``import module``."""
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).split(".")[0] == PACKAGE:
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, None


@pytest.mark.parametrize(
    "script", sorted(f for f in os.listdir(SCRIPTS) if f.endswith(".py"))
)
def test_script_library_imports_resolve(script):
    path = os.path.join(SCRIPTS, script)
    missing = []
    for line, module, name in _library_imports(path):
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            missing.append(f"{script}:{line}: {module} ({e})")
            continue
        if name is None or name == "*" or hasattr(mod, name):
            continue
        if importlib.util.find_spec(f"{module}.{name}") is None:
            missing.append(f"{script}:{line}: {module}.{name}")
    assert not missing, missing
