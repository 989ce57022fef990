"""Every ``from hcdc_spark... import name`` in scripts/*.py resolves.

The scripts are run by hand, so nothing else notices when a library
function they import is renamed or deleted."""

from __future__ import annotations

import ast
import importlib
import pathlib

SCRIPTS = pathlib.Path(__file__).resolve().parents[1] / "scripts"


def _imports():
    for path in sorted(SCRIPTS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and (node.module or "").split(".")[0] == "hcdc_spark"
            ):
                for alias in node.names:
                    yield path.name, node.lineno, node.module, alias.name


def test_script_imports_resolve():
    missing = []
    for script, line, module, name in _imports():
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            try:
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"{script}:{line}: {module}.{name}")
    assert not missing, "unresolved imports:\n" + "\n".join(missing)
