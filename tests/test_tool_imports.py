"""Scripts under tools/ and perfbench/ are not imported by the test suite,
so a renamed or removed ndto_spark name would break them silently. Every
``from ndto_spark.<mod> import <name>`` in them must resolve."""

from __future__ import annotations

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted([*ROOT.glob("tools/*.py"), *ROOT.glob("perfbench/*.py")])


def _ndto_imports():
    """(script, line, module, name) for every ``from ndto_spark... import``."""
    for path in SCRIPTS:
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module
                and node.module.split(".")[0] == "ndto_spark"
            ):
                for alias in node.names:
                    yield path.relative_to(ROOT), node.lineno, node.module, alias.name


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if name == "*" or hasattr(mod, name):
        return True
    try:  # `from ndto_spark import batch` names a submodule
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_tool_imports_resolve():
    found = list(_ndto_imports())
    assert found, "no ndto_spark imports found under tools/ or perfbench/"
    missing = [
        f"{path}:{line}: from {module} import {name}"
        for path, line, module, name in found
        if not _resolves(module, name)
    ]
    assert not missing, "\n".join(missing)
