"""Scripts under tools/ and perfbench/ are not imported by the test suite,
so a renamed or removed ndto_spark name would break them silently. Every
``from ndto_spark.<mod> import <name>`` in them must resolve, and so must
every attribute they read or assign on an imported ndto_spark module
(``batch.image_check_udf``, ``fixtures.images_cache_path = ...``)."""

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


def _is_module(name: str) -> bool:
    try:
        importlib.import_module(name)
    except ModuleNotFoundError:
        return False
    return True


class _ModuleAttrs(ast.NodeVisitor):
    """``(line, module, attr)`` for every ``name.attr`` where ``name`` is an
    ndto_spark module imported in the enclosing function or module scope."""

    def __init__(self) -> None:
        self.scopes: list[dict[str, str]] = [{}]
        self.found: list[tuple[int, str, str]] = []

    def _scoped(self, node: ast.AST) -> None:
        self.scopes.append({})
        self.generic_visit(node)
        self.scopes.pop()

    visit_FunctionDef = visit_AsyncFunctionDef = visit_Lambda = _scoped

    def visit_ImportFrom(self, node: ast.ImportFrom) -> None:
        if node.level == 0 and (node.module or "").split(".")[0] == "ndto_spark":
            for alias in node.names:
                full = f"{node.module}.{alias.name}"
                if _is_module(full):
                    self.scopes[-1][alias.asname or alias.name] = full

    def visit_Attribute(self, node: ast.Attribute) -> None:
        if isinstance(node.value, ast.Name):
            for scope in reversed(self.scopes):
                if node.value.id in scope:
                    self.found.append((node.lineno, scope[node.value.id], node.attr))
                    break
        self.generic_visit(node)


def _module_attrs():
    """(script, line, module, attr) for every module attribute use."""
    for path in SCRIPTS:
        visitor = _ModuleAttrs()
        visitor.visit(ast.parse(path.read_text(), filename=str(path)))
        for line, module, attr in visitor.found:
            yield path.relative_to(ROOT), line, module, attr


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    # `from ndto_spark import batch` names a submodule
    return name == "*" or hasattr(mod, name) or _is_module(f"{module}.{name}")


def test_tool_imports_resolve():
    found = list(_ndto_imports())
    assert found, "no ndto_spark imports found under tools/ or perfbench/"
    missing = [
        f"{path}:{line}: from {module} import {name}"
        for path, line, module, name in found
        if not _resolves(module, name)
    ]
    assert not missing, "\n".join(missing)


def test_tool_module_attributes_resolve():
    found = list(_module_attrs())
    # perfbench reads these; a missing one must fail here, not in a run
    used = {f"{m.rsplit('.', 1)[1]}.{a}" for _, _, m, a in found}
    assert {
        "batch.image_check_udf",
        "table_rules.uniqueness",
        "checkpoint.run_resumable",
        "fixtures.images_cache_path",
        "queries._staged_source",
    } <= used
    missing = [
        f"{path}:{line}: {module}.{attr}"
        for path, line, module, attr in found
        if not hasattr(importlib.import_module(module), attr)
    ]
    assert not missing, "\n".join(missing)
