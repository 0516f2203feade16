"""Every ``from X import name`` in the package resolves, including the
lazy imports inside function bodies that importing a module never
runs. Without Spark: each statement is found with ``ast`` and checked
by importing its module."""

import ast
import importlib
import pathlib

import defi_features_data_pipeline_spark as pkg

ROOT = pathlib.Path(pkg.__file__).parent


def _import_froms():
    for path in sorted(ROOT.rglob("*.py")):
        parts = path.relative_to(ROOT.parent).with_suffix("").parts
        package = parts[:-1]
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.ImportFrom) or node.module == "__future__":
                continue
            if node.level:
                base = package[: len(package) - node.level + 1]
                module = ".".join(base + ((node.module,) if node.module else ()))
            else:
                module = node.module
            for alias in node.names:
                yield f"{path.relative_to(ROOT.parent)}:{node.lineno}", module, alias.name


def test_every_import_from_resolves():
    missing = []
    for where, module, name in _import_froms():
        try:
            mod = importlib.import_module(module)
        except ModuleNotFoundError:
            missing.append(f"{where}: no module {module}")
            continue
        if name == "*" or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{where}: from {module} import {name}")
    assert not missing, "\n".join(missing)
