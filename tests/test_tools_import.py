"""Every script under tools/ imports cleanly against the engine's current
names, and none starts a SparkSession at import time.

Importing a script runs only its module body; names a script imports
inside ``main()`` are checked separately by resolving every
``from gamechanger_data_spark... import name`` statement in its source.
"""

import ast
import glob
import importlib
import importlib.util
import os

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    p for p in glob.glob(os.path.join(ROOT, "tools", "*.py"))
    if os.path.basename(p) != "__init__.py"
)


def _engine_imports(path: str) -> list[tuple[str, str]]:
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    return [
        (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and (node.module or "").split(".")[0] == "gamechanger_data_spark"
        for alias in node.names
    ]


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[os.path.basename(p) for p in SCRIPTS]
)
def test_tool_imports_without_spark(path, monkeypatch):
    def _no_session(*_a, **_k):
        raise AssertionError(f"{os.path.basename(path)} started Spark at import")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", _no_session)
    monkeypatch.setattr(SparkContext, "getOrCreate", _no_session)
    name = "_tools_import_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    for module, attr in _engine_imports(path):
        assert hasattr(importlib.import_module(module), attr), (
            f"{os.path.basename(path)}: {module}.{attr} no longer exists"
        )
