"""The profiling scripts kept under ``plans/*/tools`` still match the
package API: each loads by path (``main()`` is not run), and every
``module.name`` it reads off a package module exists."""

from __future__ import annotations

import ast
import importlib.util
import pathlib
import sys
import types

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
TOOLS = sorted(ROOT.glob("plans/*/tools/*.py"))


@pytest.mark.parametrize(
    "path", TOOLS, ids=[str(p.relative_to(ROOT / "plans")) for p in TOOLS]
)
def test_tool_loads_against_package_api(path, monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))  # tools prepend the root
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    assert callable(tool.main)
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            mod = getattr(tool, node.value.id, None)
            if isinstance(mod, types.ModuleType) and mod.__name__.startswith(
                "tinyerp_etl_spark."
            ):
                assert hasattr(mod, node.attr), f"{mod.__name__}.{node.attr}"
