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


def _load(path, monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))  # tools prepend the root
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    return tool


@pytest.mark.parametrize(
    "path", TOOLS, ids=[str(p.relative_to(ROOT / "plans")) for p in TOOLS]
)
def test_tool_loads_against_package_api(path, monkeypatch):
    tool = _load(path, monkeypatch)
    assert callable(tool.main)
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            mod = getattr(tool, node.value.id, None)
            if isinstance(mod, types.ModuleType) and mod.__name__.startswith(
                "tinyerp_etl_spark."
            ):
                assert hasattr(mod, node.attr), f"{mod.__name__}.{node.attr}"


@pytest.mark.parametrize(
    "stem,args",
    [("time_all", ["out.json", "1"]), ("capture_plans", ["suffix"])],
)
def test_tool_rejects_unknown_query_name(stem, args, monkeypatch):
    """A mistyped query name fails before Spark starts, instead of
    being skipped and shrinking the result."""
    tool = _load(ROOT / "plans" / "r15" / "tools" / f"{stem}.py", monkeypatch)
    monkeypatch.setattr(tool, "get_spark", lambda *_: pytest.fail("Spark started"))
    monkeypatch.setattr(sys, "argv", [stem, *args, "no_such_query"])
    with pytest.raises(SystemExit, match="no_such_query"):
        tool.main()
