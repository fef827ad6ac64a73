"""Every ``tools/`` script imports cleanly. Each one keeps its work
behind ``if __name__ == "__main__"``, so nothing else would notice a
helper it imports from the query registry moving or being renamed."""

import importlib
import pathlib

import pytest

TOOLS = sorted(
    p.stem
    for p in (pathlib.Path(__file__).resolve().parent.parent / "tools").glob("*.py")
    if p.stem != "__init__"
)


@pytest.mark.parametrize("name", TOOLS)
def test_tool_module_imports(name):
    importlib.import_module(f"tools.{name}")
