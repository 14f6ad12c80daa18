"""Import smoke test over ``tools/*.py``.

Every tool keeps its work behind ``if __name__ == "__main__"``, so
importing one only resolves its module-level imports. An engine name a
tool still imports after the engine dropped it fails here instead of
at the tool's next run.
"""

from __future__ import annotations

import importlib
import os

import pytest

_TOOLS_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
_TOOLS = sorted(
    name[:-3] for name in os.listdir(_TOOLS_DIR) if name.endswith(".py")
)


@pytest.mark.parametrize("name", _TOOLS)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
