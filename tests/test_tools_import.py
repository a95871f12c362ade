"""Every script under ``tools/`` still imports against the package, so
a refactor that moves or renames what a script uses fails here rather
than when someone next runs the script. Nothing is run: each script
keeps its work under ``main``."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
SCRIPTS = sorted(glob.glob(os.path.join(TOOLS, "*.py")))


@pytest.mark.parametrize("path", SCRIPTS, ids=[os.path.basename(p) for p in SCRIPTS])
def test_tool_imports(path, monkeypatch):
    monkeypatch.syspath_prepend(TOOLS)  # as when the script is run: its own directory first
    name = f"_tool_{os.path.basename(path)[:-3]}"
    spec = importlib.util.spec_from_file_location(name, path)
    module = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, module)
    spec.loader.exec_module(module)
    assert callable(module.main)
