"""Every script under tools/ imports cleanly: no Spark session or
server starts at import time, and no tool names a program function
that no longer exists (a deleted API would otherwise leave a dead
tool that fails only when someone next runs it).  No tool may share
a name with a standard-library module: ``python tools/X.py`` puts
``tools/`` first on ``sys.path``, where such a file shadows the
stdlib module for every import the script makes."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

import pytest

_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_ROOT))

_TOOLS = sorted(p.stem for p in (_ROOT / "tools").glob("*.py"))


@pytest.mark.parametrize("name", _TOOLS)
def test_tool_module_imports(name):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    mod = importlib.import_module(f"tools.{name}")
    assert mod.__file__.endswith(f"{name}.py")
    # importing must not build (or replace) a Spark session
    assert SparkSession.getActiveSession() is active


def test_no_tool_shadows_a_stdlib_module():
    assert [n for n in _TOOLS if n in sys.stdlib_module_names] == []
