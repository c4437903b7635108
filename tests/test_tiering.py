"""The slow-tier list in tests/conftest.py must name live tests."""

from __future__ import annotations

import ast
import os
import re

from .conftest import _SLOW_BY_NODE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def dead_slow_keys(keys) -> list[str]:
    """Keys that name no test function defined in the file they point
    at, after stripping a ``[param]`` id."""
    defined: dict[str, set[str]] = {}
    dead = []
    for key in sorted(keys):
        path, name = key.split("::", 1)
        name = re.sub(r"\[.*\]$", "", name)
        if path not in defined:
            full = os.path.join(ROOT, path)
            defined[path] = set()
            if os.path.exists(full):
                with open(full) as fh:
                    tree = ast.parse(fh.read())
                defined[path] = {
                    n.name for n in tree.body if isinstance(n, ast.FunctionDef)
                }
        if name not in defined[path]:
            dead.append(key)
    return dead


def test_slow_by_node_keys_name_live_tests():
    """A deleted or renamed test leaves its `_SLOW_BY_NODE` key behind
    and the key silently matches nothing; every key must name a test
    function that exists."""
    assert dead_slow_keys(_SLOW_BY_NODE) == []
    # the check itself sees a dead key, a missing file and a stale id
    assert dead_slow_keys(
        {
            "tests/test_tiering.py::test_slow_by_node_keys_name_live_tests",
            "tests/test_tiering.py::test_gone[8]",
            "tests/test_nowhere.py::test_x",
        }
    ) == ["tests/test_nowhere.py::test_x", "tests/test_tiering.py::test_gone[8]"]
