"""Every top-level definition under ``emf_spark/`` is reached from an
entry point, or is on ``tools/test_only_defs.py``'s allowlist of
fixtures and spec forms that only tests call."""

import importlib.util
from pathlib import Path

TOOL = Path(__file__).resolve().parent.parent / "tools" / "test_only_defs.py"


def _tool():
    spec = importlib.util.spec_from_file_location("test_only_defs", TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_only_allowlisted_definitions_are_test_only():
    tool = _tool()
    allowed, rest = tool.unreached_defs()
    assert [f"{path}:{name}" for path, name, _ in rest] == []
    # a stale allowlist entry (deleted, or reached again) fails too
    assert {f"{tool.module_name(path)}:{name}" for path, name, _ in allowed} == set(tool.ALLOWED)
