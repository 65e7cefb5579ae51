"""Every top-level definition and module constant under ``emf_spark/``
is reached from an entry point, or is on ``tools/test_only_defs.py``'s
allowlist of fixtures and spec forms that only tests call; and every
defaulted parameter of a top-level function is set by some caller, or
is on the tool's list of deployment inputs kept settable."""

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


def test_every_defaulted_parameter_is_set_by_a_caller():
    tool = _tool()
    kept, unset, *_ = tool.defaulted_params()
    assert [f"{path}:{name}({p})" for path, name, p in unset] == []
    # a stale kept entry (deleted, or set by a caller now) fails too
    assert {f"{tool.module_name(path)}:{name}({p})" for path, name, p in kept} == set(tool.KEPT_PARAMS)
