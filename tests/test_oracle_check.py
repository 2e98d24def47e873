"""tools/oracle_check.py argument handling (no Spark is started)."""

from __future__ import annotations

import importlib.util
import pathlib
import sys

_TOOL = pathlib.Path(__file__).resolve().parents[1] / "tools" / "oracle_check.py"


def test_unknown_query_name_fails_and_is_named(monkeypatch, capsys) -> None:
    spec = importlib.util.spec_from_file_location("oracle_check", _TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    monkeypatch.setattr(
        sys, "argv",
        ["oracle_check.py", "/nonexistent", "q1_pricing_summary", "no_such_entry"],
    )
    assert tool.main() != 0
    err = capsys.readouterr().err
    assert "no_such_entry" in err
    assert "q1_pricing_summary" not in err
