"""scripts/ab_bench.py table: a 0.0 s minimum is a timing, not a gap."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

SCRIPT = Path(__file__).resolve().parents[1] / "scripts" / "ab_bench.py"


def _load():
    spec = importlib.util.spec_from_file_location("ab_bench", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_zero_second_minimum_keeps_its_line(monkeypatch, capsys):
    ab = _load()
    timings = {"a": {"q_zero": 0.0, "q_both": 0.5}, "b": {"q_zero": 0.25, "q_both": 0.0}}
    monkeypatch.setattr(
        ab, "run_tree", lambda tree, warm, names: {"load": 0.0, "timings": timings[tree]}
    )
    argv = ["ab_bench.py", "--a", "a", "--b", "b", "--reps", "1", "q_zero", "q_both"]
    monkeypatch.setattr(sys, "argv", argv)
    ab.main()
    lines = {ln.split()[0]: ln.split()[1:] for ln in capsys.readouterr().out.splitlines()}
    assert lines["q_zero"] == ["0.000", "0.250", "0.00"]
    assert lines["q_both"] == ["0.500", "0.000", "nan"]
    assert "geomean" not in lines  # no positive ratio to average
