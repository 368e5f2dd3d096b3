"""tools/baseline_duck.py's per-key child ladder."""

from __future__ import annotations

import importlib.util
import os
import subprocess

import pytest

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools", "baseline_duck.py",
)


@pytest.fixture()
def baseline_duck(monkeypatch):
    spec = importlib.util.spec_from_file_location("baseline_duck", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod, "_meminfo_available_gb", lambda: float("inf"))
    return mod


def _fake_children(monkeypatch, mod, returncode, stdout):
    calls = []

    def run(cmd, **kwargs):
        calls.append(cmd)
        return subprocess.CompletedProcess(cmd, returncode, stdout, "")

    monkeypatch.setattr(mod.subprocess, "run", run)
    return calls


def test_sql_error_stops_the_ladder(baseline_duck, monkeypatch, capsys):
    line = "q_topk                 (error: Binder Error: column x not found)"
    calls = _fake_children(
        monkeypatch, baseline_duck, 0, f"# DuckDB @ sf\n{line}\n"
    )
    baseline_duck._parent("/nonexistent", {"q_topk"})
    out = capsys.readouterr().out
    assert len(calls) == 1
    assert line in out
    assert "unpairable" not in out


def test_crash_climbs_every_rung(baseline_duck, monkeypatch, capsys):
    calls = _fake_children(monkeypatch, baseline_duck, -9, "")
    baseline_duck._parent("/nonexistent", {"q_topk"})
    assert len(calls) == 4
    assert "unpairable" in capsys.readouterr().out
