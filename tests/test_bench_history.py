"""bench.py's best-known-time history is keyed by host shape: a run is
only ever compared with best times recorded at the same (cpus, sf)."""

from __future__ import annotations

import json

import pytest

import bench


@pytest.fixture
def history(tmp_path, monkeypatch):
    path = tmp_path / "history.json"
    monkeypatch.setattr(bench, "HISTORY_JSON", str(path))
    monkeypatch.setattr(bench, "HISTORY_MD", str(tmp_path / "HISTORY.md"))
    best_32 = {"tpch_q1": {"best_sec": 0.4, "set_in": "r05", "consec_over": 0}}
    path.write_text(json.dumps({bench._history_key(32, 0.1): best_32}))
    return path


def _run(cpus: int, sec: float) -> dict:
    result = {"queries": {"tpch_q1": sec}, "cpus": cpus, "sf": 0.1}
    bench._apply_history(result)
    return result


def test_four_cpu_run_never_compared_with_32_cpu_best(history):
    # 10x the 32-core best, twice: on its own key that is a first record,
    # then a steady one, never a regression
    for _ in range(2):
        result = _run(4, 4.0)
        assert result["vs_best_known"] == {"tpch_q1": 1.0}
        assert result["regressions"] == []
    hist = json.loads(history.read_text())
    assert hist["cpus=32,sf=0.1"]["tpch_q1"] == {
        "best_sec": 0.4, "set_in": "r05", "consec_over": 0
    }
    assert hist["cpus=4,sf=0.1"]["tpch_q1"]["best_sec"] == 4.0
    md = (history.parent / "HISTORY.md").read_text()
    assert "## cpus=32,sf=0.1" in md and "## cpus=4,sf=0.1" in md


def test_same_shape_regression_still_flagged(history):
    # the guard itself still works within one key
    assert _run(32, 4.0)["regressions"] == []
    second = _run(32, 4.0)
    assert second["vs_best_known"] == {"tpch_q1": 10.0}
    assert second["regressions"] == ["tpch_q1"]
