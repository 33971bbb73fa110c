"""Unit pins for bench.py's ambient self-flag (r17, VERDICT r16 item 3):
the flag logic alone — the recheck wiring is exercised by bench runs, a
synthetic-load test would be overkill per the verdict's own scoping.
Plus the sf1 scaling row's error text when its child process fails."""

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from bench import ambient_disagreement


def test_disagreement_fires_above_2x_either_direction():
    assert ambient_disagreement(1.89, 0.81)   # the BENCH_r16 case
    assert ambient_disagreement(0.81, 1.89)
    assert ambient_disagreement(0.3, 0.1)


def test_agreement_within_2x_does_not_fire():
    assert not ambient_disagreement(0.59, 0.60)
    assert not ambient_disagreement(1.0, 2.0)   # exactly 2x is agreement
    assert not ambient_disagreement(0.81, 0.5)


def test_missing_or_degenerate_inputs_never_fire():
    assert not ambient_disagreement(None, 0.8)
    assert not ambient_disagreement(0.8, None)
    assert not ambient_disagreement(0.0, 0.8)
    assert not ambient_disagreement(-1.0, 0.8)


def test_scaling_error_carries_child_stderr(monkeypatch, tmp_path):
    """A failed gate_wave.py child must leave its cause in the scaling
    row, not just the command line and exit code."""
    (tmp_path / "lineitem.parquet").write_text("")
    monkeypatch.setenv("SPARK_GRAFT_SF1_DIR", str(tmp_path))
    monkeypatch.setattr(bench, "prepare_gate_run", lambda spark, sf: None)
    monkeypatch.setattr(bench, "gate_concurrent_best", lambda run: 1.0)
    monkeypatch.setattr(bench, "duckdb_gate_total", lambda sf: 2.0)
    monkeypatch.setattr(bench, "interleaved_gate_ratio",
                        lambda sf, run, gate: {"ratio_median": 0.5})

    def failing_run(cmd, **kw):
        raise subprocess.CalledProcessError(
            1, cmd, output="", stderr="Traceback ...\nValueError: no lineitem")

    monkeypatch.setattr(subprocess, "run", failing_run)
    err = bench.sf1_crossover(None, str(tmp_path))["scaling"]["error"]
    assert "exit 1" in err and "ValueError: no lineitem" in err
