"""Pins for the bench tooling: tools/bench_delta.py's r9 targeted-min-
of-2 contract (a flagged REGRESSION whose min-of-2 clears the guard
auto-closes as noise; one that doesn't stays red — pure subprocess over
synthetic bench JSONs), and tools/verify_window.py --mutate run from
outside the repo."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
TOOL = str(REPO / "tools" / "bench_delta.py")


def _run(tmp_path, old, new, *flags):
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))
    return subprocess.run(
        [sys.executable, TOOL, str(po), str(pn), *flags],
        capture_output=True,
        text=True,
    )


def test_min_of_2_autocloses_noise_and_keeps_real_regressions(tmp_path):
    old = {"value": 10, "queries": {"a": 1.0, "b": 2.0, "c": 1.0}, "corpus": {}}
    new = {
        "value": 14,
        "queries": {"a": 3.5, "b": 6.0, "c": 1.1},
        # a's second sample clears the guard (noise); b's does not.
        "second_sample": {"a": 1.2, "b": 5.8},
        "corpus": {},
    }
    r = _run(tmp_path, old, new)
    assert "noise(min2=1.20s)" in r.stdout
    assert "b " in r.stdout and "REGRESSION" in r.stdout
    assert r.returncode == 1  # b is still a real regression
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("a ")]
    assert lines and "REGRESSION" not in lines[0]


def test_all_movers_closed_means_green_exit(tmp_path):
    old = {"value": 10, "queries": {"a": 1.0}, "corpus": {}}
    new = {
        "value": 13,
        "queries": {"a": 3.5},
        "second_sample": {"a": 1.1},
        "corpus": {},
    }
    r = _run(tmp_path, old, new)
    assert r.returncode == 0, r.stdout
    assert "no regressions" in r.stdout


def test_without_second_sample_regression_still_fires(tmp_path):
    old = {"value": 10, "queries": {"a": 1.0}, "corpus": {}}
    new = {"value": 13, "queries": {"a": 3.5}, "corpus": {}}
    r = _run(tmp_path, old, new)
    assert r.returncode == 1
    assert "REGRESSION" in r.stdout


def test_verify_window_mutate_runs_from_any_cwd(tmp_path, sf_small):
    """The applyInPandasWithState stream imports the package inside the
    Python worker, so the tool must hand the repo root to the workers,
    not only to its own sys.path."""
    r = subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "verify_window.py"),
            sf_small,
            "--mutate",
            "extreme_values",
            "stream_user_running_max",
            "event_type_hourly",
        ],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "red: []" in r.stdout
