"""tools/ab.py: the A/B verdict rule and one end-to-end A/A run."""

from __future__ import annotations

import importlib.util
import subprocess
import sys
from pathlib import Path

import pytest

from conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]

_spec = importlib.util.spec_from_file_location("ab", REPO / "tools" / "ab.py")
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

BOUND = 0.25


def test_nine_of_ten_wins_beyond_base_iqr_is_a_gain():
    base = [1.0, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0, 1.02, 0.98, 1.0]
    change = [0.8] * 9 + [1.1]
    assert ab.verdict(base, change, "lower", BOUND) == ("gain", 9)


def test_eight_of_ten_wins_is_not_a_gain():
    base = [1.0] * 10
    change = [0.8] * 8 + [1.1] * 2
    assert ab.verdict(base, change, "lower", BOUND) == ("unchanged", 8)


def test_win_within_base_iqr_is_not_a_gain():
    base = [1.0, 1.2] * 5
    change = [0.95, 1.15] * 5
    assert ab.verdict(base, change, "lower", BOUND) == ("unchanged", 10)


def test_ties_count_for_neither_side():
    base = [1.0] * 10
    assert ab.verdict(base, [0.8] * 8 + [1.0] * 2, "lower", BOUND) == ("unchanged", 8)
    assert ab.verdict(base, [0.8] * 9 + [1.0], "lower", BOUND) == ("gain", 9)
    assert ab.verdict(base, list(base), "lower", BOUND) == ("unchanged", 0)


def test_higher_is_better_metrics_flip_the_sign():
    base = [1.0] * 10
    assert ab.verdict(base, [1.2] * 10, "higher", BOUND) == ("gain", 10)
    assert ab.verdict(base, [0.7] * 10, "higher", BOUND) == ("regression", 0)


def test_worse_beyond_the_bound_is_a_regression():
    base = [1.0] * 10
    assert ab.verdict(base, [1.3] * 10, "lower", BOUND) == ("regression", 0)
    assert ab.verdict(base, [1.2] * 10, "lower", BOUND) == ("unchanged", 0)


def test_spread_wider_than_the_bound_is_unresolved():
    base = [1.0, 2.0] * 5
    change = [1.1, 1.9] * 5
    assert ab.verdict(base, change, "lower", BOUND)[0] == "unresolved"
    # a tight base does not hide a wide change
    assert ab.verdict([1.0] * 10, [0.5, 1.5] * 5, "lower", BOUND)[0] == "unresolved"


def test_every_change_run_better_overrides_unresolved():
    base = [2.0, 3.0] * 5
    change = [1.0, 1.5] * 5
    assert ab.verdict(base, change, "lower", BOUND) == ("gain", 10)


def _worktrees() -> str:
    return subprocess.run(
        ["git", "-C", str(REPO), "worktree", "list", "--porcelain"],
        check=True, capture_output=True, text=True,
    ).stdout


@pytest.mark.skipif(not (REPO / ".git").exists(), reason="needs a git checkout")
def test_aa_run_smoke():
    before = _worktrees()
    proc = subprocess.run(
        [sys.executable, str(REPO / "tools" / "ab.py"), "--base", "HEAD", "--pairs", "1",
         "--sf", SF_SMOKE, "a1_pricing_summary"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows equal on every pair" in proc.stdout
    assert "| a1_pricing_summary |" in proc.stdout
    assert _worktrees() == before
