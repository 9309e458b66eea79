"""CI gate for the ROUND(double, s) whitelist (tools/audit_rounding.py).

A new ROUND site that no category rule or override covers fails the
audit — so the measured r8/r9 engine-divergence class (ratio-of-
integer-count ROUNDs) cannot re-enter the codebase unreviewed, and
ROUNDING.md stays the complete grep-able inventory. No Spark needed:
the audit is a source scan."""

from __future__ import annotations

import subprocess
import sys
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_round_site_is_classified():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "audit_rounding.py")],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_rounding_md_is_current():
    # --check compares in memory and writes nothing, so a stale
    # ROUNDING.md keeps failing until the regenerated file is committed
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "tools", "audit_rounding.py"),
            "--check",
        ],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
