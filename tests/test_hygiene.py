"""Repository hygiene: documentation anchors must resolve at HEAD."""

from __future__ import annotations


def test_anchor_sweep_is_clean():
    """r12 verdict task 7: COVERAGE.md citations (files, symbols, pytest
    node ids, declared-query names) and reference file:line docstring
    citations must resolve at HEAD — drift fails the suite, not a judge
    spot-check."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "check_anchors.py")],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-1000:]
