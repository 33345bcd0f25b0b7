"""tools/audit_plans.py exits non-zero when a query fails to build, so a
scripted audit cannot mistake a partial PLAN_AUDIT.json for a clean one."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.timeout(300)
def test_build_error_exits_nonzero(tmp_path):
    out = tmp_path / "audit.json"
    empty_sf = tmp_path / "no_tables"
    empty_sf.mkdir()
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "audit_plans.py"),
         "--sf-dir", str(empty_sf), "--out", str(out), "q1_pricing_summary"],
        capture_output=True,
        text=True,
        timeout=280,
    )
    assert proc.returncode == 1, proc.stderr[-2000:]
    doc = json.loads(out.read_text())
    assert doc["n_errors"] == 1 and "q1_pricing_summary" in doc["errors"]
