"""The measurement core (tools/measure.py), driven end to end through
tools/ab_bench.py in a fresh process."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from perfbench.ledger import COUNTERS
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ab_bench_reports_wall_and_ledger(tmp_path):
    """Two passes of one iterative query: exit 0, exactly one JSON line
    on stdout, both wall samples, every ledger counter, and at least
    one job per components round."""
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "ab_bench.py"),
            "--passes", "2",
            "--sf-dir", SF_DIR,
            "near_dup_clusters",
        ],
        capture_output=True,
        text=True,
        timeout=480,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines() if ln]
    assert len(lines) == 1, f"stdout must be exactly the JSON line, got: {lines!r}"
    cell = json.loads(lines[0])["near_dup_clusters"]["default"][
        os.path.basename(SF_DIR.rstrip("/"))
    ]
    assert len(cell["secs_all"]) == 2
    assert set(COUNTERS) <= set(cell)
    # the components loop runs one job per round
    assert cell["jobs"] >= 2
