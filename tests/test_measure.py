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


def test_plan_diagnose_attributes_shuffle_and_spill(tmp_path):
    """tools/plan_diagnose.py on a forced-spill q3 (sorters spill every
    64 records, no broadcast joins; both confs apply at session start
    only, so the tool runs in a fresh process): it reads Exchange bytes
    and spilling Sort nodes from the SQL status store with the UI off,
    and its stage rows add up to the window ledger's counters."""
    out_file = tmp_path / "diag.json"
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "plan_diagnose.py"),
            "--sf-dir", SF_DIR,
            "--conf", "spark.shuffle.spill.numElementsForceSpillThreshold=64",
            "--conf", "spark.sql.autoBroadcastJoinThreshold=-1",
            "--out", str(out_file),
            "q3_shipping_priority",
        ],
        capture_output=True,
        text=True,
        timeout=240,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out_file.read_text())
    assert rec["ui_started"] is False
    cell = rec["sfs"][os.path.basename(SF_DIR.rstrip("/"))]
    assert [e for e in cell["exchanges"] if e["shuffle_bytes"] > 0]
    assert [n for n in cell["spilling_nodes"] if n["node"] == "Sort"]
    assert cell["joins"].get("SortMergeJoin", 0) >= 2
    assert cell["spill_bytes"] > 0
    for k in ("spill_bytes", "shuffle_write_bytes"):
        assert sum(st[k] for st in cell["stage_rows"]) == cell[k], k
