"""The measurement core (tools/measure.py), driven end to end through
tools/ab_bench.py in a fresh process."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.ledger import COUNTERS
from pulsar_internal_spark.plans.queries import QUERIES
from pulsar_internal_spark.staging import release_staged
from tests.conftest import SF_DIR
from tools.measure import py4j_calls

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ab_bench_reports_wall_and_ledger(tmp_path):
    """Two passes of one iterative query: exit 0, exactly one JSON line
    on stdout, both wall samples, every ledger counter, the build's
    py4j call count, and at least one job per components round."""
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
    # building the plan and submitting its staging jobs talks to the JVM
    assert isinstance(cell["build_py4j_calls"], int)
    assert cell["build_py4j_calls"] > 0
    # the components loop runs one job per round
    assert cell["jobs"] >= 2


@pytest.mark.parametrize("name", ["pq_adc_topk", "pq_residual_drift"])
def test_ann_warm_build_py4j_budget(spark, name):
    """A warm build of a frozen-quantizer ANN query sends at most 3,000
    py4j commands. Its plan literals and unrolled PQ folds are SQL text
    parsed once per context (operators/similarity._parsed); built from
    Column-API folds, the same warm builds sent 10,445 and 16,339."""
    QUERIES[name](spark, SF_DIR)  # cold: fills the parse memo
    release_staged(spark)
    with py4j_calls(spark) as calls:
        QUERIES[name](spark, SF_DIR)
    release_staged(spark)
    assert 0 < calls[0] <= 3000, calls[0]


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
