#!/usr/bin/env python
"""Per-NODE spill attribution for one registered query — names WHICH
sort/aggregate/join spills, not just how much (the follow-up the
SCALE_r11_triangle.json falsification demanded: raising
`coalescePartitions.initialPartitionNum` to 4096 left
user_triangle_counts' sf100 memory spill at ~98 GB, because AQE
re-coalesces reducers back to the advisory size — so the r9 "raise
initial partitions" hypothesis is dead and the spill's actual owner
must be named before the next mitigation is designed).

Reads the SQL REST graph (the scrub_diagnose.py machinery) and
collects EVERY node carrying a "spill size" metric, with the node's
producer/consumer context, plus the exchange table. Writes one JSON.

Run: SPARK_GRAFT_DRIVER_MEM=48g \
     SPARK_GRAFT_SPILL_QUERY=user_triangle_counts \
     SPARK_GRAFT_SPILL_SF=.scale/sf100 \
     SPARK_GRAFT_SPILL_OUT=SPILL_DIAG_triangle_sf100.json \
     python tools/spill_diagnose.py
Optional: SPARK_GRAFT_SPILL_CONF="k=v,k=v" extra session confs
(e.g. spark.sql.adaptive.advisoryPartitionSizeInBytes=16m, or
spark.pulsar.stage.level=disk_only for the heavy tiers).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_internal_spark.plans.queries import QUERIES  # noqa: E402
from tools.measure import measure, session  # noqa: E402
from tools.scrub_diagnose import (  # noqa: E402
    _graph_context,
    _parse_size,
    _sql_executions,
)


def spilling_stages(spark, after_stage_id: int) -> list[dict]:
    """Per-STAGE spill rows from the status REST API.

    Why this exists alongside spilling_nodes: the SQL-graph 'spill
    size' node metric only covers operators that own an
    UnsafeExternalSorter/hash map INSIDE the plan (SortExec,
    HashAggregateExec, SMJ buffers). Two spill producers are invisible
    to it — the ShuffleExternalSorter that sorts map output while
    WRITING an exchange, and any job that is not a SQL execution at
    all (the staging localCheckpoint materializations). The first
    sf100 triangle attribution run came back with 31.7 GB of spill
    and ZERO spilling nodes for exactly this reason. Stage rows see
    every task's memoryBytesSpilled, and the stage name/details carry
    the call site, which is enough to name the owner."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/stages?details=false"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.loads(r.read())
    out = []
    for st in stages:
        if st.get("stageId", -1) <= after_stage_id:
            continue
        if not (st.get("memoryBytesSpilled") or st.get("diskBytesSpilled")):
            continue
        out.append(
            {
                "stage_id": st["stageId"],
                "name": (st.get("name") or "")[:120],
                "num_tasks": st.get("numTasks"),
                "spill_bytes": st.get("memoryBytesSpilled", 0),
                "disk_spill_bytes": st.get("diskBytesSpilled", 0),
                "shuffle_write_bytes": st.get("shuffleWriteBytes", 0),
                "shuffle_read_bytes": st.get("shuffleReadBytes", 0),
                "input_bytes": st.get("inputBytes", 0),
            }
        )
    out.sort(key=lambda s: -s["spill_bytes"])
    return out


def spilling_nodes(spark, after_id: int, settle_secs: int = 120) -> list[dict]:
    """Every SQL-graph node with a nonzero 'spill size' metric in
    executions with id > after_id (same async-settle polling as
    scrub_diagnose.exchanges_for_latest)."""

    def read() -> list[dict]:
        out = []
        for ex in _sql_executions(spark):
            if ex.get("id", -1) <= after_id or ex.get("status") == "FAILED":
                continue
            for node in ex.get("nodes", []):
                spill = disk = None
                rows = None
                for m in node.get("metrics", []):
                    nm = m.get("name", "")
                    if nm == "spill size":
                        spill = _parse_size(m.get("value", ""))
                    elif nm in ("spill size (disk)", "disk spill size"):
                        disk = _parse_size(m.get("value", ""))
                    elif nm in ("number of output rows",):
                        r = re.search(r"([\d,]+)", m.get("value", ""))
                        rows = int(r.group(1).replace(",", "")) if r else None
                if spill:
                    out.append(
                        {
                            "exec_id": ex["id"],
                            "node_id": node.get("nodeId"),
                            "node": node.get("nodeName", ""),
                            "context": _graph_context(ex, node.get("nodeId")),
                            "spill_bytes": spill,
                            "disk_spill_bytes": disk,
                            "rows": rows,
                        }
                    )
        return out

    deadline = time.time() + settle_secs
    prev = -1
    rec = read()
    while time.time() < deadline:
        total = sum(n["spill_bytes"] for n in rec)
        if total > 0 and total == prev:
            break
        prev = total
        time.sleep(5)
        rec = read()
    return rec


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    qname = os.environ.get("SPARK_GRAFT_SPILL_QUERY", "user_triangle_counts")
    sf_rel = os.environ.get("SPARK_GRAFT_SPILL_SF", ".scale/sf100")
    sf_dir = sf_rel if os.path.isabs(sf_rel) else os.path.join(repo, sf_rel)
    out_path = os.path.join(
        repo,
        os.environ.get("SPARK_GRAFT_SPILL_OUT", "SPILL_DIAG.json"),
    )
    # the SQL REST reader lists the first 1,000 executions, so keep
    # only the latest 1,000
    extra = {
        "spark.ui.enabled": "true",
        "spark.sql.ui.retainedExecutions": "1000",
    }
    for kv in os.environ.get("SPARK_GRAFT_SPILL_CONF", "").split(","):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark = session("pulsar_internal_spark_spill_diag", extra)

    execs = _sql_executions(spark)
    last_id = max((e.get("id", -1) for e in execs), default=-1)
    last_stage = max(
        (s["stage_id"] for s in spilling_stages(spark, -1)), default=-1
    )
    work = measure(spark, lambda: QUERIES[qname](spark, sf_dir), 1)
    nodes = spilling_nodes(spark, last_id)
    nodes.sort(key=lambda n: -n["spill_bytes"])
    stages = spilling_stages(spark, last_stage)
    out = {
        "query": qname,
        "sf_dir": sf_dir,
        "extra_conf": {
            k: v for k, v in extra.items() if not k.startswith("spark.ui")
        },
        **work,
        "spilling_nodes": nodes,
        "spilling_stages": stages,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wall {work['secs_min']}s spill {work['spill_bytes'] / 1048576:.1f} MB")
    for n in nodes[:12]:
        print(
            f"  {n['spill_bytes']/1048576:10.1f} MB  {n['node']}"
            f"  [{n['exec_id']}/{n['node_id']}] {n['context'][:80]}"
        )
    for s in stages[:12]:
        print(
            f"  stage {s['stage_id']:>4} {s['spill_bytes']/1048576:10.1f} MB"
            f" (disk {s['disk_spill_bytes']/1048576:.0f})"
            f" wr={s['shuffle_write_bytes'] / 1048576:.0f}"
            f" rd={s['shuffle_read_bytes'] / 1048576:.0f}"
            f"  {s['name'][:70]}"
        )
    print("wrote", out_path)
    spark.stop()


if __name__ == "__main__":
    main()
