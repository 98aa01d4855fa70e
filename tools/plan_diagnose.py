#!/usr/bin/env python
"""Where one query's shuffle and spill go, per plan node and per stage,
at one or more fixture scales.

For each ``--sf-dir`` the query runs in one ``tools/measure`` window,
and the output records:

- the window: wall, build/exec split and the seven ledger counters;
- ``exchanges``: one row per ``Exchange`` node, with its shuffle bytes
  and records written and its context (producer -> node -> consumer);
- ``spilling_nodes``: every plan node with a nonzero ``spill size``;
- ``joins``: how many nodes of each join strategy the plans ran;
- ``stage_rows``: one row per stage that ran in the window (name,
  tasks, spill, shuffle read/write, input).

With two scales it adds ``growth_by_context``: exchange bytes and rows
matched by context across the scales. The same context at both scales
means a per-row cost of one exchange grew; a context at one scale only
means AQE changed strategy.

Node metrics come from the SQL status store (``planGraph`` and
``executionMetrics``) and stage rows from the application status store,
both read over py4j with the UI off: the stores and the metric parser
of ``perfbench.ledger``, so every figure here is read the way the
benchmark reads it. The stage rows are needed beside the node rows,
and their spill and shuffle-write sums equal the window's
``spill_bytes`` and ``shuffle_write_bytes``. The node rows miss three
things: the spill of the sorter that writes shuffle output (node spill
covers only operators that own a sorter or hash map in the plan), the
shuffle of a stage AQE ran and then re-planned out of the final plan,
and jobs outside SQL executions.

Usage:
  # which exchange grows across a decade
  python tools/plan_diagnose.py --sf-dir .scale/sf1.0 --sf-dir .scale/sf10 \\
      --out SCRUB_DIAG.json substring_scrub
  # which operator spills at sf100 (a 12g heap OOMs there)
  SPARK_GRAFT_DRIVER_MEM=48g python tools/plan_diagnose.py \\
      --sf-dir .scale/sf100 \\
      --out SPILL_DIAG_triangle_sf100.json user_triangle_counts
  # force spill at a small scale: session-start confs
  python tools/plan_diagnose.py --sf-dir /root/testdata/sf0.01 \\
      --conf spark.shuffle.spill.numElementsForceSpillThreshold=64 \\
      --conf spark.sql.autoBroadcastJoinThreshold=-1 \\
      --out q3_spill.json q3_shipping_priority
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.ledger import ROWS, parse_metric  # noqa: E402
from pulsar_internal_spark.plans.queries import QUERIES  # noqa: E402
from pulsar_internal_spark.session import get_spark  # noqa: E402
from tools.measure import (  # noqa: E402
    RETENTION,
    WARM_SF,
    materialize,
    sample,
    settle,
    summarize,
)

JOINS = (
    "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "BroadcastExchange",
)
# wrappers between an exchange and the join or aggregate it exists for
PASS_THROUGH = (
    "ShuffleQueryStage", "AQEShuffleRead", "Sort", "InputAdapter",
    "WholeStageCodegen", "ColumnarToRow",
)
MB = 1 << 20


def _context(names: dict, edges: list, node_id: int) -> str:
    """``producer -> node -> consumer`` from the plan graph's edges
    (child -> parent), skipping pass-through wrappers on the consumer
    side so the context names the join or aggregate the node feeds."""
    producers = [a for a, b in edges if b == node_id]
    parent_of = dict(edges)
    child = names.get(producers[0], "?") if producers else "?"
    cur, parent = node_id, "?"
    for _ in range(6):
        if cur not in parent_of:
            break
        cur = parent_of[cur]
        parent = names.get(cur, "?")
        if not parent.startswith(PASS_THROUGH):
            break
    return f"{child} -> {names[node_id]} -> {parent}"


def plan_nodes(spark, m0, m1) -> dict:
    """Exchange rows, spilling nodes and join counts of the SQL
    executions between two ledger marks."""
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    sql = spark._jsparkSession.sharedState().statusStore()
    out = {"exchanges": [], "spilling_nodes": [], "joins": {}}
    n_exec = m1[1] - m0[1]
    execs = conv.asJava(sql.executionsList(m0[1], n_exec)) if n_exec > 0 else []
    for ex in execs:
        eid = ex.executionId()
        graph = sql.planGraph(eid)
        values = conv.asJava(sql.executionMetrics(eid))
        nodes = list(conv.asJava(graph.allNodes()))
        names = {n.id(): n.name() for n in nodes}
        edges = [(e.fromId(), e.toId()) for e in conv.asJava(graph.edges())]
        for n in nodes:
            name = names[n.id()]
            for j in JOINS:
                if j in name:
                    out["joins"][j] = out["joins"].get(j, 0) + 1
            metrics = {
                m.name(): parse_metric(values.get(m.accumulatorId()))
                for m in conv.asJava(n.metrics())
            }
            row = {"exec_id": eid, "node_id": n.id(), "node": name}
            if name == "Exchange":
                out["exchanges"].append({
                    **row,
                    "context": _context(names, edges, n.id()),
                    "shuffle_bytes": int(metrics.get("shuffle bytes written", 0)),
                    "rows": int(metrics.get("shuffle records written", 0)),
                })
            if metrics.get("spill size"):
                out["spilling_nodes"].append({
                    **row,
                    "context": _context(names, edges, n.id()),
                    "spill_bytes": int(metrics["spill size"]),
                    "rows": int(metrics.get(ROWS, 0)),
                })
    out["exchanges"].sort(key=lambda e: -e["shuffle_bytes"])
    out["spilling_nodes"].sort(key=lambda e: -e["spill_bytes"])
    return out


def stage_rows(spark, m0, m1) -> list[dict]:
    """One row per stage that ran in the jobs between two ledger marks,
    the stages ``perfbench.ledger.Ledger.work`` counts."""
    jsc = spark.sparkContext._jsc.sc()
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    store = jsc.statusStore()
    stage_ids: set[int] = set()
    for jid in range(m0[0], m1[0]):
        stage_ids.update(conv.asJava(store.job(jid).stageIds()))
    rows = []
    for sid in sorted(stage_ids):
        st = store.lastStageAttempt(sid)
        if st.status().toString() not in ("COMPLETE", "FAILED"):
            continue
        rows.append({
            "stage_id": sid,
            "name": st.name()[:120],
            "tasks": st.numCompleteTasks() + st.numFailedTasks(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            "disk_spill_bytes": st.diskBytesSpilled(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "input_bytes": st.inputBytes(),
        })
    return rows


def growth_by_context(a: dict, b: dict, na: str, nb: str) -> list[dict]:
    """Exchange bytes and rows per context at two scales, biggest at
    the second scale first."""

    def by_ctx(rec):
        d: dict[str, dict] = {}
        for e in rec["exchanges"]:
            c = d.setdefault(e["context"], {"bytes": 0, "rows": 0})
            c["bytes"] += e["shuffle_bytes"]
            c["rows"] += e["rows"]
        return d

    da, db = by_ctx(a), by_ctx(b)
    out = []
    for ctx in sorted(set(da) | set(db), key=lambda c: -db.get(c, {}).get("bytes", 0)):
        xa, xb = da.get(ctx), db.get(ctx)
        out.append({
            "context": ctx,
            f"{na}_mb": round(xa["bytes"] / MB, 2) if xa else None,
            f"{nb}_mb": round(xb["bytes"] / MB, 2) if xb else None,
            f"{na}_rows": xa["rows"] if xa else None,
            f"{nb}_rows": xb["rows"] if xb else None,
            "factor": round(xb["bytes"] / xa["bytes"], 1)
            if xa and xb and xa["bytes"] else None,
        })
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", action="append", required=True,
        help="fixture directory, repeatable",
    )
    ap.add_argument(
        "--conf", action="append", default=[],
        help="key=val applied at session start, repeatable",
    )
    ap.add_argument("--out", required=True, help="JSON file to write")
    ap.add_argument("query")
    args = ap.parse_args()
    if args.query not in QUERIES:
        ap.error(f"unknown query: {args.query}")
    sf_dirs = {os.path.basename(d.rstrip("/")): d for d in args.sf_dir}
    if len(sf_dirs) != len(args.sf_dir):
        ap.error("--sf-dir directories need distinct base names")
    confs = {k: v for k, _, v in (kv.partition("=") for kv in args.conf)}

    spark = get_spark(app_name="plan_diagnose", extra_conf={**RETENTION, **confs})
    spark.sparkContext.setLogLevel("ERROR")
    build = QUERIES[args.query]
    # first-hit codegen of the measured plan stays out of the window
    materialize(build(spark, WARM_SF))
    settle(spark)

    out = {
        "query": args.query,
        "conf": confs,
        "ui_started": spark.sparkContext._jsc.sc().ui().isDefined(),
        "sfs": {},
    }
    for sf, d in sf_dirs.items():
        s = sample(spark, lambda: build(spark, d))
        m0, m1 = s["marks"]
        out["sfs"][sf] = rec = {
            "sf_dir": d,
            **summarize([s]),
            **plan_nodes(spark, m0, m1),
            "stage_rows": stage_rows(spark, m0, m1),
        }
        print(f"== {sf}: wall {rec['secs_min']}s, shuffle write "
              f"{rec['shuffle_write_bytes'] / MB:.1f} MB, spill "
              f"{rec['spill_bytes'] / MB:.1f} MB, joins {rec['joins']}")
        for e in rec["exchanges"][:12]:
            print(f"  {e['shuffle_bytes'] / MB:10.1f} MB rows={e['rows']}"
                  f"  [{e['exec_id']}/{e['node_id']}] {e['context'][:80]}")
        for n in rec["spilling_nodes"][:12]:
            print(f"  {n['spill_bytes'] / MB:10.1f} MB spill {n['node']}"
                  f"  [{n['exec_id']}/{n['node_id']}] {n['context'][:80]}")
        for st in sorted(rec["stage_rows"], key=lambda r: -r["spill_bytes"])[:12]:
            if st["spill_bytes"]:
                print(f"  stage {st['stage_id']:>4} spill "
                      f"{st['spill_bytes'] / MB:.1f} MB  {st['name'][:70]}")
    if len(sf_dirs) == 2:
        (na, a), (nb, b) = out["sfs"].items()
        out["growth_by_context"] = growth_by_context(a, b, na, nb)
        print("== growth by exchange context ==")
        for g in out["growth_by_context"]:
            print(f"  {g[f'{na}_mb']} -> {g[f'{nb}_mb']} MB ({g['factor']}x)"
                  f"  {g['context'][:100]}")

    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", args.out)
    spark.stop()


if __name__ == "__main__":
    main()
