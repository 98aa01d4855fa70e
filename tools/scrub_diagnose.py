#!/usr/bin/env python
"""Per-stage exchange attribution for substring_scrub (VERDICT r10 #4).

substring_scrub's shuffle grows ~16x per decade (389 MB sf1.0 ->
6,247 MB sf10) while the plan is linear by construction (anchor
aggregate + 8x explode of non-owned occurrences + two equi joins).
Rounds 7-9 falsified every "same family as q3" analogy by measuring;
this tool does the same for the scrub: run the query at two SFs and
attribute shuffle bytes to the INDIVIDUAL plan exchanges via the SQL
REST endpoint (each Exchange node reports its own "shuffle bytes
written"), then diff join strategies across SFs from the final
(AQE-re-planned) plan description.

The question it answers mechanically: WHICH exchange grows 16x —
the k-gram sign/own aggregate (kh grain), the coverage distinct
(doc_id, tp grain), the token-position anti-join, or the final
per-doc agg — and is the growth a broadcast->SMJ strategy transition
(extra exchanges appearing at the bigger SF) or a per-row cost of one
persistent exchange (same exchange, more bytes)?

Writes SCRUB_DIAG.json and prints a ranked table.

Run: python tools/scrub_diagnose.py  [sf dirs via SPARK_GRAFT_SCRUB_SFS,
default ".scale/sf1.0,.scale/sf10"; heavy tiers: SPARK_GRAFT_STAGE_LEVEL=disk_only]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_internal_spark.plans.queries import QUERIES  # noqa: E402
from pulsar_internal_spark.session import get_spark  # noqa: E402
from pulsar_internal_spark.staging import release_staged  # noqa: E402
from tools.measure import materialize  # noqa: E402

_SIZE = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
}


def _parse_size(text: str) -> int | None:
    """'total (min, med, max...)\\n64.2 MiB (...)' -> 67319111 (total)."""
    m = re.search(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)", text)
    if not m:
        return None
    return int(float(m.group(1)) * _SIZE[m.group(2)])


def _sql_executions(spark) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = (
        f"{base}/api/v1/applications/{app_id}/sql"
        "?details=true&planDescription=true&length=1000"
    )
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.loads(r.read())


def _graph_context(ex: dict, node_id: int) -> str:
    """Identify what an Exchange FEEDS and CARRIES from the REST graph
    itself (the REST node ids do NOT match the planDescription's
    printed ids, so the graph edges are the only reliable mapping):
    producer = the node with an edge INTO the exchange, consumer = the
    node the exchange's edge points at. Skips pass-through wrappers
    (query stages / AQE shuffle reads / sorts) on the consumer side so
    the context names the JOIN or AGGREGATE the exchange exists for."""
    names = {n.get("nodeId"): n.get("nodeName", "") for n in ex.get("nodes", [])}
    out_edge = {e["fromId"]: e["toId"] for e in ex.get("edges", [])}
    producers = [e["fromId"] for e in ex.get("edges", []) if e["toId"] == node_id]
    child = names.get(producers[0], "?") if producers else "?"
    skip = ("ShuffleQueryStage", "AQEShuffleRead", "Sort", "InputAdapter",
            "WholeStageCodegen", "ColumnarToRow")
    cur, hops = node_id, 0
    parent = "?"
    while cur in out_edge and hops < 6:
        cur = out_edge[cur]
        hops += 1
        nm = names.get(cur, "?")
        if not any(nm.startswith(s) for s in skip):
            parent = nm
            break
        parent = nm
    return f"{child} -> exchange -> {parent}"


def exchanges_for_latest(spark, after_id: int, settle_secs: int = 120) -> dict:
    """Exchange-node shuffle bytes + join node inventory for every SQL
    execution with id > after_id (one noop write spawns a handful: the
    staged tokenize materialization + the main write). The SQL metrics
    store aggregates task metrics ASYNCHRONOUSLY after the execution
    completes — read too early and every exchange reports zero (the
    round-11 first reading) — so poll until the byte total is nonzero
    and stable across two consecutive reads."""

    def read() -> dict:
        edges, joins, plans = [], {}, []
        for ex in _sql_executions(spark):
            if ex.get("id", -1) <= after_id or ex.get("status") == "FAILED":
                continue
            plans.append(ex.get("planDescription", ""))
            for node in ex.get("nodes", []):
                name = node.get("nodeName", "")
                if name == "Exchange":
                    by = rows = None
                    for m in node.get("metrics", []):
                        if m.get("name") == "shuffle bytes written":
                            by = _parse_size(m.get("value", ""))
                        if m.get("name") == "shuffle records written":
                            r = re.search(r"([\d,]+)", m.get("value", ""))
                            rows = (
                                int(r.group(1).replace(",", "")) if r else None
                            )
                    edges.append(
                        {
                            "exec_id": ex["id"],
                            "node_id": node.get("nodeId"),
                            "context": _graph_context(ex, node.get("nodeId")),
                            "shuffle_bytes": by or 0,
                            "rows": rows,
                        }
                    )
                for j in ("SortMergeJoin", "BroadcastHashJoin",
                          "ShuffledHashJoin", "BroadcastNestedLoopJoin",
                          "BroadcastExchange"):
                    if j in name:
                        joins[j] = joins.get(j, 0) + 1
        return {"exchanges": edges, "joins": joins, "plans": plans}

    deadline = time.time() + settle_secs
    prev_total = -1
    rec = read()
    while time.time() < deadline:
        total = sum(e["shuffle_bytes"] for e in rec["exchanges"])
        if total > 0 and total == prev_total:
            break
        prev_total = total
        time.sleep(5)
        rec = read()
    return rec


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_spec = os.environ.get(
        "SPARK_GRAFT_SCRUB_SFS", ".scale/sf1.0,.scale/sf10"
    )
    sf_dirs = {}
    for item in sf_spec.split(","):
        p = item if os.path.isabs(item) else os.path.join(repo, item)
        if not os.path.isdir(p):
            sys.exit(f"fixture missing: {p}")
        sf_dirs[os.path.basename(item.rstrip("/"))] = p

    spark = get_spark(
        app_name="pulsar_internal_spark_scrub_diagnose",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.sql.ui.retainedExecutions": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    lvl = os.environ.get("SPARK_GRAFT_STAGE_LEVEL")
    if lvl:  # heavy-tier runs stage disk_only (BASELINE round-11 note)
        spark.conf.set("spark.pulsar.stage.level", lvl)

    out = {"query": "substring_scrub", "sfs": {}}
    for sf, d in sf_dirs.items():
        execs = _sql_executions(spark)
        last_id = max((e.get("id", -1) for e in execs), default=-1)
        t0 = time.perf_counter()
        materialize(QUERIES["substring_scrub"](spark, d))
        wall = round(time.perf_counter() - t0, 3)
        rec = exchanges_for_latest(spark, last_id)
        rec["wall_secs"] = wall
        rec["exchanges"].sort(key=lambda e: -e["shuffle_bytes"])
        rec["total_exchange_mb"] = round(
            sum(e["shuffle_bytes"] for e in rec["exchanges"]) / 1048576, 2
        )
        out["sfs"][sf] = rec
        release_staged(spark)
        print(f"\n== {sf}: wall {wall}s, "
              f"total exchange {rec['total_exchange_mb']} MB, "
              f"joins {rec['joins']}")
        for e in rec["exchanges"][:12]:
            print(f"  {e['shuffle_bytes']/1048576:10.1f} MB  rows={e['rows']}"
                  f"  [{e['exec_id']}/{e['node_id']}] {e['context']}")

    # cross-SF growth per exchange, matched by plan CONTEXT (the
    # producer->consumer pair is stable across SFs unless AQE changes
    # strategy — in which case the unmatched contexts ARE the finding),
    # plus the plan-level join strategy inventory diff
    names = list(out["sfs"])
    if len(names) == 2:
        a, b = names

        def by_ctx(rec):
            d = {}
            for e in rec["exchanges"]:
                c = e["context"] or f"node{e['node_id']}"
                d.setdefault(c, {"bytes": 0, "rows": 0})
                d[c]["bytes"] += e["shuffle_bytes"]
                d[c]["rows"] += e["rows"] or 0
            return d

        da, db = by_ctx(out["sfs"][a]), by_ctx(out["sfs"][b])
        growth = []
        for ctx in sorted(set(da) | set(db),
                          key=lambda c: -(db.get(c, {}).get("bytes", 0))):
            xa, xb = da.get(ctx), db.get(ctx)
            growth.append(
                {
                    "context": ctx,
                    f"{a}_mb": round(xa["bytes"] / 1048576, 2) if xa else None,
                    f"{b}_mb": round(xb["bytes"] / 1048576, 2) if xb else None,
                    f"{a}_rows": xa["rows"] if xa else None,
                    f"{b}_rows": xb["rows"] if xb else None,
                    "factor": round(xb["bytes"] / xa["bytes"], 1)
                    if xa and xb and xa["bytes"] else None,
                }
            )
        out["growth_by_context"] = growth
        out["join_strategy_diff"] = {
            a: out["sfs"][a]["joins"],
            b: out["sfs"][b]["joins"],
        }
        print("\n== growth by exchange context ==")
        for g in growth:
            print(f"  {g[f'{a}_mb']} -> {g[f'{b}_mb']} MB "
                  f"({g['factor']}x)  {g['context'][:100]}")
        print("join strategies:", out["join_strategy_diff"])

    path = os.path.join(
        repo, os.environ.get("SPARK_GRAFT_SCRUB_OUT", "SCRUB_DIAG.json")
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
