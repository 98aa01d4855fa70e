#!/usr/bin/env python3
"""Compare two benchmark result files.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds result records as ``perfbench/run.py`` appends them
(``.perfbench_work/results.jsonl`` by default). For every workload in
both files it prints, per end-to-end metric in the records, the median
and quartiles of each side. For the metrics ``BENCHMARK.json`` bounds
it adds a verdict against the bound: better, no worse, worse or
unresolved (see ``stats.verdict``); for the others, each side's spread.
Per-layer changes from traced runs follow in two separate lists: work
counters (counts and bytes), then times, rates and ratios. Last comes
the work ledger: for traced runs of the same workload and seed on both
sides, which per-operation counters repeat exactly, and which queries
differ.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.ledger import COUNTERS  # noqa: E402
from perfbench.stats import quartiles, spread, verdict  # noqa: E402

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def by_workload(records: list[dict], trace: int) -> dict[str, list[dict]]:
    out = defaultdict(list)
    for r in records:
        if r["trace"] == trace:
            out[r["workload"]].append(r)
    return out


def fmt(v: float) -> str:
    return f"{v:.4g}"


def end_to_end(base, new, spec, out) -> None:
    b, n = by_workload(base, 0), by_workload(new, 0)
    bounded = {m["name"]: m for m in spec["end_to_end"]}
    for w in sorted(set(b) & set(n)):
        out.append(f"== {w}: end-to-end ({len(b[w])} base runs, {len(n[w])} new runs)")
        for name, first in b[w][0]["end_to_end"].items():
            xs = [r["end_to_end"][name]["value"] for r in b[w]]
            ys = [r["end_to_end"][name]["value"] for r in n[w]]
            bq, nq = quartiles(xs), quartiles(ys)
            line = (
                f"  {name:<18} base {fmt(bq[1])} [{fmt(bq[0])}, {fmt(bq[2])}]"
                f"  new {fmt(nq[1])} [{fmt(nq[0])}, {fmt(nq[2])}] {first['unit']}"
            )
            m = bounded.get(name)
            if m is not None:
                line += f"  bound {m['bound']:.0%}: {verdict(xs, ys, m['bound'], m['better'])}"
            else:
                line += f"  no bound; spreads {spread(xs):.2f} / {spread(ys):.2f}"
            out.append(line)


def per_layer(base, new, out) -> None:
    b, n = by_workload(base, 1), by_workload(new, 1)
    for w in sorted(set(b) & set(n)):
        counters, times = [], []
        for name, spec in b[w][0]["per_layer"].items():
            xs = [r["per_layer"][name]["value"] for r in b[w]]
            ys = [r["per_layer"][name]["value"] for r in n[w] if name in r["per_layer"]]
            if not ys:
                continue
            mx, my = statistics.median(xs), statistics.median(ys)
            if mx == my:
                continue
            line = f"    {name:<40} {fmt(mx)} -> {fmt(my)} {spec['unit']}"
            (counters if spec["unit"] in ("count", "B") else times).append(line)
        overhead = [r.get("tracing_overhead_s", 0.0) for r in n[w]]
        out.append(
            f"== {w}: per-layer medians that changed ({len(b[w])} base, "
            f"{len(n[w])} new traced runs; new tracing overhead "
            f"{fmt(statistics.median(overhead))} s per pass)"
        )
        out.append("  work counters (counts and bytes):")
        out.extend(counters or ["    (none)"])
        out.append("  times, rates and ratios:")
        out.extend(times or ["    (none)"])


def ledger_rows(record: dict) -> dict[tuple[str, int], dict]:
    """Per-operation counters keyed by (query, occurrence in the run)."""
    seen: dict[str, int] = defaultdict(int)
    rows = {}
    for row in record.get("ledger", []):
        key = (row["name"], seen[row["name"]])
        seen[row["name"]] += 1
        rows[key] = row
    return rows


def ledger(base, new, out) -> None:
    pairs = []
    for rb in base:
        for rn in new:
            if rb["trace"] == rn["trace"] == 1 and (
                rb["workload"], rb["seed"]) == (rn["workload"], rn["seed"]
            ):
                pairs.append((rb, rn))
    if not pairs:
        out.append("== ledger: no traced runs of the same workload and seed on both sides")
        return
    same = dict.fromkeys(COUNTERS, 0)
    ops = identical = 0
    differing = defaultdict(set)
    for rb, rn in pairs:
        lb, ln = ledger_rows(rb), ledger_rows(rn)
        for key in sorted(set(lb) & set(ln)):
            ops += 1
            diff = [c for c in COUNTERS if lb[key][c] != ln[key][c]]
            identical += not diff
            for c in COUNTERS:
                if c in diff:
                    differing[c].add(f"{rb['workload']}/{key[0]}")
                else:
                    same[c] += 1
    out.append(
        f"== ledger: {ops} operations in {len(pairs)} same-seed traced run pairs; "
        f"{identical} ({identical / max(ops, 1):.0%}) identical on every counter"
    )
    for c in COUNTERS:
        names = ", ".join(sorted(differing[c])) or "-"
        out.append(f"  {c:<20} repeats on {same[c]}/{ops}; differs on: {names}")


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(SPEC) as f:
        spec = json.load(f)
    base, new = load(argv[0]), load(argv[1])
    out: list[str] = []
    end_to_end(base, new, spec, out)
    per_layer(base, new, out)
    ledger(base, new, out)
    print("\n".join(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
