#!/usr/bin/env python
"""Benchmark harness: runs the full query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line under 1900 chars: {"metric": ..., "value": N, "unit":
"sec", "n_queries": N, "mean": ..., "median": ..., "queries":
{<slowest that fit>}, "queries_truncated": bool, "sf": ...}. The FULL
per-query map is written to BENCH_local.json in the working directory
(same totals).

Timing = full plan execution into the `noop` sink (forces evaluation of
every column, no driver collect, no disk write). One warmup query first
so JVM/codegen startup isn't billed to the first query.

Each query is timed on THREE interleaved passes over the suite and the
MEDIAN is recorded: transient host stalls (CPU-steal bursts on shared
machines) land multi-second pauses on random queries, and a median over
pass-interleaved runs cannot be hit by the same burst twice — so the
recorded per-query numbers are comparable round-over-round without a
judge re-run. (A min would flatter queries whose plans have genuine
variance; a single pass records the host, not the query.)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pulsar_internal_spark.plans.queries import QUERIES  # noqa: E402
from pulsar_internal_spark.session import get_spark  # noqa: E402
from pulsar_internal_spark.staging import release_staged  # noqa: E402
from tools.measure import materialize, reserve_stdout, warm  # noqa: E402

# Drift controls: pinned trivial fixed-cost queries (single scan +
# narrow projection, no round ever touches their plans) surfaced
# separately as "control_secs" in BOTH the stdout line and
# BENCH_local.json. Same-HEAD full-suite runs on this box have
# measured 1.4-1.5x apart UNIFORMLY (shared-host CPU steal:
# BENCH_full_r09 132.99 s vs BENCH_local 204.53 s, with these very
# queries drifting 1.35-1.46x); dividing by the controls' ratio to a
# reference window turns cross-run comparison from forensics into
# arithmetic. Reference (clean-window, r9): class_filter_scan 0.129,
# path_normalization 0.135, top_accounts_limit 0.115.
CONTROLS = ("class_filter_scan", "path_normalization", "top_accounts_limit")
CONTROL_REF_SECS = {
    "class_filter_scan": 0.129,
    "path_normalization": 0.135,
    "top_accounts_limit": 0.115,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = sf

    # Machine-parsable contract: the JSON result must be the ONLY line on
    # stdout (tools/measure.reserve_stdout keeps JVM startup noise off it)
    real_stdout = reserve_stdout()

    spark = get_spark(app_name="pulsar_internal_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    # JVM, codegen and worker-pool startup must not be billed to the
    # first query that hits them (tools/measure.warm names each cost)
    warm(spark, sf_dir)

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in QUERIES}
    for _ in range(n_runs):
        for name in sorted(QUERIES):
            t0 = time.perf_counter()
            materialize(QUERIES[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
            # staged frames are eager localCheckpoints — without a
            # release the block manager accumulates every measured
            # query's intermediates across the whole suite and later
            # queries run storage-starved (see tools/measure.settle
            # for the measured pathology)
            release_staged(spark)

    # statistics.median averages the middle pair for even run counts —
    # sorted(ts)[n//2] would record the MAX when SPARK_GRAFT_BENCH_RUNS=2
    timings = {
        name: round(statistics.median(ts), 3) for name, ts in samples.items()
    }
    total = round(sum(timings.values()), 3)
    control_secs = {c: timings[c] for c in CONTROLS if c in timings}
    # host-drift factor: median of control ratios vs the pinned
    # clean-window reference — ~1.0 on an idle box, >1.2 means the
    # whole run is inflated by CPU steal and totals should be
    # normalized by this factor before round-over-round comparison
    ratios = [
        control_secs[c] / CONTROL_REF_SECS[c]
        for c in control_secs
        if c in CONTROL_REF_SECS
    ]
    drift = round(statistics.median(ratios), 3) if ratios else None
    full = {
        "metric": "query_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "control_secs": control_secs,
        "control_drift": drift,
        "sf": sf_num,
    }
    # The driver records only a 2000-char tail of stdout, so the full
    # per-query map (~6 KB at 150+ queries) is unparseable there: the
    # stdout line carries summary stats plus as many of the SLOWEST
    # queries as fit a 1900-char budget; the complete map lands in
    # BENCH_local.json for offline diffing.
    summary = {
        "metric": "query_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "mean": round(total / max(len(timings), 1), 3),
        "median": round(statistics.median(timings.values()), 3),
        "control_secs": control_secs,
        "control_drift": drift,
        "queries": {},
        "queries_truncated": True,
        "sf": sf_num,
    }
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1]):
        summary["queries"][name] = sec
        if len(json.dumps(summary)) >= 1850:
            del summary["queries"][name]
            break
    else:
        summary["queries_truncated"] = False
    line = json.dumps(summary)
    assert len(line) < 1900, len(line)
    # one clean line on the real stdout + a disk artifact for offline diffing
    real_stdout.write(line + "\n")
    real_stdout.flush()
    with open("BENCH_local.json", "w") as f:
        f.write(json.dumps(full) + "\n")


if __name__ == "__main__":
    main()
