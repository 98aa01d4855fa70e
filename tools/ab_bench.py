#!/usr/bin/env python
"""Interleaved same-window A/B for named queries under different
runtime confs and fixture scales (guide §1: measure first; VERDICT r11
§9: cross-window normalized claims are not evidence on this box — the
ONLY accepted evidence is interleaved medians from one window).

Each pass times every (query, variant, sf) cell once, variants rotated
INSIDE the pass, so a host CPU-steal burst lands on all variants
equally. Every cell reports its raw walls, min and median wall, the
build/exec split (the Python call — eager staging jobs, driver
collects, plan construction — vs the noop materialization of the
returned frame), build jobs, build py4j calls, and the median of each
work counter (tools/measure.py). Prints ONE JSON line on stdout:
{query: {variant: {sf: cell}}}.

Usage:
  # conf A/B
  python tools/ab_bench.py \
      --var default: \
      --var pairs512:spark.pulsar.pairs.partitions=512 \
      --passes 5 -- image_near_dup audio_near_dup
  # build/exec split and job counts, every registered query
  python tools/ab_bench.py --passes 2 --sf-dir .scale/sf1.0
  # AQE advisory partition size A/B across two decades
  python tools/ab_bench.py --passes 3 \
      --var default: \
      --var adv16m:spark.sql.adaptive.advisoryPartitionSizeInBytes=16m \
      --sf-dir .scale/sf1.0 --sf-dir .scale/sf10 user_triangle_counts

The counters say how much a cell shuffles and spills; which plan node
or stage owns those bytes is tools/plan_diagnose.py, with the same
--sf-dir flags and the variant's confs as --conf.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_internal_spark.plans.queries import QUERIES  # noqa: E402
from tools.measure import (  # noqa: E402
    WARM_SF,
    materialize,
    reserve_stdout,
    sample,
    session,
    settle,
    summarize,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--var",
        action="append",
        help="name:key=val[,key=val...] (empty conf: 'name:'); "
        "default: one unconfigured variant",
    )
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument(
        "--sf-dir",
        action="append",
        help="fixture directory, repeatable "
        "(default: $SPARK_GRAFT_SF_DIR, else the sf0.1 fixture)",
    )
    ap.add_argument("queries", nargs="*", help="default: every registered query")
    args = ap.parse_args()
    queries = args.queries or sorted(QUERIES)
    unknown = sorted(set(queries) - set(QUERIES))
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    dirs = args.sf_dir or [os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")]
    sf_dirs = {os.path.basename(d.rstrip("/")): d for d in dirs}
    if len(sf_dirs) != len(dirs):
        ap.error("--sf-dir directories need distinct base names")

    variants: dict[str, dict[str, str]] = {}
    for v in args.var or ["default:"]:
        name, _, confs = v.partition(":")
        d: dict[str, str] = {}
        if confs:
            for kv in confs.split(","):
                k, _, val = kv.partition("=")
                d[k] = val
        variants[name] = d

    real_stdout = reserve_stdout()
    spark = session("ab_bench")
    # first-hit codegen of each measured plan must not land on the
    # first variant's cells
    for q in queries:
        materialize(QUERIES[q](spark, WARM_SF))
        settle(spark)

    samples: dict[tuple[str, str, str], list[dict]] = {
        (q, v, sf): [] for q in queries for v in variants for sf in sf_dirs
    }
    defaults = {k: spark.conf.get(k, None) for d in variants.values() for k in d}
    for p in range(args.passes):
        for vname, confs in variants.items():
            for k, val in confs.items():
                spark.conf.set(k, val)
            for q in queries:
                for sf, sf_dir in sf_dirs.items():
                    samples[(q, vname, sf)].append(
                        sample(spark, lambda: QUERIES[q](spark, sf_dir))
                    )
            for k in confs:
                if defaults[k] is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, defaults[k])
        print(f"pass {p + 1}/{args.passes} done", file=sys.stderr, flush=True)

    out: dict[str, dict[str, dict[str, dict]]] = {}
    for (q, v, sf), s in samples.items():
        out.setdefault(q, {}).setdefault(v, {})[sf] = summarize(s)
    real_stdout.write(json.dumps(out) + "\n")
    real_stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
