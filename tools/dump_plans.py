#!/usr/bin/env python
"""Dump `.explain("formatted")` and the normalized plan hash of queries.

Plan evidence for an optimization change: for each touched query the
claimed plan diff (Exchange count, join strategy, PushedFilters,
Python-eval nodes) is checked against these files, and dumping the
same queries before and after a pure refactor must give an empty diff.

Usage:
  SPARK_GRAFT_PLANS_TAG=before python tools/dump_plans.py --out DIR [q1 q2 ...]
  SPARK_GRAFT_PLANS_TAG=after  python tools/dump_plans.py --out DIR [q1 q2 ...]
  diff DIR/hashes_before.json DIR/hashes_after.json

No query names = every registered query. Writes <out>/<query>_<tag>.txt
and <out>/hashes_<tag>.json (query -> tools.gen_explain.plan_hash, the
normalized static-plan hash the EXPLAIN pins use). The dump is the
FORMATTED static physical plan (what code changes move); building a
query's DataFrame also runs its eager staging jobs, so generation
doubles as a smoke run at the chosen SF (SPARK_GRAFT_PLANS_SF, default
gen_explain's sf0.01 — plan SHAPE is SF-invariant for every suite
query; AQE runtime re-planning is out of scope here). The hashes agree
across core counts of 2 and more: the normalizer strips the
`spread()` round-robin and `spark.range` split counts, the only tokens
that follow the core count. The formatted `.txt` dumps still carry those
counts, so diff `.txt` dumps taken at the same SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_internal_spark.plans.queries import QUERIES  # noqa: E402
from pulsar_internal_spark.session import get_spark  # noqa: E402
from pulsar_internal_spark.staging import release_staged  # noqa: E402
from tools.gen_explain import SF_DIR, plan_hash  # noqa: E402


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="directory for the plan files")
    ap.add_argument("names", nargs="*", metavar="query")
    args = ap.parse_args()
    tag = os.environ.get("SPARK_GRAFT_PLANS_TAG", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_PLANS_SF", SF_DIR)
    names = args.names or sorted(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    os.makedirs(args.out, exist_ok=True)
    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    hashes: dict[str, str] = {}
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        hashes[name] = plan_hash(df)
        plan = formatted_plan(df)
        path = os.path.join(args.out, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} ({tag}, {sf_dir}) ==\n\n")
            f.write(plan.rstrip() + "\n")
        release_staged(spark)
        print(f"wrote {path}")
    path = os.path.join(args.out, f"hashes_{tag}.json")
    with open(path, "w") as f:
        json.dump(hashes, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path} ({len(hashes)} plan hashes)")


if __name__ == "__main__":
    main()
