"""Differential test: every queries() entry with an oracle must match it
(the driver's correctness gate, run locally at sf0.001 for speed —
set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 to mirror the driver
exactly)."""

from __future__ import annotations

import pytest

from pulsar_internal_spark.plans.queries import ORACLES, QUERIES

from .oracle_harness import FLOAT_TOL, compare, run_oracle


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    opdf = run_oracle(ORACLES[name], sf_dir)
    problems = compare(sdf, opdf, float_tol=FLOAT_TOL.get(name))
    assert not problems, f"{name}: " + "; ".join(problems)


def test_every_query_has_entry():
    assert QUERIES, "query registry is empty"
    missing = [n for n in ORACLES if n not in QUERIES]
    assert not missing


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert df.schema is not None


def test_rows_only_queries_return_rows(spark, sf_dir):
    """Queries without an oracle still get the driver's rows-only check."""
    for name in sorted(set(QUERIES) - set(ORACLES)):
        assert QUERIES[name](spark, sf_dir).count() > 0, name


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """approx_count_distinct(rsd=0.02) must track the exact distinct count
    (the HLL sketch is engine-specific, so no DuckDB oracle)."""
    approx = {
        r.event_type: r.approx_users
        for r in QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    }
    from pyspark.sql import functions as F

    from pulsar_internal_spark.sources.tables import load_table

    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(2, 0.1 * exact[k]), (
            k,
            approx[k],
            exact[k],
        )


def test_random_payloads_shape(spark, sf_dir):
    """generatebytes parity: 32 bytes -> 44 base64 chars; cap at 1 MiB."""
    rows = QUERIES["random_payloads"](spark, sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        assert len(r.key_b64) == 44  # 32 bytes, RFC-4648 with padding
        assert r.n_bytes_capped <= 1024 * 1024


def test_every_query_documents_its_lineage():
    """Every query carries a docstring, and most cite the reference
    (file:line) or SURVEY.md — the parity-evidence convention the
    suite is built on."""
    import re

    missing = [n for n, fn in QUERIES.items() if not (fn.__doc__ or "").strip()]
    assert not missing, f"undocumented queries: {missing}"
    cited = [
        n
        for n, fn in QUERIES.items()
        if re.search(r"\w+\.(hpp|cpp):\d+|SURVEY\.md", fn.__doc__ or "")
    ]
    assert len(cited) >= int(0.6 * len(QUERIES)), (
        f"only {len(cited)}/{len(QUERIES)} queries cite provenance"
    )


def test_bench_contract(tmp_path):
    """bench.py must emit ONE JSON line with the driver-contract shape.
    Runs at sf0.001 in a subprocess (fresh JVM) to prove the script
    works standalone; it runs in tmp_path, where bench.py writes its
    artifact and Spark its warehouse, so the repo is never touched."""
    import json
    import os
    import subprocess
    import sys

    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "8"
    # the contract under test is the output SHAPE; one timing pass is
    # enough and keeps the subprocess inside the timeout even when the
    # suite runs concurrently with other sessions
    env["SPARK_GRAFT_BENCH_RUNS"] = "1"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        capture_output=True,
        text=True,
        timeout=480,
        env=env,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # the contract is ONE line on stdout, parseable as-is: the driver runs
    # json.loads on the whole stream, so any JVM/log noise breaks parsing
    lines = [ln for ln in out.stdout.strip().splitlines() if ln]
    assert len(lines) == 1, f"stdout must be exactly the JSON line, got: {lines!r}"
    # the driver keeps only a 2000-char stdout tail — the line must fit
    assert len(lines[0]) < 1900, len(lines[0])
    d = json.loads(lines[0])
    assert d["metric"] == "query_suite_wall_seconds"
    assert d["unit"] == "sec" and d["value"] > 0
    assert d["n_queries"] == len(QUERIES)
    assert set(d["queries"]) <= set(QUERIES)
    assert d["sf"] == 0.001
    # the disk artifact carries the FULL per-query map with the same total
    with open(tmp_path / "BENCH_local.json") as f:
        full = json.load(f)
    assert set(full["queries"]) == set(QUERIES)
    assert full["value"] == d["value"]
    # stdout's partial map is the slowest-first prefix of the full map
    for name, sec in d["queries"].items():
        assert full["queries"][name] == sec


def test_rule_resized_lsh_banding_matches_oracle(spark, sf_dir):
    """The capacity rule (OPERATIONS.md) prescribes re-sizing
    planes_per_band per decade; tools/scale_dedup.py runs the
    resized knob at sf100. The parameterization must stay
    oracle-exact at ANY knob, not just the registered 2x6 / 8x12
    forms — pin a third point (8x16, the rule's sf100-at-target-
    occupancy answer) against the same replayed-plane-constants
    DuckDB oracle."""
    from pulsar_internal_spark.plans.queries import (
        _lsh_pairs_oracle_sql,
        _lsh_verified_pairs,
    )
    from tests.oracle_harness import compare, run_oracle

    got = _lsh_verified_pairs(spark, sf_dir, planes_per_band=16, num_bands=8)
    oracle = run_oracle(_lsh_pairs_oracle_sql(16, 8), sf_dir)
    assert compare(got, oracle) == []


def test_random_alnum_shape(spark, sf_dir):
    """random_string parity (crypt.hpp:39-52): 16 chars, [A-Za-z0-9]."""
    import re

    rows = QUERIES["random_alnum_keys"](spark, sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        assert re.fullmatch(r"[A-Za-z0-9]{16}", r.key_alnum), r.key_alnum
