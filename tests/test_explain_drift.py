"""EXPLAIN.md staleness ENFORCEMENT (VERDICT r6 #5): the committed
EXPLAIN.hashes.json pins a normalized hash of every headline query's
STATIC physical plan; this test recomputes each hash at HEAD and fails
on drift, replacing the manual "stamp lags HEAD" convention. Runtime
AQE decisions are out of scope by design — code changes move the
static plan, and that is what regeneration tracks.

Plans are built at the GENERATOR's sf (0.01) regardless of the suite's
sf fixture, so path/statistics differences never enter the hash (the
normalizer strips session-variant tokens: expression ids, partition
counts, file paths — see tools/gen_explain.normalize_plan).

The pins hold at any core count, 1 included. The only core-count
tokens these plans could carry are the `RoundRobinPartitioning(N)`
exchange that `sources.tables.spread()` adds and the
`Range (..., splits=N)` of `spark.range`; both counts are stripped,
while the exchange node itself still enters the hash. `spread()` sizes
its target from the input's parquet footer rows, so the 500-row sf0.01
documents and embeddings stay in their one scan partition at every core
count, and no pinned plan gains or loses an exchange with the host.

On failure: `python tools/gen_explain.py` (regenerates EXPLAIN.md and
the hash sidecar in one step — the stamp then matches the regeneration
commit by construction).
"""

from __future__ import annotations

import json
import os

import pytest

from tools.gen_explain import HEADLINERS, SF_DIR, normalize_plan, plan_hash

from pulsar_internal_spark.plans.queries import QUERIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hashes():
    with open(os.path.join(REPO, "EXPLAIN.hashes.json")) as f:
        return json.load(f)


def test_hash_sidecar_covers_headliners():
    got = {k for k in _hashes() if not k.startswith("_")}
    want = {name for name, _ in HEADLINERS}
    assert got == want, (
        f"EXPLAIN.hashes.json drift: only_sidecar={sorted(got - want)} "
        f"only_headliners={sorted(want - got)} — rerun tools/gen_explain.py"
    )
    assert _hashes()["_meta"]["commit"]


def test_explain_md_has_a_section_per_headliner():
    with open(os.path.join(REPO, "EXPLAIN.md")) as f:
        md = f.read()
    missing = [name for name, _ in HEADLINERS if f"## {name}" not in md]
    assert not missing, f"EXPLAIN.md missing sections: {missing}"


def _spread_plan(cores: int, spread: bool = True) -> str:
    """A static plan in Spark's own text form: a `spread()` exchange over
    a one-partition scan, broadcast-joined to a `spark.range` probe."""
    scan = (
        "FileScan parquet [doc_id#12L,text#13] Batched: true, Format: "
        "Parquet, Location: InMemoryFileIndex(1 paths)"
        "[file:/data/sf0.01/documents.parquet], ReadSchema: "
        "struct<doc_id:bigint,text:string>"
    )
    lines = [
        "BroadcastHashJoin [doc_id#12L], [probe_id#41L], LeftSemi, BuildRight, false",
        ":- Project [doc_id#12L, length(text#13) AS n#20]",
    ]
    if spread:
        lines.append(
            f":  +- Exchange RoundRobinPartitioning({cores}), "
            "REPARTITION_BY_NUM, [plan_id=51]"
        )
    lines += [
        f":     +- {scan}",
        "+- BroadcastExchange HashedRelationBroadcastMode(List(input[0, "
        "bigint, false]),false), [plan_id=60]",
        "   +- Project [(id#40L * 5) AS probe_id#41L]",
        f"      +- Range (0, 40, step=1, splits={cores})",
    ]
    return "\n".join(lines)


def test_normalizer_drops_core_counts_but_keeps_the_exchange():
    # the round-robin and Range counts follow sc.defaultParallelism, so
    # the same plan built at 4 and at 32 cores must hash the same ...
    assert normalize_plan(_spread_plan(4)) == normalize_plan(_spread_plan(32))
    # ... while a query that gains or loses its spread() exchange must not
    assert normalize_plan(_spread_plan(32, spread=False)) != normalize_plan(
        _spread_plan(32)
    )


def _store_scan(tmpdir: str, batch: int = 0) -> str:
    """A store-generation FileScan as Spark prints it: metadata values
    longer than 100 chars are cut to 97 plus "..."."""
    loc = (
        "InMemoryFileIndex(1 paths)[file:"
        f"{tmpdir}/pulsar_demo_stores_yu6p8nsx/sigstore_91ed241e8720/gen-00000000]"
    )
    if len(loc) > 100:
        loc = loc[:97] + "..."
    return (
        "FileScan parquet [id#3L,band_idx#4,band_key#5,batch_id#6] Batched: "
        f"true, DataFilters: [], Format: Parquet, Location: {loc}, "
        f"PartitionFilters: [isnotnull(batch_id#6), (batch_id#6 = {batch})], "
        "PushedFilters: [], ReadSchema: struct<id:bigint,band_idx:int,band_key:string>"
    )


def test_normalizer_maps_cut_and_whole_locations_alike():
    # a store under /tmp prints its whole path, one under a longer
    # TMPDIR is cut: both must normalize (and so hash) the same ...
    whole = _store_scan("/tmp")
    assert whole.count("...") == 0
    for tmpdir in ("/var/tmp/pulsar-tests/tmphash/short", "/t" * 55):
        cut = _store_scan(tmpdir)
        assert cut.endswith("ReadSchema: struct<id:bigint,band_idx:int,band_key:string>")
        assert "gen-00000000]" not in cut
        assert normalize_plan(cut) == normalize_plan(whole)
    # ... while what follows the Location still enters the hash
    assert normalize_plan(_store_scan("/tmp", 1)) != normalize_plan(whole)


@pytest.mark.parametrize("name", [n for n, _ in HEADLINERS])
def test_plan_matches_recorded_hash(spark, name):
    want = _hashes()[name]
    got = plan_hash(QUERIES[name](spark, SF_DIR))
    assert got == want, (
        f"{name}: static physical plan changed since EXPLAIN.md was "
        f"generated (hash {got} != recorded {want}) — rerun "
        "tools/gen_explain.py to regenerate EXPLAIN.md + hashes"
    )
