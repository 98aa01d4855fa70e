"""The engine's own conf surface, pinned. Every independent knob doubles
the configurations tests and scale runs must cover, so a new
``spark.pulsar.*`` conf or engine env var has to be added here on
purpose. Pure Python: no Spark session."""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pulsar_internal_spark",
)

KEPT_CONFS = {
    "spark.pulsar.stage.mode",
    "spark.pulsar.stage.level",
    "spark.pulsar.pairs.partitions",
}


def _sources():
    for root, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, PKG), fh.read()


def test_engine_names_exactly_the_kept_confs():
    found = {}
    for rel, text in _sources():
        for name in re.findall(r"spark\.pulsar(?:\.\w+)+", text):
            found.setdefault(name, set()).add(rel)
    assert set(found) == KEPT_CONFS, {
        k: sorted(v) for k, v in found.items() if k not in KEPT_CONFS
    }


def test_engine_reads_no_initial_partitions_env():
    hits = [
        rel
        for rel, text in _sources()
        if "SPARK_GRAFT_INITIAL_PARTITIONS" in text
    ]
    assert not hits, hits
