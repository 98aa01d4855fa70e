"""The engine's own conf surface, pinned. Every independent knob doubles
the configurations tests and scale runs must cover, so a new
``spark.pulsar.*`` conf or engine env var has to be added here on
purpose. Spark accepts an unknown ``spark.pulsar.*`` conf without a
word, so the tools and docs may name only the kept confs too: a
leftover one would silently do nothing. The tools measure with the
Spark UI off, like the benchmark. Pure Python: no Spark session."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "pulsar_internal_spark")
TOOLS = os.path.join(REPO, "tools")

KEPT_CONFS = {"spark.pulsar.pairs.partitions"}
CONF = re.compile(r"spark\.pulsar(?:\.\w+)+")


def _sources(top=PKG, exts=(".py",)):
    if os.path.isfile(top):
        with open(top, encoding="utf-8") as fh:
            yield os.path.basename(top), fh.read()
        return
    for root, dirs, files in os.walk(top):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if f.endswith(exts):
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, top), fh.read()


def test_engine_names_exactly_the_kept_confs():
    found = {}
    for rel, text in _sources():
        for name in CONF.findall(text):
            found.setdefault(name, set()).add(rel)
    assert set(found) == KEPT_CONFS, {
        k: sorted(v) for k, v in found.items() if k not in KEPT_CONFS
    }


def test_tools_and_docs_name_only_kept_confs():
    hits = [
        f"{rel}: {name}"
        for top, exts in (
            (TOOLS, (".py", ".sh")),
            (os.path.join(REPO, "docs"), (".md",)),
            (os.path.join(REPO, "README.md"), ()),
        )
        for rel, text in _sources(top, exts)
        for name in CONF.findall(text)
        if name not in KEPT_CONFS
    ]
    assert not hits, hits


def test_engine_reads_no_initial_partitions_env():
    hits = [
        rel
        for rel, text in _sources()
        if "SPARK_GRAFT_INITIAL_PARTITIONS" in text
    ]
    assert not hits, hits


def test_no_tool_turns_the_spark_ui_on():
    """Every tool reads plan and stage metrics from the status stores
    over py4j (perfbench.ledger, tools/measure.py, tools/plan_diagnose.py),
    so a tool number comes from a session configured like the
    benchmark's. No tool starts the UI, asks for its address, or
    scrapes its REST API. Polling a standalone master's own ``/json/``
    page (tools/cluster_bench.py) is not the application UI."""
    rules = {
        "turns the UI on": re.compile(r"spark\.ui\.enabled\W+true", re.I),
        "reads the UI address": re.compile(r"uiWebUrl"),
        "requests the REST API": re.compile(r"/api/v1/"),
    }
    hits = [
        f"{rel}: {why}"
        for rel, text in _sources(TOOLS, (".py", ".sh"))
        for why, rule in rules.items()
        if rule.search(text)
    ]
    assert not hits, hits


def test_unset_core_count_defaults_to_the_host(monkeypatch):
    """With SPARK_GRAFT_CPUS unset, get_spark sizes local mode to the
    CPUs this process may run on. The builder is a stand-in that records
    its settings, so no second session starts."""
    from pulsar_internal_spark import session

    class Builder:
        conf: dict = {}

        def appName(self, _):
            return self

        def master(self, m):
            self.conf["master"] = m
            return self

        def config(self, k, v):
            self.conf[k] = v
            return self

        def getOrCreate(self):
            return self.conf

    class FakeSession:
        builder = Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    # get_spark exports the package on PYTHONPATH; undo that afterwards
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    conf = session.get_spark()
    host = len(os.sched_getaffinity(0))
    assert conf["master"] == f"local[{host}]"
    assert conf["spark.sql.shuffle.partitions"] == str(max(host, 32))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.get_spark()["master"] == "local[3]"
