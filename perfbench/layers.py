"""Per-layer metrics of a traced run, averaged per measured pass.

Layers are the engine's modules (``plans``, ``staging``, ``sources``,
``functions``, ``operators.<module>``, ``streaming``) plus the Spark
runtime under them (``catalyst``, ``scheduler``, ``executor``,
``python``) and the ingest ``store``. Every workload reports every
metric; a layer a workload does not touch reads 0.
"""

from __future__ import annotations

import os
import pkgutil

from .stats import self_time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPERATOR_MODULES = tuple(
    m.name
    for m in pkgutil.iter_modules(
        [os.path.join(_HERE, "pulsar_internal_spark", "operators")]
    )
)

WORK_METRICS = {
    "scheduler.jobs": ("jobs", "count"),
    "scheduler.stages": ("stages", "count"),
    "scheduler.tasks": ("tasks", "count"),
    "scheduler.delay_s": ("delay_s", "s"),
    "executor.run_s": ("run_s", "s"),
    "executor.cpu_s": ("cpu_s", "s"),
    "executor.gc_s": ("gc_s", "s"),
    "executor.input_bytes": ("input_bytes", "B"),
    "executor.shuffle_read_bytes": ("shuffle_read_bytes", "B"),
    "executor.shuffle_write_bytes": ("shuffle_write_bytes", "B"),
    "executor.spill_bytes": ("spill_bytes", "B"),
    "python.plans": ("py_plans", "count"),
    "python.rows_sent": ("py_rows_sent", "count"),
    "python.bytes_sent": ("py_bytes_sent", "B"),
    "python.bytes_received": ("py_bytes_received", "B"),
    "python.time_s": ("py_time_s", "s"),
}

STREAMING = {
    "streaming.trigger_s": ("triggerExecution",),
    "streaming.add_batch_s": ("addBatch",),
    "streaming.plan_s": ("queryPlanning",),
    "streaming.latest_offset_s": ("latestOffset",),
    "streaming.commit_s": ("walCommit", "commitOffsets"),
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "session.jvm_peak_rss_mb": "MB",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "staging.calls": "count",
        "staging.s": "s",
        "staging.jobs": "count",
        "staging.bytes": "B",
        "staging.release_s": "s",
        "sources.load_table.calls": "count",
        "sources.load_table_s": "s",
        "sources.spread.calls": "count",
        "sources.spread.fired": "count",
        "sources.table_rows_s": "s",
        "functions.calls": "count",
        "functions.s": "s",
    }
    for m in OPERATOR_MODULES:
        units[f"operators.{m}.calls"] = "count"
        units[f"operators.{m}.s"] = "s"
        units[f"operators.{m}.jobs"] = "count"
    units["streaming.batches"] = "count"
    units.update({k: "s" for k in STREAMING})
    units.update({
        "store.files_before": "count",
        "store.files_after": "count",
        "store.bytes": "B",
        "store.bytes_per_doc_byte": "ratio",
        "store.compact_s": "s",
        "store.consume_s": "s",
        "ingest.docs_per_s": "1/s",
        "catalyst.plan_s": "s",
    })
    units.update({k: u for k, (_, u) in WORK_METRICS.items()})
    units["executor.peak_mem_bytes"] = "B"
    units["executor.utilization"] = "ratio"
    units["tracing.overhead_s"] = "s"
    return units


def _innermost(spans, t_ms: float):
    best = None
    for s in spans:
        lo = s.wall0 * 1e3
        hi = lo + (s.t1 - s.t0) * 1e3
        if lo <= t_ms <= hi and (best is None or s.wall0 > best.wall0):
            best = s
    return best


def per_layer(run, setup: dict, measured: list[dict], ingest) -> dict:
    units = metric_units()
    v = dict.fromkeys(units, 0.0)
    spans = [s for s in run.tracer.spans if s.op is not None]
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.t0, s.t1))

    for s in spans:
        dur = s.t1 - s.t0
        own = self_time(s.t0, s.t1, children.get(s.sid, []))
        short = s.name.rsplit(".", 1)[-1]
        if s.layer == "plans":
            v["plans.build_s"] += own
        elif s.layer == "staging":
            if short == "stage":
                v["staging.calls"] += 1
                v["staging.s"] += dur
            elif short == "release_staged":
                v["staging.release_s"] += dur
        elif s.layer == "sources":
            if short == "load_table":
                v["sources.load_table.calls"] += 1
                v["sources.load_table_s"] += dur
            elif short == "spread":
                v["sources.spread.calls"] += 1
                v["sources.spread.fired"] += int(bool(s.note))
            elif short == "table_rows":
                v["sources.table_rows_s"] += dur
        elif s.layer == "functions":
            v["functions.calls"] += 1
            v["functions.s"] += own
        elif s.layer.startswith("operators.") and s.layer[10:] in OPERATOR_MODULES:
            v[f"{s.layer}.calls"] += 1
            v[f"{s.layer}.s"] += own

    # jobs: each to the innermost span open when it was submitted
    by_op: dict[str, list] = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    sources = [o for o in run.ops if "work" in o] or [p for p in measured if "work" in p]
    for src in sources:
        op_key = f"{src['pass']}:{src.get('name', 'ingest')}"
        for t_ms in src.get("job_submit_ms", []):
            if t_ms is None:
                continue
            s = _innermost(by_op.get(op_key, []), t_ms)
            if s is None:
                continue
            short = s.name.rsplit(".", 1)[-1]
            if s.layer == "staging" and short == "stage":
                v["staging.jobs"] += 1
            elif s.layer.startswith("operators.") and s.layer[10:] in OPERATOR_MODULES:
                v[f"{s.layer}.jobs"] += 1
        w = src["work"]
        for name, (key, _) in WORK_METRICS.items():
            v[name] += w[key]
        v["executor.peak_mem_bytes"] = max(v["executor.peak_mem_bytes"], w["peak_mem_bytes"])
        v["plans.build_jobs"] += src.get("build_jobs", 0)
        v["staging.bytes"] += src.get("staged_bytes", 0)
        v["catalyst.plan_s"] += src.get("catalyst_plan_s", 0.0)

    exec_wall = sum(p["wall_s"] for p in measured)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
    if exec_wall > 0:
        v["executor.utilization"] = v["executor.run_s"] / (cores * exec_wall)

    for p in measured:
        for d in p.get("progress", []):
            v["streaming.batches"] += 1
            for name, keys in STREAMING.items():
                v[name] += sum(d.get(k, 0) for k in keys) / 1e3
        if ingest is not None and "store_bytes" in p:
            v["store.files_before"] += p["store_files_before"]
            v["store.files_after"] += p["store_files_after"]
            v["store.bytes"] += p["store_bytes"]
            v["store.compact_s"] += p["compact_s"]
            v["store.consume_s"] += p["consume_s"]
            v["store.bytes_per_doc_byte"] += p["store_bytes"] / ingest.text_bytes
            v["ingest.docs_per_s"] += ingest.n_docs / p["drain_s"]

    n = max(len(measured), 1)
    peak = v["executor.peak_mem_bytes"]
    util = v["executor.utilization"]
    out = {k: x / n for k, x in v.items()}
    out["session.start_s"] = setup["start_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    out["session.jvm_peak_rss_mb"] = run.rss_mb
    out["executor.peak_mem_bytes"] = peak
    out["executor.utilization"] = util
    return {k: {"value": out[k], "unit": units[k]} for k in units}
