#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs are the engine's sf0.001
fixture tables, the ones ``tests/conftest.py`` reads, so every run does
the same work; the seed sets the query order of every pass and which
document goes into which ingest drop. Set-up (program import, JVM,
first-hit codegen, Python workers, landing the ingest backlog) is timed
as ``setup_s``; then a fixed number of passes, derived from
``--seconds`` and the workload's nominal pass time, run back to back
with one client; then every query's output from the first-hit pass is
checked against its DuckDB oracle (ingest: the sink's pairs against the
batch LSH operator).

``--trace 0`` prints the bounded end-to-end metrics (``BOUNDED``); the
record keeps the wall-clock ones too. ``--trace 1`` installs spans
around the engine's public functions, runs the same number of passes,
at least four, with every other pair traced (U T T U ...), and prints
the per-layer metrics. Every run also appends a full record
(per-operation latencies, ledger, spans summary, versions) to
``.perfbench_work/results.jsonl`` unless ``--out`` names another file.
Nothing is written outside the repository's ``.perfbench_work/``
directory.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402
from perfbench.stats import tail  # noqa: E402

PACKAGE = "pulsar_internal_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"
# The end-to-end metrics BENCHMARK.json bounds, printed by ``--trace 0``.
# The wall-clock ones (wall_s, latency_p50_s, latency_tail_s) are in
# every record but not bounded: on a shared VM they follow the share of
# CPU time the hypervisor steals, which swung between 0 and 18 % within
# minutes, and spread 0.3-0.4 between runs on the workloads made of
# chains of small jobs. CPU time is not charged for stolen time.
BOUNDED = ("setup_s", "cpu_s")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=W.RUNNABLE)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", default=os.path.join(WORK, "results.jsonl"))
    return p.parse_args(argv)


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def prepare_env(run_dir: str) -> None:
    """Point every scratch location of Spark, the JVM and the Python
    workers inside ``run_dir``, and size the session for the host."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # C1 only: a run's JVM lives under a minute, far less than C2 needs
    # to settle. With C2 a pass's CPU time fell by a third over the three
    # passes after the first-hit one, by an amount that changed from run
    # to run; with C1 it falls by a tenth to a fifth, from half as much.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}"
    )


def start_session(run_dir: str):
    from pulsar_internal_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and SQL execution of the run in the
            # status stores the ledger reads
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def host_jiffies() -> tuple[int, int]:
    """(all, stolen) CPU time of the host so far, in clock ticks: stolen
    ticks are those the hypervisor gave to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by this process plus ``root_pid`` (the
    Spark JVM) and every process under it (the Python workers),
    reaped children included. Stolen time is not charged to a process,
    so this spreads less than wall time on a shared host."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # ended while we looked
            continue
        rest = stat[stat.rfind(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(rest[1])
        ticks[pid] = sum(int(x) for x in rest[11:15])
    total, todo = 0, [root_pid]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    own = os.times()
    return total / os.sysconf("SC_CLK_TCK") + own.user + own.system


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


class _Collected:
    """A collected result in the shape tests/oracle_harness.compare wants."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.ops: list[dict] = []
        self.passes: list[dict] = []
        self.failed = 0
        self.attempted = 0
        self.problems: list[str] = []
        self.tracer = None
        self.ledger = None

    # -- batch -----------------------------------------------------------

    def batch_setup(self, spark, data_dir: str) -> None:
        from pulsar_internal_spark.plans.queries import QUERIES
        from pulsar_internal_spark.staging import release_staged

        self.results = {}
        self.first_hit = {}
        for name in W.pass_order(W.BATCH[self.args.workload], self.args.seed, -1):
            t0 = time.perf_counter()
            try:
                self.results[name] = QUERIES[name](spark, data_dir).toPandas()
            except Exception as e:  # counted in the check
                self.results[name] = e
            self.first_hit[name] = time.perf_counter() - t0
            release_staged(spark)

    def batch_pass(self, spark, data_dir: str, pass_no: int, traced: bool) -> dict:
        from pulsar_internal_spark.plans.queries import QUERIES
        from pulsar_internal_spark.staging import release_staged

        t_pass, cpu0, host0 = time.perf_counter(), self.cpu(), host_jiffies()
        ops = []
        for name in W.pass_order(W.BATCH[self.args.workload], self.args.seed, pass_no):
            op = {"pass": pass_no, "name": name, "traced": traced}
            if traced:
                self.tracer.op = f"{pass_no}:{name}"
                m0 = self.ledger.mark()
            t0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, data_dir)
                t_built = time.perf_counter()
                if traced:
                    op["build_s"] = t_built - t0
                    m_built = self.ledger.mark()
                    df._jdf.queryExecution().executedPlan()
                    op["catalyst_plan_s"] = time.perf_counter() - t_built
                W.materialize(df)
            except Exception as e:
                op["error"] = repr(e)[:500]
                self.failed += 1
            op["latency_s"] = time.perf_counter() - t0
            self.attempted += 1
            if traced:
                m1 = self.ledger.mark()
                op["staged_bytes"] = self.ledger.staged_bytes()
                op["work"] = self.ledger.work(m0, m1)
                if "build_s" in op:
                    op["build_jobs"] = m_built[0] - m0[0]
                op["job_submit_ms"] = [
                    self.ledger.job_submit_ms(j) for j in range(m0[0], m1[0])
                ]
            release_staged(spark)
            if traced:
                self.tracer.op = None
            ops.append(op)
        self.ops += ops
        # a traced pass's wall includes its status-store reads and forced
        # planning: all of it is the cost of tracing
        return {"pass": pass_no, "wall_s": time.perf_counter() - t_pass,
                "traced": traced, **self.pass_cpu(cpu0, host0)}

    def cpu(self) -> float:
        return tree_cpu_s(self.jvm_pid)

    def pass_cpu(self, cpu0: float, host0: tuple[int, int]) -> dict:
        all1, stolen1 = host_jiffies()
        return {"cpu_s": self.cpu() - cpu0,
                "host_steal": (stolen1 - host0[1]) / max(all1 - host0[0], 1)}

    def batch_check(self, data_dir: str) -> None:
        from pulsar_internal_spark.plans.queries import oracle_sql
        from tests.oracle_harness import FLOAT_TOL, compare, run_oracle

        oracles = oracle_sql()
        for name, got in sorted(self.results.items()):
            self.attempted += 1
            try:
                if isinstance(got, Exception):
                    problems = [repr(got)[:300]]
                elif name in oracles:
                    problems = compare(
                        _Collected(got), run_oracle(oracles[name], data_dir),
                        FLOAT_TOL.get(name),
                    )
                else:
                    problems = [] if len(got) else ["no rows"]
            except Exception as e:
                problems = [repr(e)[:300]]
            if problems:
                self.failed += 1
                self.problems.append(f"{name}: {problems[:3]}")

    # -- ingest ----------------------------------------------------------

    def ingest_pass(self, ingest, pass_no: int, traced: bool) -> dict:
        ops = []

        def on_op(name, seconds):
            ops.append({"pass": pass_no, "name": name, "latency_s": seconds,
                        "traced": traced})

        if traced:
            self.tracer.op = f"{pass_no}:ingest"
            m0 = self.ledger.mark()
        t0, cpu0, host0 = time.perf_counter(), self.cpu(), host_jiffies()
        try:
            rec = ingest.run_pass(on_op)
        except Exception as e:
            self.failed += 1
            self.problems.append(f"ingest pass {pass_no}: {e!r}"[:500])
            rec = {"wall_s": time.perf_counter() - t0, "error": repr(e)[:500],
                   "pairs": None}
        rec.update(self.pass_cpu(cpu0, host0))
        self.attempted += len(ops) + 3  # micro-batches and maintenance steps
        if traced:
            m1 = self.ledger.mark()
            rec["work"] = self.ledger.work(m0, m1)
            rec["job_submit_ms"] = [
                self.ledger.job_submit_ms(j) for j in range(m0[0], m1[0])
            ]
            self.tracer.op = None
        self.ops += ops
        self.last_pairs = rec.pop("pairs")
        return {"pass": pass_no, "traced": traced, **rec}

    def ingest_check(self, ingest) -> None:
        self.attempted += 1
        try:
            want = ingest.expected_pairs()
        except Exception as e:
            self.failed += 1
            self.problems.append(f"ingest oracle: {e!r}"[:500])
            return
        self.expected_pairs = len(want)
        if self.last_pairs is None:
            self.failed += 1
            self.problems.append("ingest pairs: the last pass failed")
        elif self.last_pairs != want:
            self.failed += 1
            self.problems.append(
                f"ingest pairs: {len(self.last_pairs - want)} extra, "
                f"{len(want - self.last_pairs)} missing of {len(want)}"
            )


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}")
        return 2
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return measure(args, run_dir, real_stdout)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str, real_stdout) -> int:
    from tests.conftest import SF_DIR as data_dir

    if not os.path.isfile(os.path.join(data_dir, "documents.parquet")):
        log(f"perfbench: no fixture tables in {data_dir}")
        return 2
    prepare_env(run_dir)

    run = Run(args)
    t_setup0 = time.perf_counter()
    import pulsar_internal_spark.plans.queries  # noqa: F401

    spark = start_session(run_dir)
    run.jvm_pid = jvm_pid(spark)
    t_session = time.perf_counter()
    ingest = None
    try:
        if args.workload == "ingest":
            ingest = W.Ingest(spark, os.path.join(run_dir, "ingest"),
                              os.path.join(data_dir, "documents.parquet"), args.seed)
            ingest.land()
            run.ingest_pass(ingest, -1, False)  # first-hit pass
            run.ops.clear()
        else:
            run.batch_setup(spark, data_dir)
        t_ready = time.perf_counter()

        def one_pass(pass_no, traced):
            if ingest is not None:
                return run.ingest_pass(ingest, pass_no, traced)
            return run.batch_pass(spark, data_dir, pass_no, traced)

        n_passes = W.passes(args.workload, args.seconds)
        schedule = [False] * n_passes
        if args.trace:
            from perfbench import trace
            from perfbench.ledger import Ledger

            # untraced passes among the traced ones, for the tracing
            # overhead; at least U T T U, so the first pass, still the
            # slowest, is not the only untraced one
            schedule = W.alternate(max(n_passes, 4))
            run.tracer = trace.Tracer()
            # spread() fired when it returned a repartitioned frame
            run.tracer.probes[f"{PACKAGE}.sources.tables.spread"] = (
                lambda a, result: result is not a[0]
            )
            run.ledger = Ledger(spark)
            trace.install(run.tracer, PACKAGE)
        t_window = time.perf_counter()
        for pass_no, traced in enumerate(schedule):
            if run.tracer is not None:
                run.tracer.enabled = traced
            run.passes.append(one_pass(pass_no, traced))
        t_window_end = time.perf_counter()
        if ingest is not None:
            run.ingest_check(ingest)
        else:
            run.batch_check(data_dir)
        t_checked = time.perf_counter()
        run.rss_mb = jvm_peak_rss_mb(run.jvm_pid)
        versions = {
            "spark": spark.version,
            "python": platform.python_version(),
            "data_dir": data_dir,
        }
    finally:
        stop_session(spark)

    record = summarize(
        args, run,
        setup={
            "setup_s": t_ready - T_START,
            "start_s": t_session - t_setup0,
            "warmup_s": t_ready - t_session,
        },
        window_s=t_window_end - t_window,
        check_s=t_checked - t_window_end,
        versions=versions,
        ingest=ingest,
    )
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "a") as f:
        f.write(json.dumps(record) + "\n")
    if run.tracer is not None:
        spans_path = os.path.join(
            os.path.dirname(os.path.abspath(args.out)),
            f"spans-{args.workload}-{args.seed}-{os.getpid()}.jsonl",
        )
        with open(spans_path, "w") as f:
            for span in run.tracer.spans:
                f.write(json.dumps(dataclasses.asdict(span), default=str) + "\n")
    for p in run.problems:
        log("CHECK FAILED", p)
    line = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": record["per_layer"] if args.trace else {
            k: record["end_to_end"][k] for k in BOUNDED
        },
    }
    real_stdout.write(json.dumps(line) + "\n")
    real_stdout.flush()
    return 0


def summarize(args, run, setup, window_s, check_s, versions, ingest) -> dict:
    measured = [p for p in run.passes if p["traced"] == bool(args.trace)]
    # a pass that failed before reporting its operations counts as one
    typical = per_op_medians(run, bool(args.trace)) or {
        "pass": statistics.median(p["wall_s"] for p in measured)
    }
    lat = [o["latency_s"] for o in run.ops if o["traced"] == bool(args.trace)]
    lat = lat or list(typical.values())
    tail_s, tail_pct, n = tail(lat)
    if tail_pct == 100.0:
        # too few samples for a percentile above the median with ten
        # beyond it: the slowest operation's median latency instead
        tail_s = max(typical.values())
    e2e = {
        "setup_s": (setup["setup_s"], "s"),
        "wall_s": (pass_wall(run, measured, ingest is not None), "s"),
        "latency_p50_s": (statistics.median(typical.values()), "s"),
        "latency_tail_s": (tail_s, "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in measured), "s"),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "error_rate": run.failed / max(run.attempted, 1),
        "problems": run.problems,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "latency_tail_percentile": tail_pct,
        "jvm_peak_rss_mb": run.rss_mb,
        "latency_samples": n,
        "passes": [
            {k: v for k, v in p.items() if k not in ("work", "job_submit_ms")}
            for p in run.passes
        ],
        "window_s": window_s,
        "check_s": check_s,
        "host_steal": statistics.median(p["host_steal"] for p in measured),
        "first_hit_s": getattr(run, "first_hit", None),
        "setup": setup,
        "ops": [{k: v for k, v in o.items() if k != "job_submit_ms"} for o in run.ops],
        "env": {
            "nproc": os.cpu_count(),
            "cpus_available": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "JAVA_TOOL_OPTIONS": os.environ.get("JAVA_TOOL_OPTIONS"),
            **versions,
        },
    }
    if ingest is not None:
        record["ingest"] = {
            "docs": ingest.n_docs,
            "drops": len(ingest.drops),
            "expected_pairs": getattr(run, "expected_pairs", None),
        }
    if args.trace:
        from perfbench.layers import per_layer

        record["tracing_overhead_s"] = statistics.median(
            p["wall_s"] for p in measured
        ) - statistics.median(p["wall_s"] for p in run.passes if not p["traced"])
        record["per_layer"] = per_layer(run, setup, measured, ingest)
        record["per_layer"]["tracing.overhead_s"]["value"] = record["tracing_overhead_s"]
        record["ledger"] = ledger_rows(run)
        record["spans"] = len(run.tracer.spans)  # written beside the results
    return record


def per_op_medians(run, traced: bool) -> dict[str, float]:
    """Each operation's (query's, or micro-batch index's) median latency
    over the passes."""
    samples: dict[str, list[float]] = {}
    for o in run.ops:
        if o["traced"] == traced:
            samples.setdefault(o["name"], []).append(o["latency_s"])
    return {name: statistics.median(xs) for name, xs in samples.items()}


def pass_wall(run, measured: list[dict], ingest: bool) -> float:
    """Wall time of one pass. Ingest: the median pass. Batch: the sum
    over queries of each query's median latency across the passes, so
    one stalled operation moves one query's median, not the pass."""
    if ingest:
        return statistics.median(p["wall_s"] for p in measured)
    return sum(per_op_medians(run, measured[0]["traced"]).values())


def ledger_rows(run) -> list[dict]:
    from perfbench.ledger import COUNTERS

    rows = []
    for o in run.ops:
        if "work" in o:
            rows.append({"pass": o["pass"], "name": o["name"],
                         **{k: o["work"][k] for k in COUNTERS}})
    for p in run.passes:
        if "work" in p:
            rows.append({"pass": p["pass"], "name": "ingest",
                         **{k: p["work"][k] for k in COUNTERS}})
    return rows


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != "0":
        # one string hash seed for this process and its Python workers, so
        # set and dict orders, and any plan built from them, repeat
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.exit(main())
