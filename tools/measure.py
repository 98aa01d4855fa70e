"""The measurement core every harness runs on: one session recipe, one
warm-up list, one noop materialization, one settle between timed
windows, and one per-window work ledger.

The counters come from the benchmark's own ``perfbench.ledger.Ledger``
(Spark's status stores read over py4j, UI off), so a tool number and a
benchmark number mean the same thing. Counter names are
``perfbench.ledger.COUNTERS`` verbatim, byte counters in bytes:

- ``jobs``: jobs submitted in the window (``stage()`` jobs, driver
  collects and the write itself);
- ``stages`` / ``tasks``: stages that ran (skipped stages re-use shuffle
  output and do no work) and their completed plus failed tasks;
- ``input_bytes``: bytes read from storage by tasks;
- ``shuffle_read_bytes`` / ``shuffle_write_bytes``: exchange bytes;
- ``spill_bytes``: memory PLUS disk spill (older ``SCALE_*.json``
  artifacts recorded memory spill alone as ``spill_mb``).

Beside the ledger, ``build_py4j_calls`` counts the py4j commands the
driver sends while the window's ``build()`` runs: plan construction
plus the eager ``stage()`` jobs' submission, no ledger reads
(``py4j_calls``). Like the ledger counters it repeats exactly from run
to run of the same tree.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402

from perfbench.ledger import COUNTERS, Ledger  # noqa: E402
from pulsar_internal_spark.plans.queries import QUERIES  # noqa: E402
from pulsar_internal_spark.session import get_spark  # noqa: E402
from pulsar_internal_spark.staging import release_staged  # noqa: E402

WARM_SF = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")

# Keep every job, stage and SQL execution of a run in the status stores
# the ledger reads. Needed with the UI off too: at the default retention
# the store evicts skipped stages once it holds 1,000, and a full-suite
# run then fails mid-way with "No stage with id ...".
RETENTION = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.ui.showConsoleProgress": "false",
}


def reserve_stdout():
    """Return the real stdout and point fd 1 at stderr, so a harness
    can print exactly one machine-parsable line. The py4j-launched JVM
    inherits fd 1 and writes startup noise ("WARNING: Using incubator
    modules", Ivy resolution, log4j banner) there, so call this BEFORE
    the JVM spawns."""
    real = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    return real


def session(app_name: str, extra_conf: dict[str, str] | None = None):
    """The tuned session with the ledger's retention confs, warmed."""
    spark = get_spark(app_name=app_name, extra_conf={**RETENTION, **(extra_conf or {})})
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark)
    return spark


def materialize(df) -> None:
    """Full plan execution into the ``noop`` sink: every column is
    evaluated, nothing is collected to the driver or written to disk."""
    df.write.mode("overwrite").format("noop").save()


def _warm_pool(spark) -> None:
    """Spawn the FULL Python worker pool: a few-partition pandas UDF warm
    leaves most per-partition workers cold, and the first wide
    mapInPandas query would pay ~2 s of worker spawn for them. The UDF
    is created fresh per call: a UserDefinedFunction binds to the first
    session's SparkContext, and reuse after spark.stop() would wrap dead
    accumulator/broadcast refs."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _ident(s):
        return s

    cpus = spark.sparkContext.defaultParallelism
    materialize(spark.range(0, cpus * 4, 1, cpus).select(_ident("id")))


def warm(spark, sf_dir: str | None = None) -> None:
    """Pay JVM, codegen and worker start-up before any timed window.

    ``sf_dir`` is where the two scan warm-ups read (a harness passes
    the scale it measures); every other warm-up runs at the small
    ``SPARK_GRAFT_WARM_SF_DIR`` fixture, or at ``sf_dir`` if that is
    missing."""
    warm_sf = WARM_SF if os.path.isdir(WARM_SF) else sf_dir
    sf_dir = sf_dir or warm_sf
    # JVM + codegen + parquet footer reads, plus the lazily initialized
    # subsystems whose startup would otherwise be billed to whichever
    # query alphabetically hits them first — the Python UDF worker pool
    # (blake2 pays ~2 s of worker spawn + package shipping) and the IVF
    # serving plan's large codegen unit (argmin over the frozen centroid
    # literals; since round 7 the query serves frozen constants, so
    # MLlib class loading is no longer on any query path)
    materialize(QUERIES["class_filter_scan"](spark, sf_dir))
    # events-table scan path (nanos->timestamp) warms separately
    materialize(QUERIES["distinct_users_by_type"](spark, sf_dir))
    materialize(QUERIES["blake2_lookalike_nation"](spark, warm_sf))
    materialize(QUERIES["ivf_cosine_topk"](spark, warm_sf))
    # the shingle/HOF expression family (tokenize -> transform/element_at
    # n-grams -> explode/join) JIT-compiles some of the largest codegen
    # units in the suite (~5-13 s of first-hit compile at sf0.1, billed
    # to whichever n-gram query runs first alphabetically)
    materialize(QUERIES["benchmark_contamination"](spark, warm_sf))
    materialize(QUERIES["near_dup_jaccard"](spark, warm_sf))
    # the iterative components engine compiles a distinct plan per
    # round (propagate + hop + checkpoint) — first hit pays ~2-3 s of
    # codegen across the loop
    materialize(QUERIES["near_dup_clusters"](spark, warm_sf))
    # the WIDE sign-LSH banding (96-plane literal matrix -> 8 band
    # projections) and the IVF+PQ serving plan (encode argmin + probed
    # ADC folds) are the two largest Catalyst-analysis + codegen units
    # the suite builds — a cold session pays ~10-20 s of JVM JIT on
    # whichever of their queries runs first (measured round 11:
    # embedding_near_dup_wide cold build 12.2 s + exec 8.1 s vs 2.3 s
    # warm, same session)
    materialize(QUERIES["embedding_near_dup_wide"](spark, warm_sf))
    materialize(QUERIES["ivfpq_topk"](spark, warm_sf))
    # mapInPandas-over-binary is a distinct worker path from scalar
    # pandas UDFs (Arrow record batches + decode-module imports in every
    # worker) — first hit costs ~3-6 s
    materialize(QUERIES["multimodal_real_decode"](spark, warm_sf))
    release_staged(spark)
    _warm_pool(spark)


def settle(spark) -> None:
    """Reset the session between timed windows.

    Unpersist every staged frame (eager localCheckpoints, so each
    measured query leaves its intermediates pinned in the block
    manager). Without this the session accumulates the WHOLE RUN's
    staged frames — multi-GB at sf10 — and later queries run with
    storage-starved execution memory: measured as pq_adc_topk at sf0.1
    degrading 5.9 s (pass 1) -> 27.1 s (pass 2) in-bench while a
    clean-session loop of the same query holds a flat ~3.9 s. Queries
    never reuse another query's staged frames, so releasing between
    measurements is free.

    Then GC: unpersist is async, and a 48g heap full of a giant query's
    garbage otherwise bills its GC to whichever measurement runs next
    (pass-2 sf0.1 numbers 3x pass-1 for queries scheduled right after
    the sf10 runs — an ASYMMETRIC inflation that deflates that query's
    scale factor).

    Then restore the Python worker pool: memory pressure from a
    13-GB-spill query reaps idle pandas-UDF workers, and the NEXT
    mapInPandas query pays the ~4-6 s pool respawn inside its timed
    window (audio_near_dup measured 6.5-10.5 s in-bench vs 1.6-2.3 s
    isolated — it follows the sf10 spill giant). Cost when the pool is
    alive: ~100 ms."""
    release_staged(spark)
    spark.sparkContext._jvm.System.gc()
    _warm_pool(spark)


@contextlib.contextmanager
def py4j_calls(spark):
    """Count the py4j commands this thread sends inside the block:
    yields a one-item list whose value is the count so far. Every JVM
    call of the driver (Column construction, DataFrame methods, job
    submission) goes through the gateway client's ``send_command``.
    py4j's finalizer thread sends the releases of garbage-collected
    proxies through it too, whenever Python's GC runs; those are not
    counted, or the count would follow GC timing."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    owner = threading.get_ident()
    n = [0]

    def counted(*args, **kwargs):
        if threading.get_ident() == owner:
            n[0] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    try:
        yield n
    finally:
        client.send_command = send


def sample(spark, build) -> dict:
    """One timed window. ``build()`` returns a DataFrame, which is
    materialized, or does its own writes and returns anything else.
    The ledger is read after the window closes, the session is settled
    and the listener bus has delivered every event of the window to
    the status stores (their task and SQL metrics are filled in
    asynchronously), so none of that is billed to the window.
    ``marks`` are the window's ledger marks, for readers of the same
    stores (tools/plan_diagnose.py)."""
    ledger = Ledger(spark)
    m0 = ledger.mark()
    t0 = time.perf_counter()
    with py4j_calls(spark) as calls:
        df = build()
    t1 = time.perf_counter()
    m_built = ledger.mark()
    if isinstance(df, DataFrame):
        materialize(df)
    t2 = time.perf_counter()
    m1 = ledger.mark()
    settle(spark)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    work = ledger.work(m0, m1)
    return {
        "secs": t2 - t0,
        "build_s": t1 - t0,
        "exec_s": t2 - t1,
        "build_jobs": m_built[0] - m0[0],
        "build_py4j_calls": calls[0],
        **{k: work[k] for k in COUNTERS},
        "marks": (m0, m1),
    }


def summarize(samples: list[dict]) -> dict:
    """Every wall sample, the min and median wall (steal is additive
    noise, so the min is the steal-robust estimate), and the median of
    everything else."""
    secs = [s["secs"] for s in samples]
    out = {
        "secs_all": [round(x, 3) for x in secs],
        "secs_min": round(min(secs), 3),
        "secs_median": round(statistics.median(secs), 3),
    }
    for k in ("build_s", "exec_s", "build_jobs", "build_py4j_calls", *COUNTERS):
        med = statistics.median(s[k] for s in samples)
        out[k] = round(med, 3) if k.endswith("_s") or med % 1 else int(med)
    return out


def measure(spark, build, runs: int) -> dict:
    """``runs`` back-to-back windows of ``build``, summarized."""
    return summarize([sample(spark, build) for _ in range(runs)])
