"""SparkSession factory tuned for the engine.

Scale posture (100 TB target, tested on local[32]):
  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
    and dynamic broadcast-join conversion replace any hand-scheduling.
  - ``spark.sql.shuffle.partitions`` defaults to 2x local cores here; on a
    real cluster this is overridden to ~2-3x total executor cores (AQE
    coalesces down, so erring high is safe).
  - Arrow enabled for the Pandas-UDF exact-parity scalar layer.
  - Session timezone pinned to UTC so timestamp semantics match the DuckDB
    oracle and are cluster-location-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pulsar_internal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master``/``shuffle_partitions`` default from env (SPARK_GRAFT_CPUS)
    so the same code runs under the driver harness and on a cluster where
    ``master`` is supplied by spark-submit. With SPARK_GRAFT_CPUS unset
    the core count is the CPUs this process may run on (the rule
    perfbench/run.py uses), so a tool run without it does not run
    32-task stages on a 4-vCPU host.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    # Input-scaled shuffle partitioning (round 9). A fixed partition
    # count is wrong in BOTH directions across data scales: at sf0.1 a
    # high count wastes task overhead, and at sf10 a low count puts
    # gigabytes of sort/aggregate state in each task — measured as
    # user_triangle_counts spilling 13.3 GB memory + 2.8 GB disk at
    # sf10 on fixed 32 partitions (SCALE_r08). The Spark-native fix is
    # to let AQE size partitions by BYTES: every exchange STARTS at
    # initialPartitionNum reducers and coalesces down to the advisory
    # partition size (64 MB default, parallelism-first at small data),
    # so the effective partition count scales with each exchange's
    # actual shuffle bytes — ~cores at sf0.1, hundreds at sf10, with
    # per-task state bounded by the advisory size either way. The
    # ceiling covers initial*advisory = 64 GB per exchange before
    # per-task state grows again; pass extra_conf beyond that.
    # shuffle.partitions stays low as the non-AQE floor (streaming state
    # stores and any plan AQE cannot coalesce still use it).
    initial_partitions = max(cpus * 32, 1024)

    # Python workers must import this package (pandas UDFs pickle by
    # reference). Exporting PYTHONPATH before the JVM launches covers
    # local mode; shipping.ensure_shipped covers foreign sessions.
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo + (os.pathsep + existing if existing else "")
        )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_partitions),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet vectorized reader + pushdown are defaults; pinned
        # explicitly because the whole engine depends on them at scale.
        # parquet TIMESTAMP(NANOS) (events.ts) reads as long nanos; the
        # catalog (sources/tables.py) converts to TimestampType by
        # truncating to micros — same conversion DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        # long suites accumulate broadcast/shuffle state in the single
        # local-mode JVM; periodic context GC keeps full-GC stalls (seen
        # as multi-second pauses mid-suite) from building up — and the
        # explicit GC it triggers must be G1-concurrent, not a
        # stop-the-world full collection landing on a random query
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+ExplicitGCInvokesConcurrent",
        )
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    return b.getOrCreate()
