"""Batch table catalog over the driver-generated parquet fixtures.

The reference's only queryable store is the Roblox instance tree plus a
handful of in-memory vectors (SURVEY.md §1.1 D2-D5). The rebuild's catalog
is a conventional star schema: the driver fixtures (TESTDATA.md).

Scale notes: reads are plain ``spark.read.parquet`` so partition pruning,
predicate pushdown and column pruning all apply; nothing here collects to
the driver. At 100 TB the same call reads a partitioned directory tree —
callers never assume single-file layout.

Schema memo: a bare ``spark.read.parquet`` runs one footer-reading
Spark job per call to infer the schema. ``read_parquet`` keeps the
schema Spark inferred on the first read of a path and reads it again
with ``spark.read.schema(...)``, which submits no job. The memo holds
one entry per path, checked against the path's identity (size and mtime
of every file under it), so a rewritten table or a store generation
that gained a batch is re-inferred, and against the parquet confs that
shape inference, so a session with other settings never sees a stale
schema. ``load_table``, the persisted IVF index's metadata and every
generation-store read go through it.

Partitioning: ``spread`` sizes a compute-heavy frame's partitions from
its rows, read from parquet footers (memoized per file identity like
the schemas), not from the host's core count; see its docstring.
``table_rows`` counts a fixture table from the same memoized footers.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Confs that change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

_schemas: dict[str, tuple[tuple, StructType]] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Identity of a parquet file (or of every file under a directory)
    plus the inference confs in effect; None for a path that does not
    exist on the local filesystem (a URI path, or one Spark then fails
    to find with its own error): such reads always infer."""
    if not os.path.exists(path):
        return None
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, f)
            for root, _, names in os.walk(path)
            for f in names
        )
    else:
        files = [path]
    stats = []
    for f in files:
        st = os.stat(f)
        stats.append((f, st.st_size, st.st_mtime_ns))
    confs = tuple(spark.conf.get(c) for c in _SCHEMA_CONFS)
    return tuple(stats), confs


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only when the
    path's files or the inference confs changed since the last read of
    ``path`` (module docstring)."""
    key = _schema_key(spark, path)
    hit = _schemas.get(path)
    if key is not None and hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _schemas[path] = (key, df.schema)
    return df


_collected: dict[str, tuple[tuple, tuple]] = {}


def collect_parquet(spark: SparkSession, path: str) -> tuple:
    """The rows of ``read_parquet(spark, path)``, collected by a Spark
    job only when the path's files or the inference confs changed since
    the last collect of ``path`` (the schema memo's key). For small
    tables that only a rewrite changes, such as an IVF index's
    centroids and codebooks."""
    key = _schema_key(spark, path)
    hit = _collected.get(path)
    if key is not None and hit is not None and hit[0] == key:
        return hit[1]
    rows = tuple(read_parquet(spark, path).collect())
    if key is not None:
        _collected[path] = (key, rows)
    return rows


def _table_path(sf_dir: str, name: str) -> str:
    """``<dir>/<name>.parquet`` (the generated fixtures' single-file
    layout) when that file exists, else the partitioned directory
    ``<dir>/<name>/``."""
    file_path = os.path.join(sf_dir, f"{name}.parquet")
    return file_path if os.path.exists(file_path) else os.path.join(sf_dir, name)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (``_table_path``). Only the first read of
    a given file infers its schema (module docstring)."""
    path = _table_path(sf_dir, name)
    if name == "events":
        # TIMESTAMP(NANOS) columns need this runtime conf; our session
        # factory sets it, but the driver hands entry()/queries() a
        # session of ITS OWN — be self-sufficient on foreign sessions.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, path)
    # With spark.sql.legacy.parquet.nanosAsLong, TIMESTAMP(NANOS) columns
    # surface as LongType nanos; normalize to TimestampType by truncating
    # to micros (identical to DuckDB's ns -> us conversion). Applies only
    # to the known event-time column.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # integer DIV (not double /): ns-since-epoch exceeds double's
        # 53-bit mantissa, float division would corrupt microseconds
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


# Rows one task of a spread() frame is sized for; spread()'s docstring
# derives the value.
ROWS_PER_TASK = 1024

_footer_rows: dict[str, tuple[tuple[int, int], int]] = {}


def task_count(sc, rows: int) -> int:
    """Tasks for a frame of ``rows`` rows: one per ROWS_PER_TASK rows,
    at least one, at most ``sc.defaultParallelism``."""
    return max(1, min(sc.defaultParallelism, -(-rows // ROWS_PER_TASK)))


def _file_rows(uri: str) -> int | None:
    """Row count of one parquet file from its footer, memoized by the
    file's identity (size and mtime, as ``read_parquet``'s schema memo);
    None for a file off the local filesystem."""
    parsed = urlparse(uri)
    if parsed.scheme not in ("", "file"):
        return None
    path = url2pathname(parsed.path)
    try:
        st = os.stat(path)
    except OSError:
        return None
    key = (st.st_size, st.st_mtime_ns)
    hit = _footer_rows.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    import pyarrow.parquet as pq

    rows = pq.read_metadata(path).num_rows
    _footer_rows[path] = (key, rows)
    return rows


def _scan_rows(df: DataFrame, cap: int) -> int | None:
    """An upper bound on ``df``'s rows from parquet footers, with no
    Spark job: the sum of the footer row counts of ``df.inputFiles()``
    when the optimized plan is Projects and Filters over one parquet
    file scan (those nodes never add rows); None for any other plan.
    Stops reading footers once the sum passes ``cap``."""
    plan = df._jdf.queryExecution().optimizedPlan()
    while plan.nodeName() in ("Project", "Filter"):
        plan = plan.child()
    if plan.nodeName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
    ):
        return None
    rows = 0
    for uri in df.inputFiles():
        n = _file_rows(uri)
        if n is None:
            return None
        rows += n
        if rows > cap:
            break
    return rows


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition a frame that has fewer partitions than
    its rows need; returns ``df`` itself when it does not repartition.

    Spark sizes scan partitions by BYTES (maxPartitionBytes), so a
    parquet file of heavy rows (documents to shingle and hash,
    embeddings to score) lands in ONE task and serializes the whole
    pipeline on one core. Compute-heavy operators call this before
    their expensive projection. The target is sized from the input,
    not the host: ``task_count`` of the frame's rows, i.e. one task per
    ROWS_PER_TASK rows, capped at ``sc.defaultParallelism``. The rows
    come from parquet footers (``_scan_rows``), so sizing submits no
    job; a frame whose rows no footer bounds (joins, aggregates,
    generators, in-memory frames, and staged frames and ``foreachBatch``
    micro-batches, which are ``LogicalRDD``s) targets
    ``sc.defaultParallelism``. So a frame of a few hundred rows stays
    in its one partition on every host instead of paying a task's fixed
    cost per core, and a plan's tasks follow the core count only above
    ``defaultParallelism * ROWS_PER_TASK`` rows.

    ROWS_PER_TASK = 1,024 weighs the fixed cost of a task against the
    cost of its rows. One Python-worker task (mapInPandas, pandas UDF)
    costs about 0.28 s of CPU before it sees a row, most of it pyspark's
    per-task ``importlib.invalidate_caches()``, after which CPython's
    zipimport re-reads the shipped pyspark.zip directory once per
    zipimporter (docs/OPERATIONS.md "Shuffle partitioning"). The
    heaviest per-row Python work in the engine, the multimodal decode,
    costs about 0.15 ms a row, so a task breaks even on its fixed cost
    near 1,900 rows. 1,024 keeps frames below that in one task (the
    500-row documents and embeddings tables), while frames of thousands
    of rows (sf0.1's 5,000 documents) still spread to every core, where
    JVM-only consumers such as shingling and cosine scoring pay
    milliseconds per task.

    At 100 TB the scan
    already yields at least the target's partitions and this is a
    no-op: the check never ADDS a shuffle to a well-partitioned input.
    A streaming frame passes through untouched (it has no ``.rdd`` to
    probe, and micro-batch sizing is the trigger's job).
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    rows = _scan_rows(df, sc.defaultParallelism * ROWS_PER_TASK)
    target = sc.defaultParallelism if rows is None else task_count(sc, rows)
    # .rdd plans the query through javaToPython: skip it when one
    # partition is all the frame needs
    if target == 1 or df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from parquet FOOTER metadata —
    no Spark job. Several queries size a modulus from COUNT(*) of their
    input table; counting through the DataFrame executed a whole job
    (and, when the frame was already spread(), its round-robin exchange
    too) to learn a number every parquet footer already stores. Same
    value as COUNT(*) by the parquet spec: the sum of the memoized
    ``_file_rows`` over the table's files, skipping files and
    directories whose names start with ``_`` or ``.`` (``_SUCCESS``,
    ``.crc`` checksums), as Spark's and pyarrow's listings do."""
    path = _table_path(sf_dir, name)
    if not os.path.isdir(path):
        return _file_rows(path)
    rows = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        rows += sum(
            _file_rows(os.path.join(root, f))
            for f in files
            if not f.startswith(("_", "."))
        )
    return rows


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view so ``spark.sql`` plans can
    reference them by name (the engine's ``loadstring`` analogue —
    SURVEY.md §2.12: dynamic query compilation)."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
