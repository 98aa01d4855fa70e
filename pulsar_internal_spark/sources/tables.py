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
"""

from __future__ import annotations

import os

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Accepts either ``<dir>/<name>.parquet``
    (driver layout) or a partitioned directory ``<dir>/<name>/``.
    Only the first read of a given file infers its schema (module
    docstring)."""
    file_path = os.path.join(sf_dir, f"{name}.parquet")
    dir_path = os.path.join(sf_dir, name)
    path = file_path if os.path.exists(file_path) else dir_path
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


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition iff the input is under-partitioned.

    Spark sizes scan partitions by BYTES (maxPartitionBytes), so a small
    parquet file of heavy rows (documents to shingle+hash, embeddings to
    score) lands in ONE task and serializes the whole pipeline on one
    core. Compute-heavy operators call this before their expensive
    projection: a 5k-row shuffle is microseconds; a 31-core idle stage is
    seconds. At 100 TB the scan already yields >= parallelism partitions
    and this is a no-op — the check keeps it from ever ADDING a shuffle
    to a well-partitioned input.
    """
    if df.isStreaming:
        # a streaming DataFrame has no .rdd to probe (and micro-batch
        # sizing is the trigger's job) — pass through untouched
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from parquet FOOTER metadata —
    no Spark job. Several queries size a modulus from COUNT(*) of their
    input table; counting through the DataFrame executed a whole job
    (and, when the frame was already spread(), its round-robin exchange
    too) to learn a number every parquet footer already stores. Same
    value as COUNT(*) by the parquet spec; at 100 TB this is a
    footers-only metadata read, exactly what a catalog would serve."""
    import pyarrow.dataset as pads

    file_path = os.path.join(sf_dir, f"{name}.parquet")
    dir_path = os.path.join(sf_dir, name)
    path = file_path if os.path.exists(file_path) else dir_path
    return pads.dataset(path, format="parquet").count_rows()


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
