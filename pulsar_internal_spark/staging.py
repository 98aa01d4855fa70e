"""Multi-consumer frame staging — one idiom for the whole repo.

Several operators materialize an expensive intermediate frame exactly
once because it feeds multiple plan lineages (decoded fingerprints,
signed k-grams, iterative frontiers): re-deriving it per consumer
multiplies the dominant cost, and iterative operators additionally
need the lineage CUT (fold-of-fold plans compound across rounds).

``stage(df)`` is the single idiom every such site uses. The deployment
decides how it stages, through Spark's own checkpoint directory, so the
SAME code is correct on a laptop and a cluster:

- no checkpoint directory (the default): ``localCheckpoint()`` at
  ``DISK_ONLY`` — blocks on the executors' local disks, never on heap,
  so staged frames do not compete with execution memory (at sf100 the
  staged candidate-pair frame is tens of GB, and the deserialized
  default level OOMed a 48g heap). No distributed filesystem needed;
  right for local[*] and for clusters with stable executors, NOT safe
  under executor loss (lineage was truncated, so a lost block kills
  the job).
- a checkpoint directory (``spark.checkpoint.dir`` at context start,
  or ``SparkContext.setCheckpointDir``): ``checkpoint()`` into it —
  reliable staging that survives executor loss, at the cost of a
  write+read through the checkpoint filesystem (hdfs://, s3a://, ...
  — anything the Hadoop FileSystem API serves).

Both are EAGER: the frame is computed at stage() time, which callers
rely on for side-effect ordering (e.g. span/signature stores append
the staged batch before deriving its candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def stage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once for multi-consumer / iterative reuse:
    reliable ``checkpoint()`` when the context has a checkpoint
    directory, else a ``DISK_ONLY`` ``localCheckpoint()``."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)


def persistent_rdd_ids(spark) -> set:
    """Snapshot the ids of every currently-persisted RDD. Take one
    BEFORE a stage() call, then pass it to :func:`release_staged` as
    ``keep`` to release only the blocks that staging added — the
    targeted counterpart for operators that stage a self-contained
    intermediate (``DataFrame.unpersist()`` does NOT release a
    localCheckpoint's pinned RDD blocks; it only uncaches CacheManager
    entries, so per-frame release must go through RDD ids)."""
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())


def release_staged(spark, keep: set | None = None) -> None:
    """Unpersist persisted RDDs in the context — the counterpart of
    stage(): staged frames are eager localCheckpoints pinned in the
    block manager, and a long-running process that measures many
    queries back-to-back (bench.py, tools/scale_bench.py) must release
    each query's intermediates or later queries run storage-starved
    (tools/measure.settle records the measured pathology). Queries
    never reuse another query's staged frames, so releasing between
    measurements is always safe.

    ``keep``: a :func:`persistent_rdd_ids` snapshot taken before the
    staging being released — those ids survive, everything added since
    is unpersisted. None (the bench default) releases everything.

    This is the ONE call site (with persistent_rdd_ids) for the
    private py4j handle ``_jsc.getPersistentRDDs`` (there is no public
    PySpark enumeration of persisted RDDs); a Spark upgrade that moves
    it needs exactly this helper fixed."""
    for rid, jrdd in dict(
        spark.sparkContext._jsc.getPersistentRDDs()
    ).items():
        if keep is None or rid not in keep:
            jrdd.unpersist(False)
