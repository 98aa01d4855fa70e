"""Multi-consumer frame staging — one switch for the whole repo.

Several operators materialize an expensive intermediate frame exactly
once because it feeds multiple plan lineages (decoded fingerprints,
signed k-grams, iterative frontiers): re-deriving it per consumer
multiplies the dominant cost, and iterative operators additionally
need the lineage CUT (fold-of-fold plans compound across rounds).

``stage(df)`` is the single idiom every such site uses, governed by a
runtime conf so the SAME code is correct on a laptop and a cluster:

- ``spark.pulsar.stage.mode=local`` (default): ``localCheckpoint()``
  — blocks cached on the executors, no distributed filesystem needed.
  Right for local[*] and for clusters with stable executors; NOT safe
  under executor loss/dynamic deallocation (a lost block kills the
  job, since lineage was truncated).
- ``spark.pulsar.stage.mode=reliable``: ``checkpoint()`` to the
  context's checkpoint directory (set by Spark's own
  ``spark.checkpoint.dir`` at context start, or by
  ``SparkContext.setCheckpointDir``) — survives executor loss, at the
  cost of a write+read through the checkpoint filesystem (hdfs://,
  s3a://, ... — anything the Hadoop FileSystem API serves).

Both are EAGER: the frame is computed at stage() time, which callers
rely on for side-effect ordering (e.g. span/signature stores append
the staged batch before deriving its candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

MODE_CONF = "spark.pulsar.stage.mode"
LEVEL_CONF = "spark.pulsar.stage.level"

# ``default`` keeps Spark's localCheckpoint level (MEMORY_AND_DISK_DESER,
# deserialized row objects on heap — fastest re-read, fine for the
# suite's normal frame sizes). ``disk_only`` never holds staged
# partitions on heap; re-reads stream from local disk. REQUIRED for the
# heavy scale tiers: at sf100 the staged candidate-pair frame is tens
# of GB, and the deserialized default OOMs a 48g heap when BlockManager
# re-materializes a disk block into memory (maybeCacheDiskValuesInMemory
# pulling hundreds of millions of row objects — the round-11
# image-keepers first-attempt failure).
_LEVELS = ("default", "disk_only")


def stage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once for multi-consumer / iterative reuse.
    See module docstring for the mode switch; ``spark.pulsar.stage.level``
    (default | disk_only) picks the storage level in local mode — heavy
    scale runs set disk_only so staged frames never compete with
    execution memory."""
    spark = df.sparkSession
    mode = spark.conf.get(MODE_CONF, "local")
    if mode == "local":
        level = spark.conf.get(LEVEL_CONF, "default")
        if level not in _LEVELS:
            raise ValueError(
                f"{LEVEL_CONF} must be one of {list(_LEVELS)}, got {level!r}"
            )
        if level == "default":
            return df.localCheckpoint()
        from pyspark.storagelevel import StorageLevel

        return df.localCheckpoint(storageLevel=StorageLevel.DISK_ONLY)
    if mode != "reliable":
        raise ValueError(
            f"{MODE_CONF} must be 'local' or 'reliable', got {mode!r}"
        )
    if spark.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "reliable staging needs a checkpoint directory: start the "
            "session with spark.checkpoint.dir or call "
            "SparkContext.setCheckpointDir"
        )
    return df.checkpoint()


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
    (see scale_bench for the measured pathology). Queries never reuse
    another query's staged frames, so releasing between measurements
    is always safe.

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
