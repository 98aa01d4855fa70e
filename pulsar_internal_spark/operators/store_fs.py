"""The generation-store protocol and the filesystem routing under it.

Every persisted batch store — banded signatures (signature_store),
first-seen k-grams (span_store), count-min cells (sketches), the IVF
index's cells (similarity) — and both streaming sinks (candidates,
spans) share one on-disk contract: pointer-committed generations,
``batch_id`` hive partitions, and replay-idempotent writes keyed on the
batch id. This module is that contract's only home; each step is
written once below and the stores call it:

  read_generation  the live generation, schema-memoized
                   (sources.tables.read_parquet)
  append_batch     orphan guard, fresh-store gen-00000000 rebuild, next
                   id from the ``batch_id=`` listing, append or dynamic
                   overwrite, pointer commit after the write
  fold_generation  compaction: read, list the batches, fold them into
                   base batch 0 under swap_in_generation
  expire_batches_below
                   leased retention sweep of ``batch_id=`` partitions
  append_bucketed  the bucketed catalog form: next id, DROP PARTITION on
                   replay, bucketed saveAsTable
  stream_into_sink the streaming micro-batch step: stage, emptiness
                   probe, delete-or-write, staged-block release

Filesystem routing: the crash posture (orphan guard, staged generation
swap, batch expiry) runs on directory probes, pointer writes and
recursive deletes. Those operations must hit the SAME filesystem the
store lives on: an os-level call against an ``hdfs://`` URI silently
answers "no such directory", which would no-op the orphan guard and
build compaction generations on the driver's local disk while the real
store sat untouched (the silent-no-op hazard the pre-round-6
loud-failure guard existed to stop).

Routing rule: a path WITH a URI scheme (``file://``, ``hdfs://``,
``s3a://``, ...) goes through the Hadoop FileSystem API of the active
SparkSession's JVM — the same client Spark's own reads/writes use, so
probes and deletes see exactly what ``spark.read.parquet`` sees. A
plain path (no scheme) keeps the os-level fast path: no JVM
round-trips, and usable before any session exists.

Atomicity note (round 7 — pointer-file generation commit, VERDICT r6
#3): store generations are now COMMITTED BY POINTER, not by directory
rename. Each store keeps versioned generation dirs (``gen-00000000``,
``gen-00000001``, ...) plus a tiny ``current`` pointer file naming the
live one; maintenance writes the NEXT generation in full and then
replaces the pointer. Directories are never renamed, so the commit is
a single small-file write on EVERY filesystem — including object
stores, where a directory rename was copy+delete and the old swap
degraded to non-atomic. The residual caveat shrinks to the pointer
write itself: plain local paths replace it with os.replace (fully
atomic); URI paths rewrite it with a create-overwrite (HDFS truncates
then writes ~20 bytes — a reader racing the rewrite can transiently
see an EMPTY pointer, which read_pointer absorbs with a short bounded
retry; on S3 the PUT is atomic and even that window disappears).
Unreferenced generation dirs (a maintainer that died between writing
its generation and flipping the pointer, or between flipping and
cleanup) are inert — readers only follow the pointer — and are swept
by the next maintenance window. The maintenance LEASE remains
advisory-best-effort on S3 (create_exclusive is not exclusive-atomic
there); that is now the only S3 degradation left.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable


def has_scheme(path: str) -> bool:
    """True when ``path`` carries a URI scheme (``scheme://...``)."""
    head = path.split("://", 1)
    return len(head) == 2


def _hadoop(path: str):
    """(FileSystem, Path-class) for ``path`` via the active session's
    JVM. Maintenance on a remote store requires a live SparkSession —
    the same precondition as reading the store at all."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"store maintenance on URI {path!r} needs an active "
            "SparkSession (the Hadoop FileSystem client lives in its JVM); "
            "start the session first"
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path


def is_dir(path: str) -> bool:
    """Directory-existence probe on the store's own filesystem."""
    if has_scheme(path):
        fs, mk = _hadoop(path)
        p = mk(path)
        return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())
    import os

    return os.path.isdir(path)


def delete_dir(path: str, ignore_missing: bool = False) -> None:
    """Recursive directory delete on the store's filesystem. With
    ``ignore_missing`` a vanished path is fine (crash-leftover sweeps);
    otherwise a failed delete surfaces (see swap_in_generation's strict
    final cleanup)."""
    if has_scheme(path):
        fs, mk = _hadoop(path)
        p = mk(path)
        if not fs.exists(p):
            if ignore_missing:
                return
            raise FileNotFoundError(path)
        if not fs.delete(p, True):
            raise OSError(f"Hadoop FileSystem recursive delete failed: {path!r}")
        return
    import shutil

    if ignore_missing:
        shutil.rmtree(path, ignore_errors=True)
    else:
        shutil.rmtree(path)


def list_subdirs(path: str) -> list[str]:
    """Immediate child directory NAMES (not paths), sorted — the shape
    the hive-partition expiry sweeps consume."""
    if has_scheme(path):
        fs, mk = _hadoop(path)
        return sorted(
            st.getPath().getName()
            for st in fs.listStatus(mk(path))
            if st.isDirectory()
        )
    import os

    return sorted(
        d for d in os.listdir(path) if os.path.isdir(os.path.join(path, d))
    )


def max_partition_value(root: str, column: str) -> int | None:
    """Max integer hive-partition value (``column=N`` child dirs) under
    a generation root, from the directory NAMES — no Spark job. The
    stores' sequential-batch appenders previously ran a full
    ``agg(max(batch_id))`` scan per append to learn the next id; the
    partition directory listing carries the same information (every
    append writes ``partitionBy(column)``, so a batch with rows always
    has its directory; an empty batch writes none and is invisible to
    the aggregate too — identical semantics). None = no such partition
    directory (fresh or empty store)."""
    return _max_partition(list_subdirs(root), column)


def _max_partition(names, column: str) -> int | None:
    """Max integer value N over hive-partition names ``column=N`` (a
    directory listing or a catalog's SHOW PARTITIONS rows)."""
    vals = []
    for name in names:
        if name.startswith(f"{column}="):
            try:
                vals.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return max(vals) if vals else None


def create_exclusive(path: str) -> bool:
    """Atomically create an empty marker file; False if it already
    exists. The primitive under maintenance leases: atomic on local
    filesystems (O_CREAT|O_EXCL) and HDFS (namenode-serialized
    createNewFile); on S3 the create is NOT exclusive-atomic — a lease
    there is advisory-best-effort, consistent with this module's stated
    S3 degradation."""
    if has_scheme(path):
        fs, mk = _hadoop(path)
        return bool(fs.createNewFile(mk(path)))
    import os

    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    os.close(fd)
    return True


def delete_file(path: str) -> None:
    """Remove a marker file; a missing file is fine (idempotent
    release)."""
    if has_scheme(path):
        fs, mk = _hadoop(path)
        p = mk(path)
        if fs.exists(p):
            fs.delete(p, False)
        return
    import os

    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def join(path: str, *parts: str) -> str:
    """Path join that keeps URI schemes intact (os.path.join is fine
    for both shapes on posix, but be explicit about the contract)."""
    out = path.rstrip("/")
    for part in parts:
        out += "/" + part.strip("/")
    return out


# -- generation pointer layer (round 7) -----------------------------------

GEN_PREFIX = "gen-"
POINTER = "current"
FIRST_GEN = "gen-00000000"


def _pointer_path(base: str) -> str:
    return join(base, POINTER)


def _read_small_file(path: str) -> str | None:
    """Contents of a small text file, or None if absent."""
    if has_scheme(path):
        fs, mk = _hadoop(path)
        p = mk(path)
        if not fs.exists(p):
            return None
        from pyspark.sql import SparkSession

        jvm = SparkSession.getActiveSession()._jvm
        stream = fs.open(p)
        try:
            return str(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
        finally:
            stream.close()
    import os

    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read()


def read_pointer(base: str) -> str | None:
    """Name of the store's CURRENT generation, or None when the store
    has never committed one (fresh store, or a first append that died
    before its pointer write). A present-but-EMPTY pointer can only be
    a reader racing the create-overwrite rewrite on a URI filesystem
    (~20 bytes mid-flight) — absorbed with a short bounded retry, then
    surfaced loudly rather than misread as a fresh store."""
    path = _pointer_path(base)
    got = _read_small_file(path)
    if got is None:
        return None
    got = got.strip()
    if got:
        return got
    import time

    for _ in range(20):
        time.sleep(0.05)
        got = (_read_small_file(path) or "").strip()
        if got:
            return got
    raise RuntimeError(
        f"store pointer {path} exists but stayed empty — a pointer "
        "rewrite died mid-write; restore it to the live generation name "
        f"(one of the {GEN_PREFIX}* dirs under {base})"
    )


def write_pointer(base: str, gen: str) -> None:
    """Commit ``gen`` as the store's current generation. Plain local
    paths stage to a temp file and os.replace (atomic); URI paths
    create-overwrite in place (see read_pointer for the bounded
    empty-read window this leaves on HDFS; on S3 the PUT is atomic)."""
    path = _pointer_path(base)
    if has_scheme(path):
        fs, mk = _hadoop(path)
        out = fs.create(mk(path), True)
        try:
            out.write(bytearray(gen.encode("utf-8")))
        finally:
            out.close()
        return
    import os

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(gen)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def resolve_current(base: str) -> str | None:
    """Path of the store's current generation dir (pointer-resolved),
    or None for a store with no committed generation."""
    gen = read_pointer(base)
    return None if gen is None else join(base, gen)


def next_generation(cur: str) -> str:
    """gen-00000007 -> gen-00000008-<nonce>. The 8-digit counter orders
    generations; the per-ATTEMPT nonce (round 8, lease-fencing work)
    makes every maintenance attempt stage into its OWN directory: under
    a lost lease on S3 (create_exclusive is best-effort there) two
    maintainers previously computed the SAME next name and interleaved
    parquet writes into one dir — silent corruption whichever flipped
    first. With unique staging dirs the loser either aborts on the
    pointer fence (swap_in_generation) or fails loudly when the
    winner's sweep removes its in-progress dir; no silent path remains.
    gen-00000000 (FIRST_GEN) keeps its fixed nonce-less name — the
    crashed-first-append replay contract rebuilds it deterministically."""
    import uuid

    counter = int(cur[len(GEN_PREFIX):].split("-", 1)[0])
    return f"{GEN_PREFIX}{counter + 1:08d}-{uuid.uuid4().hex[:6]}"


def list_generations(base: str) -> list[str]:
    """Generation dir NAMES under ``base`` (empty for a missing base)."""
    if not is_dir(base):
        return []
    return [d for d in list_subdirs(base) if d.startswith(GEN_PREFIX)]


def sweep_stale_generations(base: str, keep: str) -> list[str]:
    """Delete generation dirs other than ``keep`` — leftovers of
    maintainers that died before their pointer flip or after it but
    before cleanup. Unreferenced dirs are inert (readers follow the
    pointer), so the sweep is pure space reclamation; MUST run under
    the maintenance lease (a sweep racing a live maintainer's staged
    write would delete the generation it is building). Returns the
    removed names."""
    removed = []
    for g in list_generations(base):
        if g != keep:
            delete_dir(join(base, g))
            removed.append(g)
    return removed


def expire_prefixed_partitions(
    path: str, prefix: str, drop: Callable[[str], bool]
) -> list[str]:
    """Shared retention sweep over a hive-partitioned store directory:
    delete child partitions ``{prefix}{value}`` where ``drop(value)``,
    returning the removed partition names. Directory-level deletes on
    the store's own filesystem — O(#partitions) metadata work locally
    and on HDFS (per-object deletes on S3)."""
    removed = []
    for d in list_subdirs(path):
        if not d.startswith(prefix):
            continue
        if drop(d[len(prefix):]):
            delete_dir(join(path, d))
            removed.append(d)
    return removed


# -- the generation-store protocol -----------------------------------------


@contextmanager
def maintenance_lease(store_path: str):
    """Advisory single-maintainer lease over a store: an atomic
    create-exclusive marker at ``{store}.lease`` held for the duration
    of a maintenance operation. A second maintainer (e.g. two cron'd
    compactions overlapping) fails LOUDLY instead of interleaving
    renames with the first one's swap. A maintainer that FAILS
    mid-window — process crash OR in-process exception (a failed
    rename mid-swap) — leaves the marker behind, deliberately: the
    recovery message routes the operator through the orphan-generation
    check before releasing, because an expired-TTL auto-steal (or an
    auto-release on a half-done swap) could put two live maintainers
    in the window, which is the exact failure the lease exists to
    prevent. The marker is removed only on SUCCESSFUL completion of
    the window's body. Atomic on local and HDFS; best-effort on S3
    (see create_exclusive)."""
    lease = store_path.rstrip("/") + ".lease"
    if not create_exclusive(lease):
        raise RuntimeError(
            f"maintenance lease {lease} is already held — another "
            "maintainer is active, or a previous one crashed mid-window. "
            "Verify no maintenance job is running and the store passes "
            "ensure_no_orphan_generation, then delete the marker to "
            "recover."
        )
    yield
    # reached only when the body completed without raising: a failed
    # maintenance window keeps the lease so the next attempt is routed
    # through the loud recovery path above instead of racing leftovers
    delete_file(lease)


def ensure_no_orphan_generation(store_path: str) -> None:
    """Damage guard shared by every store writer, re-derived for the
    pointer layout (round 7). With pointer-committed generations there
    is no crash window in which the LIVE generation is unreferenced —
    the pointer is only ever written AFTER its target is complete, and
    maintenance leftovers (generations without a pointer reference)
    are inert and swept under the lease. What remains detectable is
    MANUAL damage, and both shapes must refuse rather than silently
    restart the store:

      - pointer present but its generation dir missing (someone
        deleted data out from under the pointer);
      - generations BEYOND gen-00000000 present with no pointer
        (someone deleted the pointer of a real store — gen-00000000
        alone without a pointer is the one legitimate crash state, a
        first append that died pre-commit, and is rebuilt by the
        replay contract in append_batch).

    Probes run on the STORE'S OWN filesystem — an os probe
    against hdfs:// would silently answer "absent" and evaporate this
    guard."""
    base = store_path.rstrip("/")
    gen = read_pointer(base)
    if gen is not None:
        if not is_dir(join(base, gen)):
            raise RuntimeError(
                f"store {base} pointer references {gen} but that "
                "generation directory is missing — restore it or point "
                f"{POINTER} at a surviving {GEN_PREFIX}* dir"
            )
        return
    gens = list_generations(base)
    if [g for g in gens if g != FIRST_GEN]:
        raise RuntimeError(
            f"store {base} has generations {gens} but no "
            f"{POINTER} pointer — a real store lost its pointer "
            "file; recover by writing the live generation's name into it"
        )


def swap_in_generation(store_path: str, write_tmp) -> None:
    """Generation commit under every compaction (fold_generation — one
    copy so the crash posture cannot drift). Round 7 replaced the
    directory-rename swap with a POINTER COMMIT (VERDICT r6 #3): under
    the maintenance lease, sweep unreferenced generation leftovers of
    prior crashed runs, have ``write_tmp(next_gen_dir)`` materialize
    the next generation IN FULL, atomically replace the ``current``
    pointer, then delete the superseded generation.

    Crash windows, all benign:
      - died before the pointer flip: the pointer still names the old
        generation; the half-built next one is unreferenced and inert,
        swept by the next maintenance window;
      - died after the flip, before cleanup: the store serves the new
        generation; the old one is unreferenced and swept later;
      - readers NEVER see an absent store path — both generations
        exist across the flip and the pointer replace is atomic
        (os.replace locally; ~20-byte create-overwrite via Hadoop,
        whose only reader-visible hazard is the bounded empty-pointer
        retry in read_pointer). The pre-round-7
        "PATH_NOT_FOUND between two renames" caveat is GONE.

    On object stores the commit is one small PUT — generation dirs are
    never renamed, so the old swap's copy+delete degradation no longer
    exists; the lease alone remains advisory there (create_exclusive).

    The single-MAINTAINER half of the window contract is ENFORCED, not
    just documented: a second concurrent compaction fails loudly on
    the lease instead of racing the pointer (maintainer-vs-APPEND
    exclusion remains the operator's scheduling responsibility —
    appends are not leased by design; see fold_generation).

    LEASE FENCING (round 8, VERDICT r7 #7): on S3 the lease's
    create-exclusive is only best-effort, so two maintainers CAN both
    enter the window under a lost lease. Two mechanisms remove every
    SILENT failure path: (a) each attempt stages into its OWN
    generation dir (per-attempt nonce — next_generation), so
    concurrent maintainers never interleave parquet writes in one
    directory; (b) the swap re-reads the pointer immediately before
    its flip and ABORTS loudly if it no longer names the generation
    read at window start — the loser's half-built dir stays
    unreferenced (inert, swept later) and the winner's commit is never
    silently overwritten. The residue without a CAS primitive is the
    ~20-byte PUT race between the fence check and the flip, and a
    concurrent sweep deleting an in-progress staging dir — both of
    which surface as loud job failures, never as silently wrong data."""
    base = store_path.rstrip("/")
    with maintenance_lease(base):
        ensure_no_orphan_generation(base)
        cur = read_pointer(base)
        if cur is None:
            raise FileNotFoundError(
                f"store {base} has no committed generation to compact"
            )
        sweep_stale_generations(base, keep=cur)
        nxt = next_generation(cur)
        write_tmp(join(base, nxt))
        fence = read_pointer(base)
        if fence != cur:
            raise RuntimeError(
                f"store {base} pointer moved {cur} -> {fence} during the "
                "maintenance window — a concurrent maintainer committed "
                "under a lost lease. Aborting WITHOUT flipping: the other "
                "maintainer's generation stays live; this window's "
                f"half-built {nxt} is unreferenced and will be swept by "
                "the next successful window."
            )
        write_pointer(base, nxt)
        delete_dir(join(base, cur))


BATCH = "batch_id"
_BATCH_DIR = f"{BATCH}="


def _batch_parents(root: str, levels: tuple[str, ...]) -> list[tuple[str, str]]:
    """(root-relative prefix, directory) of every directory that holds
    ``batch_id=N`` partitions, for a generation partitioned by
    ``levels`` then ``batch_id`` (the IVF cells nest batches under
    ``cell=``; the other stores have no leading level)."""
    if not levels:
        return [("", root)]
    head = f"{levels[0]}="
    return [
        (f"{d}/{rel}", sub)
        for d in list_subdirs(root)
        if d.startswith(head)
        for rel, sub in _batch_parents(join(root, d), levels[1:])
    ]


def read_generation(spark, base: str):
    """The store's live generation via its pointer, or None before the
    first commit. A pointer that references a missing directory is
    damage, not a fresh store — the read then fails loudly instead of
    silently restarting batch numbering at 0. The schema comes from
    ``sources.tables.read_parquet``'s memo, so a re-read of an
    unchanged generation submits no inference job."""
    from ..sources.tables import read_parquet

    root = resolve_current(base)
    return None if root is None else read_parquet(spark, root)


def append_batch(
    base: str,
    rows: Callable,
    *,
    batch_id: int | None = None,
    partition_by: tuple[str, ...] = (BATCH,),
    create: bool = True,
) -> int:
    """Write ``rows(bid)`` under batch ``bid`` into the live generation
    and return ``bid``. ``batch_id=None`` takes the next id from the
    ``batch_id=`` directory names (0 for a fresh store) — a listing,
    where an ``agg(max(batch_id))`` would scan the whole store; a
    batch with rows always has its directory, and an empty batch
    writes none and is invisible to the aggregate too. Such a write
    appends. An EXPLICIT ``batch_id`` writes with dynamic partition
    overwrite, so a replayed batch replaces its own partitions (the
    exactly-once contract foreachBatch needs); the per-write option
    scopes the overwrite mode to this write.

    A FRESH store writes into gen-00000000 and commits the pointer only
    after the parquet write succeeds, so the pointer never references
    an incomplete generation. A crashed first append (gen-00000000
    present, pointer never written) is REBUILT: its caller never saw
    success, so by the replay contract the batch comes again, and
    stacking onto the leftover would double its rows. Every other
    pointerless state is refused by ensure_no_orphan_generation, which
    runs first. ``create=False`` refuses a fresh store instead (an IVF
    append never implicitly creates an index).

    ``rows(bid)`` may read the live generation (span_store's
    first-seen anti-join does); on a fresh store read_generation then
    answers None. ``partition_by`` lists the partition columns, which
    end in ``batch_id``."""
    from pyspark.sql import functions as F

    ensure_no_orphan_generation(base)
    root = resolve_current(base)
    init = root is None
    if init:
        if not create:
            raise FileNotFoundError(f"store {base} has no committed generation")
        root = join(base, FIRST_GEN)
        delete_dir(root, ignore_missing=True)
    if batch_id is not None:
        bid = int(batch_id)
    elif init:
        bid = 0
    else:
        ids = [
            max_partition_value(d, BATCH)
            for _, d in _batch_parents(root, partition_by[:-1])
        ]
        prev = max((i for i in ids if i is not None), default=None)
        bid = 0 if prev is None else prev + 1
    out = rows(bid).withColumn(BATCH, F.lit(bid).cast("int")).write
    if batch_id is None:
        out = out.mode("append")
    else:
        out = out.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    out.partitionBy(*partition_by).parquet(root)
    if init:
        write_pointer(base, FIRST_GEN)
    return bid


def fold_generation(
    spark,
    base: str,
    fold: Callable = lambda rows: rows,
    *,
    scope: Callable = lambda ids: ids,
    partition_by: tuple[str, ...] = (BATCH,),
    read: Callable = read_generation,
) -> list[int]:
    """Compaction: fold the batches ``scope(ids)`` picks (all by
    default) into base batch 0 and keep every other batch verbatim, in
    the next generation committed by swap_in_generation. ``fold(rows)``
    maps the picked batches' rows to the base batch's rows (as they
    are by default: a pure relayout).
    Returns the picked ids; fewer than two leave the store untouched.

    MAINTENANCE WINDOW CONTRACT: run from the single maintainer, not
    concurrently with appends — an append landing between the read and
    the pointer flip would vanish with the superseded generation.
    Readers always see a COMPLETE generation (old or new, never torn
    data) and the store path stays continuously present across the
    flip (see swap_in_generation)."""
    from pyspark.sql import functions as F

    store = read(spark, base)
    if store is None:
        return []
    ids = sorted(r[0] for r in store.select(BATCH).distinct().collect())
    picked = scope(ids)
    if len(picked) <= 1:
        return picked
    if len(picked) == len(ids):
        out = fold(store).withColumn(BATCH, F.lit(0).cast("int"))
    else:
        inside = F.col(BATCH).isin(picked)
        out = (
            fold(store.filter(inside))
            .withColumn(BATCH, F.lit(0).cast("int"))
            .unionByName(store.filter(~inside))
        )

    def _write(tmp: str) -> None:
        out.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)

    swap_in_generation(base, _write)
    return picked


def expire_batches_below(
    base: str, keep_from_batch: int, partition_by: tuple[str, ...] = (BATCH,)
) -> list[str]:
    """Retention: delete the live generation's batch partitions strictly
    below ``keep_from_batch`` — directory-level deletes, the same
    O(#partitions) metadata operation as rollup.expire_partitions — on
    the store's own filesystem, under the maintenance lease (an expiry
    sweep listing partitions while a compaction swaps generations would
    race). Returns the removed dirs, root-relative
    (``batch_id=3``, ``cell=1/batch_id=3``)."""
    removed = []
    with maintenance_lease(base):
        root = resolve_current(base)
        if root is None:
            return []
        for rel, d in _batch_parents(root, partition_by[:-1]):
            got = expire_prefixed_partitions(
                d, _BATCH_DIR, lambda v: int(v) < keep_from_batch
            )
            removed += [rel + g for g in got]
    return removed


def append_bucketed(
    spark,
    table: str,
    rows: Callable,
    *,
    bucket_col: str,
    batch_id: int | None = None,
    num_buckets: int = 16,
) -> int:
    """append_batch for a BUCKETED catalog store: a table partitioned by
    batch_id and bucketed (and sorted) on ``bucket_col``, so joins
    against history read the store side pre-hash-partitioned with zero
    exchange (path parquet cannot persist bucketing metadata; a catalog
    table can). ``batch_id=None`` appends under max(batch_id) + 1, read
    from the catalog's partition listing like max_partition_value reads
    the path stores' directories (no Spark job). An
    EXPLICIT batch_id is replace-on-replay: the batch's partition is
    dropped (ALTER TABLE DROP PARTITION — bucketed catalog writes
    cannot use dynamic partition overwrite without losing the bucketing
    spec) before the bucketed append, matching the path stores'
    idempotence. ``rows(bid)`` runs after the drop. Returns the id."""
    from pyspark.sql import functions as F

    exists = spark.catalog.tableExists(table)
    if batch_id is None:
        parts = spark.sql(f"SHOW PARTITIONS {table}").collect() if exists else []
        prev = _max_partition((r[0] for r in parts), BATCH)
        bid = 0 if prev is None else prev + 1
    else:
        bid = int(batch_id)
        if exists:
            spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION ({BATCH}={bid})")
    (
        rows(bid)
        .withColumn(BATCH, F.lit(bid).cast("int"))
        .write.mode("append")
        .partitionBy(BATCH)
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )
    return bid


def read_sink(spark, sink_path: str):
    """Generation-aware sink read: None until the first non-empty batch
    commits gen-0. A PRE-round-8 flat sink (batch_id=N dirs with no
    pointer) must fail loudly instead of silently serving an empty
    frame — recover by moving the batch_id=* dirs under
    {sink}/gen-00000000/ and writing the pointer."""
    sink = sink_path.rstrip("/")
    got = read_generation(spark, sink)
    if got is not None:
        return got
    if is_dir(sink) and any(d.startswith(_BATCH_DIR) for d in list_subdirs(sink)):
        raise RuntimeError(
            f"sink {sink} holds flat batch_id=* partitions but no "
            f"{POINTER} pointer — a pre-generation (round <8) "
            "sink layout; migrate by moving the batch_id=* dirs under "
            f"{FIRST_GEN}/ and writing the pointer"
        )
    return None


def stream_into_sink(
    stream,
    sink_path: str,
    checkpoint_dir: str,
    produce: Callable,
    *,
    query_name: str,
    trigger: dict | None,
    store_path: str | None,
    store_table: str | None,
):
    """Start the foreachBatch query shared by the streaming dedup twins.
    Each micro-batch calls ``produce(spark, batch_df, batch_id)``, which
    appends the batch to its store (exactly one of ``store_path`` /
    ``store_table``) under the STREAMING batch id and returns the
    batch's result rows; those land in the sink at ``sink_path`` under
    the same id. Both writes are replace-on-replay, so a replayed batch
    after a crash replaces its own partitions — exactly-once output on
    top of at-least-once foreachBatch. Returns the StreamingQuery.

    The result frame is STAGED before the emptiness probe, so the
    batch-vs-history join — the dominant per-micro-batch work — runs
    once, not once for the probe and again for the write. A zero-row
    batch SKIPS the sink write (a partitioned zero-row write leaves a
    schema-less directory that breaks readers) but DELETES the batch's
    sink partition if a pre-crash attempt left one: a replayed batch
    that now yields zero rows must not leave stale rows behind. Every
    block the batch stages is released when it ends, even when it
    fails — DataFrame.unpersist cannot release localCheckpoint blocks,
    and without it a stream pins one batch of blocks per tick once the
    history is deep enough for the Bloom prune to stage. The release
    assumes one concurrent foreachBatch per session, the stores'
    single-writer contract."""
    from ..staging import persistent_rdd_ids, release_staged, stage

    if (store_path is None) == (store_table is None):
        raise ValueError(
            "exactly one of store_path / store_table must be set, got "
            f"store_path={store_path!r} store_table={store_table!r}"
        )
    sink = sink_path.rstrip("/")

    def process(batch_df, batch_id: int) -> None:
        spark = batch_df.sparkSession
        before = persistent_rdd_ids(spark)
        try:
            if store_path is not None:
                _advise_bucketed_store(store_path, batch_id, query_name)
            out = stage(produce(spark, batch_df, batch_id))
            if not out.isEmpty():
                append_batch(sink, lambda _: out, batch_id=batch_id)
                return
            root = resolve_current(sink)
            if root is not None:
                delete_dir(join(root, f"{_BATCH_DIR}{batch_id}"), ignore_missing=True)
        finally:
            release_staged(spark, keep=before)

    writer = stream.writeStream.queryName(query_name).option(
        "checkpointLocation", checkpoint_dir
    ).foreachBatch(process)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


_ADVISED_STORES: set[str] = set()


def _advise_bucketed_store(store_path: str, batch_id: int, query_name: str) -> None:
    """One-time loud advisory when a PATH-based streaming store crosses
    the measured ingest crossover depth (the Bloom prune's minimum
    history depth doubles as the depth signal): past it, every micro-batch
    re-shuffles the accumulated history — a linear-in-depth cost the
    prune only flattens (~15x slope cut, STREAM_r09_bloom) while the
    bucketed catalog form removes it entirely (zero-exchange history
    reads). Streams that should stay on the path store (demos, tests,
    bounded backfills) see one warning per store — the advisory state
    is persisted as a marker file BESIDE the store (plus the in-process
    set as a fast path), so a restarting cadence job doesn't re-advise
    on every process launch (VERDICT r10 #8)."""
    import os

    from .bloomjoin import STORE_MIN_HISTORY_BATCHES

    if store_path in _ADVISED_STORES:
        return
    if batch_id < STORE_MIN_HISTORY_BATCHES:
        return
    _ADVISED_STORES.add(store_path)
    marker = os.path.join(store_path, "_ADVISED_BUCKETED")
    try:
        if os.path.exists(marker):
            return
        with open(marker, "w") as f:
            f.write(
                "advisory emitted once; delete this file to re-advise\n"
            )
    except OSError:
        # non-local store filesystems (s3a://, hdfs://) won't open() —
        # fall back to once-per-process, the round-10 behavior
        pass
    import warnings

    warnings.warn(
        f"streaming store {store_path!r} ({query_name}) has reached "
        f"history depth {batch_id}: the path-based store re-shuffles "
        "its full history every micro-batch (linear-in-depth ingest "
        "cost). At cadence, pass store_table=<catalog table> instead — "
        "the bucketed form reads history with zero exchange "
        "(docs/OPERATIONS.md, 'Cluster-scale store variants').",
        stacklevel=3,
    )
