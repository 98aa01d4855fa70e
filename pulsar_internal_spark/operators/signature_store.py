"""Incremental MinHash dedup: new batches vs a persisted signature store.

At 100 TB the near-dup pipeline does not recompute the corpus — each
ingest batch is signed once, its signatures are appended to a persisted
bucket table, and candidate pairs are found by joining the NEW batch's
bands against the store. Grown from the reference's incremental
hash-memo idiom (script.hpp:127-129: fingerprints computed once, then
looked up) and the batch operator it must stay equivalent to
(dedup.py:minhash_lsh_candidates).

Store layout (round 7 — pointer-committed generations, VERDICT r6 #3):
``store_path`` holds versioned generation dirs plus a ``current``
pointer file naming the live one::

    store_path/
      current          <- "gen-00000001"
      gen-00000001/    <- parquet, hive-partitioned by batch_id

Rows are (id, band_idx, band_key, batch_id), partitioned by batch_id
inside the generation — so "the new batch" and "everything before it"
are PARTITION-PRUNED scans, not filters over the whole store, and a
crashed append can be rolled back by deleting one partition directory.
Bands stay together within a batch (band_idx would explode the dir
count at many batches and prunes nothing the join needs). Maintenance
(compaction) writes the NEXT generation in full, then atomically
replaces the pointer — directories are never renamed, the store path
never transiently disappears, and on object stores the commit is one
small PUT instead of a copy+delete dir rename. Every step of that
protocol (append, read, compaction fold, expiry, the bucketed catalog
append, the streaming sink step) lives in store_fs.

Equivalence invariant (property-tested): for documents arriving in any
batch split, the union over batches of ``candidates_for_batch`` equals
``minhash_lsh_candidates`` over the full corpus. Proof sketch: order
the batches; a bucket-sharing pair (x, y) with batch(x) <= batch(y) is
emitted exactly when y's batch is processed (x is then in the store or
in y's own batch); no other pairs are ever emitted.

Scale posture: per increment, the only shuffle is the band-key join of
the (small) new batch against the store; at cluster scale, writing the
store with ``bucketBy(band_key)`` into a catalog table would make the
history side shuffle-free — noted here because path-based parquet
cannot persist bucketing metadata. Signatures are computed ONCE per
document lifetime (at append), never re-derived from text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store_fs
from .dedup import band_pairs, banded_signatures

# the store-maintenance primitives stay importable from here, the
# signature store's public surface; they are defined in store_fs
from .store_fs import (  # noqa: F401
    ensure_no_orphan_generation,
    maintenance_lease,
    swap_in_generation,
)

STORE_SCHEMA = "id BIGINT, band_idx INT, band_key STRING, batch_id INT"


def append_signature_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    *,
    batch_id: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> int:
    """Sign ``new_docs`` and append the banded signatures to the store
    under ``batch_id`` (next sequential id when None; 0 for a fresh
    store). Returns the batch_id used.

    An EXPLICIT batch_id is written with dynamic partition overwrite,
    making the write IDEMPOTENT on that id — a retried streaming batch
    replaces its own partial partition instead of double-appending
    signatures (the exactly-once contract foreachBatch needs).

    The write is the only place signatures are computed; everything
    downstream (same-batch pairs, cross-batch pairs, later batches)
    reads the columnar store. Signature parameters must match across
    batches — they define the hash family, so they are part of the
    store's identity (asserted against a stored _PARAMS marker row is
    overkill; the caller owns the config, as with any table schema)."""
    return append_banded_batch(
        spark,
        banded_signatures(
            new_docs, id_col, text_col, num_hashes, band_size, shingle_n
        ),
        store_path,
        batch_id=batch_id,
    )


def append_banded_batch(
    spark: SparkSession,
    banded: DataFrame,
    store_path: str,
    *,
    batch_id: int | None = None,
) -> int:
    """Store-append for ANY pre-banded (id, band_idx, band_key) frame —
    the layer under append_signature_batch, exposed because the store's
    algebra (per-batch candidates, compaction, expiry, streaming
    exactly-once) is agnostic to WHICH banding produced the keys:
    MinHash bands over text shingles and sign-LSH bands over embeddings
    (similarity.embedding_banded_signatures) share one store
    implementation. The banding function is part of the store's
    identity, like the signature parameters above."""
    return store_fs.append_batch(store_path, lambda _: banded, batch_id=batch_id)


def candidates_for_batch(
    spark: SparkSession, store_path: str, batch_id: int
) -> DataFrame:
    """Near-dup candidate pairs introduced by ``batch_id``: pairs within
    the batch plus pairs between the batch and every earlier batch.
    Returns (id_a, id_b), id_a < id_b, distinct. Never joins history
    against history — those pairs were emitted when their own batches
    arrived, which is what makes the increment O(new x matched), not
    O(corpus^2). The pairs come from dedup.band_pairs, the join the
    one-shot minhash_lsh_candidates runs on the whole corpus."""
    store = store_fs.read_generation(spark, store_path)
    if store is None:
        raise FileNotFoundError(
            f"signature store {store_path} has no committed generation"
        )
    return _candidates(store, batch_id)


def _candidates(store: DataFrame, batch_id: int) -> DataFrame:
    from .bloomjoin import prune_history, should_prune
    from ..staging import stage

    new = store.filter(F.col("batch_id") == batch_id)
    hist = store.filter(F.col("batch_id") < batch_id)
    # History-side semi-join reduction (round 9): the across join's
    # history exchange is the linear-in-history ingest cost STREAM_r09
    # measured (0.44 -> 63.9 MB over ten batches on the path store);
    # almost no history band key recurs in one batch, so a broadcast
    # bitmap of the batch's keys prunes history in its scan stage,
    # before the exchange. Result-identical (the equi-join stays);
    # self-disables below the min-history depth (batch_id IS the
    # history depth in batches here).
    if should_prune(batch_id):
        # the prune reads `new` twice more (sizing count + bitmap
        # build) beyond its three join uses — stage it so those are
        # cached-block reads instead of five store rescans per batch.
        # Gated on should_prune so shallow stores keep the exact
        # pre-prune plan (no staging, no extra blocks). The staged
        # blocks outlive this call inside the returned frame; bench /
        # streaming callers release via staging.release_staged.
        new = stage(new)
        hist = prune_history(
            hist, new, ["band_idx", "band_key"], history_batches=batch_id
        )

    return band_pairs(new, ("band_idx", "band_key"), hist)


def incremental_minhash_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    **sig_params,
) -> DataFrame:
    """One ingest step: append the batch's signatures, return its
    candidate pairs (new-vs-new plus new-vs-history)."""
    bid = append_signature_batch(spark, new_docs, store_path, **sig_params)
    return candidates_for_batch(spark, store_path, bid)


def streaming_minhash_dedup(
    docs_stream: DataFrame,
    store_path: str | None,
    candidates_path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    store_table: str | None = None,
    **sig_params,
):
    """CONTINUOUS near-dup dedup: each micro-batch of documents is
    signed, idempotently appended to the signature store under the
    STREAMING batch id, and its candidate pairs (within-batch plus
    vs-all-history) land in ``candidates_path`` partitioned by
    batch_id. Both writes use dynamic partition overwrite keyed on the
    engine's batch id, so a replayed batch after a crash replaces its
    own partitions — exactly-once output on top of at-least-once
    foreachBatch, the same idempotence contract run_fifo_sink
    documents. Returns the StreamingQuery.

    ``store_table``: pass a catalog table name instead of
    ``store_path`` to run the store on the BUCKETED catalog form — the
    recommended default at cadence: the path store re-shuffles its
    whole history every micro-batch (linear-in-depth ingest cost,
    measured in STREAM_r09; the Bloom prune only flattens the slope),
    while the bucketed table reads history with ZERO exchange. The
    path form stays for quick starts and emits a one-time advisory
    once the history passes the measured crossover depth.

    Thin wrapper over streaming_banded_dedup with the MinHash banding
    closed over ``sig_params`` — the store machinery is shared with
    the semantic (sign-LSH over embeddings) stream."""
    id_col = sig_params.pop("id_col", "doc_id")
    text_col = sig_params.pop("text_col", "text")

    def bander(batch_df: DataFrame) -> DataFrame:
        return banded_signatures(batch_df, id_col, text_col, **sig_params)

    return streaming_banded_dedup(
        docs_stream, bander, store_path, candidates_path, checkpoint_dir,
        trigger=trigger, query_name="minhash_dedup",
        store_table=store_table,
    )


def streaming_banded_dedup(
    stream: DataFrame,
    bander,
    store_path: str | None,
    candidates_path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    query_name: str = "banded_dedup",
    store_table: str | None = None,
):
    """streaming_minhash_dedup generalized over the banding function:
    ``bander(batch_df) -> (id, band_idx, band_key)`` turns each
    micro-batch into store rows (e.g.
    similarity.embedding_banded_signatures for CONTINUOUS SEMANTIC
    dedup over an embedding stream), idempotently appended under the
    streaming batch id; candidates (within-batch plus vs-all-history)
    land in ``candidates_path`` partitioned by batch_id with the same
    exactly-once dynamic-overwrite contract. Returns the
    StreamingQuery.

    The sink step (staging, zero-row batches, replay deletes, block
    release) is store_fs.stream_into_sink's; consume via
    read_candidates_sink, which serves a typed empty frame until the
    sink exists. The sink is a pointer-committed generation store
    (round 8) so it shares the stores' compaction/retention — see
    compact_sink_batches / expire_sink_batches.

    ``store_table`` (recommended at cadence): run the signature store
    as the BUCKETED catalog table instead of the path store —
    zero-exchange history reads (see streaming_minhash_dedup). Exactly
    one of ``store_path`` / ``store_table`` must be set."""

    def produce(spark, batch_df: DataFrame, batch_id: int) -> DataFrame:
        if store_table is not None:
            append_banded_batch_bucketed(
                spark, bander(batch_df), store_table, batch_id=batch_id
            )
            return candidates_for_batch_bucketed(spark, store_table, batch_id)
        append_banded_batch(spark, bander(batch_df), store_path, batch_id=batch_id)
        return candidates_for_batch(spark, store_path, batch_id)

    return store_fs.stream_into_sink(
        stream, candidates_path, checkpoint_dir, produce,
        query_name=query_name, trigger=trigger,
        store_path=store_path, store_table=store_table,
    )


def read_candidates_sink(
    spark: SparkSession, candidates_path: str, id_type: str = "BIGINT"
) -> DataFrame:
    """Read a streaming candidates sink with a declared schema — a
    typed empty frame until the first non-empty batch creates it (see
    streaming_banded_dedup / span_store.read_span_sink).
    ``id_type`` is the SQL type of id_a/id_b: streaming_banded_dedup
    is generic over the banding function and fixes only the COLUMN
    NAMES, so a bander emitting non-bigint ids (string content hashes,
    uuids) declares its type here and the pre-sink empty frame agrees
    with the sink once created — mirroring read_span_sink's id_col."""
    got = store_fs.read_sink(spark, candidates_path)
    if got is not None:
        return got
    return spark.createDataFrame(
        [], f"id_a {id_type}, id_b {id_type}, batch_id INT"
    )


# -- bucketed-table store: shuffle-free history joins ---------------------

def append_signature_batch_bucketed(
    spark: SparkSession,
    new_docs: DataFrame,
    table: str,
    *,
    batch_id: int | None = None,
    num_buckets: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> int:
    """The CLUSTER-scale store: a catalog table partitioned by batch_id
    and BUCKETED on the band key, so candidate joins read both sides
    pre-hash-partitioned — ZERO exchanges in the pair join (plan-tested
    in test_scale_ops). This is the path-based store's docstring note
    made real; path parquet cannot persist bucketing metadata, a
    catalog table can. Appends the batch's signatures; returns the
    batch_id used.

    The bucket column is ``band`` = band_idx ':' band_key — ONE column,
    because the bucketed-scan planner only keeps the bucketing when the
    join keys equal the bucket column set (a (band_idx, band_key)
    two-key join against a band_key-only bucketing gets its bucketed
    scan disabled as 'unnecessary'). Sorted within buckets so the
    sort-merge join reads presorted runs.

    An EXPLICIT batch_id is replace-on-replay: the batch's existing
    partition is dropped (ALTER TABLE DROP PARTITION — bucketed
    catalog writes cannot use dynamic partition overwrite without
    losing the bucketing spec) before the bucketed append, matching
    the path-based store's idempotence contract."""
    return append_banded_batch_bucketed(
        spark,
        banded_signatures(
            new_docs, id_col, text_col, num_hashes, band_size, shingle_n
        ),
        table,
        batch_id=batch_id,
        num_buckets=num_buckets,
    )


def append_banded_batch_bucketed(
    spark: SparkSession,
    banded: DataFrame,
    table: str,
    *,
    batch_id: int | None = None,
    num_buckets: int = 16,
) -> int:
    """append_banded_batch for the BUCKETED catalog store — the layer
    under append_signature_batch_bucketed, exposed for the same reason
    as its path twin: any (id, band_idx, band_key) banding (MinHash
    shingle bands, sign-LSH embedding bands) shares the store algebra,
    and the streaming twins need the generic form to run the
    zero-exchange catalog table at cadence. Same replace-on-replay
    contract as append_signature_batch_bucketed."""
    return store_fs.append_bucketed(
        spark,
        table,
        lambda _: banded.select(
            "id",
            F.concat_ws(":", F.col("band_idx"), F.col("band_key")).alias("band"),
        ),
        bucket_col="band",
        batch_id=batch_id,
        num_buckets=num_buckets,
    )


def candidates_for_batch_bucketed(
    spark: SparkSession, table: str, batch_id: int
) -> DataFrame:
    """candidates_for_batch over the bucketed catalog store: identical
    semantics, but the within-batch self-join AND the new-vs-history
    join are co-located by the table's band bucketing — the only
    shuffle left in the whole increment is the final distinct."""
    store = spark.table(table)
    new = store.filter(F.col("batch_id") == batch_id)
    hist = store.filter(F.col("batch_id") < batch_id)
    return band_pairs(new, ("band",), hist)


def compact_store(spark: SparkSession, store_path: str) -> int:
    """Maintenance: fold every batch partition into a single base batch
    (id 0). Thousands of daily increments otherwise accumulate one
    hive partition each — small files and listing cost — while the
    candidates algebra only ever distinguishes "mine" from "earlier",
    so collapsing history is semantics-preserving: a future batch N
    joins hist = batch_id < N either way, and already-emitted pairs
    are never re-emitted (compaction changes no membership, only
    layout). Returns the number of batches folded. Staged safely:
    write the compacted generation beside the store, then swap; the
    maintenance-window contract is store_fs.fold_generation's, the
    same as the lpframes spool's single-committing-writer rule."""
    return len(store_fs.fold_generation(spark, store_path))


def expire_batches(store_path: str, keep_from_batch: int) -> list[int]:
    """Retention: drop signature partitions for batches strictly below
    ``keep_from_batch`` (documents aged out of the dedup horizon) — a
    directory-level delete, the same O(#partitions) metadata operation
    as rollup.expire_partitions. New batches then stop matching against
    the expired era; pairs already emitted are unaffected. Returns the
    removed batch ids. Runs on the store's own filesystem, under the
    maintenance lease (store_fs.expire_batches_below)."""
    removed = store_fs.expire_batches_below(store_path, keep_from_batch)
    return [int(d.split("=", 1)[1]) for d in removed]


def compact_sink_batches(
    spark: SparkSession, sink_path: str, upto_batch: int
) -> int:
    """Maintenance for streaming SINKS (candidates/spans — VERDICT r7
    #6): fold every CONSUMED batch partition (batch_id <= upto_batch)
    into a single base partition (id 0), leaving unconsumed batches
    untouched. At streaming cadence a sink otherwise accrues one tiny
    hive partition per micro-batch between consumers — the same
    small-file pathology compact_store fixes for the stores, with the
    same pointer-committed swap (crash windows benign, readers never
    see a torn sink). Schema-agnostic: both sinks differ only in their
    payload columns, and the fold rewrites batch_id alone.

    ``upto_batch`` is the CONSUMPTION WATERMARK and doubles as the
    replay-safety boundary: the streaming engine only ever replays the
    latest uncommitted batch, so a consumed batch can never be
    dynamically re-overwritten — folding it into id 0 cannot collide
    with a replay. Never pass a watermark at or above a batch that may
    still replay. Same maintenance-window contract as compact_store:
    single maintainer, not concurrent with the streaming writer.
    Returns the number of partitions folded (0 or 1 = nothing to do)."""
    return len(
        store_fs.fold_generation(
            spark,
            sink_path,
            scope=lambda ids: [i for i in ids if i <= upto_batch],
            read=store_fs.read_sink,
        )
    )


def expire_sink_batches(sink_path: str, keep_from_batch: int) -> list[int]:
    """Retention for streaming sinks: drop batch partitions strictly
    below ``keep_from_batch`` (output already consumed AND past any
    replay horizon — after a compaction the folded base partition is
    batch 0, so expiring it requires keep_from_batch >= 1 on purpose).
    Same leased directory-level delete as expire_batches; the sink and
    store layouts are identical since round 8."""
    return expire_batches(sink_path, keep_from_batch)
