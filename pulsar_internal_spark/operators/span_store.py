"""Incremental exact-substring dedup: new batches vs a persisted k-gram store.

The batch operators (dedup.dup_kgram_occurrences / dup_span_intervals /
scrub_duplicated_spans) recompute the corpus; at 100 TB the pipeline
instead signs each ingest batch ONCE, keeps a persisted table of the
distinct k-gram hashes seen so far (with the doc that owns each), and
finds the arriving batch's duplicated spans by joining the batch's
k-grams against the store — the same incremental shape as
signature_store.py (MinHash) and sketches.py (count-min), completing the
family for the exact-substring tier.

Store layout: pointer-committed generation store (the store_fs
protocol, round 7) whose live generation holds parquet columns
(kh, owner_doc, batch_id), hive-partitioned by ``batch_id`` — one row per
k-gram hash FIRST SEEN in that batch (appends anti-join history, so the
store is the distinct k-gram set, not the occurrence stream). History
scans are partition-pruned (batch_id < N); a crashed append rolls back by
deleting one partition; an explicit batch_id append uses dynamic
partition overwrite, so streaming replays are idempotent.

Ownership contract: FIRST ARRIVAL WINS. A k-gram's owner is the minimum
doc id within the EARLIEST batch that contained it (history never loses
ownership to a later batch). An occurrence in an arriving doc is
"covered" iff its k-gram has an owner other than that doc; covered
positions merge into maximal spans exactly as in the batch operator.

Equivalence invariant (property-tested): when batches arrive in an order
consistent with doc-id order, the union over batches of
``spans_for_batch`` equals the batch pipeline's NON-OWNED duplicated
spans over the full corpus — i.e. exactly the spans substring_scrub
removes (the owner's own copy is never emitted, matching keep-first
scrub semantics; the symmetric both-sides listing is the batch
substring_dup_spans query's job).

Scale posture: per increment, one narrow k-gram explode of the NEW batch,
one partial-aggregated groupBy for the batch-local owner, one equi join
against the partition-pruned store (a viral boilerplate k-gram is ONE
store row — the join fan-out is the new batch's occurrence count, never
history size), and per-doc islands windows bounded by doc length. No
pair join anywhere, same as the batch form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import bloomjoin, store_fs
from .dedup import dup_span_intervals, tokenized
from ..sources.tables import spread
from ..staging import persistent_rdd_ids, release_staged, stage

SPAN_STORE_SCHEMA = "kh STRING, owner_doc BIGINT, batch_id INT"


def _kgram_occurrences(docs: DataFrame, k: int, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, kh) for every k-gram position in ``docs`` — the same
    signing expression the batch operator uses (dedup.py), so batch and
    incremental paths can never disagree on a hash. spread() first:
    signing is one sha2 per token position, and a bytes-sized scan puts
    a 2 GB document file in ~15 tasks — the SCALE_r08 sf10 profile
    showed the signing stages at half the core count of every other
    stage (dedup.py's one-shot signer already spreads)."""
    toks = spread(docs).select(id_col, tokenized(text_col).alias("w"))
    wcol = F.col("w")
    return (
        toks.filter(F.size(wcol) >= k)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(wcol) - (k - 1)),
                    lambda i: F.sha2(F.concat_ws(" ", F.slice(wcol, i, k)), 256),
                )
            ).alias("_p0", "kh"),
        )
        .select(id_col, (F.col("_p0") + 1).alias("pos"), "kh")
    )


def append_kgram_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    *,
    batch_id: int | None = None,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Sign ``new_docs`` and register the batch's FIRST-SEEN k-grams in
    the store under ``batch_id`` (next sequential when None). Returns
    the batch_id used. An explicit batch_id writes with dynamic
    partition overwrite — the replay-idempotence contract shared with
    append_signature_batch and ivf_index_append. Call
    :func:`spans_for_batch` afterwards (or use
    :func:`incremental_substring_spans`) for the batch's duplicated
    spans."""
    # staged: the history bloom prune reads kg twice more (sizing
    # count + bitmap build) and signing is the dominant per-batch cost.
    # Unlike incremental_substring_spans (whose staged kg outlives the
    # call inside the returned span frame), this path is self-contained
    # — the append write is eager — so release the blocks before
    # returning: at streaming cadence, leaked ~100s-of-MB staged frames
    # per batch become block-manager pressure within a few batches.
    # Release goes through RDD ids (snapshot-before / release-after):
    # DataFrame.unpersist() never frees a localCheckpoint's pinned
    # blocks, so the targeted release_staged(keep=...) form is the only
    # per-frame path that actually works.
    before = persistent_rdd_ids(spark)
    kg = _kgram_occurrences(new_docs, k, id_col, text_col).transform(stage)
    try:
        return _append_kg(
            spark, kg, store_path, batch_id=batch_id, id_col=id_col
        )
    finally:
        release_staged(spark, keep=before)


def _append_kg(
    spark: SparkSession,
    kg: DataFrame,
    store_path: str,
    *,
    batch_id: int | None,
    id_col: str,
) -> int:
    def firsts(bid: int) -> DataFrame:
        out = kg.groupBy("kh").agg(F.min(id_col).alias("owner_doc"))
        store = store_fs.read_generation(spark, store_path)
        if store is None:
            return out
        hist_khs = store.filter(F.col("batch_id") < bid).select("kh")
        # a history kh the batch never produced cannot eliminate any
        # firsts row — prune history before its anti-join exchange
        # (bloomjoin.prune_history; FPs fall to the exact anti-join).
        # The bitmap builds from kg, not firsts: same key set (firsts
        # is kg's distinct kh) but kg is the caller-staged frame, so
        # the sizing count and bitmap scan are cached-block reads.
        hist_khs = bloomjoin.prune_history(
            hist_khs, kg.select("kh"), ["kh"], history_batches=bid
        )
        return out.join(hist_khs, "kh", "left_anti")

    return store_fs.append_batch(store_path, firsts, batch_id=batch_id)


def spans_for_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    batch_id: int,
    *,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated spans introduced by ``batch_id``'s documents:
    positions whose k-gram is owned elsewhere (in history, or by a
    lower doc id within this batch) merged into intervals. Returns
    (id_col, span_start, span_end). Requires the batch to be appended
    first (the store carries the ownership the join reads); emits only
    NON-OWNED spans — the owner's copy is what keep-first scrub
    preserves, so it is never listed."""
    # staged for the same reason as append_kgram_batch: the owner-side
    # bloom prune reads kg for sizing + bitmap on top of the span join.
    # NOT released here — the returned span frame still reads these
    # blocks; callers at cadence release via staging.release_staged
    # after materializing (bench.py / stream_bench do).
    kg = _kgram_occurrences(new_docs, k, id_col, text_col).transform(stage)
    return _spans_kg(spark, kg, store_path, batch_id, k=k, id_col=id_col)


def _spans_kg(
    spark: SparkSession,
    kg: DataFrame,
    store_path: str,
    batch_id: int,
    *,
    k: int,
    id_col: str,
) -> DataFrame:
    store = store_fs.read_generation(spark, store_path)
    if store is None:
        raise FileNotFoundError(
            f"k-gram store {store_path} has no committed generation"
        )
    # the store is first-seen-DISTINCT by construction (appends anti-join
    # history), so each kh has exactly one row — owner lookup is a plain
    # partition-pruned scan, no per-batch re-aggregation of history
    owners = store.filter(F.col("batch_id") <= batch_id).select(
        "kh", "owner_doc"
    )
    # owner rows whose kh the batch never produced can't join anything
    # — prune the accumulated store before its exchange (round 9,
    # bloomjoin.prune_history; FPs fall to the exact equi-join below)
    owners = bloomjoin.prune_history(
        owners, kg.select("kh"), ["kh"], history_batches=batch_id
    )
    # covered: the k-gram's store owner is another doc. Within-batch
    # duplication is already captured because the append registered the
    # batch's own first-seen k-grams under this batch's min doc id.
    covered = (
        kg.join(owners, "kh")
        .filter(F.col("owner_doc") != F.col(id_col))
        .select(id_col, "pos", "kh", "owner_doc")
    )
    return dup_span_intervals(covered, k=k, id_col=id_col)


def incremental_substring_spans(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    **params,
) -> DataFrame:
    """One ingest step: register the batch's k-grams, return its
    duplicated spans (vs history and within the batch). The batch is
    SIGNED ONCE — the occurrence frame is staged (staging.stage) and feeds
    both the store append and the span join (signing is the dominant
    per-batch cost: one sha2 per token)."""
    k = params.get("k", 8)
    id_col = params.get("id_col", "doc_id")
    text_col = params.get("text_col", "text")
    kg = _kgram_occurrences(new_docs, k, id_col, text_col).transform(stage)
    bid = _append_kg(
        spark, kg, store_path, batch_id=params.get("batch_id"), id_col=id_col
    )
    return _spans_kg(spark, kg, store_path, bid, k=k, id_col=id_col)


def append_kgram_batch_bucketed(
    spark: SparkSession,
    kg: DataFrame,
    table: str,
    *,
    batch_id: int | None = None,
    num_buckets: int = 16,
    id_col: str = "doc_id",
) -> int:
    """The CLUSTER-scale k-gram store: a catalog table partitioned by
    batch_id and BUCKETED (sorted) on ``kh`` — the span_store twin of
    signature_store.append_signature_batch_bucketed. Every kh join
    against history (the first-seen anti-join at append, the owner
    lookup at span time) then reads the STORE side pre-hash-partitioned
    with zero exchange; only the arriving batch's frame shuffles, so
    the full k-gram history — the big side at 100 TB — is never
    re-shuffled (path parquet cannot persist bucketing metadata; a
    catalog table can, plan-tested in test_scale_ops). Takes the
    already-signed occurrence frame ``kg`` (sign once, share across
    append and span join — see incremental_substring_spans_bucketed).
    Appends the batch's FIRST-SEEN k-grams; returns the batch_id.

    An EXPLICIT batch_id write is REPLACE-on-replay, the same
    idempotence contract as every path-based store (_append_kg,
    append_banded_batch, ivf_index_append): bucketed catalog writes
    cannot go through insertInto/dynamic-overwrite without losing the
    bucketing spec, so replay safety is ALTER TABLE DROP PARTITION
    (a metadata+data delete the catalog serves for datasource tables)
    followed by the bucketed append — a replayed batch replaces its
    own partition instead of double-appending first-seen rows."""

    def firsts(bid: int) -> DataFrame:
        out = kg.groupBy("kh").agg(F.min(id_col).alias("owner_doc"))
        if not spark.catalog.tableExists(table):
            return out
        hist = spark.table(table).filter(F.col("batch_id") < bid).select("kh")
        return out.join(hist, "kh", "left_anti")

    return store_fs.append_bucketed(
        spark, table, firsts,
        bucket_col="kh", batch_id=batch_id, num_buckets=num_buckets,
    )


def incremental_substring_spans_bucketed(
    spark: SparkSession,
    new_docs: DataFrame,
    table: str,
    **params,
) -> DataFrame:
    """incremental_substring_spans against the kh-bucketed catalog
    store: identical semantics (first-arrival ownership, non-owned
    span emission), but the history owner lookup reads the store
    pre-partitioned on kh — no exchange of the accumulated k-gram set,
    only the new batch's occurrence frame shuffles."""
    k = params.get("k", 8)
    id_col = params.get("id_col", "doc_id")
    text_col = params.get("text_col", "text")
    kg = _kgram_occurrences(new_docs, k, id_col, text_col).transform(stage)
    bid = append_kgram_batch_bucketed(
        spark, kg, table,
        batch_id=params.get("batch_id"),
        num_buckets=params.get("num_buckets", 16),
        id_col=id_col,
    )
    return _spans_kg_bucketed(spark, kg, table, bid, k=k, id_col=id_col)


def _spans_kg_bucketed(
    spark: SparkSession,
    kg: DataFrame,
    table: str,
    batch_id: int,
    *,
    k: int,
    id_col: str,
) -> DataFrame:
    """_spans_kg against the kh-bucketed catalog store: the owner
    lookup reads the store pre-partitioned on kh — zero history
    exchange. Shared by the batch and streaming bucketed twins."""
    owners = (
        spark.table(table)
        .filter(F.col("batch_id") <= batch_id)
        .select("kh", "owner_doc")
    )
    covered = (
        kg.join(owners, "kh")
        .filter(F.col("owner_doc") != F.col(id_col))
        .select(id_col, "pos", "kh", "owner_doc")
    )
    return dup_span_intervals(covered, k=k, id_col=id_col)


def compact_span_store(spark: SparkSession, store_path: str) -> int:
    """Fold every batch partition into base batch 0, keeping each
    k-gram's EARLIEST registration (min batch, then that batch's
    owner) — semantics-preserving because future batches only read
    "does this kh exist, and who owns it", and first-arrival ownership
    survives the fold. Store rows are first-seen-distinct so the fold
    is mostly a relayout; shares the staged-swap crash posture with
    the other stores (store_fs.fold_generation). Returns batches
    folded."""
    return len(
        store_fs.fold_generation(
            spark,
            store_path,
            lambda rows: rows.groupBy("kh")
            .agg(F.min(F.struct("batch_id", "owner_doc")).alias("_o"))
            .select("kh", F.col("_o.owner_doc").alias("owner_doc")),
        )
    )


def streaming_substring_dedup(
    docs_stream: DataFrame,
    store_path: str | None,
    spans_path: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    store_table: str | None = None,
    **params,
):
    """CONTINUOUS exact-substring dedup — the streaming twin, same
    exactly-once contract as streaming_minhash_dedup /
    streaming_ivf_append: each micro-batch's
    k-grams are idempotently registered under the STREAMING batch id
    (dynamic partition overwrite), and the batch's duplicated spans
    land in ``spans_path`` partitioned by batch_id (also
    replay-overwritten). Returns the StreamingQuery.

    ``store_table`` (recommended at cadence): run the k-gram store as
    the kh-BUCKETED catalog table instead of the path store — the
    history anti-join and owner lookup then read the store with zero
    exchange, removing the linear-in-depth per-batch re-shuffle the
    path store pays (STREAM_r09; the Bloom prune only flattens it).
    The path form stays for quick starts and emits a one-time advisory
    past the measured crossover depth. Exactly one of ``store_path`` /
    ``store_table`` must be set."""
    k = params.get("k", 8)
    id_col = params.get("id_col", "doc_id")
    text_col = params.get("text_col", "text")

    def produce(spark, batch_df: DataFrame, batch_id: int) -> DataFrame:
        kg = _kgram_occurrences(batch_df, k, id_col, text_col).transform(stage)
        if store_table is not None:
            append_kgram_batch_bucketed(
                spark, kg, store_table,
                batch_id=batch_id,
                num_buckets=params.get("num_buckets", 16),
                id_col=id_col,
            )
            return _spans_kg_bucketed(
                spark, kg, store_table, batch_id, k=k, id_col=id_col
            )
        _append_kg(spark, kg, store_path, batch_id=batch_id, id_col=id_col)
        return _spans_kg(spark, kg, store_path, batch_id, k=k, id_col=id_col)

    return store_fs.stream_into_sink(
        docs_stream, spans_path, checkpoint_dir, produce,
        query_name="substring_dedup", trigger=trigger,
        store_path=store_path, store_table=store_table,
    )


def read_span_sink(
    spark: SparkSession, spans_path: str, id_col: str = "doc_id"
) -> DataFrame:
    """Read the streaming span sink with a declared schema. Until the
    first NON-EMPTY micro-batch lands, the sink path does not exist
    (zero-span batches skip their write — see streaming_substring_dedup),
    so a bare spark.read.parquet would fail; consumers get a typed
    empty frame instead and their downstream plans stay valid."""
    schema = (
        f"{id_col} BIGINT, span_start BIGINT, span_end BIGINT, batch_id INT"
    )
    got = store_fs.read_sink(spark, spans_path)
    return got if got is not None else spark.createDataFrame([], schema)
