"""Bloom semi-join reduction — map-side pruning of a big probe frame
before its join exchange (the classic "Bloomjoin", Mackert & Lohman,
VLDB 1986; the same idea Spark itself ships as runtime bloom filters).

The problem this solves: a semi/inner join whose PROBE side is an
intermediate blow-up (wedges in triangle counting, candidate pairs in
dedup) shuffles every probe row to the join exchange, even though only
a tiny fraction will match the build side. The join exchange — not the
join compute — becomes the scale ceiling: user_triangle_counts' wedge
exchange measured 5.3 GB at sf10 and a projected ~53 GB at sf100
(SCALE_r09_sf100.json "skipped"), which exceeded the box. Almost all
of those bytes are wedges that never close.

Why not Spark's own runtime bloom filter
(``spark.sql.optimizer.runtime.bloomFilter.enabled``): InjectRuntimeFilter
only fires when the creation side has a *selective scan predicate*
(``isLikelySelective``) — a membership build side that is itself a full
intermediate (every oriented edge) never qualifies — and the underlying
``might_contain``/``bloom_filter_agg`` expressions are not registered as
public SQL functions in Spark 4.x, so they cannot be reached from the
DataFrame/SQL API directly. This module rebuilds the same effect from
public primitives only:

1. hash every build key to a bucket: ``xxhash64(keys) & (m-1)`` with m
   a power of two (``&`` avoids pmod's sign handling on the signed
   xxhash64 output);
2. bit-pack the bucket set 64 buckets per row:
   ``groupBy(bucket >> 6).agg(bit_or(1L << (bucket & 63)))`` — a
   one-hash Bloom bitmap materialized as a (word_index, word) relation
   of at most m/64 rows, built with ONE partial-aggregated scan;
3. prune the probe with a **broadcast** inner join on word_index plus a
   bit test — executed in the probe's producing stage, BEFORE its
   exchange, which is the entire point.

False positives pass (callers keep their exact join afterwards; the
bit test only shrinks the exchange), false negatives are impossible:
a build key always sets the exact bit its probe twin tests, because
both sides hash the same column list with the same xxhash64 seed.

Sizing: one hash function, so FPR = 1 - exp(-n/m) (~n/m for m >> n).
``BITS_PER_KEY = 8`` gives ~11.8% FPR for ~1 byte of bitmap
per build key — a 53 GB probe exchange drops to ~12% + true matches,
and the broadcast stays ~n/8 words (two longs each), roughly an order
of magnitude lighter than broadcasting the build rows themselves into
a hash relation. Callers with a known build count should pass
``n_keys`` to skip the count job.

At 100 TB: the bitmap is linear in the BUILD side (the small side by
construction — callers choose which side blows up), the probe side
never moves until after the bit test, and everything is built-in
JVM expressions (xxhash64, shiftleft/shiftright, bit_or, bitwise and)
inside whole-stage codegen.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bloom_prune",
    "prune_history",
    "should_prune",
]

# The incremental-store history prunes (the second application of this
# module, after the triangle wedge exchange): the arriving batch is the
# SMALL side by construction, so its bitmap is tiny, and the accumulated
# history — whose per-batch re-shuffle is the linear-in-history ingest
# cost STREAM_r09 measured on the path stores — is the probe that gets
# pruned before its exchange. The prune carries a fixed per-batch tax
# (sizing count + bitmap build + broadcast) that shallow histories never
# repay — the measured shuffle crossover at cadence is ~3-4 batches
# (STREAM_r09 vs STREAM_r09_bloom). Every store call site knows its
# history depth in BATCHES for free (the arriving batch_id), so the
# prune self-disables below this depth instead of taxing demo stores,
# correctness runs, and freshly-bootstrapped production stores.
STORE_MIN_HISTORY_BATCHES = 4

# Bitmap bits per build key: the FPR/broadcast trade-off in the module
# docstring's sizing note.
BITS_PER_KEY = 8

# Floor on the bitmap size: 2^16 bits = 1024 words. Below this the
# bitmap is noise-sized anyway and a power-of-two floor keeps the mask
# arithmetic branch-free for empty/tiny build sides.
_MIN_BITS = 1 << 16


def _bucket(cols: Sequence[str], mask: int):
    # xxhash64 over the raw key columns (deterministic seed 42 inside
    # Spark); & with a non-negative mask makes the bucket non-negative
    # regardless of the hash sign, so >> 6 below is a plain word index.
    return F.xxhash64(*[F.col(c) for c in cols]).bitwiseAND(F.lit(mask))


def _fresh(base: str, taken) -> str:
    # collision-free internal column name: withColumn would silently
    # REPLACE a caller column named __bkt/__widx, and the added __word
    # would raise ambiguous-reference if the probe carries one — both
    # unacceptable for a public operator API.
    name = base
    while name in taken:
        name += "_"
    return name


def bloom_prune(
    probe: DataFrame,
    build: DataFrame,
    probe_cols: Sequence[str],
    build_cols: Sequence[str],
    *,
    n_keys: Optional[int] = None,
) -> DataFrame:
    """Return ``probe`` minus (most) rows whose ``probe_cols`` key does
    not appear in ``build``'s ``build_cols`` — a may-contain filter, to
    be followed by the caller's exact join.

    Guarantees: result is a subset of ``probe`` (same schema, no
    reorder of columns) and a superset of
    ``probe.join(build, keys, "left_semi")``.

    ``n_keys``: build-side row count if the caller already knows it
    (e.g. a staged frame whose count is a cached-block scan); when
    omitted, one count job runs over ``build``.
    """
    if len(probe_cols) != len(build_cols) or not probe_cols:
        raise ValueError(
            "probe_cols and build_cols must be equal-length and non-empty, "
            f"got {list(probe_cols)!r} / {list(build_cols)!r}"
        )
    # xxhash64 is TYPE-sensitive (int 1 and bigint 1 hash differently)
    # while the caller's exact equi-join coerces and matches — a typed
    # mismatch here would silently prune TRUE matches, breaking the
    # no-false-negative guarantee. Refuse instead of corrupting.
    for pc, bc in zip(probe_cols, build_cols):
        pt, bt = probe.schema[pc].dataType, build.schema[bc].dataType
        if pt != bt:
            raise ValueError(
                f"bloom key type mismatch: probe {pc!r} is "
                f"{pt.simpleString()} but build {bc!r} is "
                f"{bt.simpleString()} — cast both sides to a common "
                "type before pruning (xxhash64 is type-sensitive)"
            )
    if n_keys is None:
        n_keys = build.count()
    m_bits = max(_MIN_BITS, 1 << max(1, int(n_keys) * BITS_PER_KEY - 1).bit_length())
    mask = m_bits - 1

    out_cols = probe.columns
    bkt = _fresh("__bkt", out_cols)
    widx = _fresh("__widx", out_cols)
    word = _fresh("__word", out_cols)

    words = (
        build.select(_bucket(build_cols, mask).alias(bkt))
        .select(
            F.shiftright(bkt, 6).alias(widx),
            F.expr(f"shiftleft(1L, cast({bkt} & 63 AS int))").alias("__wbit"),
        )
        .groupBy(widx)
        .agg(F.bit_or("__wbit").alias(word))
    )

    keyed = probe.withColumn(bkt, _bucket(probe_cols, mask)).withColumn(
        widx, F.shiftright(bkt, 6)
    )
    # Inner join: a probe word index absent from the bitmap means no
    # build key hashes anywhere in those 64 buckets — drop the row.
    return (
        keyed.join(F.broadcast(words), widx)
        .where(
            F.expr(f"({word} & shiftleft(1L, cast({bkt} & 63 AS int))) != 0")
        )
        .select(*probe.columns)
    )


def prune_history(
    history: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    *,
    history_batches: Optional[int] = None,
) -> DataFrame:
    """Incremental-store form of :func:`bloom_prune`: drop (most)
    ``history`` rows whose ``keys`` do not appear in the arriving
    ``batch``. The exact join the caller performs afterwards (the
    candidates equi-join, the first-seen anti-join, the owner lookup)
    is unaffected by false positives; rows removed here carry a key no
    batch row has, so they could never have matched — including for the
    LEFT ANTI case, where a pruned history row could only have failed
    to eliminate a batch row it never equals.

    Uses :func:`bloom_prune`'s default 8 bits per key. Column names
    must match on both sides, which holds at every store call site.
    ``batch`` is counted for bitmap sizing — callers pass staged
    (materialized) frames, so that count is a cached-block scan.

    ``history_batches``: the store's history depth in batches (the
    arriving batch_id — call sites know it for free). Below
    ``STORE_MIN_HISTORY_BATCHES`` (the measured shuffle crossover at
    cadence) the prune is skipped: the fixed bitmap tax exceeds what a
    shallow history's exchange can save. Pass None to prune
    unconditionally."""
    if not should_prune(history_batches):
        return history
    return bloom_prune(history, batch, keys, keys)


def should_prune(history_batches: Optional[int]) -> bool:
    """Whether :func:`prune_history` will engage at this history depth.
    Callers that want to stage the batch frame ONLY when the prune will
    read it twice more (sizing count + bitmap build) gate the staging on
    this — so below the crossover depth, plans AND staging stay
    byte-identical to the pre-prune code."""
    return history_batches is None or history_batches >= STORE_MIN_HISTORY_BATCHES
