"""Deduplication operators for large-scale text corpora.

Driver-mandated LLM-pipeline extensions (SURVEY.md §7 Phase 4), grown from
the reference's first-seen-wins pointer dedup (script.hpp:246-268) and
hash-memo (script.hpp:127-129).

All variants are pure DataFrame plans built on deterministic sha2-based
hashing so they are (a) reproducible across runs/engines and (b) oracle-
checkable against DuckDB. No collect(), no Python row loops.

Scale posture:
  - exact dedup: one shuffle on the 256-bit content hash.
  - minhash-LSH: shingling + signatures are narrow (no shuffle); the only
    shuffle is the band-bucket self-join, whose fan-out is controlled by
    (bands, rows-per-band). Candidate verification is a second narrow map.
  - band_pairs is the one band-bucket pair join (MinHash, sign-LSH and
    both signature-store forms); _pair_stage is the one read of
    spark.pulsar.pairs.partitions (sign-LSH and Hamming self-joins).
  - n-gram Jaccard runs on LSH candidates only — never all-pairs.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..sources.tables import spread
from ..staging import stage as stage_frame
from .bloomjoin import bloom_prune

# Gated Bloom prune for the substring scrub/spans anchor layer (the
# round-11 treatment of the family's broadcast->SMJ transition,
# SCRUB_DIAG.json / BASELINE.md round 11): once `dup` outgrows the
# broadcast threshold, the occurrence join flips to SortMergeJoin and
# the full k-gram frame starts shuffling — 1.68 GB of brand-new
# exchange at sf10, ~17 GB at sf100. Most k-grams are NOT cross-doc
# duplicated, so a Bloom bitmap over the duplicated set prunes the
# probe exchange down to the true-match fraction (+~12% FPR at 8 bits).
# Below this many staged k-gram rows the join broadcasts and the probe
# never shuffles, so the prune would be pure tax — the gate keeps
# small-SF plans byte-identical to the ungated form (EXPLAIN pins stay
# stable at the generator's sf0.01).
_SCRUB_MIN_KG_DEFAULT = 8_000_000  # between sf1.0 (2.4M, broadcast) and sf10 (24M, SMJ)


def normalized_text(col: str = "text"):
    """Lowercase, collapse whitespace — canonical form for hashing."""
    return F.lower(F.regexp_replace(F.col(col), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by sha2(normalized text); keep the lowest id as canonical.
    Returns (content_hash, canonical_id, dup_count)."""
    return (
        df.select(
            F.sha2(normalized_text(text_col), 256).alias("content_hash"),
            F.col(id_col),
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def tokenized(text_col: str = "text"):
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(F.trim(normalized_text(text_col)), r"\s+")


def shingles_of(words, n: int = 3):
    """Word n-gram shingles (array<string>) from a token-array column,
    built with JVM-side higher-order functions (no UDF).

    ``words`` MUST be a staged column reference (``F.col``), not the raw
    ``tokenized(...)`` expression: it is referenced n+2 times here, and an
    inlined expression re-splits the whole text once per element_at PER
    SHINGLE — measured 2x wall-clock on the near-dup suite.
    """
    # shingle i = words[i..i+n-1]; sequence is 1-based for element_at.
    # Guard: sequence(1, 0) DESCENDS in Spark, so short texts must map to
    # an empty array explicitly.
    shingles = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(words, i + j) for j in range(n)]),
    )
    return F.when(F.size(words) >= n, shingles).otherwise(
        F.array().cast("array<string>")
    )


def _digest_chunk(slot: int):
    """Arity-1 lambda factory: a 2-arg lambda would make Spark pass the
    array index as the second argument (higher-order-function arity
    dispatch), silently corrupting the slot."""
    start = 1 + 8 * slot

    def fn(h):
        return F.substring(h, start, 8)

    return fn


def minhash_signature(hashed_shingles_col, num_hashes: int = 8):
    """Deterministic minhash over pre-hashed shingles: hash function h =
    hex chars [8h, 8h+8) of each shingle's sha2-256 digest; signature
    slot h = min over shingles. One sha2 per shingle total (not one per
    hash function) — 8x less hashing than seeded re-digesting, and the
    string-min runs over 8-char strings instead of 64-char. String-min
    over fixed-width hex == min over the underlying 32-bit integers, so
    each chunk is a valid minhash family member. Returns array<string>.
    """
    assert num_hashes <= 8, "sha2-256 digest yields eight 8-hex-char chunks"
    return F.array(
        *[
            F.array_min(F.transform(hashed_shingles_col, _digest_chunk(s)))
            for s in range(num_hashes)
        ]
    )


def banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band_idx, band_key) banded minhash signatures — the narrow
    (no-shuffle) front half of LSH dedup, shared by the one-shot
    self-join (minhash_lsh_candidates) and the incremental store
    (signature_store.py). Stage tokens, then per-shingle sha2, each in
    its own projection so the split runs once per doc and the digest
    once per shingle (never once per signature slot). spread():
    shingling is compute-bound, so partition by cores, not bytes."""
    assert num_hashes % band_size == 0
    bands = num_hashes // band_size
    toks = spread(df).select(
        F.col(id_col).alias("id"), tokenized(text_col).alias("_words")
    )
    hashed = toks.select(
        "id",
        F.transform(
            shingles_of(F.col("_words"), shingle_n), lambda s: F.sha2(s, 256)
        ).alias("hs"),
    )
    return (
        hashed.select("id", minhash_signature(F.col("hs"), num_hashes).alias("sig"))
        .select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            F.concat_ws(
                                "|",
                                *[
                                    F.element_at(F.col("sig"), b * band_size + j + 1)
                                    for j in range(band_size)
                                ],
                            ).alias("band_key"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band"),
        )
        .select("id", "band.band_idx", "band.band_key")
    )


def band_pairs(
    new: DataFrame, keys: tuple[str, ...], hist: DataFrame | None = None
) -> DataFrame:
    """The band-bucket pair join every LSH form shares: distinct
    (id_a, id_b), id_a < id_b, for rows of ``new`` (id plus the
    ``keys`` columns) that agree on every ``keys`` value. With ``hist``
    (rows of the same shape that arrived earlier), also the pairs
    between a ``new`` row and a ``hist`` row, ordered by ``least`` /
    ``greatest`` with equal ids excluded, unioned with the within-batch
    pairs before the one ``distinct`` (a pair sharing several bands
    meets in several buckets). History is never joined with itself:
    its pairs came out when its own rows were ``new``, which is what
    keeps an increment O(new x matched). MinHash bands and sign-LSH
    embedding bands key on ``(band_idx, band_key)``, the bucketed
    catalog store on its one ``band`` column."""

    def on(l, r, ids):
        return functools.reduce(
            operator.and_,
            [F.col(f"{l}.{k}") == F.col(f"{r}.{k}") for k in keys] + [ids],
        )

    a, b = new.alias("a"), new.alias("b")
    pairs = a.join(b, on("a", "b", F.col("a.id") < F.col("b.id"))).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )
    if hist is not None:
        n, h = new.alias("n"), hist.alias("h")
        pairs = pairs.unionByName(
            n.join(h, on("n", "h", F.col("n.id") != F.col("h.id"))).select(
                F.least("n.id", "h.id").alias("id_a"),
                F.greatest("n.id", "h.id").alias("id_b"),
            )
        )
    return pairs.distinct()


def _pair_stage(banded: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """``banded`` repartitioned on ``keys`` to
    ``spark.pulsar.pairs.partitions`` partitions when that conf is above
    0, else ``banded`` itself (the default: AQE sizes the stage). The
    one read of the conf; lsh_blocked_pairs and hamming_banded_pairs
    call it on the frame their self-join reads.

    AQE sizes the pair-producing stage by the banded exchange's INPUT
    bytes (sf100: 332 MB -> ~33 tasks), but the self-join explodes
    ~50x on the way to the pair exchange, so each task's shuffle-write
    sorter overflows: 97 GB of memory spill attributed to that one
    stage (SPILL_DIAG_imgxwide_sf100_adv16m.json; the same mechanism
    as the triangle wedge stage, SPILL_DIAG_triangle_sf100.json). A
    keyed repartition with an explicit count is exempt from AQE
    coalescing and sets that stage's task count directly
    (SPILL_DIAG_imgxwide_sf100_pairs512.json); both self-join sides
    share the one exchange, and rows are untouched, so the pairs are
    the same."""
    nparts = int(
        banded.sparkSession.conf.get("spark.pulsar.pairs.partitions", "0") or 0
    )
    return banded.repartition(nparts, *keys) if nparts > 0 else banded


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded minhash-LSH.

    bands = num_hashes / band_size; two docs are candidates if any band of
    their signatures matches exactly. Returns (id_a, id_b) with id_a < id_b.
    The band_pairs self-join shuffles on (band_idx, band_key) — the
    classic LSH bucket join; bucket skew (a viral band) is handled by
    AQE skew-join.
    """
    return band_pairs(
        banded_signatures(df, id_col, text_col, num_hashes, band_size, shingle_n),
        ("band_idx", "band_key"),
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate (id_a, id_b) pairs.
    array_intersect/array_union on distinct shingles — JVM-side.

    The shingle side deliberately scans the FULL corpus (one narrow
    map) rather than semi-joining against the candidate id set first:
    deriving the ids from ``pairs`` re-evaluates the whole LSH pipeline
    (shingle + minhash + band self-join — the broadcast branch defeats
    exchange reuse), which MEASURED 40% slower than the extra shingle
    map at sf0.1 and only gets worse as the pair pipeline deepens. A
    caller that has already MATERIALIZED its candidate pairs (e.g. the
    incremental store) should pre-filter ``df`` itself — against a
    concrete table the semi-join is free and the corpus never shingles."""
    sh = (
        spread(df)
        .select(F.col(id_col).alias("id"), tokenized(text_col).alias("_words"))
        .select(
            "id",
            F.array_distinct(shingles_of(F.col("_words"), shingle_n)).alias("sh"),
        )
    )
    ja = pairs.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
    ja = ja.join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return ja.select(
        "id_a",
        "id_b",
        F.round(inter / F.when(union == 0, F.lit(1)).otherwise(union), 6).alias("jaccard"),
    )


def simhash64(text_col: str = "text"):
    """64-bit SimHash over whitespace tokens, JVM-side.

    Token hash = xxhash64 is engine-specific, so for oracle-checkable runs
    we derive each token's 64 bits from sha2 hex (first 16 hex chars ->
    bigint via conv). Bit b of the simhash = majority vote of token bits.
    Returned as bigint (may be negative — two's complement).
    """
    words = F.array_distinct(F.split(F.trim(normalized_text(text_col)), r"\s+"))
    tok_hash = F.transform(
        words, lambda w: F.conv(F.substring(F.sha2(w, 256), 1, 15), 16, 10).cast("long")
    )
    # 15 hex chars = 60 bits, sign-safe in a long. Majority vote per bit:
    # sum(+1/-1) >= 0 -> bit set. A single aggregate pass carries the full
    # 60-slot vote array — one sha2 per token total (the per-bit-aggregate
    # formulation re-evaluated the token-hash transform 60 times).
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(60)])
    votes = F.aggregate(
        tok_hash,
        F.array_repeat(F.lit(0), 60),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, pw: a + F.when(h.bitwiseAND(pw) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, pw: F.when(v >= 0, pw).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def drop_hot_keys(df: DataFrame, key_cols: list[str], max_df: int) -> DataFrame:
    """MOSS stop-fingerprint rule (Schleimer et al. 2003 §5 "too-common
    fingerprints"): drop rows whose key occurs in more than ``max_df``
    input rows before a fingerprint self-join. A stop-word k-gram (or a
    degenerate band value over short docs) otherwise forms a mega-bucket
    whose pair fan-out is SEMANTICALLY quadratic — AQE skew-join splits
    the partition but cannot shrink the pair count. The hot-key set is
    tiny by construction (only keys above the cap), so the exclusion is
    a broadcast LEFT ANTI join: one extra keyed agg, no new shuffle of
    the big side beyond the agg's, and the downstream join's worst
    bucket is bounded at max_df rows -> max_df^2 pairs."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_df"))
    hot = counts.filter(F.col("_df") > max_df).select(*key_cols)
    return df.join(F.broadcast(hot), key_cols, "left_anti")


def kgram_hashes(words, k: int = 4):
    """k-gram hash sequence for winnowing: first 8 hex chars of
    sha2(k-gram) per position. String-min over fixed-width hex ==
    integer min, and sha2 is engine-identical, so a DuckDB oracle can
    replicate everything downstream exactly. ``words`` must be a staged
    column (see shingles_of)."""
    return F.transform(
        shingles_of(words, k), lambda s: F.substring(F.sha2(s, 256), 1, 8)
    )


def winnow(kh, w: int = 5):
    """Winnowing selection (Schleimer, Wilkerson, Aiken 2003 — the MOSS
    local fingerprinting scheme): slide a w-window over the k-gram hash
    sequence, keep each window's minimum; the selected set is
    edit-robust (guaranteed to share fingerprints with any copy of
    >= w+k-1 contiguous tokens), unlike a whole-document hash. Returns
    DISTINCT selected hashes as array<string>.

    ``kh`` MUST be a staged column reference (F.col), not the raw
    kgram_hashes(...) expression: the window transform references it
    once per window, and an inlined expression re-hashes every k-gram
    per window — measured 8x wall-clock on the match suite at sf0.1.
    """
    wins = F.transform(
        F.sequence(F.lit(1), F.size(kh) - (w - 1)),
        lambda i: F.array_min(F.slice(kh, i, w)),
    )
    # degenerate docs (< w k-grams): select every hash — matches the
    # oracle's CASE and keeps short docs fingerprintable
    return F.when(F.size(kh) >= w, F.array_distinct(wins)).otherwise(
        F.array_distinct(kh)
    )


def dup_kgram_occurrences(
    toks: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "w",
) -> DataFrame:
    """Occurrences of CROSS-DOCUMENT duplicated k-grams — the anchor
    layer of exact substring-span dedup (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better'): a
    token span duplicated across documents is, equivalently, a maximal
    run of k-gram positions whose hashes each occur in >= 2 distinct
    documents. Returns one row per such occurrence:
    (id_col, pos [1-based k-gram start], kh, owner_doc [min doc id
    containing the k-gram — the occurrence every scrub policy keeps]).

    Scale shape — the reason this beats pairwise span matching: there
    is NO pair join anywhere. One narrow (doc, pos, kh) explode (corpus
    token count rows), ONE aggregate on kh (min/max doc — "duplicated
    across docs" is exactly min != max, fully partial-aggregable
    map-side, avoiding the two-exchange countDistinct expand pair
    SCRUB_DIAG.json measured as this family's largest shuffles; a
    viral boilerplate k-gram is one hot GROUP, never a hot JOIN bucket
    fanning out quadratically), and one equi join of occurrences back
    to the duplicated-hash set — Bloom-pruned past the broadcast->SMJ
    transition (``_SCRUB_MIN_KG_DEFAULT`` gate) so the full k-gram frame
    never shuffles for its duplicated minority. Span assembly downstream
    is per-document windows (bounded by doc length) — so the whole
    pipeline is linear in corpus size at any duplication rate. Suffix
    arrays (the Lee et al. implementation) find the same >= k-token
    cross-doc spans; the k-gram-cover form is the shuffle-friendly
    equivalent for a cluster.

    The signed k-gram frame feeds TWO lineages (the ownership aggregate
    and the occurrence join); it is staged (staging.stage) so the
    sha2-per-token signing runs ONCE per plan, matching the incremental
    twin (span_store._kgram_occurrences is checkpointed at append time).
    On a cluster with elastic executors prefer reliable staging."""
    wcol = F.col(tokens_col)
    kg = toks.filter(F.size(wcol) >= k).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size(wcol) - (k - 1)),
                lambda i: F.sha2(F.concat_ws(" ", F.slice(wcol, i, k)), 256),
            )
        ).alias("_p0", "kh"),
    ).select(id_col, (F.col("_p0") + 1).alias("pos"), "kh")
    # the gate's row count rides the staging job as an observe metric
    # (round 11) — no separate cached-block count scan
    _kgn = Observation()
    kg = stage_frame(kg.observe(_kgn, F.count(F.lit(1)).alias("n")))
    # "occurs in >= 2 distinct docs" == min(doc) != max(doc): the
    # countDistinct form Spark rewrites into TWO full (kh, doc)-grain
    # exchanges (the distinct-expand pair SCRUB_DIAG.json measured as
    # the query's largest exchanges — 352 MB of 389 at sf1.0); min/max
    # are plain partial aggregates, so this is ONE exchange of
    # (kh, min, max) rows — the same information, half the agg shuffle.
    dup = (
        kg.groupBy("kh")
        .agg(
            F.min(id_col).alias("owner_doc"),
            F.max(id_col).alias("_max_doc"),
        )
        .filter(F.col("owner_doc") != F.col("_max_doc"))
        .drop("_max_doc")
    )
    probe = kg
    if _kgn.get["n"] >= _SCRUB_MIN_KG_DEFAULT:
        # Past the broadcast->SMJ transition the FULL k-gram frame
        # shuffles into this join (1.68 GB at sf10, ~17 GB at sf100)
        # though only the duplicated minority matches. Stage the
        # (small) duplicated set once so the bitmap build and the join
        # read the same materialized frame, then bit-test kg BEFORE
        # its exchange. False positives just ride into the exact join.
        # The bitmap sizing count rides the staging job (observe).
        _dupn = Observation()
        dup = stage_frame(dup.observe(_dupn, F.count(F.lit(1)).alias("n")))
        probe = bloom_prune(kg, dup, ["kh"], ["kh"], n_keys=_dupn.get["n"])
    return probe.join(dup, "kh").select(id_col, "pos", "kh", "owner_doc")


def dup_span_intervals(
    occurrences: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Merge consecutive duplicated k-gram positions into maximal token
    intervals (gaps-and-islands): positions p, p+1, ... covering a
    contiguous duplicated region collapse to one
    (id_col, span_start, span_end) row with span_end = max(pos)+k-1.
    The window partitions per DOCUMENT (bounded by doc length, never
    corpus size); islands keyed by pos - row_number are the standard
    O(1)-state formulation."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        occurrences.select(id_col, "pos")
        .distinct()
        .withColumn("_isl", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
        )
        .drop("_isl")
    )


def scrub_duplicated_spans(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full substring-scrub composition over a (id, text) frame: drop
    every token covered by a cross-doc duplicated k-gram whose owner
    (min doc id) is another document — first occurrence keeps its copy
    (Lee et al. 2022 keep-one policy) — and reassemble surviving
    tokens in order. Returns (id_col, n_tokens, n_removed, clean_text);
    docs scrubbed to nothing emit '' rather than vanishing. See
    dup_kgram_occurrences for why this is linear at any duplication
    rate (no pair join).

    Scale shape (round 11 — SCRUB_DIAG.json named this family's
    broadcast->SMJ transition, and this rewrite removes its two
    probe-side members): covered positions are NEVER exploded to a
    token-grain frame. Non-owned duplicated occurrences (the SMALL
    frame) merge into per-doc maximal INTERVALS (dup_span_intervals —
    per-document windows), the intervals collect to one array per doc
    (a handful of structs), and covered positions are subtracted
    IN-ARRAY per document: ``array_except(sequence(1, len), flatten
    (per-span sequences))`` keeps surviving positions in order, and
    one ``transform``/``element_at`` projection reassembles the text.
    The old token-position anti join shuffled the FULL corpus at
    token grain (531 MB at sf10, ~5 GB at sf100) plus an 8x covered
    explode through a distinct — both exchanges are gone; what
    shuffles instead is the occurrence frame (duplicated minority
    only) and one doc-grain join of the token arrays against the
    per-doc span lists. Per-doc work is O(len + covered) hash-set
    subtraction — linear, bounded by doc length.

    The token frame feeds THREE lineages (k-gram signing, the final
    doc-grain join, and sizing); staging.stage materializes the
    tokenize once instead of re-splitting the corpus per consumer —
    measured ~25% wall-clock at sf0.1 (the reindex/graph-CC idiom; set
    spark.checkpoint.dir on clusters with elastic executors)."""
    toks = docs.select(id_col, tokenized(text_col).alias("w")).transform(stage_frame)
    occ = dup_kgram_occurrences(toks, k=k, id_col=id_col)
    noc = occ.filter(F.col("owner_doc") != F.col(id_col)).select(id_col, "pos")
    spans = dup_span_intervals(noc, k=k, id_col=id_col)
    # one array of (start, end) structs per doc; the window in
    # dup_span_intervals already partitioned by doc, so this groupBy
    # reuses that exchange. Intervals from gaps-and-islands may overlap
    # (anchors with gaps < k merge only when consecutive) — harmless:
    # array_except subtracts a SET, duplicate covered positions are
    # absorbed.
    spansets = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").cast("int").alias("s"),
                F.col("span_end").cast("int").alias("e"),
            )
        ).alias("_spans")
    )
    # sequence(1, 0) would produce a DESCENDING [1, 0] — guard empties
    positions = F.when(
        F.size("w") > 0, F.sequence(F.lit(1), F.size("w"))
    ).otherwise(F.array().cast("array<int>"))
    covered = F.coalesce(
        F.flatten(
            F.transform(F.col("_spans"), lambda s: F.sequence(s["s"], s["e"]))
        ),
        F.array().cast("array<int>"),
    )
    kept_pos = F.array_except(positions, covered)
    return (
        toks.join(spansets, id_col, "left")
        .select(
            id_col,
            F.size("w").cast("long").alias("n_tokens"),
            kept_pos.alias("_kept"),
            F.col("w"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("n_tokens") - F.size("_kept")).cast("long").alias("n_removed"),
            F.array_join(
                F.transform(F.col("_kept"), lambda p: F.element_at("w", p)),
                " ",
            ).alias("clean_text"),
        )
    )


def hamming_banded_pairs(
    hashes: DataFrame,
    hash_col: str = "ahash",
    id_col: str = "doc_id",
    bits: int = 16,
    band_bits: int = 4,
    max_hamming: int = 2,
    max_df: int = 4096,
) -> DataFrame:
    """Near-duplicate pairs under Hamming distance over an integer
    fingerprint column (SimHash/pHash family), banded so the join is an
    EQUI-join on (band_idx, band_val) — never all-pairs. Pigeonhole
    guarantee: with ``bits/band_bits`` bands, any pair within Hamming
    distance < #bands shares at least one identical band, so for
    ``max_hamming < bands`` the banded result EQUALS the brute-force
    result (exactness is unit-tested against a Python mirror).
    ``max_df`` caps degenerate fingerprint buckets via drop_hot_keys —
    pair work per band bucket is bounded at max_df^2, so the cap IS the
    operator's worst-case work budget, not a formality. The round-8
    second-decade measurement made that concrete: the old 100k default
    admitted 10^10-pair buckets, and at 100x data the planted
    %40-group clusters (12,500 identical hashes each) blew a ~25e9-row
    join through 77 GB of shuffle spill and killed the JVM. The 4096
    default bounds any bucket at ~17M pairs (comfortably a single
    task) while never firing on healthy near-dup structure at any test
    SF (group sizes 12-1250 through sf1.0). A bucket ABOVE the cap is
    a mega-cluster, and pair enumeration is the wrong tool for it
    anyway — identical-hash membership is linear work via groupBy
    (keep-one semantics, see dedup_keep_best's cluster path); the cap
    routes it out of the quadratic join rather than pretending to
    enumerate it. Returns (id_a, id_b, hamming), id_a < id_b, distinct.

    ``hashes`` feeds THREE lineages (drop_hot_keys' count plus both
    self-join sides); when it is expensive upstream — the perceptual
    queries decode real BMP/WAV/AVI bytes via mapInPandas to produce
    it — an un-staged plan re-runs that decode 3-4x. So the narrow
    (id, hash) projection is staged (staging.stage): the decode runs
    ONCE and only the cheap band explode replays per consumer
    (set spark.checkpoint.dir on clusters). The banded frame goes
    through _pair_stage before the self-join."""
    assert bits % band_bits == 0
    bands = bits // band_bits
    assert max_hamming < bands, "banding recall is only exact below #bands"
    mask = (1 << band_bits) - 1
    narrow = stage_frame(
        hashes.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h"))
    )
    banded = narrow.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright(F.col("h"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "h", "band.band_idx", "band.band_val")
    banded = _pair_stage(
        drop_hot_keys(banded, ["band_idx", "band_val"], max_df),
        ("band_idx", "band_val"),
    )
    # band_pairs' self-join, written out because it carries h and keeps
    # only the joined rows within max_hamming
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
    )
