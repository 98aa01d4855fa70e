"""Incremental mergeable sketches: a persisted count-min store fed by
batches, served by cell-wise merge.

Count-min cells are plain SUMs, so the sketch MERGES additively: the
sketch of a union is the cell-wise sum of the sketches of its parts.
That single property gives the whole incremental story for free — each
ingest batch is sketched ONCE (per-batch cells written under its
batch_id, idempotently), and serving reads sum the cells — no batch
ever re-reads another batch's tokens. Shares the layout and
exactly-once contract of every store (store_fs: hive-partitioned by
batch_id; dynamic partition overwrite makes a retried streaming batch
replace its own partition), grown from the reference's incremental
memo idiom (script.hpp:127-129: compute once, look up thereafter).

Scale posture: a batch's sketch is d*w cells regardless of batch size;
the store grows by d*w rows per batch and compacts back to d*w total
(compact_sketch_store — additively lossless, property-tested). Serving
aggregates #batches * d * w rows: trivial at any corpus size, which is
the entire point of sketching.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store_fs

# Enforced at read time (serve_sketch) so a layout drift in the writer
# fails loudly instead of silently misreading cells.
CELL_SCHEMA = "r INT, bucket BIGINT, cell BIGINT, batch_id INT"


def bucket_expr(r_col: Column, token_col: Column) -> Column:
    """Deterministic bucket in [0, 256): first byte of
    sha256(row || '|' || token) — seedless, engine-portable (the oracle
    reproduces it with hex-nibble arithmetic), and independent across
    the d rows because the row index is part of the preimage."""
    return F.conv(
        F.substring(
            F.sha2(F.concat(r_col.cast("string"), F.lit("|"), token_col), 256), 1, 2
        ),
        16,
        10,
    ).cast("long")


def countmin_cells_from_counts(
    counts_df: DataFrame,
    token_col: str = "w",
    count_col: str = "_c",
    *,
    depth: int = 4,
) -> DataFrame:
    """(r, bucket, cell) cells from a pre-aggregated (token, count)
    frequency table — the single definition of the sketch layout,
    shared by the store writer and the countmin_heavy_hitters query so
    the two can never diverge. By additivity this is identical to
    per-occurrence updates, but the hot-token combine already happened
    map-side in the caller's aggregate."""
    keyed = counts_df.select(
        F.col(token_col).alias("_w"),
        F.col(count_col).alias("_n"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r"),
    ).withColumn("bucket", bucket_expr(F.col("r"), F.col("_w")))
    return keyed.groupBy("r", "bucket").agg(F.sum("_n").cast("long").alias("cell"))


def countmin_cells(
    tokens_df: DataFrame, token_col: str = "w", *, depth: int = 4
) -> DataFrame:
    """Sketch a token-occurrence DataFrame (one row per occurrence):
    ONE partial-aggregated groupBy to the frequency table, then the
    shared cell constructor."""
    counts = tokens_df.groupBy(token_col).agg(F.count(F.lit(1)).alias("_c"))
    return countmin_cells_from_counts(counts, token_col, "_c", depth=depth)


def append_sketch_batch(
    spark: SparkSession,
    tokens_df: DataFrame,
    store_path: str,
    *,
    batch_id: int | None = None,
    token_col: str = "w",
    depth: int = 4,
) -> int:
    """Sketch ``tokens_df`` and write its cells under ``batch_id``
    (next sequential id when None). Dynamic partition overwrite on an
    explicit batch_id = idempotent retry, the foreachBatch contract.

    An EMPTY batch writes the single zero cell (0, 0, 0) — the
    additive identity — rather than nothing: the partition then exists,
    so auto-increment never reissues the id, and a RETRY whose
    reprocessed content became empty still REPLACES its old partition
    (the replace-on-retry contract would silently not hold for a
    zero-row dynamic overwrite)."""
    cells = _merged(spark, countmin_cells(tokens_df, token_col, depth=depth))
    return store_fs.append_batch(store_path, lambda _: cells, batch_id=batch_id)


def _merged(spark: SparkSession, cells: DataFrame) -> DataFrame:
    """Cell-wise sum of (r, bucket, cell) rows and the zero cell
    (0, 0, 0), the additive identity, so the result is never empty."""
    zero = spark.createDataFrame([(0, 0, 0)], "r INT, bucket BIGINT, cell BIGINT")
    return (
        cells.unionByName(zero)
        .groupBy("r", "bucket")
        .agg(F.sum("cell").cast("long").alias("cell"))
    )


def serve_sketch(spark: SparkSession, store_path: str) -> DataFrame:
    """The merged sketch: cell-wise sum over every batch partition.
    The store layout is VALIDATED against CELL_SCHEMA's column set on
    every read — an explicit check that raises, because schema-on-read
    would do the opposite of failing loudly: a renamed/dropped column
    silently becomes all-NULL, the sum goes NULL, and the sketch
    serves empty. Zero-valued cells (only the empty-batch sentinel
    produces them) are dropped after the merge — a zero cell and an
    absent cell are the same sketch state (estimate_counts zero-fills
    on its left join), so serving stays bit-identical to the one-shot
    sketch."""
    df = store_fs.read_generation(spark, store_path)
    if df is None:
        raise FileNotFoundError(
            f"sketch store {store_path} has no committed generation"
        )
    expected = {f.split()[0] for f in CELL_SCHEMA.split(", ")}
    missing = expected - set(df.columns)
    if missing:
        raise ValueError(
            f"sketch store {store_path} is missing columns {sorted(missing)} "
            f"(expected layout: {CELL_SCHEMA})"
        )
    return (
        df.groupBy("r", "bucket")
        .agg(F.sum("cell").cast("long").alias("cell"))
        .filter(F.col("cell") > 0)
    )


def estimate_counts(
    sketch_df: DataFrame, candidates_df: DataFrame, token_col: str, *, depth: int = 4
) -> DataFrame:
    """Point estimates for candidate tokens: min over the d cells each
    candidate hashes to (over-estimates only, by construction). LEFT
    join + zero-fill: a candidate whose (r, bucket) cell was never
    written must estimate over an IMPLICIT ZERO cell — an inner join
    would drop the token entirely (absent from output) or, worse,
    min() only over its collision-populated cells and return a
    positive count where true count-min returns 0. The candidate side
    fans out d rows per token and joins the d*256 cell table —
    broadcast-sized at any corpus scale."""
    keyed = candidates_df.select(
        F.col(token_col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r"),
    ).withColumn("bucket", bucket_expr(F.col("r"), F.col(token_col)))
    return (
        keyed.join(F.broadcast(sketch_df), ["r", "bucket"], "left")
        .select(token_col, F.coalesce(F.col("cell"), F.lit(0)).alias("cell"))
        .groupBy(token_col)
        .agg(F.min("cell").cast("long").alias("cms_estimate"))
    )


def compact_sketch_store(spark: SparkSession, store_path: str) -> int:
    """Fold HISTORY into one base batch (id 0) while leaving the NEWEST
    batch partition untouched: additively lossless (folded cells are
    what serve_sketch computes over the folded ids), bounds the store
    at 2 partitions however many batches ever landed. The newest batch
    survives verbatim because it is the only REPLAYABLE epoch — a
    streaming sink that died before committing its checkpoint retries
    its last batch id after restart, and the dynamic-overwrite retry
    must replace that batch's own cells, not stack on top of a base
    that already folded them in (double-counting every estimate).
    Folding to 0 while max_id's partition persists also keeps
    auto-increment monotone. Early-outs when the store has <= 2
    batches (nothing to fold). An all-sentinel history still writes
    the zero cell so the folded partition is never a bare _SUCCESS
    dir (which would brick schema inference for the next read).
    Returns the number of batches folded into the base. Staging/swap,
    the crashed-swap recovery guard and the maintenance-window
    contract are store_fs.fold_generation's."""
    folded = store_fs.fold_generation(
        spark,
        store_path,
        lambda rows: _merged(spark, rows.select("r", "bucket", "cell")),
        scope=lambda ids: ids[:-1],
    )
    return len(folded) if len(folded) > 1 else 0
