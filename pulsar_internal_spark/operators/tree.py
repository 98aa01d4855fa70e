"""Hierarchy (instance-tree) operators.

The reference's only queryable store is a tree of instances; its scans are
hand-rolled loops (SURVEY.md §2.2): `getnilinstances` = orphan detection
(instance.hpp:59-104), `getactors`/`GetDescendants` = recursive traversal
(miscellaneous.hpp:185-221). Spark-first restatement: the tree is an edge
table (child -> parent FK); orphans are a LEFT ANTI self-join; descendants
are an iterative broadcast-join loop (frontier expansion).

Scale posture: anti/semi joins shuffle on the FK — correct and AQE-sized.
The descendants loop broadcasts the reached set (small by construction
when traversing from a few roots) and never shuffles: a round is one
broadcast job plus one staging job, the staging cuts the lineage, and
depth is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..staging import stage


def orphans(nodes: DataFrame, parents: DataFrame, node_fk: str, parent_key: str) -> DataFrame:
    """Rows of ``nodes`` whose FK has no match in ``parents`` —
    `getnilinstances` as a LEFT ANTI join."""
    return nodes.join(
        parents, nodes[node_fk] == parents[parent_key], "left_anti"
    )


def reindex(df: DataFrame, order_cols: list[str], idx_name: str = "idx") -> DataFrame:
    """Dense 1-based re-index — the reference's `++index` re-sequencing
    after each scan (instance.hpp:30,44).

    A bare ``row_number() OVER (ORDER BY ...)`` moves ALL rows to one
    partition — a non-starter at 100 TB. This is the scalable zipWithIndex
    idiom instead: range-partition on the order keys (so partition order
    == global order), number rows within each partition, then add each
    partition's cumulative row-count offset (a #partitions-sized driver
    exchange, not a data collect). Requires ``order_cols`` to be a total
    order for a deterministic result — same contract as the window form.

    The index column is LongType: cumulative offsets exceed int32 past
    2,147,483,647 rows — exactly the corpus sizes this operator targets —
    so the addition itself runs in 64-bit (int32 would wrap silently).
    """
    from pyspark.sql.window import Window

    # staging.stage: the counts job below and the final materialization
    # would otherwise each re-derive the full upstream plan (plus the
    # range sampling pass) — materialize the ranged input once.
    ranged = (
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .transform(stage)
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    local = ranged.withColumn("_local", F.row_number().over(w))
    counts = {
        r["_pid"]: r["cnt"]
        for r in local.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # Two delivery shapes for the offset table. A literal map is free of
    # any join, but it puts 2 expression-tree nodes per partition into
    # the plan — at cluster scale (tens of thousands of range
    # partitions) that inflates analysis and can deopt codegen. Past a
    # small threshold, ship the offsets as a broadcast-joined DataFrame
    # instead: size is #partitions rows, the join is a broadcast hash on
    # _pid, and the expression tree stays O(1).
    if len(offsets) <= 64:
        # Offsets as LONG literals and a LONG-side addition: past 2^31 rows
        # an int32 add would silently wrap BEFORE any outer cast could
        # widen it — the exact regime this operator exists for.
        offset_expr = F.element_at(
            F.create_map(
                *[
                    lit
                    for pid in sorted(offsets)
                    for lit in (F.lit(pid), F.lit(offsets[pid]).cast("long"))
                ]
            ),
            F.col("_pid"),
        ) if offsets else F.lit(0).cast("long")
        return (
            local.withColumn(
                idx_name, (F.col("_local").cast("long") + offset_expr).cast("long")
            )
            .drop("_pid", "_local")
        )
    odf = df.sparkSession.createDataFrame(
        [(pid, off) for pid, off in sorted(offsets.items())],
        "_pid INT, _offset BIGINT",
    )
    return (
        local.join(F.broadcast(odf), "_pid")
        .withColumn(
            idx_name, (F.col("_local").cast("long") + F.col("_offset")).cast("long")
        )
        .drop("_pid", "_local", "_offset")
    )


def descendants(
    edges: DataFrame,
    roots: DataFrame,
    child_col: str = "child_id",
    parent_col: str = "parent_id",
    root_col: str = "id",
    max_depth: int = 32,
) -> DataFrame:
    """All transitive children of ``roots`` over the edge table —
    `game:GetDescendants()` (miscellaneous.hpp:192-196) as iterative
    breadth-first expansion joins. Returns (id, depth): every reached
    id once, at its minimum depth; roots at depth 0.

    One staged (id, depth) state carries the traversal. Round k
    broadcasts it, LEFT SEMI joins the edges to it on the parent, drops
    the children it already holds (LEFT ANTI against the SAME broadcast)
    and stages it with the rest appended at depth k. Every child of a
    depth < k-1 parent was reached in an earlier round, so what is left
    are the new children of the depth k-1 slice; cycles cannot revisit
    an id. No round shuffles: a child with several parents in the slice
    (or a repeated root) is appended once per edge, at one depth, and a
    DISTINCT over the one-partition result collapses the copies. The
    new-row count rides the staging job as an ``observe`` metric; a
    round that finds none ends the loop. Exiting at ``max_depth`` while
    still finding rows warns (RuntimeWarning): the result may be
    truncated.
    """
    # Each round's state is materialized with an eager staging.stage:
    # without it, round k's plan re-derives rounds 1..k-1 and the final
    # materialization re-runs the whole loop. On a cluster set
    # spark.checkpoint.dir if executors may be lost.
    e = edges.select(
        F.col(child_col).alias("id"), F.col(parent_col).alias("_parent")
    )
    state = roots.select(F.col(root_col).alias("id"), F.lit(0).alias("depth"))
    for depth in range(1, max_depth + 1):
        # One copy of a reached id per edge that reached it: on a tree
        # that branches, at most about twice the widest frontier.
        reached = F.broadcast(state)
        found = (
            e.join(reached, e["_parent"] == reached["id"], "left_semi")
            .join(reached, "id", "left_anti")
            .select("id", F.lit(depth).alias("depth"))
        )
        _n = Observation()
        # The state is broadcast, so it is driver-sized: read back as one
        # partition (coalesce: narrow, no job) it keeps the union from
        # adding the edge scan's partitions to it every round.
        state = stage(
            state.unionByName(found.observe(_n, F.count(F.lit(1)).alias("n")))
        ).coalesce(1)
        if _n.get["n"] == 0:
            return state.distinct()
    import warnings

    warnings.warn(
        f"descendants hit max_depth={max_depth} while still reaching new "
        "ids; the result may be truncated — raise max_depth",
        RuntimeWarning,
        stacklevel=2,
    )
    return state.distinct()


def zorder_code(a, b, bits: int = 8):
    """Morton (Z-order) interleave of two small non-negative ints — the
    multi-dimensional clustering key for data LAYOUT: sorting a table by
    zorder_code(x, y) before a partitioned/parquet write co-locates rows
    close in BOTH dimensions, so min/max row-group statistics prune
    selective filters on either column (the Delta/Iceberg OPTIMIZE
    ZORDER trick, as a plain column expression).

    Pure bitwise arithmetic (JVM codegen, no UDF); `bits` bounds each
    input to 0..2^bits-1 (caller masks/buckets first).
    """
    # disjoint bit positions, so + == bitwise-or (Column `|` is logical)
    code = F.lit(0).cast("long")
    for i in range(bits):
        code = (
            code
            + (F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1)).cast("long")
               * F.lit(1 << (2 * i)))
            + (F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1)).cast("long")
               * F.lit(1 << (2 * i + 1)))
        )
    return code
