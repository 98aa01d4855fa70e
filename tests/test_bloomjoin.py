"""operators/bloomjoin — Bloom semi-join reduction.

The contract under test: bloom_prune(probe, build) is a SUBSET of
probe and a SUPERSET of the exact semi join (no false negatives,
bounded false positives), schema-stable, and cheap to disable. The
integration pin — that the bit test lands BELOW the probe-side
exchange in user_triangle_counts — lives in test_plans.py, because
that ordering is the entire point of the operator.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulsar_internal_spark.operators.bloomjoin import bloom_prune


def _probe(spark):
    # two-column key, deterministic, with payload to check schema
    return spark.range(0, 2000).select(
        (F.col("id") % 500).alias("k1"),
        ((F.col("id") % 500) * 7).alias("k2"),
        F.col("id").alias("payload"),
    )


def _build(spark):
    # 50 of the 500 distinct probe keys
    return spark.range(0, 500, 10).select(
        F.col("id").alias("b1"), (F.col("id") * 7).alias("b2")
    )


def test_no_false_negatives_and_subset_of_probe(spark):
    probe, build = _probe(spark), _build(spark)
    exact = probe.join(
        build,
        (probe.k1 == build.b1) & (probe.k2 == build.b2),
        "left_semi",
    )
    pruned = bloom_prune(probe, build, ["k1", "k2"], ["b1", "b2"])
    assert pruned.columns == probe.columns
    # superset of the exact semi join: nothing the join needs was lost
    assert exact.exceptAll(pruned).count() == 0
    # subset of probe (with multiplicities)
    assert pruned.exceptAll(probe).count() == 0


def test_prune_then_exact_join_equals_semi_join(spark):
    probe, build = _probe(spark), _build(spark)
    exact = probe.join(
        build,
        (probe.k1 == build.b1) & (probe.k2 == build.b2),
        "left_semi",
    )
    pruned = bloom_prune(probe, build, ["k1", "k2"], ["b1", "b2"])
    via_bloom = pruned.join(
        build,
        (pruned.k1 == build.b1) & (pruned.k2 == build.b2),
        "left_semi",
    )
    assert via_bloom.exceptAll(exact).count() == 0
    assert exact.exceptAll(via_bloom).count() == 0


def test_actually_prunes_most_nonmatches(spark):
    """Over 50 build keys the bitmap sits at its 65,536-bit floor, far
    below saturation — the prune must remove the bulk of the 90% of probe
    rows that never match (false positives allowed, a no-op prune is
    a regression)."""
    probe, build = _probe(spark), _build(spark)
    pruned = bloom_prune(probe, build, ["k1", "k2"], ["b1", "b2"])
    n_probe, n_pruned = probe.count(), pruned.count()
    n_exact = probe.join(
        build, (probe.k1 == build.b1) & (probe.k2 == build.b2), "left_semi"
    ).count()
    assert n_exact <= n_pruned < n_probe * 0.5, (n_exact, n_pruned, n_probe)


def test_empty_build_prunes_everything(spark):
    probe = _probe(spark)
    build = _build(spark).where(F.lit(False))
    assert bloom_prune(probe, build, ["k1", "k2"], ["b1", "b2"]).count() == 0


def test_bitmap_is_broadcast(spark):
    probe, build = _probe(spark), _build(spark)
    pruned = bloom_prune(probe, build, ["k1", "k2"], ["b1", "b2"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "shiftleft" in plan, plan


def test_store_history_prune_sits_below_history_exchange(spark, sf_dir, tmp_path):
    """prune_history integration: in the shuffle-join regime (the one
    the prune exists for — small batches broadcast anyway), the bitmap
    bit test must sit BELOW the across join that shuffles history, on
    the history lineage. If join flattening/reordering ever hoists the
    bit test above the across join, the history exchange goes back to
    carrying the full store and the prune is a silent no-op."""
    import os

    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import signature_store as ss
    from pulsar_internal_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    store = os.path.join(str(tmp_path), "sig")
    # 5 batches: the arriving batch_id=4 meets the default min-history
    # gate (4), so the prune is active without touching confs
    for b in range(5):
        ss.append_signature_batch(
            spark, docs.filter(F.col("doc_id") % 5 == b), store, batch_id=b
        )
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        cand = ss.candidates_for_batch(spark, store, 4)
        assert cand.count() >= 0
        lines = (
            cand._jdf.queryExecution().executedPlan().toString().splitlines()
        )
        bit = [
            i
            for i, l in enumerate(lines)
            if "BroadcastHashJoin" in l and "shiftleft" in l
        ]
        across = [
            i
            for i, l in enumerate(lines)
            if ("SortMergeJoin" in l or "ShuffledHashJoin" in l)
            and "band_idx" in l
            and "band_key" in l
        ]
        # the bitmap join itself must still broadcast even with the
        # thresholds off (explicit F.broadcast hint)
        assert bit, "\n".join(lines)
        assert across, "\n".join(lines)
        # parents print first: the across join is an ancestor of the
        # bit test (bit test below its history-side exchange)
        assert min(across) < bit[0], "\n".join(lines)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_history_prune_gates_on_shallow_history(spark):
    """Below the min-history depth the prune must be an identity — a
    shallow history's exchange can't repay the bitmap tax, and demo
    stores / bootstrap batches should plan exactly as before."""
    from pulsar_internal_spark.operators.bloomjoin import prune_history

    hist, batch = _probe(spark), _build(spark).withColumnRenamed(
        "b1", "k1"
    ).withColumnRenamed("b2", "k2")
    assert prune_history(hist, batch, ["k1", "k2"], history_batches=1) is hist
    assert prune_history(hist, batch, ["k1", "k2"], history_batches=3) is hist
    pruned = prune_history(hist, batch, ["k1", "k2"], history_batches=4)
    assert pruned is not hist
    # unconditional when depth is unknown
    assert prune_history(hist, batch, ["k1", "k2"]) is not hist


def test_mismatched_key_lists_rejected(spark):
    probe, build = _probe(spark), _build(spark)
    with pytest.raises(ValueError):
        bloom_prune(probe, build, ["k1", "k2"], ["b1"])
    with pytest.raises(ValueError):
        bloom_prune(probe, build, [], [])


def test_mismatched_key_types_rejected(spark):
    """xxhash64 is type-sensitive (int 1 != bigint 1) while the
    caller's exact equi-join coerces — a typed mismatch would silently
    prune TRUE matches, so bloom_prune must refuse it outright."""
    probe, build = _probe(spark), _build(spark)
    narrow = build.select(
        build.b1.cast("int").alias("b1"), build.b2.alias("b2")
    )
    with pytest.raises(ValueError, match="type mismatch"):
        bloom_prune(probe, narrow, ["k1", "k2"], ["b1", "b2"])
    # proof the guard is load-bearing: the coerced exact semi join DOES
    # match rows that a type-blind bitmap would have pruned
    exact = probe.join(
        narrow,
        (probe.k1 == narrow.b1) & (probe.k2 == narrow.b2),
        "left_semi",
    )
    assert exact.count() > 0


def test_internal_names_do_not_collide_with_probe_columns(spark):
    """A probe that already carries __bkt/__widx/__word must come back
    byte-identical in those columns — the operator derives fresh
    internal names instead of silently replacing caller data."""
    probe = _probe(spark).select(
        "k1",
        "k2",
        F.col("payload").alias("__bkt"),
        (F.col("payload") * 2).alias("__widx"),
        (F.col("payload") * 3).alias("__word"),
    )
    build = _build(spark)
    exact = probe.join(
        build,
        (probe.k1 == build.b1) & (probe.k2 == build.b2),
        "left_semi",
    )
    pruned = bloom_prune(probe, build, ["k1", "k2"], ["b1", "b2"])
    assert pruned.columns == probe.columns
    assert exact.exceptAll(pruned).count() == 0
    assert pruned.exceptAll(probe).count() == 0
    # caller columns untouched: every surviving row still satisfies the
    # payload relations it was built with
    bad = pruned.filter(
        (F.col("__widx") != F.col("__bkt") * 2)
        | (F.col("__word") != F.col("__bkt") * 3)
    )
    assert bad.count() == 0

