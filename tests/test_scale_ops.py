"""Scale-technique tests: salted aggregation under synthetic skew, and
bucketed co-located joins eliminating the join shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_internal_spark.operators.skew import (
    salted_agg,
    salted_broadcast_left_join,
    salted_counts,
)
from pulsar_internal_spark.sources.sinks import write_bucketed


def _skewed_df(spark):
    # 90% of rows share one hot key
    return spark.range(0, 10_000).select(
        F.when(F.col("id") % 10 != 0, F.lit("HOT"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 97).cast("string")))
        .alias("key"),
        (F.col("id") % 7).alias("v"),
    )


def test_salted_counts_match_plain(spark):
    df = _skewed_df(spark)
    plain = {r.key: r.cnt for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    salted = {r.key: r.cnt for r in salted_counts(df, ["key"], salt_buckets=8).collect()}
    assert salted == plain


def test_salted_agg_sum_min_max(spark):
    df = _skewed_df(spark)
    plain = {
        r.key: (r.s, r.mn, r.mx)
        for r in df.groupBy("key")
        .agg(F.sum("v").alias("s"), F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    out = {
        r.key: (r.s, r.mn, r.mx)
        for r in salted_agg(
            df,
            ["key"],
            aggs={"s": ("sum", "v"), "mn": ("min", "v"), "mx": ("max", "v")},
            salt_buckets=8,
        ).collect()
    }
    assert out == plain


def test_salted_agg_spreads_hot_key(spark):
    """The stage-1 partials for the hot key must actually land in
    multiple salt groups — otherwise the operator is a no-op."""
    df = _skewed_df(spark).withColumn(
        "_salt", (F.rand(seed=42) * 8).cast("int")
    )
    n_groups = (
        df.filter(F.col("key") == "HOT").select("_salt").distinct().count()
    )
    assert n_groups >= 4


def test_broadcast_join_avoids_big_side_shuffle(spark):
    big = _skewed_df(spark)
    dim = spark.createDataFrame([("HOT", 1), ("k1", 2)], ["key", "tag"])
    out = salted_broadcast_left_join(big, dim, "key")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # big side never shuffles
    assert out.count() == big.filter(F.col("key").isin("HOT", "k1")).count()


def test_session_warehouse_outside_checkout(spark):
    """Managed tables must not land in the checkout: the test session's
    warehouse (where the bucketed-table tests write) sits outside the
    repository root."""
    import os

    repo = os.path.realpath(os.path.dirname(os.path.dirname(__file__)))
    loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.realpath(loc)
    assert os.path.commonpath([loc, repo]) != repo, loc


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    # managed tables land in the session warehouse (static conf). A
    # fresh in-memory catalog can inherit ORPHANED files from a previous
    # test session (DROP IF EXISTS no-ops, files block the write), so
    # clear both catalog entries and leftover directories first.
    import shutil

    for t in ("bkt_a", "bkt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{loc}/{t}", ignore_errors=True)
    a = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("a"))
    b = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("b"))
    write_bucketed(a, "bkt_a", ["k"], num_buckets=8)
    write_bucketed(b, "bkt_b", ["k"], num_buckets=8)
    # test tables are tiny, so disable auto-broadcast to force the
    # shuffle-join path the bucketing exists to optimize
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
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan  # co-located
        assert "Bucketed: true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_partitioned_write_prunes_at_read(spark, tmp_path):
    """write_table(partition_by=...) must yield reads where a partition
    predicate prunes directories (PartitionFilters), not data filters."""
    from pulsar_internal_spark.sources.sinks import write_table

    df = spark.range(0, 1000).selectExpr("id", "id % 4 AS shard")
    out = write_table(df, "parts", str(tmp_path), partition_by=["shard"])
    read = spark.read.parquet(out).filter(F.col("shard") == 2)
    read.collect()
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "shard" in plan.split("PartitionFilters")[1][:120], plan
    assert read.count() == 250


def _hot_100_to_1(spark):
    """Planted 100:1 skew: 10,000 rows on one hot key, ~100 rows spread
    over 100 cold keys."""
    return spark.range(0, 10_100).select(
        F.when(F.col("id") < 10_000, F.lit("HOT"))
        .otherwise(F.concat(F.lit("cold"), (F.col("id") % 100).cast("string")))
        .alias("key"),
        (F.col("id") % 13).alias("v"),
    )


def test_salted_agg_100_to_1_bounded_task_fanout(spark):
    """Adversarial 100:1 hot key through the salted two-stage agg:
    results exact, the hot key's stage-1 partials spread across ALL
    salt buckets with a bounded maximum (no reducer sees the whole hot
    key), and the executed plan is the adaptive two-stage shape."""
    df = _hot_100_to_1(spark)
    out = salted_agg(
        df,
        ["key"],
        aggs={"cnt": ("count", None), "s": ("sum", "v")},
        salt_buckets=16,
    )
    plain = {
        r.key: (r.cnt, r.s)
        for r in df.groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("s"))
        .collect()
    }
    got = {r.key: (r.cnt, r.s) for r in out.collect()}
    assert got == plain

    # stage-1 bound: largest hot-key salt bucket carries ~1/16th of the
    # hot rows (2x + slack margin for the seeded-uniform salt draw)
    per_salt = (
        df.withColumn("_salt", (F.rand(seed=42) * 16).cast("int"))
        .filter(F.col("key") == "HOT")
        .groupBy("_salt")
        .count()
        .collect()
    )
    assert len(per_salt) == 16, "hot key must spread over every salt bucket"
    assert max(r["count"] for r in per_salt) < 2 * 10_000 / 16

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in plan and "isFinalPlan=true" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x 2 stages
    assert "_salt" in plan, plan


def test_hot_band_bucket_capped_in_lsh_band_join(spark):
    """Adversarial LSH skew: 64 identical docs collapse into ONE band
    bucket per band (a semantic mega-bucket AQE cannot shrink). The
    drop_hot_keys cap must excise those buckets via a broadcast anti
    join BEFORE the self-join, so the hot docs contribute ZERO pairs
    while sub-cap buckets join normally."""
    from pyspark.sql import Row

    from pulsar_internal_spark.operators import dedup as D

    rows = [Row(doc_id=i, text="the same viral text repeated everywhere") for i in range(64)]
    rows += [
        Row(doc_id=100 + j, text=f"unique document {j} alpha beta gamma delta epsilon {j}")
        for j in range(4)
    ]
    docs = spark.createDataFrame(rows)
    sh = docs.select("doc_id", D.simhash64("text").alias("simhash"))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.shiftright("simhash", 15 * b).bitwiseAND(F.lit(32767)).alias("band_val"),
            )
            for b in range(4)
        ]
    )
    banded = sh.select("doc_id", F.explode(bands).alias("_b")).select(
        "doc_id", F.col("_b.b").alias("b"), F.col("_b.band_val").alias("band_val")
    )

    def pairs(bd):
        a, b2 = bd.alias("a"), bd.alias("b")
        return (
            a.join(
                b2,
                (F.col("a.b") == F.col("b.b"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
            .distinct()
        )

    uncapped = pairs(banded).count()
    assert uncapped >= 64 * 63 // 2, uncapped  # the mega-bucket explosion

    capped_df = pairs(D.drop_hot_keys(banded, ["b", "band_val"], max_df=16))
    capped = capped_df.collect()
    assert all(r.id_a >= 100 or r.id_b >= 100 for r in capped), capped
    # every surviving bucket is <= max_df rows -> bounded fan-out
    surviving = (
        D.drop_hot_keys(banded, ["b", "band_val"], max_df=16)
        .groupBy("b", "band_val")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert surviving is None or surviving <= 16

    plan = capped_df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "Broadcast" in plan, plan


def _plant_docs(spark, tmp_path, rows):
    """Write a synthetic documents table so the REAL query plans (which
    read {sf_dir}/documents.parquet) run against planted content."""
    import os

    sf = str(tmp_path / "sf_planted")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(rows, "doc_id long, text string, source string").write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "documents.parquet"))
    return sf


def test_segment_dedup_survives_viral_boilerplate(spark, tmp_path):
    """Adversarial viral footer: 2,000 docs share ONE 10-token segment
    (the hot seg_hash has 2,000 occurrences). The join-form plan must
    (a) stay exact — every doc scores exactly the planted fraction,
    (b) never route the hot segment through a per-key window (the
    single-task straggler shape the docstring rejects), and (c) finish
    inside a generous wall-clock bound — a quadratic or serialized
    regression blows the bound by orders of magnitude."""
    import time

    from pulsar_internal_spark.plans.queries import QUERIES

    footer = " ".join(f"viral{i}" for i in range(10))
    rows = [
        (i, " ".join(f"u{i}w{j}" for j in range(20)) + " " + footer, "s")
        for i in range(2000)
    ]
    sf = _plant_docs(spark, tmp_path, rows)

    t0 = time.perf_counter()
    df = QUERIES["segment_dedup_fraction"](spark, sf)
    got = {r.doc_id: (r.n_segments, r.n_dup_segments, r.dup_fraction)
           for r in df.collect()}
    elapsed = time.perf_counter() - t0
    # 30 tokens -> 3 segments; the footer lands in its own segment
    # (tokens 21-30), duplicated corpus-wide; the other 2 are unique
    assert got == {i: (3, 1, round(1 / 3, 6)) for i in range(2000)}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "hot segment must not pin to a window task"
    assert elapsed < 60, f"viral-boilerplate path too slow: {elapsed:.1f}s"


def test_containment_cap_excises_viral_boilerplate(spark, tmp_path):
    """Adversarial boilerplate block shared by 500 docs: uncapped, its
    fingerprints alone would emit ~C(500,2)=125k pair rows; the MOSS
    stop-fingerprint cap (max_df=8) must excise them BEFORE the
    self-join so only genuine containment survives — including a
    planted quote pair (doc 9000 fully contained in doc 9001) whose
    fingerprints stay under the cap."""
    import time

    from pulsar_internal_spark.plans.queries import QUERIES

    boiler = " ".join(f"footer{i}" for i in range(30))
    rows = [
        (i, " ".join(f"d{i}t{j}" for j in range(30)) + " " + boiler, "s")
        for i in range(500)
    ]
    quoted = " ".join(f"rare{j}" for j in range(40))
    rows.append((9000, quoted, "s"))
    rows.append((9001, quoted + " " + " ".join(f"extra{j}" for j in range(60)), "s"))
    sf = _plant_docs(spark, tmp_path, rows)

    t0 = time.perf_counter()
    pairs = QUERIES["containment_candidates"](spark, sf).collect()
    elapsed = time.perf_counter() - t0
    got = {(r.id_a, r.id_b): r.containment for r in pairs}
    assert (9000, 9001) in got, "planted containment pair lost"
    assert got[(9000, 9001)] >= 0.9, got[(9000, 9001)]
    # boilerplate must not create a pair explosion among the 500 docs
    boiler_pairs = [p for p in got if p[0] < 500 and p[1] < 500]
    assert len(boiler_pairs) == 0, (
        f"{len(boiler_pairs)} boilerplate-driven pairs leaked past the cap"
    )
    assert elapsed < 60, f"capped containment too slow: {elapsed:.1f}s"


def test_bucketed_signature_store_joins_without_exchange(spark, tmp_path):
    """The bucketed signature store must (a) return the same candidate
    set as the path-based store, and (b) plan the pair joins with ZERO
    hash-exchanges on the store scans — both join sides come from the
    band_key-bucketed table, so the only shuffle in the increment is
    the final distinct. This is the 100 TB incremental-dedup shape:
    history is never re-shuffled, per-batch cost is the batch itself."""
    import shutil

    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import signature_store as S
    from pulsar_internal_spark.sources.tables import load_table

    table = "sig_store_bkt"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{loc}/{table}", ignore_errors=True)

    sf_dir = __import__("os").environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    ]

    store_path = str(tmp_path / "sig_store_plain")
    got, want = set(), set()
    try:
        for b in batches:
            bid = S.append_signature_batch_bucketed(spark, b, table)
            got |= {
                (r.id_a, r.id_b)
                for r in S.candidates_for_batch_bucketed(spark, table, bid).collect()
            }
            bid2 = S.append_signature_batch(spark, b, store_path)
            want |= {
                (r.id_a, r.id_b)
                for r in S.candidates_for_batch(spark, store_path, bid2).collect()
            }
        assert got == want and got, "bucketed store diverged from path store"

        # plan: with broadcast disabled, the pair joins must be
        # co-located bucket reads — no hash exchange below the joins
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
            df = S.candidates_for_batch_bucketed(spark, table, 1)
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
        import re

        # every store scan keeps its bucketing; no exchange on the band
        # key anywhere; the ONLY shuffle is the final distinct
        assert plan.count("Bucketed: true") == 4, plan
        assert "Bucketed: false" not in plan, plan
        assert not re.findall(r"Exchange hashpartitioning\(band", plan), plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_span_store_joins_without_store_exchange(spark, tmp_path):
    """The kh-bucketed k-gram store must (a) emit exactly the
    path-based incremental store's span set across the same batch
    split, and (b) plan every history lookup with the STORE side read
    pre-bucketed — zero 'Bucketed: false' scans and no exchange
    feeding the store side of the owner join. At 100 TB the
    accumulated k-gram set is the big side; only the arriving batch
    may shuffle."""
    import re
    import shutil

    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import span_store as SS
    from pulsar_internal_spark.sources.tables import load_table

    table = "kgram_store_bkt"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{loc}/{table}", ignore_errors=True)

    sf_dir = __import__("os").environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    batches = [
        docs.filter(F.col("doc_id") <= mx // 2),
        docs.filter(F.col("doc_id") > mx // 2),
    ]
    plain = str(tmp_path / "kgram_store_plain")
    got, want = set(), set()
    try:
        for b in batches:
            got |= {
                (r.doc_id, r.span_start, r.span_end)
                for r in SS.incremental_substring_spans_bucketed(
                    spark, b, table
                ).collect()
            }
            want |= {
                (r.doc_id, r.span_start, r.span_end)
                for r in SS.incremental_substring_spans(spark, b, plain).collect()
            }
        assert got == want and got, "bucketed span store diverged"

        # plan: with broadcast disabled, the store side of the owner
        # join reads its buckets in place — no exchange on kh feeds a
        # table scan, and every store scan keeps its bucketing
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
            df = SS.incremental_substring_spans_bucketed(
                spark, batches[1], table, batch_id=9
            )
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
        assert "Bucketed: true" in plan, plan
        assert "Bucketed: false" not in plan, plan
        # exactly ONE kh exchange — the freshly signed batch (a staged
        # ExistingRDD scan); the store side sorts its buckets in place
        kh_ex = re.findall(
            r"Exchange hashpartitioning\(kh[^)]*\)[^\n]*\n((?:[^\n]*\n){0,4})",
            plan,
        )
        assert len(kh_ex) == 1, plan
        assert "Scan ExistingRDD" in kh_ex[0], (
            "the kh exchange must cover the batch side, not the store:\n"
            + kh_ex[0]
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_runtime_bloom_filter_reduces_fact_scan(spark):
    """Runtime semi-join reduction: a selective dim-side filter must
    inject a bloom filter onto the fact side of a shuffle join
    (might_contain over bloom_filter_agg in the optimized plan) — at
    100 TB this prunes fact rows BEFORE the shuffle, the single biggest
    lever on selective star joins that are too big to broadcast. The
    application-side threshold is lowered because the fixture is small;
    on a cluster the 10 GiB default gates it to scans that matter."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        import os

        sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        orders = spark.read.parquet(f"{sf}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, opt
        assert "bloom_filter_agg" in opt, opt
        # and the result is unaffected by the filter (pure pruning)
        thr = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        spark.conf.set(thr, saved[thr]) if saved[thr] is not None else spark.conf.unset(thr)
        plain = {
            (r.o_orderstatus, r["count"])
            for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
            .collect()
        }
        assert {(r.o_orderstatus, r["count"]) for r in j.collect()} == plain
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_grouped_topk_matches_plain_window_under_skew(spark):
    """grouped_topk == the plain per-group window on a 100:1 skewed
    input, and its phase-1 exchange carries the salt (the hot group
    spreads instead of serializing)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from pulsar_internal_spark.operators.skew import grouped_topk

    df = _hot_100_to_1(spark).withColumn(
        "o", F.sha2(F.col("v").cast("string"), 256)
    )
    got = grouped_topk(df, ["key"], ["o", "v"], k=7)
    w = Window.partitionBy("key").orderBy("o", "v")
    want = (
        df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 7)
    )
    assert sorted((r.key, r.rk, r.v) for r in got.collect()) == sorted(
        (r.key, r.rk, r.v) for r in want.collect()
    )
    import re

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(key#\d+, _salt#\d+", plan), plan


def test_scrub_removes_planted_duplicates(spark, tmp_path):
    """dedup_scrub_segments on planted content: a corpus-shared 5-token
    footer must be stripped from every doc while each doc's unique
    20-token body survives byte-exact and in order; a pair of fully
    identical docs (every segment duplicated) must emit clean_text=''
    instead of vanishing from the output."""
    from pulsar_internal_spark.plans.queries import QUERIES

    footer = " ".join(f"viral{i}" for i in range(5))
    dup_text = " ".join(f"dup{j}" for j in range(20))
    rows = [
        (i, " ".join(f"u{i}w{j}" for j in range(20)) + " " + footer, "s")
        for i in range(100)
    ] + [(1000, dup_text, "s"), (1001, dup_text, "s")]
    sf = _plant_docs(spark, tmp_path, rows)

    got = {
        r.doc_id: (r.n_segments, r.n_kept, r.clean_text)
        for r in QUERIES["dedup_scrub_segments"](spark, sf).collect()
    }
    assert len(got) == 102
    for i in range(100):
        body = " ".join(f"u{i}w{j}" for j in range(20))
        assert got[i] == (5, 4, body), got[i]
    # full duplicates: all 4 segments corpus-duplicated -> empty text
    assert got[1000] == (4, 0, "")
    assert got[1001] == (4, 0, "")


def test_shard_assignment_deterministic_dense_balanced(spark, sf_dir):
    """training_shard_assignment must be (a) bit-stable across runs (no
    RNG, no partition-order dependence — the reindex range-partitions
    on the hash key), (b) dense 1..n within every shard, and (c)
    round-robin balanced (shard sizes differ by at most 1)."""
    from collections import Counter

    from pulsar_internal_spark.plans.queries import QUERIES

    a = sorted(
        (r.doc_id, r.global_pos, r.shard, r.pos_in_shard)
        for r in QUERIES["training_shard_assignment"](spark, sf_dir).collect()
    )
    b = sorted(
        (r.doc_id, r.global_pos, r.shard, r.pos_in_shard)
        for r in QUERIES["training_shard_assignment"](spark, sf_dir).collect()
    )
    assert a == b, "shard assignment must be deterministic"
    sizes = Counter(t[2] for t in a)
    assert max(sizes.values()) - min(sizes.values()) <= 1, sizes
    per_shard = {}
    for _, _, shard, pos in a:
        per_shard.setdefault(shard, []).append(pos)
    for shard, poss in per_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard


def test_sketch_store_merge_idempotent_compact(spark, sf_dir, tmp_path):
    """Incremental count-min store invariants: (1) MERGEABILITY — the
    served (cell-wise summed) sketch over two batch appends equals the
    one-shot sketch of the full corpus; (2) IDEMPOTENCY — re-appending
    a batch under its explicit batch_id replaces, never double-counts;
    (3) COMPACTION — folding partitions is additively lossless and
    bounds the store at d*256 cells; (4) estimates from the served
    sketch never underestimate the exact counts."""
    import os

    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import sketches
    from pulsar_internal_spark.operators.dedup import tokenized
    from pulsar_internal_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenized("text")).alias("w"))
    store = str(tmp_path / "cms_store")

    b0 = sketches.append_sketch_batch(
        spark, toks.filter(F.col("doc_id") % 3 == 0).select("w"), store
    )
    b1 = sketches.append_sketch_batch(
        spark, toks.filter(F.col("doc_id") % 3 == 1).select("w"), store
    )
    b2 = sketches.append_sketch_batch(
        spark, toks.filter(F.col("doc_id") % 3 == 2).select("w"), store
    )
    assert (b0, b1, b2) == (0, 1, 2)

    def cells_of(df):
        return {(r.r, r.bucket): r.cell for r in df.collect()}

    served = cells_of(sketches.serve_sketch(spark, store))
    oneshot = cells_of(sketches.countmin_cells(toks.select("w")))
    assert served == oneshot, "merge of batch sketches != sketch of union"

    # retried batch (same id) must replace its partition, not add to it
    sketches.append_sketch_batch(
        spark, toks.filter(F.col("doc_id") % 3 == 1).select("w"), store, batch_id=1
    )
    assert cells_of(sketches.serve_sketch(spark, store)) == oneshot

    # compaction folds HISTORY (batches 0,1) into base 0 and leaves the
    # newest (replayable) batch 2 untouched -> exactly two partitions
    assert sketches.compact_sketch_store(spark, store) == 2
    assert cells_of(sketches.serve_sketch(spark, store)) == oneshot
    from pulsar_internal_spark.operators import store_fs as SFS

    parts = sorted(
        d
        for d in os.listdir(SFS.resolve_current(store))
        if d.startswith("batch_id=")
    )
    assert parts == ["batch_id=0", "batch_id=2"], parts

    # the replayable epoch's retry must still REPLACE, not stack on the
    # folded base (the double-count hazard compaction must not create)
    sketches.append_sketch_batch(
        spark, toks.filter(F.col("doc_id") % 3 == 2).select("w"), store, batch_id=2
    )
    assert cells_of(sketches.serve_sketch(spark, store)) == oneshot

    exact = {
        r.w: r.c
        for r in toks.groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    cand = toks.select("w").distinct().limit(20)
    est = {
        r.w: r.cms_estimate
        for r in sketches.estimate_counts(
            sketches.serve_sketch(spark, store), cand, "w"
        ).collect()
    }
    for w, e in est.items():
        assert e >= exact[w], (w, e, exact[w])


def test_dsir_survives_hot_token_skew(spark, tmp_path):
    """Adversarial stopword skew for dsir_importance_weights: one token
    ('the') dominates the corpus 50:1. The token->vocab join key is
    then maximally hot on the probe side; the plan must stay a
    window-free join+aggregate (AQE splits the hot probe partition —
    nothing can pin all 'the' occurrences to one task the way a
    count() OVER (token) window would), results must stay exact, and
    the wall clock must stay flat — a serialized hot key blows the
    bound by orders of magnitude."""
    import time

    from pulsar_internal_spark.plans.queries import QUERIES

    hot = " ".join(["the"] * 50)
    rows = [
        (i, f"u{i}a u{i}b u{i}c " + hot, "s")
        for i in range(2000)
    ]
    sf = _plant_docs_with_lang(spark, tmp_path, rows)

    t0 = time.perf_counter()
    df = QUERIES["dsir_importance_weights"](spark, sf)
    got = {r.doc_id: r.n_tokens for r in df.collect()}
    elapsed = time.perf_counter() - t0
    assert got == {i: 53 for i in range(2000)}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "hot token must not route through a window"
    assert elapsed < 60, f"hot-token path too slow: {elapsed:.1f}s"


def _plant_docs_with_lang(spark, tmp_path, rows):
    """documents fixture with the lang column dsir needs (alternating
    en/fr so the target LM slice is non-trivial)."""
    import os

    sf = str(tmp_path / "sf_planted_lang")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        [(i, t, "en" if i % 2 == 0 else "fr", s) for (i, t, s) in rows],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    return sf


def test_triangle_counts_exact_on_planted_clique(spark, tmp_path):
    """Dense-structure stress: a 64-user clique (every pair co-occurs
    in one minute bucket) has C(63,2) = 1953 triangles per vertex and
    C(64,3) = 41664 total — the worst case for wedge enumeration.
    Degree orientation must still count exactly (each triangle once,
    at its lowest-rank corner) and stay inside a flat wall-clock
    bound; background users in other minute buckets must contribute
    nothing."""
    import os
    import time
    from datetime import datetime, timedelta

    from pulsar_internal_spark.plans.queries import QUERIES

    base = datetime(2025, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    # the clique: users 0..63 all in minute 0
    for u in range(64):
        rows.append((eid, base, u, "click", 1.0, "{}")); eid += 1
    # background: pairs only (no triangles): users (1000+2i, 1001+2i)
    for i in range(50):
        t = base + timedelta(minutes=i + 10)
        rows.append((eid, t, 1000 + 2 * i, "click", 1.0, "{}")); eid += 1
        rows.append((eid, t, 1001 + 2 * i, "click", 1.0, "{}")); eid += 1

    sf = str(tmp_path / "sf_clique")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))

    t0 = time.perf_counter()
    got = {r.user_id: r.n_triangles for r in QUERIES["user_triangle_counts"](spark, sf).collect()}
    elapsed = time.perf_counter() - t0
    assert got == {u: 1953 for u in range(64)}, {
        k: v for k, v in list(got.items())[:5]
    }
    assert sum(got.values()) == 3 * 41664
    assert elapsed < 90, f"clique path too slow: {elapsed:.1f}s"


def test_scrub_is_identity_without_duplicates(spark, tmp_path):
    """Property: on a corpus with NO repeated 5-token segment, the
    scrub emits every document's normalized text unchanged (n_kept ==
    n_segments, clean_text == normalized input) — pins that
    tokenization, segmentation, and ordered reassembly compose to the
    identity when nothing is removable."""
    from pulsar_internal_spark.plans.queries import QUERIES

    rows = [
        (i, " ".join(f"only{i}tok{j}" for j in range(17)), "s")  # 17 -> 4 segs
        for i in range(60)
    ]
    sf = _plant_docs(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.n_segments, r.n_kept, r.clean_text)
        for r in QUERIES["dedup_scrub_segments"](spark, sf).collect()
    }
    for i, text, _ in rows:
        assert got[i] == (4, 4, text), (i, got[i])


def test_sketch_compact_pointer_crash_windows(spark, sf_dir, tmp_path):
    """Crash posture of the POINTER-COMMITTED generation store (round
    7, VERDICT r6 #3) on the sketch store, 3 batches so the fold's
    early-out cannot bypass the staged path:

      1. maintainer died BEFORE its pointer flip — the half-built next
         generation is unreferenced: serving is unaffected, and a
         re-run compaction SWEEPS it, completes the fold, and serves
         the exact merged cells;
      2. maintainer died AFTER the flip but before cleanup — the
         superseded generation lingers unreferenced: serving reads
         only the pointed generation, appends keep working, and the
         next maintenance window sweeps the leftover;
      3. a real store whose POINTER FILE was deleted (manual damage —
         no crash can produce this state) must make appends REFUSE
         rather than silently restart the store; rewriting the pointer
         at the live generation recovers it byte-identically."""
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import sketches, store_fs
    from pulsar_internal_spark.operators.dedup import tokenized
    from pulsar_internal_spark.sources.tables import load_table

    toks = (
        load_table(spark, sf_dir, "documents")
        .limit(60)
        .select("doc_id", F.explode(tokenized("text")).alias("w"))
    )
    store = str(tmp_path / "cms_crash")
    for m in (0, 1, 2):
        sketches.append_sketch_batch(
            spark, toks.filter(F.col("doc_id") % 3 == m).select("w"), store
        )
    want = {(r.r, r.bucket): r.cell for r in sketches.serve_sketch(spark, store).collect()}
    assert store_fs.read_pointer(store) == store_fs.FIRST_GEN

    # 1. died pre-flip: half-built next generation, pointer untouched
    stale = os.path.join(store, store_fs.next_generation(store_fs.FIRST_GEN))
    os.makedirs(stale, exist_ok=True)
    (open(os.path.join(stale, "_garbage"), "w")).write("partial")

    got = {(r.r, r.bucket): r.cell for r in sketches.serve_sketch(spark, store).collect()}
    assert got == want, "unreferenced generation must not affect serving"

    assert sketches.compact_sketch_store(spark, store) == 2
    assert not os.path.exists(os.path.join(stale, "_garbage")), (
        "re-run must sweep the stale generation before rebuilding it"
    )
    cur = store_fs.read_pointer(store)
    # counter advanced to 1; the suffix is the per-attempt nonce (r8)
    assert cur.startswith("gen-00000001"), cur
    got2 = {(r.r, r.bucket): r.cell for r in sketches.serve_sketch(spark, store).collect()}
    assert got2 == want, "re-run compaction must serve identical cells"

    # 2. died post-flip pre-cleanup: superseded generation lingers
    leftover = os.path.join(store, store_fs.FIRST_GEN)
    os.makedirs(leftover, exist_ok=True)
    (open(os.path.join(leftover, "_old_garbage"), "w")).write("old")
    got3 = {(r.r, r.bucket): r.cell for r in sketches.serve_sketch(spark, store).collect()}
    assert got3 == want, "superseded leftover must not affect serving"
    sketches.append_sketch_batch(spark, toks.select("w"), store, batch_id=3)
    # next maintenance sweeps the leftover (fold of 3 partitions)
    assert sketches.compact_sketch_store(spark, store) == 2
    assert not os.path.isdir(leftover), "maintenance must sweep leftovers"

    # 3. pointer deleted on a real store: appends refuse loudly
    final = {(r.r, r.bucket): r.cell for r in sketches.serve_sketch(spark, store).collect()}
    cur = store_fs.read_pointer(store)
    os.remove(os.path.join(store, store_fs.POINTER))
    with _pytest.raises(RuntimeError, match="lost its pointer"):
        sketches.append_sketch_batch(spark, toks.select("w"), store)
    store_fs.write_pointer(store, cur)  # operator recovery
    got4 = {(r.r, r.bucket): r.cell for r in sketches.serve_sketch(spark, store).collect()}
    assert got4 == final, "recovered pointer must serve identically"


def test_sketch_empty_batch_persists_its_id(spark, tmp_path):
    """An EMPTY batch must still claim its batch_id (the zero-cell
    sentinel partition): auto-increment may never reissue the id, a
    retry of a now-empty batch must replace its old partition (the
    exactly-once contract), and serving must be unaffected by
    sentinel cells."""
    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import sketches

    store = str(tmp_path / "cms_empty")
    words = spark.createDataFrame([("a",), ("b",), ("a",)], ["w"])
    empty = words.filter(F.lit(False))

    assert sketches.append_sketch_batch(spark, words, store) == 0
    assert sketches.append_sketch_batch(spark, empty, store) == 1
    # the empty batch's partition exists -> the next auto id is 2, not 1
    assert sketches.append_sketch_batch(spark, words, store) == 2

    want = {
        (r.r, r.bucket): r.cell
        for r in sketches.countmin_cells(words.unionAll(words)).collect()
    }
    got = {(r.r, r.bucket): r.cell for r in sketches.serve_sketch(spark, store).collect()}
    assert got == want, "sentinel cells must not affect serving"

    # retry batch 2 with now-empty content: its cells must be REPLACED
    sketches.append_sketch_batch(spark, empty, store, batch_id=2)
    got2 = {(r.r, r.bucket): r.cell for r in sketches.serve_sketch(spark, store).collect()}
    want2 = {(r.r, r.bucket): r.cell for r in sketches.countmin_cells(words).collect()}
    assert got2 == want2, "empty retry must replace the old partition"


def test_estimate_counts_zero_fills_unseen_tokens(spark, tmp_path):
    """A candidate token absent from the corpus must estimate 0 (via
    the implicit zero cells), not vanish from the output or inherit a
    collision-populated positive min."""
    from pulsar_internal_spark.operators import sketches

    store = str(tmp_path / "cms_unseen")
    words = spark.createDataFrame([("alpha",), ("alpha",), ("beta",)], ["w"])
    sketches.append_sketch_batch(spark, words, store)
    cand = spark.createDataFrame([("alpha",), ("never-seen-token",)], ["w"])
    est = {
        r.w: r.cms_estimate
        for r in sketches.estimate_counts(
            sketches.serve_sketch(spark, store), cand, "w"
        ).collect()
    }
    assert est["alpha"] >= 2
    assert est["never-seen-token"] == 0, est


def test_banded_join_under_planted_power_law_skew(spark):
    """Skew stress at the BAND level (VERDICT r6 #6): a viral
    boilerplate near-duplicate puts ~30% of all band rows into ONE
    bucket — the #1 real-world failure of banded dedup at scale. Two
    defenses, both asserted:

      (a) the hot-key cap (drop_hot_keys) EXCISES the mega-bucket via
          a broadcast anti join before the self-join, collapsing the
          pair count from quadratic-in-bucket to bounded and leaving
          sub-cap buckets untouched;
      (b) with the cap deliberately raised (an operator who WANTS the
          hot pairs), AQE's skew-join split carries the join: with
          test-scale skew thresholds the final adaptive plan marks the
          sort-merge join skew=true and splits the fat partition, so no
          single task owns the whole bucket. The pair COUNT stays
          quadratic (AQE balances work; only the cap shrinks semantics
          — exactly the division of labor the operators document).
    """
    from pulsar_internal_spark.operators import dedup as D

    n, hot = 1000, 300  # ~30% of rows in one band bucket
    rows = spark.range(0, n).select(
        F.col("id"),
        F.when(F.col("id") < hot, F.lit(0))
        .otherwise((F.col("id") % 512) + 1)
        .cast("int")
        .alias("band_val"),
        F.lit(0).alias("b"),
    )

    def pairs(bd):
        a, b2 = bd.alias("a"), bd.alias("b")
        return (
            a.join(
                b2,
                (F.col("a.b") == F.col("b.b"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )

    # planted distribution sanity: the hot bucket dominates
    dist = {r.band_val: r.c for r in rows.groupBy("band_val").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert dist[0] == hot and max(c for k, c in dist.items() if k != 0) <= 16

    # (a) cap excises the mega-bucket; sub-cap buckets join normally
    capped = pairs(D.drop_hot_keys(rows, ["b", "band_val"], max_df=64))
    got = capped.count()
    want_sub = sum(c * (c - 1) // 2 for k, c in dist.items() if k != 0)
    assert got == want_sub, (got, want_sub)

    # (b) cap raised: AQE skew-join must split the fat partition
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force sort-merge
        # test-scale thresholds: the planted hot partition is a few KB,
        # so drop the skew trigger under it and disable small-partition
        # coalescing (which would otherwise merge the evidence away)
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = pairs(rows)
        # collect() executes the DataFrame's OWN QueryExecution, so the
        # final adaptive plan (with the skew decision) is inspectable
        got_rows = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert len(got_rows) == sum(c * (c - 1) // 2 for c in dist.values())
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scale_fixture_embedding_decorrelation_survives_second_lap(tmp_path):
    """The scale fixture's embedding decorrelation must survive factors
    past the 64-dim rotation period: rotation by 64 is the IDENTITY, so
    without the second-lap sign flip copy 64+j would be content-
    identical to copy j and every sign-LSH bucket a cross-copy clique —
    the exact pathology the fixture exists to avoid (same class as the
    time-bucket densification bug r7 diagnosed). Runs the generator's
    own SQL at factor 66 over the tiny sf0.001 embeddings and asserts:
    copy 64 is the exact NEGATION of copy 0 (cos -1, never +1), copy 65
    of copy 1, norms preserved per copy, and the vec_id % 100 query
    fraction is scale-invariant."""
    import duckdb

    import tools.gen_scale_fixture as G

    src = "/root/testdata/sf0.001/embeddings.parquet"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{src}')")
    cols = [(r[0], r[1]) for r in con.execute("DESCRIBE src").fetchall()]
    sel = " UNION ALL ".join(
        f"SELECT {G.copy_select('embeddings', cols, i)} FROM src"
        for i in range(66)
    )
    con.execute(f"CREATE TABLE scaled AS {sel}")

    stride = G.STRIDE
    for a, b in ((0, 64), (1, 65)):
        lo, hi = con.execute(
            f"""
            WITH x AS (SELECT vec_id % {stride} AS base, embedding e
                       FROM scaled WHERE vec_id // {stride} = {a}),
                 y AS (SELECT vec_id % {stride} AS base, embedding e
                       FROM scaled WHERE vec_id // {stride} = {b})
            SELECT min(list_cosine_similarity(x.e, y.e)),
                   max(list_cosine_similarity(x.e, y.e))
            FROM x JOIN y USING (base)
            """
        ).fetchone()
        assert lo == -1.0 and hi == -1.0, (a, b, lo, hi)

    n_norms = con.execute(
        """
        SELECT count(DISTINCT round(avgn, 4)) FROM (
          SELECT vec_id // 1000000000 c,
                 avg(sqrt(list_sum(list_transform(embedding, v -> v*v)))) avgn
          FROM scaled GROUP BY 1)
        """
    ).fetchone()[0]
    assert n_norms == 1, "per-copy average norm must be preserved"

    src_frac = con.execute(
        "SELECT avg(CASE WHEN vec_id % 100 = 0 THEN 1 ELSE 0 END) FROM src"
    ).fetchone()[0]
    scaled_frac = con.execute(
        "SELECT avg(CASE WHEN vec_id % 100 = 0 THEN 1 ELSE 0 END) FROM scaled"
    ).fetchone()[0]
    assert src_frac == scaled_frac, "query-side modulus fraction must be scale-invariant"


def test_fingerprint_width_sets_banding_capacity(spark):
    """The round-8 capacity lesson as a regression pin (BASELINE.md
    round 8; OPERATIONS.md 'Sizing perceptual fingerprints'): banded
    Hamming dedup has #bands x 2^band_bits buckets, so a SATURATED
    16-bit corpus (every one of the 64 nibble buckets over max_df)
    returns NOTHING — the cap excises every bucket — while 16-bit
    bands over a 63-bit hash of the same corpus keep bucket occupancy
    at cluster size and return exactly the planted pairs."""
    from pulsar_internal_spark.operators.dedup import hamming_banded_pairs

    # 1,200 docs in 40 clusters of 30; cluster members share a hash
    # exactly (hamming 0 — planted pairs = 40 * C(30,2) = 17,400).
    # deterministic 63-bit spread via a splitmix-ish integer hash.
    n, groups = 1200, 40
    rows = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") % groups).alias("g")
    )
    h64 = F.expr(
        "CAST(xxhash64(CAST(g AS STRING)) AS BIGINT) & 9223372036854775807"
    )
    wide = rows.select("doc_id", h64.alias("ahash"))
    narrow = rows.select(
        "doc_id", (h64.bitwiseAND(F.lit(65535))).alias("ahash")
    )
    planted = groups * (30 * 29) // 2

    # max_df=20 < cluster-size 30: the 16-bit form's 64 buckets each
    # hold >= one 30-member cluster -> every bucket over cap -> empty.
    out16 = hamming_banded_pairs(
        narrow, bits=16, band_bits=4, max_hamming=2, max_df=20
    )
    assert out16.count() == 0, "saturated 16-bit banding must excise all"

    # At a cap ABOVE cluster size (64 > 30), the wide form is EXACT:
    # 63 bits spread 40 clusters across 65,536 values per band, so
    # each bucket holds ~one cluster and nothing is excised.
    out64 = hamming_banded_pairs(
        wide, bits=64, band_bits=16, max_hamming=2, max_df=64
    )
    assert out64.count() == planted, "wide banding must keep planted pairs"

    # The 16-bit form at the SAME cap is already lossy: 40 clusters
    # share only 16 nibble values per band, so multi-cluster buckets
    # (75 docs) exceed the cap and their pairs are excised — strictly
    # fewer results than the wide form finds on the same corpus.
    out16b = hamming_banded_pairs(
        narrow, bits=16, band_bits=4, max_hamming=2, max_df=64
    )
    n16 = out16b.count()
    assert n16 < planted, (
        f"16-bit banding at the same cap must lose pairs: {n16} >= {planted}"
    )


def test_lsh_band_width_sets_candidate_capacity(spark):
    """The round-9 EMBEDDING twin of the fingerprint-capacity pin
    (BASELINE.md round 9; OPERATIONS.md capacity rule): a banded
    sign-LSH self-join has #bands x 2^planes buckets, so candidate
    volume is quadratic in N once buckets saturate. On 4,000
    deterministic pseudo-random vectors the narrow 2 x 6-plane tier
    (128 buckets, occupancy ~62/bucket) must emit MORE candidate pairs
    than the corpus has rows — the super-linear signature that
    exhausted disk at the 100x fixture — while the wide 8 x 12-plane
    tier (32,768 buckets) tracks the analytic bucket bound
    bands x N^2 / 2^planes / 2 — candidate volume at fixed planes is
    always quadratic-DAMPED by 2^planes, which is why the OPERATIONS
    rule sizes planes ~ log2(N / occupancy): each extra plane halves
    the quadratic coefficient, and the wide tier buys
    (2^(12-6) / (8/2)) = 16x headroom at identical verification
    semantics."""
    from pulsar_internal_spark.operators.similarity import lsh_blocked_pairs

    n, dim = 4000, 64
    dims = [
        (
            (F.xxhash64(F.col("vec_id"), F.lit(d)).cast("double") / 9.223372036854776e18)
        ).alias(f"_d{d}")
        for d in range(dim)
    ]
    emb = (
        spark.range(n)
        .select(F.col("id").alias("vec_id"))
        .select("vec_id", F.array(*dims).alias("embedding"))
    )
    narrow = lsh_blocked_pairs(emb, planes_per_band=6, num_bands=2).count()
    wide = lsh_blocked_pairs(emb, planes_per_band=12, num_bands=8).count()
    assert narrow > n, f"narrow banding should be super-linear here: {narrow}"
    # the wide tier's damping: an order of magnitude fewer candidates
    # on the SAME corpus (analytic ratio 16x; skewed sign-bit buckets
    # erode it, so pin the order, not the constant)
    assert narrow > 8 * max(wide, 1), (narrow, wide)
    # and the wide count is BUCKET-bounded: within 4x of the uniform
    # occupancy bound, i.e. no clique-driven blowup hides in it
    bound = 8 * n * n / (2**12) / 2
    assert wide < 4 * bound, (wide, bound)
