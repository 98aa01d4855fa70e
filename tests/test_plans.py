"""Physical-plan assertions: the 100 TB posture, checked in CI.

Correctness tests prove the numbers; these prove the SHAPE — filters
reach the parquet scan, projections prune columns, small dimensions
broadcast, top-k avoids a global sort, and nothing funnels the data
through a single partition. A regression here is invisible at sf0.001
and fatal at 100 TB, which is exactly why it's asserted.
"""

from __future__ import annotations

import pytest

from pulsar_internal_spark.plans.queries import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "class_filter_scan")
    assert "PushedFilters: [" in plan
    assert "In(event_type" in plan, plan


def test_column_pruning(spark, sf_dir):
    """The pricing summary needs 7 of lineitem's 11 columns; the scan
    schema must not include the unused ones."""
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "ReadSchema" in plan
    assert "l_partkey" not in plan and "l_suppkey" not in plan, plan


def test_small_dims_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_by_region")
    assert "BroadcastHashJoin" in plan, plan
    # the orders<->customer fact join must NOT be a nested-loop join
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_blocklist_is_broadcast_anti_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "blocklist_anti_join")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_global_topk_avoids_total_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_accounts_limit")
    assert "TakeOrderedAndProject" in plan, plan


def test_compaction_is_single_aggregation_not_window(spark, sf_dir):
    """LWW compaction must be a hash aggregate (partial map-side), never a
    per-key window sort."""
    plan = _plan(spark, sf_dir, "compaction_lww")
    assert "Window" not in plan, plan
    assert "Aggregate" in plan


@pytest.mark.parametrize(
    "name",
    [
        "orphan_customers",
        "minhash_band_candidates",
        "exact_dedup_docs",
        "context_packing",
        "weighted_mixture_sample",
        "image_near_dup",
        "incremental_minhash_dedup",
        "dedup_keep_best",
        "per_source_sample_cap",
    ],
)
def test_no_single_partition_exchange(spark, sf_dir, name):
    """No operator may funnel the whole dataset into one partition
    (Exchange SinglePartition = the classic global-window mistake).
    Single-row scalar subqueries are exempt — their input is one row."""
    plan = _plan(spark, sf_dir, name)
    assert "Exchange SinglePartition" not in plan, plan


def test_whole_stage_codegen_on_hot_paths(spark, sf_dir):
    """Relational queries must stay inside WholeStageCodegen (JVM,
    vectorized); a Python-UDF (BatchEvalPython) node in these plans means
    the hot path fell off the fast path."""
    for name in ["pricing_summary", "revenue_by_region", "function_hash_sha2"]:
        df = QUERIES[name](spark, sf_dir)
        df.collect()  # AQE only shows codegen spans once the plan is final
        plan = df._jdf.queryExecution().executedPlan().toString()
        # codegen stages print as "*(n) Operator" in the plan string
        assert "*(1)" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    """The ANN scoring join must broadcast the small query side, keeping
    the corpus scan shuffle-free."""
    plan = _plan(spark, sf_dir, "embedding_cosine_topk")
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """The bucketing rewrite must plan the equi-key-less interval join
    as a hash equi-join on the time bucket — never a nested loop."""
    plan = _plan(spark, sf_dir, "incident_window_counts")
    assert "NestedLoop" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_q3_join_shape(spark, sf_dir):
    """Q3: pushed filters on all three scans, semi-joined customer dim,
    top-k as TakeOrderedAndProject (no global sort)."""
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "PushedFilters" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_lsh_blocked_pairs_is_equi_join(spark, sf_dir):
    """Near-dup blocking must join on (band_idx, band_key) — a hash
    equi-join, never an all-pairs nested loop."""
    plan = _plan(spark, sf_dir, "embedding_near_dup")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_lsh_blocked_pairs_partitions_knob(spark, sf_dir):
    """spark.pulsar.pairs.partitions on the embedding LSH tier: same
    contract as the perceptual twin — identical pair set, and the
    explicit keyed repartition lands in the plan with the requested
    count."""
    from pulsar_internal_spark.plans.queries import QUERIES

    base = {
        (r.id_a, r.id_b)
        for r in QUERIES["embedding_near_dup"](spark, sf_dir)
        .select("id_a", "id_b")
        .collect()
    }
    spark.conf.set("spark.pulsar.pairs.partitions", "6")
    try:
        df = QUERIES["embedding_near_dup"](spark, sf_dir)
        pinned = {
            (r.id_a, r.id_b)
            for r in df.select("id_a", "id_b").collect()
        }
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(band_idx" in plan and "6)" in plan, (
            plan[:2000]
        )
    finally:
        spark.conf.unset("spark.pulsar.pairs.partitions")
    assert pinned == base, "explicit partitioning changed the pair set"


def test_contamination_broadcasts_benchmark_ngrams(spark, sf_dir):
    """Decontamination joins the corpus n-grams against the (small)
    benchmark n-gram set — the benchmark side must broadcast so the
    corpus never shuffles on the n-gram key."""
    plan = _plan(spark, sf_dir, "benchmark_contamination")
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_curation_queries_stay_jvm_side(spark, sf_dir):
    """PII redaction and repetition scoring are regex/agg pipelines —
    a BatchEvalPython node would mean the hot path fell off codegen."""
    for name in ["pii_redaction", "repetition_quality"]:
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan, name
        assert "Exchange SinglePartition" not in plan, name


def test_q9_deep_star_broadcasts_all_dims(spark, sf_dir):
    """Q9 shape: three broadcast dims, LIKE pushed into the part scan,
    fact table never shuffle-joins."""
    plan = _plan(spark, sf_dir, "q9_nation_year_revenue")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "PushedFilters" in plan


def test_q4_exists_decorrelates_to_semi_join(spark, sf_dir):
    """Q4's correlated EXISTS (with the non-equi l_shipdate residual)
    must decorrelate to one LEFT SEMI join — no per-row subquery node,
    no nested loop — and the date window must push into the orders
    scan."""
    plan = _plan(spark, sf_dir, "q4_late_shipment_priority")
    assert "LeftSemi" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "PushedFilters" in plan and "o_orderdate" in plan.split("PushedFilters")[1][:400], plan


def test_q6_all_predicates_push_to_scan(spark, sf_dir):
    """Q6 is the pushdown probe: date range, discount band and quantity
    cap must ALL reach the parquet reader so row-group stats can prune;
    no join, no wide shuffle."""
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters")[1][:600]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    assert "Join" not in plan, plan


def test_q10_topk_is_take_ordered(spark, sf_dir):
    """Q10's top-20-by-revenue must be TakeOrderedAndProject over the
    aggregate, never a global sort."""
    plan = _plan(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan


def test_q16_not_in_plans_null_aware_anti(spark, sf_dir):
    """Q16's NOT IN subquery must become an anti join (null-aware),
    with the tiny complaint-supplier set broadcast — no per-row
    subquery, no nested loop over lineitem."""
    plan = _plan(spark, sf_dir, "q16_supplier_part_counts")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q21_double_correlation_decorrelates(spark, sf_dir):
    """Q21's EXISTS and NOT EXISTS over the same fact must decorrelate
    into one semi and one anti join — zero subquery loops."""
    plan = _plan(spark, sf_dir, "q21_sole_late_supplier")
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_q20_correlated_agg_decorrelates(spark, sf_dir):
    """Q20's correlated scalar SUM must rewrite into a grouped aggregate
    joined back on l_partkey, and the IN into a semi join — the plan
    may contain only hash/sort-merge joins, never a subquery loop."""
    plan = _plan(spark, sf_dir, "q20_part_share_suppliers")
    assert "LeftSemi" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    # the decorrelated per-part total is a real aggregate in the plan
    assert "HashAggregate" in plan or "SortAggregate" in plan, plan


def test_containment_keeps_capped_join_shape(spark, sf_dir):
    """Containment must inherit the winnowing pipeline's posture: the
    stop-fingerprint broadcast anti join before the pair join, hash
    equi-joins only."""
    plan = _plan(spark, sf_dir, "containment_candidates")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_per_source_cap_is_hierarchical_topk(spark, sf_dir):
    """The per-source sampler is a TWO-phase top-K: phase 1 windows
    over (source, salt) — so a mega-source spreads across the salt
    buckets instead of serializing its full sort into one reduce task —
    and phase 2 re-ranks only the bounded survivors per source. Also:
    no global sort, no single-partition funnel, and the map-side
    WindowGroupLimit prunes to K before each shuffle."""
    plan = _plan(spark, sf_dir, "per_source_sample_cap")
    assert "Exchange SinglePartition" not in plan, plan
    # phase-1 shuffle must key on BOTH source and the salt column
    import re

    assert re.search(r"hashpartitioning\(source#\d+, _salt#\d+", plan), plan
    # two window phases: salted then exact
    assert plan.count("Window [row_number()") == 2, plan
    # map-side pruning before the shuffle (bounded shuffle volume)
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan


def test_q2_correlated_min_decorrelates_to_join(spark, sf_dir):
    """Q2's correlated scalar MIN over the derived bridge must be
    rewritten into an aggregate joined back on the part key — no
    per-row subquery in the main plan — with the part filter broadcast
    and the top-100 as TakeOrderedAndProject (no global sort)."""
    import re

    plan = _plan(spark, sf_dir, "q2_min_cost_supplier")
    assert "Subquery" not in plan, plan  # fully decorrelated
    assert re.search(r"min\(ps_supplycost\)", plan), plan  # agg+join rewrite
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "GreaterThanOrEqual(p_size,10)" in plan, plan  # filter pushed to scan


def test_q11_having_over_scalar_is_one_row_subquery(spark, sf_dir):
    """Q11's 0.1%-of-total threshold must plan as ONE scalar subquery
    whose single-partition exchange carries exactly one total row —
    the group aggregate itself stays hash-partitioned."""
    plan = _plan(spark, sf_dir, "q11_important_stock")
    assert "Subquery subquery" in plan, plan
    # the only single-partition funnel is the 1-row scalar total
    assert plan.count("Exchange SinglePartition") == 1, plan
    # round 11: the bridge (lineitem agg + broadcast dim joins) is
    # STAGED once and shared by the grouped aggregate AND the scalar
    # total — both references must scan the materialized frame, not
    # re-run the lineitem aggregate (the dim broadcasts now live in
    # the staged subplan, outside this final plan)
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert "l_partkey" not in plan, plan  # no second lineitem aggregate


def test_image_near_dup_is_banded_equi_join_with_cap(spark, sf_dir):
    """Perceptual dedup must pair via the nibble-band hash equi-join
    with the hot-key cap's broadcast anti join in front — no all-pairs
    shape anywhere, decode stays in Arrow batches (no row-at-a-time
    Python)."""
    plan = _plan(spark, sf_dir, "image_near_dup")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "LeftAnti" in plan, plan  # drop_hot_keys broadcast anti join
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BatchEvalPython" not in plan, plan  # mapInPandas only


def test_q12_derivation_stays_codegen_and_prunes(spark, sf_dir):
    """Q12's derived shipmode/commit/receipt columns are pure integer
    projections over the scan — the plan must stay JVM-side, prune the
    untouched money columns from the lineitem read, and join hash-wise
    (the IN-filter and date residuals apply below the join)."""
    plan = _plan(spark, sf_dir, "q12_shipmode_priority")
    assert "BatchEvalPython" not in plan, plan
    assert "l_extendedprice" not in plan and "l_discount" not in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_scrub_reassembly_is_keyed_agg_not_window(spark, sf_dir):
    """dedup_scrub_segments must reassemble inside a keyed aggregate
    (array_sort over collect_list) — a cross-doc Window over segment
    position would serialize hot docs; and the frequency side must be
    a partial-aggregated join, never a count() OVER (seg) window."""
    plan = _plan(spark, sf_dir, "dedup_scrub_segments")
    assert "Window" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_dsir_builds_both_lms_in_one_aggregate(spark, sf_dir):
    """DSIR's target and raw unigram LMs must come from ONE token-grain
    groupBy (c_raw and c_tgt side by side) — two separate token scans
    would double the corpus read; totals ride a 1-row broadcast."""
    import re

    plan = _plan(spark, sf_dir, "dsir_importance_weights")
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # one aggregate computes both counts over the same grouping key
    assert re.search(r"count\(1\).*sum\(CASE WHEN", plan) or (
        "partial_count" in plan or "HashAggregate" in plan
    ), plan
    # the 1-row totals join is the only nested-loop allowed (broadcast, 1 row)
    assert "CartesianProduct" not in plan, plan


def test_substring_span_dedup_is_pair_join_free(spark, sf_dir):
    """The exact-substring span finder must be the no-pair-join plan:
    cross-doc duplication is decided by an AGGREGATE on the k-gram hash
    (hot boilerplate k-grams are hot groups with map-side partials,
    never a join bucket fanning out quadratically), islands run in
    per-document windows, and nothing funnels or drops to Python."""
    for name in ("substring_dup_spans", "substring_scrub"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)
        assert "Exchange SinglePartition" not in plan, (name, plan)
        # duplication is decided by a partial-aggregated groupBy on kh
        assert "HashAggregate" in plan, (name, plan)


def test_shard_assignment_never_funnels(spark, sf_dir):
    """training_shard_assignment must get its global positions from the
    scalable reindex (range partition + per-partition numbering +
    offsets) — no Exchange SinglePartition anywhere in the final plan."""
    plan = _plan(spark, sf_dir, "training_shard_assignment")
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_triangle_counting_is_oriented_equi_joins(spark, sf_dir):
    """Triangle enumeration must run as hash equi-joins on the wedge
    center and the closing edge — degree orientation makes the residual
    rank comparison a filter, never a nested-loop or cartesian pair
    generator; corners aggregate JVM-side."""
    plan = _plan(spark, sf_dir, "user_triangle_counts")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    # closing-edge probe: inner equi-join on the unique (b, c) edge
    # key — deliberately NOT LeftSemi (PushDownLeftSemiAntiJoin would
    # hoist it under the bloom prune; see the query docstring)
    assert "LeftSemi" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_triangle_bloom_prune_sits_below_wedge_exchange(spark, sf_dir):
    """The round-9 scale fix: the Bloom bit test (broadcast bitmap
    join) must execute in the wedge-producing stage, BELOW the (b, c)
    exchange that feeds the closing-edge join — pruned wedges are the
    only thing that ever shuffles. If an optimizer rule reorders the
    closure join back under the bit test (the PushDownLeftSemiAntiJoin
    failure mode this plan was shaped around), the prune silently
    becomes a no-op and the sf100 wedge exchange returns to ~53 GB."""
    plan = _plan(spark, sf_dir, "user_triangle_counts")
    lines = plan.splitlines()
    bit_test = [
        i
        for i, l in enumerate(lines)
        if "BroadcastHashJoin" in l and "shiftleft" in l
    ]
    assert bit_test, plan  # the prune is present at default conf
    # tree prints parents first: an ancestor (b, c) exchange of the
    # bit test must appear ABOVE it in the text
    wedge_exchanges = [
        i
        for i, l in enumerate(lines)
        if "Exchange hashpartitioning(b#" in l and "c#" in l
    ]
    assert wedge_exchanges and min(wedge_exchanges) < bit_test[0], plan
    # and the bitmap build is the bit_or aggregate, broadcast
    assert "bit_or" in plan, plan


def test_histogram_quantiles_windows_over_cells_only(spark, sf_dir):
    """The quantile windows must partition over the 64-cell histogram,
    never the raw rows: the plan's Window operators sit ABOVE the
    (type, bin) aggregate, and the bin-edge join is a broadcast."""
    plan = _plan(spark, sf_dir, "histogram_value_quantiles")
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # Window input is the aggregated histogram: HashAggregate appears
    # below Window in the tree (string order is top-down, so the first
    # Window must come BEFORE the last HashAggregate)
    assert "Window" in plan and "HashAggregate" in plan, plan


def test_entropy_is_two_keyed_aggregates(spark, sf_dir):
    """Entropy must reduce to two plain SUMs over term frequencies —
    no window, no per-token probability join back."""
    plan = _plan(spark, sf_dir, "token_entropy_scores")
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_rag_pack_hydrates_winners_only(spark, sf_dir):
    """RAG packing must hydrate documents for the top-k winner rows
    only (broadcast of the tiny winner set), keep the ANN tier's
    broadcast-query shape, pack inside a keyed aggregate (exactly ONE
    window — the ANN rank), and stay JVM-side."""
    plan = _plan(spark, sf_dir, "rag_retrieve_pack")
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Window [") == 1, plan  # only the ANN top-k rank
    assert "BroadcastHashJoin" in plan, plan


def test_kmv_rank_is_grouplimited_and_count_is_aggregate(spark, sf_dir):
    """KMV's only window is the bounded rank (WindowGroupLimit prunes
    to k map-side); the exact distinct count must come from a keyed
    aggregate, never a count() OVER (PARTITION BY source) that would
    pin a mega-source into one window task."""
    plan = _plan(spark, sf_dir, "kmv_distinct_estimates")
    assert plan.count("Window [") == 1, plan
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_curation_verdicts_have_no_windows(spark, sf_dir):
    """The decision layer joins doc-grain signal tables built from
    keyed aggregates — no window anywhere, no Python, no cartesian."""
    plan = _plan(spark, sf_dir, "corpus_curation_verdicts")
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_bpe_topk_is_take_ordered(spark, sf_dir):
    """The merge-candidate top-20 must be TakeOrderedAndProject over
    the partial-aggregated pair counts — never a global sort."""
    plan = _plan(spark, sf_dir, "bpe_pair_merges")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_gapfill_spine_is_explode_not_cartesian(spark, sf_dir):
    """The hour spine must come from exploding each series' single
    range row — never a calendar cross join — and the carry-forward
    runs at spine grain (exactly one Window for locf)."""
    plan = _plan(spark, sf_dir, "gapfill_hourly_locf")
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "Generate explode" in plan, plan
    assert plan.count("Window [") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_rolling_revenue_uses_range_frame(spark, sf_dir):
    """The 7-day rolling window must plan as a RANGE frame over the
    epoch-seconds key inside one customer-partitioned Window — never a
    self-join over the date interval."""
    plan = _plan(spark, sf_dir, "rolling_7day_customer_revenue")
    assert "specifiedwindowframe(RangeFrame" in plan, plan
    assert plan.count("Window [") == 1, plan
    assert "Join" not in plan, plan  # no range self-join anywhere


def test_bigram_lm_plan_shape(spark, sf_dir):
    """The bigram LM must score via vocabulary-sized joins, never a
    second corpus scan per LM side: no window, no Python eval, and the
    only nested loop is the 1-row broadcast totals attach."""
    plan = _plan(spark, sf_dir, "bigram_lm_xent")
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row V attach


def test_bigram_lm_interp_plan_shape(spark, sf_dir):
    """The interpolated LM keeps its sibling's shape guarantees: the
    unigram table joins twice (context + target) as hash joins, the
    only nested loop is the 1-row broadcast token-mass attach, and
    nothing windows or drops to Python."""
    plan = _plan(spark, sf_dir, "bigram_lm_xent_interp")
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row T attach


def test_ivf_fixed_topk_plan_shape(spark, sf_dir):
    """IVF serving with the frozen quantizer: corpus cell assignment
    must be a narrow map (no window, no explode on the corpus side —
    argmin via array_min over the centroid literals), the probed-cells
    frame must broadcast onto the assigned corpus, and the only Window
    is the per-query top-k."""
    plan = _plan(spark, sf_dir, "ivf_cosine_topk")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # probed cells onto corpus
    assert plan.count("Window [") == 1, plan  # only the top-k rank


def test_pq_adc_topk_plan_shape(spark, sf_dir):
    """PQ serving with frozen codebooks: the corpus side must encode
    via a narrow map (argmin over codebook literals — no explode, no
    Python), the ADC scan is the keyless broadcast of the tiny query
    table frame onto the coded corpus, the shortlist and final rank
    are the only two Windows, and the re-rank fetches true vectors
    through broadcast hash joins — the corpus is never shuffled."""
    plan = _plan(spark, sf_dir, "pq_adc_topk")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # Q tables onto codes
    assert "BroadcastHashJoin" in plan, plan  # shortlist vector fetch
    assert plan.count("Window [") == 2, plan  # shortlist rn + final rank


def test_ivfpq_topk_plan_shape(spark, sf_dir):
    """IVF+PQ combined serving: unlike pq_adc_topk's keyless full-codes
    scan, the ADC join here is KEYED by probed cell — a
    BroadcastHashJoin, no nested loop anywhere — and the corpus side
    stays a narrow map (cell argmin + per-subspace encode over plan
    literals, no explode). Two windows (shortlist + final rank), true
    vectors fetched by broadcast-hash joins, corpus never shuffled."""
    plan = _plan(spark, sf_dir, "ivfpq_topk")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan  # keyed by cell
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Window [") == 2, plan


def test_semantic_dedup_keepers_plan_shape(spark, sf_dir):
    """SemDeDup's verdict join must never go cartesian and must stay
    JVM-side end to end (LSH banding + cosine verify + CC + verdict
    window are all built-in expressions)."""
    plan = _plan(spark, sf_dir, "semantic_dedup_keepers")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


@pytest.mark.parametrize(
    "name", ["image_near_dup_wide_keepers", "image_near_dup_xwide_keepers"]
)
def test_image_near_dup_wide_keepers_plan_shape(spark, sf_dir, name):
    """The cluster-emission form of wide perceptual dedup (round 9), at
    either banding of the 63-bit hash (4 x 16 or 3 x 21 bits), must
    keep pair frames INTERNAL: pairs exist only between the banded
    Hamming equi-join and the connected-components aggregate (the CC
    engine stages its frontier, cutting the pair lineage), so the final
    exchanges are keyed by doc_id / cluster_id and output is one verdict
    row per document — nothing pair-grained crosses the output boundary.
    At the 100x fixture the pair list is 34.7M rows while the verdict
    output is 500k; this shape is WHY the keeper form is the scale
    default."""
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    # pair columns never appear in the final (post-CC) plan: the staged
    # component labels enter as an ExistingRDD scan, pairs are upstream
    assert "id_a" not in plan and "id_b" not in plan, plan
    assert "hamming" not in plan, plan
    # the verdict window runs at cluster grain
    assert "hashpartitioning(cluster_id" in plan, plan


def test_image_near_dup_wide_keepers_consistent_with_pairs(spark, sf_dir):
    """Every pair the pairs-form emits must land in one cluster of the
    keeper form, and exactly one member per cluster keeps."""
    pairs = QUERIES["image_near_dup_wide"](spark, sf_dir).collect()
    verd = QUERIES["image_near_dup_wide_keepers"](spark, sf_dir).collect()
    cluster = {r.doc_id: r.cluster_id for r in verd}
    for p in pairs:
        assert cluster[p.id_a] == cluster[p.id_b], p
    keeps: dict[int, int] = {}
    for r in verd:
        keeps[r.cluster_id] = keeps.get(r.cluster_id, 0) + (1 if r.keep else 0)
    assert all(k == 1 for k in keeps.values()), keeps
    # output is doc-linear: one verdict row per document
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(verd) == n_docs


def test_semantic_dedup_keepers_wide_plan_shape(spark, sf_dir):
    """The wide (8 x 12-plane) semantic tier keeps the narrow tier's
    guarantees — no cartesian, JVM-side end to end — and, like the
    image keeper form, pair frames stay internal: the staged component
    labels enter the final plan as an ExistingRDD and the verdict
    window runs at cluster grain."""
    plan = _plan(spark, sf_dir, "semantic_dedup_keepers_wide")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "id_a" not in plan and "id_b" not in plan, plan
    assert "hashpartitioning(cluster_id" in plan, plan


def test_wide_embedding_tier_consistency(spark, sf_dir):
    """Wide-banded pairs must be a SUBSET of the exhaustive >=0.35 pair
    set (banding prunes candidates, never invents them), non-empty on
    the fixture, and every wide pair must land in one keeper cluster."""
    pairs = QUERIES["embedding_near_dup_wide"](spark, sf_dir).collect()
    assert pairs, "wide banding found no pairs on the fixture"
    for p in pairs:
        assert p.cos_sim >= 0.35
    verd = {
        r.vec_id: r.cluster_id
        for r in QUERIES["semantic_dedup_keepers_wide"](spark, sf_dir).collect()
    }
    for p in pairs:
        assert verd[p.id_a] == verd[p.id_b], p


def test_incremental_semantic_pairs_reads_store_not_corpus(spark, sf_dir):
    """The incremental semantic increment must read banded signatures
    from the persisted store (parquet scans of the demo store), with
    the cosine verify joining the candidate ids back to the embedding
    table — no cartesian anywhere, no Python eval."""
    plan = _plan(spark, sf_dir, "incremental_semantic_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Scan parquet" in plan, plan  # the persisted store scans
