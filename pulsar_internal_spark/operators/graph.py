"""Connected components — the clustering step after candidate-pair
generation (driver-mandated dedup family, SURVEY.md §7 Phase 4).

Near-dup detectors (minhash-LSH, simhash, embedding threshold) emit
PAIRS; production dedup keeps one document per connected component of
the pair graph. This module computes components with iterative
min-label propagation plus pointer jumping:

    per round:
      1. propagate: label(v) <- min over {label(v)} ∪ {label(u): u ~ v}
         — ONE join (edges against labels) unioned with the labels
         frame itself, then ONE keyed MIN aggregate. Round 1 starts
         from label = id and needs neither: it is one aggregate of the
         symmetric edge list, least(a, min(b)) per node a.
      2. hop: label(v) <- label(label(v))              -- pointer jumping

Propagation alone needs O(diameter) rounds; the hop step contracts
label chains. Each round stages via staging.stage (lineage would
otherwise compound per round — the same discipline as
operators/tree.descendants); on a cluster set spark.checkpoint.dir
for reliable staging (staging.stage).

Convergence is detected with a monotone checksum: labels only ever
decrease, so sum(label) strictly decreases on any change. The checksum
rides the staging action as an ``observe`` metric (CollectMetrics
evaluates inside the localCheckpoint job), so a round costs no separate
driver aggregate job; the last round is the one that finds the checksum
unchanged. (A double-hop variant was measured: it did NOT cut rounds
on the bucket-clique graphs this engine feeds CC — 7 rounds either way
— and added a join per round; rejected.)

Job budget: staging the symmetric edge list also counts its rows (an
``observe`` metric), which bounds the number of nodes. When the
node-sized frames fit under ``spark.sql.autoBroadcastJoinThreshold``,
both joins of a round broadcast them, so a round is four jobs
(broadcast labels, aggregate shuffle, broadcast for the hop, staging)
and round 1 three. Otherwise they are keyed shuffle joins.

At 100 TB: state per round is one (node, label) pair per node and the
symmetric edge list; every step is a keyed join/aggregate (no driver
collect except the O(1) checksum and row count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..staging import stage


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 15,
    edges_canonical: bool = False,
) -> DataFrame:
    """(id, cluster_id) for every node in `edges`; cluster_id = the
    minimum node id reachable in the undirected pair graph.
    Deterministic for any edge order.

    ``edges_canonical=True`` asserts each undirected edge appears
    exactly once (e.g. produced with ``src < dst``) — skips a
    distinct shuffle on the symmetrized list.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    if not edges_canonical:
        sym = sym.distinct()
    # sym has at least one row per node, so its row count bounds the
    # node-sized frames. The planner cannot see their size (a staged
    # frame keeps the static estimate of the plan that built it) and
    # would shuffle sym and the labels in every round.
    n_sym = Observation()
    sym = stage(sym.observe(n_sym, F.count(F.lit(1)).alias("n")))
    threshold = (
        sym.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    )
    small = 0 <= n_sym.get["n"] * sym._jdf.schema().defaultSize() <= threshold
    node_sized = F.broadcast if small else (lambda df: df)

    labels = None
    prev_sum = None
    converged = False
    for _ in range(max_iter):
        # 1. propagate: min label over self + neighbors, as ONE keyed
        #    aggregate; with label = id (round 1) that is least(a, min(b))
        if labels is None:
            prop = (
                sym.groupBy("a")
                .agg(F.least(F.col("a"), F.min("b")).alias("label"))
                .withColumnRenamed("a", "id")
            )
        else:
            nbr = sym.join(node_sized(labels), sym["b"] == labels["id"]).select(
                F.col("a").alias("id"), "label"
            )
            prop = (
                labels.unionByName(nbr)
                .groupBy("id")
                .agg(F.min("label").alias("label"))
            )
        # 2. hop: label(v) <- label(label(v)) (pointer jumping)
        parent = node_sized(prop).select(
            F.col("id").alias("p_id"), F.col("label").alias("p_label")
        )
        hopped = prop.join(parent, prop["label"] == parent["p_id"], "left").select(
            "id", F.coalesce("p_label", "label").alias("label")
        )
        # convergence checksum rides the staging materialization as an
        # observe metric — no separate per-round driver aggregate job
        obs = Observation()
        labels = stage(hopped.observe(obs, F.sum("label").alias("s")))
        cur_sum = obs.get["s"]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # Exiting via max_iter means labels may still be mid-merge —
        # silent partial convergence hands callers wrong cluster_ids on
        # long-chain graphs, so surface it. One propagate-plus-hop round
        # does not halve a chain: a Python model of this loop needs 46 to
        # 112 rounds on a 200-node chain under five random id
        # permutations (log2(200) is under 8), so the rounds grow with
        # the chain's length. Raise max_iter rather than ignore this.
        import warnings

        warnings.warn(
            f"connected_components hit max_iter={max_iter} before the "
            "label checksum stabilized; cluster_ids may be partially "
            "converged — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected pair graph (edges
    symmetrized like connected_components; every node then has
    out-degree >= 1, so there are no dangling nodes and the rank mass
    is conserved). Returns (id, pagerank) after ``iters`` power
    iterations of r(v) = (1-d)/N + d * sum over in-neighbors u of
    r(u)/deg(u).

    Scale shape: per iteration ONE join of the edge list against the
    (node, rank) table on the source key plus ONE keyed aggregation on
    the destination — the same budget as a components round. N and the
    per-node degree are carried as broadcast/join columns (no driver
    scalar); fixed iteration count keeps the plan finite and
    deterministic. Lineage is cut by staging every THIRD iteration
    (round 11): a 3-iteration chain is a small finite plan, so staging
    each round bought nothing locally and cost a full materialization
    of the node-sized rank table per iteration at scale — the periodic
    cut keeps plan growth bounded for large ``iters`` while the common
    3-iteration call runs as ONE AQE query (results byte-identical:
    same joins, same fold order, only materialization points moved)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .transform(stage)
    )
    deg = sym.groupBy(F.col("a").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = deg.join(F.broadcast(n)).select(
        "id", "deg", "n", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for it in range(iters):
        contrib = (
            sym.join(ranks, sym["a"] == ranks["id"])
            .groupBy(F.col("b").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("in_rank"))
        )
        ranks = (
            ranks.drop("rank")
            .join(contrib, "id")
            .select(
                "id",
                "deg",
                "n",
                (
                    (1.0 - damping) / F.col("n") + damping * F.col("in_rank")
                ).alias("rank"),
            )
        )
        # periodic lineage cut only — never after the final iteration
        # (the caller consumes the result once; staging it would be a
        # wasted materialization pass)
        if (it + 1) % 3 == 0 and it != iters - 1:
            ranks = stage(ranks)
    return ranks.select("id", F.col("rank").alias("pagerank"))
