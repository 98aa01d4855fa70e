"""Similarity search over embedding columns (array<float>).

Driver-mandated extension (SURVEY.md §7 Phase 4): exact, sign-LSH, IVF,
PQ and IVF+PQ top-k, plus a persisted cell-partitioned IVF index. All
math is JVM higher-order functions over plan literals or tiny broadcast
relations — no Python in the loop.

Every large expression, a plan constant or an unrolled fold, is SQL
text that ``_parsed`` turns into a Column: one py4j call per (live
context, text), where the Column API pays several round trips per term.
``_sql_double``, ``_sql_array`` and ``_sum`` write the text's literals
and index-order folds. Only the small lambda helpers (``_d2``, ``_dot``,
``_norm``, ``_cell_structs``) are still built through the Column API.
Every operator is a composition of one private kernel per job, each
written once below:

  _parsed          the one builder of large expressions (text -> Column,
                   memoized per context)
  centroid_struct_literal  (cell, centroid) array-of-structs literal
  _projections     sign-LSH plane dots: a transform over the ±1
                   plane-matrix literal
  _band_struct_array  exploded (band_idx, band_key) structs over the
                   staged sign-LSH projections
  _unrolled_d2     one codebook entry's squared-L2 fold (text)
  _adc_lut         M-term ADC lookup fold over a row's codes (text: over
                   the tables column and the codebook-norm literal)
  _subvectors      posexplode of a vector into its M subvector slices
  _pq_query_tables per-query ADC tables: the subvector-entry dot fold
                   (text), two ordered collects
  _d2              squared-L2 fold (aggregate over zip_with, index order)
  _literal_cell    cell argmin: array_min of (d2, cell) structs over the
                   centroid_struct_literal — a narrow map
  _literal_probe   nprobe probe: array_sort of the same structs, slice,
                   explode
  _relation_probe  nearest cells over a (row x centroid) relation: one
                   row_number window over (dist2, cell)
  _adc_topk        ADC score -> per-query shortlist -> exact re-rank
  _scored          self-match filter + (query_id, neighbor_id, score)
  _cos_sim         rounded exact cosine over precomputed norms
  _cosine_topk     per-query top-k window over (cos_sim desc, neighbor_id)
  _side            (query_id, qv[, qn]) / (neighbor_id, cv[, cn]) side
                   projections (``_Q`` / ``_C``)
  _train_cells     sampled-KMeans coarse-quantizer training
  band_pairs       (dedup.py) the band-bucket pair join, id_a < id_b,
                   shared with MinHash and both signature-store forms
  _pair_stage      (dedup.py) the one read of
                   spark.pulsar.pairs.partitions: keyed repartition of
                   the banded frame before its self-join

The struct ordering (d2 first, then cell) and the window order
(dist2, cell) break distance ties to the smaller cell in every form, so
the literal and relation probes pick the same cells.

  brute_force_topk   _cos_sim, _cosine_topk (broadcast queries, corpus
                     streams through one narrow stage; its norms are
                     withColumn over the aliased vectors, not _side's)
  ivf_topk           _train_cells, _relation_probe over the exploded
                     literal, _scored, _cosine_topk
  ivf_fixed_topk     _literal_cell, _literal_probe, _scored, _cosine_topk
  pq_fixed_topk      pq_encode, _pq_query_tables, _adc_topk (keyless
                     broadcast of the query tables)
  ivfpq_fixed_topk   pq_encode, _literal_cell, _literal_probe,
                     _pq_query_tables, _adc_topk (ADC join keyed by cell)
  lsh_bucketed_topk  _projections, _band_struct_array sides, _scored,
                     _cosine_topk
  embedding_banded_signatures  _projections, _band_struct_array (the
                     store's schema)
  lsh_blocked_pairs  embedding_banded_signatures, _pair_stage, band_pairs
  build_ivf_index    _train_cells, pq_encode (PQ-carrying index)
  ivf_index_append   _literal_cell, pq_encode
  ivf_index_topk     _relation_probe, _scored, _cosine_topk
  ivf_index_adc_topk _relation_probe, _pq_query_tables, _adc_topk
  pq_encode          _subvectors, _unrolled_d2 (d2, code) entries
  pq_residuals       _subvectors, _unrolled_d2 plus the entry's dot and
                     norm folds and the per-subspace sums

The exact tails score (query, neighbor) pairs excluding self-matches,
round cosine to 6 places, and rank by (cos_sim desc, neighbor_id asc);
the ADC tails shortlist by (score desc, neighbor_id asc) and re-rank
the shortlist exactly, so approximation changes WHICH candidates are
ranked, never the reported similarity.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import store_fs
from .dedup import _pair_stage, band_pairs
from ..sources.tables import collect_parquet, read_parquet, spread


# -- the one way to build a large expression: SQL text, parsed once -------


def _parsed(text: str):
    """The Column of one SQL expression text, parsed JVM-side in ONE
    py4j call and memoized per (live context, text).

    Every plan constant (plane matrix, centroid structs, codebook-norm
    matrix) and every unrolled fold below is built as text and comes
    through here. The Column-API form of the same fold costs several
    py4j round trips per term: at sf0.001 a warm pq_adc_topk build sent
    10,445 calls that way, most of them in the per-entry d2 folds, and
    sends 1,370 as text. The parsed tree is the Column-built one node
    for node, so plans and results do not move, provided the text keeps
    four rules:

    - doubles carry a ``D`` suffix (_sql_double): a bare ``0.0`` parses
      as DECIMAL;
    - structs that replace F.struct of aliased Columns are
      ``struct(<e> AS name, ...)``, not ``named_struct``;
    - lambda variables are named like ``x_0``, the form pyspark gives
      its own and the plan normalizer maps to one token;
    - folds keep the index order (_sum), which the DuckDB twins replay.

    A Column wraps a py4j handle into its context's JVM, so a cached one
    outliving a stop()/recreate cycle would fail opaquely on next use.
    The memo is keyed on the SparkContext OBJECT: a recreated context is
    a new object and rebuilds its Columns, the cache's own reference
    keeps a key's identity from being reused, and a lookup makes no
    py4j call."""
    return _parsed_for(SparkContext._active_spark_context, text)


@functools.lru_cache(maxsize=128)
def _parsed_for(sc, text: str):
    return F.expr(text)


def _sql_double(x) -> str:
    """A SQL double literal that parses back to EXACTLY this float:
    repr() is the shortest string that round-trips through correctly
    rounded decimal->binary conversion, and the JVM's parseDouble is
    correctly rounded — so the parsed Literal is bit-identical to the
    F.lit(float) it replaces."""
    return f"{float(x)!r}D"


def _sql_array(xs) -> str:
    return "array(" + ",".join(_sql_double(x) for x in xs) + ")"


def _sum(terms) -> str:
    """``(0.0 + t0 + t1 + ...)``: SQL ``+`` is left-associative, so this
    is the index-order fold ``aggregate`` runs and the DuckDB twins
    replay."""
    return "(" + " + ".join(["0.0D", *terms]) + ")"


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


# -- ANN kernels: one site each, composed by the operators below ----------

_Q = ("query_id", "qv", "qn")
_C = ("neighbor_id", "cv", "cn")


def _side(df: DataFrame, id_col: str, vec_col: str, names) -> DataFrame:
    """(id, vector[, norm]) projected under ``names`` (``_Q``/``_C``, or
    their first two fields to skip the norm). Norms are per-vector, so
    each side computes them once BEFORE any join."""
    return df.select(
        F.col(id_col).alias(names[0]),
        F.col(vec_col).alias(names[1]),
        *[_norm(F.col(vec_col)).alias(n) for n in names[2:]],
    )


def _d2(vec, cent):
    """Squared L2 distance folded in index order — the fold the DuckDB
    oracle twins replay."""
    return F.aggregate(
        F.zip_with(
            vec, cent, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cell_structs(vec, cent_lit):
    # (d2, cell) per centroid: struct ordering is field order, so equal
    # distances order by the smaller cell
    return F.transform(
        cent_lit,
        lambda c: F.struct(
            _d2(vec, c["centroid"]).alias("d2"), c["cell"].alias("cell")
        ),
    )


def _literal_cell(vec, cent_lit):
    """Nearest cell of ``vec`` over a centroid_struct_literal: a narrow
    map (array_min) — no explode, no window, no shuffle."""
    return F.array_min(_cell_structs(vec, cent_lit))["cell"]


def _literal_probe(q: DataFrame, cent_lit, nprobe: int, keep) -> DataFrame:
    """The ``nprobe`` nearest literal cells of each ``qv`` row: sort the
    (d2, cell) structs, keep the head, explode. Returns (*keep, cell)."""
    return (
        q.withColumn(
            "probed",
            F.slice(F.array_sort(_cell_structs(F.col("qv"), cent_lit)), 1, nprobe),
        )
        .select(*keep, F.explode("probed").alias("_p"))
        .select(*keep, F.col("_p.cell").alias("cell"))
    )


def _relation_probe(
    pairs: DataFrame, key: str, vec: str, keep, nprobe: int
) -> DataFrame:
    """The ``nprobe`` nearest cells per ``key`` over a
    (row x (cell, centroid)) relation: one row_number window over
    (dist2, cell). Returns (*keep, cell)."""
    ranked = pairs.withColumn("dist2", _d2(vec, "centroid")).withColumn(
        "cell_rank",
        F.row_number().over(
            Window.partitionBy(key).orderBy(F.asc("dist2"), F.asc("cell"))
        ),
    )
    return ranked.filter(F.col("cell_rank") <= nprobe).select(*keep, "cell")


def _cos_sim(cv: str = "cv", cn: str = "cn"):
    return F.round(
        _dot(F.col("qv"), F.col(cv)) / (F.col("qn") * F.col(cn)), 6
    ).alias("cos_sim")


def _scored(pairs: DataFrame, score, nid: str = "neighbor_id") -> DataFrame:
    """Drop self-matches and project (query_id, neighbor_id, score)."""
    out = nid if nid == "neighbor_id" else F.col(nid).alias("neighbor_id")
    return pairs.filter(F.col(nid) != F.col("query_id")).select(
        "query_id", out, score
    )


def _cosine_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by (cos_sim desc, neighbor_id asc) — the only
    shuffle of every exact tail, keyed by query id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _adc_lut(tabs: str, m: int) -> str:
    # unrolled M-term fold of tabs[j][codes[j]] in j order (= aggregate's)
    return _sum(
        f"element_at(element_at({tabs}, {j + 1}), codes[{j}] + 1)" for j in range(m)
    )


def _adc_topk(
    pairs: DataFrame,
    codebooks,
    shortlist: int,
    vectors: DataFrame,
    qvec: DataFrame,
    k: int,
    nid: str = "neighbor_id",
) -> DataFrame:
    """ADC tail over (query_id, ``nid``, codes, tables) pairs: a row's
    approximate cosine is M table lookups over its codes divided by the
    literal codebook-entry norms, a per-query shortlist of ``shortlist``
    by (score desc, neighbor_id), then the shortlist (tiny) broadcasts
    onto ``vectors`` (neighbor_id, cv, cn) to fetch TRUE vectors for the
    survivors only and joins ``qvec`` (_Q) for the exact re-rank."""
    m = len(codebooks)
    # the M x KSUB codebook-entry squared norms, a plan literal
    norms = "array(" + ",".join(
        _sql_array(sum(x * x for x in ctr) for ctr in book) for book in codebooks
    ) + ")"
    score = _parsed(
        f"{_adc_lut('tables', m)} / sqrt(greatest({_adc_lut(norms, m)}, 1e-12D))"
        " AS score"
    )
    adc = _scored(pairs, score, nid)
    ws = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    short = (
        adc.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    rer = (
        vectors.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", _cos_sim())
    )
    return _cosine_topk(rer, k)


def _subvectors(df: DataFrame, id_col: str, out_id: str, vec_col: str, m: int, dsub: int):
    """(out_id, j, sv): each vector posexploded into its ``m``
    contiguous ``dsub``-dim subvectors."""
    slices = ",".join(f"slice({vec_col}, {j * dsub + 1}, {dsub})" for j in range(m))
    return df.select(
        F.col(id_col).alias(out_id), _parsed(f"posexplode(array({slices})) AS (j, sv)")
    )


def _features(vec_col: str):
    from pyspark.ml.functions import array_to_vector

    return array_to_vector(F.col(vec_col).cast("array<double>")).alias("_v")


def _train_cells(
    corpus: DataFrame, num_centroids: int, vec_col: str, seed: int, max_iter: int
):
    """Sampled-KMeans coarse quantizer: returns the fitted KMeansModel
    (features ``_v`` from _features, prediction ``cell``). Deterministic
    for a fixed seed.

    Cells only partition space, so a few Lloyd iterations on a seeded
    sample of max(num_centroids*128, 2048) points suffice (at 100 TB a
    full-corpus fit is off the table). The count is of the raw input
    (metadata-only for parquet), and training bypasses spread(): kmeans
    init plus every Lloyd pass re-evaluates its input, and one partition
    straight off the scan turns each of those jobs into a single task.
    Random init: kmeans|| spends ~5 extra passes buying convergence
    speed coarse cells don't need."""
    from pyspark.ml.clustering import KMeans

    n_corpus = corpus.count()
    target = max(num_centroids * 128, 2048)
    frac = min(1.0, target / max(n_corpus, 1))
    sampled = corpus if frac >= 1.0 else corpus.sample(False, frac, seed)
    train = sampled.select(_features(vec_col)).coalesce(1)
    km = KMeans(
        k=num_centroids, seed=seed, maxIter=max_iter, initMode="random",
        featuresCol="_v", predictionCol="cell",
    )
    return km.fit(train)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (excluding self-matches).
    Returns (query_id, neighbor_id, cos_sim, rank)."""
    # spread(): cosine scoring is compute-bound, partition by cores
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    scored = c.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", _cos_sim())
    return _cosine_topk(scored, k)


def _plane_weights(p: int, dim: int) -> list[float]:
    """±1 weight for plane p, dimension d = parity of the first hex nibble
    of sha256(f"{p}:{d}"). Computed driver-side with hashlib — the weights
    are plan constants, so baking them in as literals keeps the expression
    tree tiny (the sha2-expression form made Catalyst analyze/codegen a
    512-node subtree per signature)."""
    import hashlib

    return [
        1.0
        if int(hashlib.sha256(f"{p}:{d}".encode()).hexdigest()[0], 16) & 1 == 1
        else -1.0
        for d in range(dim)
    ]


def centroid_struct_literal(centroids):
    """The (cell, centroid) array-of-structs plan literal. The per-element
    F.lit form cost ~1.4 s of py4j round trips per QUERY INVOCATION at
    8 cells x 64 dims (round 11); as parsed text it is one call, and
    Catalyst constant-folds it into the same single Literal."""
    return _parsed(
        "array("
        + ",".join(
            f"named_struct('cell',{i},'centroid',{_sql_array(ctr)})"
            for i, ctr in enumerate(centroids)
        )
        + ")"
    )


def _projections(num_planes: int, dim: int):
    """dot(_v, plane) per plane via one transform over the ±1 weight
    matrix literal (JVM higher-order functions, no UDF). The matrix was
    once F.lit(list-of-lists): num_planes*dim element-wise py4j round
    trips, 24.6 s of plan build for the 96x64 wide-tier matrix (round
    11). Catalyst folds the parsed array tree into the same single
    Literal; weights are exactly ±1.0, so the text is exact."""
    planes = ",".join(_sql_array(_plane_weights(p, dim)) for p in range(num_planes))
    return _parsed(
        f"transform(array({planes}), x_0 -> aggregate(zip_with(_v, x_0,"
        " (x_1, y_1) -> CAST(x_1 AS DOUBLE) * y_1), 0.0D, (x_2, y_2) -> x_2 + y_2))"
    )


def embedding_banded_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = 6,
    num_bands: int = 2,
    dim: int = 64,
) -> DataFrame:
    """(id, band_idx, band_key) banded sign-LSH signatures over an
    embedding column — the vector-space counterpart of
    dedup.banded_signatures (MinHash over shingles) in EXACTLY the
    store schema: band b's key is the sign bit-string of planes
    [b*planes_per_band, (b+1)*planes_per_band). Feeds the one-shot
    self-join (lsh_blocked_pairs) AND the shared incremental store
    (signature_store.append_banded_batch) — so semantic near-dup gets
    per-batch ingestion, streaming exactly-once, compaction and
    retention from the same tested machinery as MinHash dedup.

    All projections staged once (single folded weight-matrix literal,
    see _projections), then sliced per band — the signature pipeline
    is evaluated once per row, and Spark's exchange reuse computes it
    once for both sides of a self-join."""
    projs = _projections(num_bands * planes_per_band, dim)
    staged = (
        spread(df)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
        .select("id", projs.alias("_projs"))
    )
    return (
        staged.select(
            "id", _band_struct_array(planes_per_band, num_bands).alias("_b")
        )
        .select(
            "id",
            F.col("_b.band_idx").alias("band_idx"),
            F.col("_b.band_key").alias("band_key"),
        )
    )


def lsh_blocked_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = 6,
    num_bands: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs from banded sign-LSH — the production
    blocking key (no ground-truth columns anywhere in the plan).

    OR-amplification: band b's signature uses planes
    [b*planes_per_band, (b+1)*planes_per_band); two vectors are
    candidates if ANY band signature matches. Each row explodes to
    num_bands (band_idx, band_key) rows and the self-join is a hash
    equi-join on that pair — sum-of-buckets quadratic, never
    corpus-quadratic; viral buckets fall to AQE skew splitting.
    Returns (id_a, id_b) with id_a < id_b, distinct.
    """
    banded = embedding_banded_signatures(
        df, id_col, vec_col, planes_per_band, num_bands, dim
    )
    keys = ("band_idx", "band_key")
    return band_pairs(_pair_stage(banded, keys), keys)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer,
    then exact re-rank inside the ``nprobe`` closest cells per query.

    The 100 TB shape: centroids are trained on a SAMPLE (_train_cells),
    the corpus is assigned once (narrow map vs a broadcast centroid
    table), and each query scans ~nprobe/num_centroids of the corpus.
    Recall rises with nprobe; nprobe == num_centroids degenerates to
    brute force. Deterministic for a fixed seed.
    """
    model = _train_cells(corpus, num_centroids, vec_col, seed, max_iter)
    with_vec = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), _features(vec_col)
    )
    c = model.transform(with_vec).select(
        "neighbor_id", "cv", F.col("cell"), _norm(F.col("cv")).alias("cn")
    )

    # query -> nprobe nearest cells. The trained centroids are plan
    # CONSTANTS, so inline them as a literal array-of-structs and explode
    # — no createDataFrame round-trip, no broadcast exchange.
    cent_lit = centroid_struct_literal(model.clusterCenters())
    pairs = _side(queries, id_col, vec_col, _Q).select(
        *_Q, F.explode(cent_lit).alias("_c")
    ).select(
        *_Q, F.col("_c.cell").alias("cell"), F.col("_c.centroid").alias("centroid")
    )
    q_cells = _relation_probe(pairs, "query_id", "qv", _Q, nprobe)
    return _cosine_topk(_scored(c.join(F.broadcast(q_cells), "cell"), _cos_sim()), k)


def ivf_fixed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF SERVING path: the coarse quantizer is pre-trained and arrives
    as frozen constants (operators/ivf_frozen.CENTROIDS — see that
    module for the offline training recipe). This is the realistic
    100 TB deployment shape: centroids are fitted once on a sample and
    then served as plan literals, exactly like sign-LSH serves
    _plane_weights; nothing is trained per query.

    Plan shape: corpus cell assignment is a NARROW map (_literal_cell);
    the query side keeps its nprobe closest literal cells
    (_literal_probe) and broadcasts onto the assigned corpus. Unlike
    the kmeans twin (ivf_topk), every arithmetic step here is
    expressible in ANSI SQL over the same literals, which is what makes
    the ivf_cosine_topk query value-oracle-checkable."""
    cent_lit = centroid_struct_literal(centroids)
    assigned = _side(spread(corpus), id_col, vec_col, _C).withColumn(
        "cell", _literal_cell(F.col("cv"), cent_lit)
    )
    q_cells = _literal_probe(_side(queries, id_col, vec_col, _Q), cent_lit, nprobe, _Q)
    return _cosine_topk(
        _scored(assigned.join(F.broadcast(q_cells), "cell"), _cos_sim()), k
    )


def _codebook_frame(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    """The tiny (j, c, ctr) codebook relation (M x KSUB rows) the
    per-QUERY table builder broadcasts (Q x M x KSUB rows is trivial).
    The CORPUS-side encode does NOT use this relation any more — see
    pq_encode for the narrow-map argmin and the round-8 scale lesson
    that forced it."""
    rows = [
        (j, c, [float(x) for x in ctr])
        for j, book in enumerate(codebooks)
        for c, ctr in enumerate(book)
    ]
    return spark.createDataFrame(rows, "j INT, c INT, ctr ARRAY<DOUBLE>")


def _books_frame(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    """The M-row (j, _book: KSUB x dsub) per-subspace codebook relation
    the encode broadcast-joins on j. Why a 16-row JOIN and not a nested
    literal: the argmin expression references the book ~8 x KSUB times,
    and CollapseProject inlines an ALIASED literal into every reference
    — a 1024-literal CreateArray tree replicated ~128x made analysis
    alone take ~14 s per plan build (measured). A join output ATTRIBUTE
    is an O(1) reference, so the tree stays small; the build side is 16
    rows, the probe side streams, and there is still no aggregate."""
    rows = [
        (j, [[float(x) for x in ctr] for ctr in book])
        for j, book in enumerate(codebooks)
    ]
    return spark.createDataFrame(rows, "j INT, _book ARRAY<ARRAY<DOUBLE>>")


def _unrolled_d2(ctr: str, dsub: int) -> str:
    """(0.0 + d1*d1) + d2*d2 + ... over the items of the ``sv`` column
    and the entry ``ctr`` (SQL text) — aggregate's fold order, so the
    DuckDB oracle twins stay bit-identical."""
    d = [f"(CAST(sv[{t}] AS DOUBLE) - element_at({ctr}, {t + 1}))" for t in range(dsub)]
    return _sum(f"{x} * {x}" for x in d)


def _book_rows(df: DataFrame, codebooks, vec_col: str, id_col: str) -> DataFrame:
    """(_pq_id, j, sv, _book): every row's subvectors joined to the
    16-row per-subspace book relation — the shared grain of pq_encode
    and pq_residuals."""
    m, dsub = len(codebooks), len(codebooks[0][0])
    return _subvectors(df, id_col, "_pq_id", vec_col, m, dsub).join(
        F.broadcast(_books_frame(df.sparkSession, codebooks)), "j"
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "codes",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization encode: attach to every row its M codes —
    code j = argmin over codebook j of squared L2 distance between the
    j-th contiguous subvector and the codebook entry (ties to the
    smaller code, deterministically, via array_min over (d2, code)
    structs — struct ordering is field order).

    Shape (round-8 scale lesson): explode each vector to its M
    subvectors, broadcast-join the 16-row per-subspace book relation
    (_books_frame — see it for why a join beats an inlined literal),
    and take the per-(row, subspace) argmin as a NARROW MAP — array_min
    of KSUB small unrolled-d2 structs, _literal_cell's discipline. The
    previous form (broadcast-join the M x KSUB
    relation, then min(struct) over the KSUB-times-larger grain)
    planned the argmin as a SortAggregate — min over a struct has no
    mutable agg buffer, so Spark SORTS the exploded grain: at 200k
    vectors that sort burned ~7,300 CPU-seconds and spilled 14 GB
    memory / 5 GB disk (SCALE_r08 diagnosis), a 13x wall factor at 10x
    data. The narrow map needs no c-explosion and no argmin aggregate:
    per-row expressions stay small (KSUB x dsub = 64 fused
    multiply-adds), so whole-stage codegen keeps them, and the only
    remaining aggregate is the codes collect (ObjectHashAggregate —
    hash-based, measured spill-free). The fold order of each d2 and
    the (d2, code) tie-break are unchanged, so results are
    bit-identical to the old shape and to the DuckDB oracle twins.

    The giant-expression alternatives both still lose (measured in
    round 7): zip_with/aggregate lambdas interpret a closure per
    element (~8 s / 5000 encodes); fully unrolling all M x KSUB
    entries into ONE projection overflows Janino's 64 KB method limit
    and kills codegen for the whole stage (~20 s). The exploded
    (row, subspace) grain with per-row KSUB-way argmin is the sweet
    spot. At 100 TB this runs ONCE at ingest (the serving scan reads
    only the stored codes: M=16 x 4-bit codes replace 64 float32s,
    32x), so even the explode is ingest cost, never probe cost.

    ``id_col`` must be a unique row key — codes are computed at
    (id, subspace) grain and joined back onto ``df``."""
    dsub, ksub = len(codebooks[0][0]), len(codebooks[0])
    entries = ",".join(
        f"struct({_unrolled_d2(f'element_at(_book, {c + 1})', dsub)} AS d2, {c} AS code)"
        for c in range(ksub)
    )
    best = _book_rows(df, codebooks, vec_col, id_col).select(
        "_pq_id", "j", _parsed(f"array_min(array({entries}))['code'] AS code")
    )
    codes = best.groupBy("_pq_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "code"))),
            lambda x: x["code"],
        ).alias(out_col)
    )
    return df.join(codes, F.col(id_col) == F.col("_pq_id")).drop("_pq_id")


def _pq_query_tables(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    out_id: str = "query_id",
) -> DataFrame:
    """Per-query ADC lookup tables as DATA, relationally (same engine
    rationale as pq_encode): tables[j][c] = dot(query subvector j,
    codebook entry c), each dot a 4-term unrolled fold in index order
    (0.0 + q1*c1 + ...), assembled into the M x KSUB nested array by
    two ordered collects. Returns (out_id, tables)."""
    m, dsub = len(codebooks), len(codebooks[0][0])
    cb = _codebook_frame(queries.sparkSession, codebooks)
    qsub = _subvectors(queries, id_col, out_id, vec_col, m, dsub)
    dp = _sum(f"CAST(sv[{t}] AS DOUBLE) * ctr[{t}]" for t in range(dsub))
    qdot = qsub.join(F.broadcast(cb), "j").select(
        out_id, "j", _parsed(f"struct(c, {dp} AS dp) AS s")
    )
    qtabj = qdot.groupBy(out_id, "j").agg(
        F.transform(F.array_sort(F.collect_list("s")), lambda x: x["dp"]).alias("tj")
    )
    return qtabj.groupBy(out_id).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "tj"))), lambda x: x["tj"]
        ).alias("tables")
    )


def _coded_corpus(corpus: DataFrame, codebooks, id_col: str, vec_col: str) -> DataFrame:
    # (neighbor_id, cv, codes): the in-plan stand-in for the stored
    # index column (at real scale this frame IS the persisted index,
    # see ivf_index_adc_topk)
    return pq_encode(
        _side(spread(corpus), id_col, vec_col, _C[:2]),
        codebooks,
        vec_col="cv",
        id_col="neighbor_id",
    )


def pq_fixed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN serving (asymmetric distance / ADC):
    the third rung of the approximation ladder after sign-LSH banding
    and IVF probing, and the MEMORY answer at 100 TB — the hot scan
    touches only M=16 4-bit codes per vector, never the floats.

    The corpus is encoded by pq_encode (offline at real scale), each
    query builds its M x KSUB lookup table (_pq_query_tables), and the
    tables broadcast KEYLESSLY onto every code row; _adc_topk finishes
    it. Every arithmetic step folds in index order over the same
    literals the DuckDB oracle replays, so pq_adc_topk is value-checked
    end-to-end (same discipline as _ivf_oracle_sql)."""
    # NEITHER join input is staged (round 11): each feeds exactly ONE
    # consumer (codes -> the ADC scan join, tables -> its broadcast), so
    # materializing them bought nothing and cost a localCheckpoint pass
    # each — inlining both subplans into the one AQE query measured
    # ~0.4-1.2 s faster per serving query at sf0.1 (median of 5,
    # interleaved), results byte-identical.
    coded = _coded_corpus(corpus, codebooks, id_col, vec_col).select(
        "neighbor_id", "codes"
    )
    q_tabs = _pq_query_tables(queries, codebooks, id_col, vec_col)
    return _adc_topk(
        coded.join(F.broadcast(q_tabs)),
        codebooks,
        shortlist,
        _side(corpus, id_col, vec_col, _C),
        _side(queries, id_col, vec_col, _Q),
        k,
    )


def ivfpq_fixed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 3,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ combined serving — the classic billion-scale ANN index
    layout (coarse cells prune WHICH vectors are scanned, PQ codes
    prune WHAT the scan reads): corpus rows carry (cell, codes) only;
    a query probes its nprobe closest cells and ADC-scores just those
    cells' codes, so the scan cost is (nprobe/num_cells) of the corpus
    at 8 bytes per row — both prunings compound, which is why this is
    the shape billion-vector deployments actually run.

    The probed-cells x ADC-tables query frame is broadcast and joined
    BY CELL (a keyed BroadcastHashJoin — compare pq_fixed_topk's
    keyless scan of everything). Deterministic end to end over the same
    frozen literals the DuckDB twin replays (_ivfpq_oracle_sql), so the
    query is value-checked, not recall-checked."""
    cent_lit = centroid_struct_literal(centroids)
    # the encode subplan and the probed+tables subplan each feed ONE
    # consumer, so neither is staged (round 11, see pq_fixed_topk:
    # ~0.5-0.9 s per query at sf0.1, results byte-identical)
    coded = (
        _coded_corpus(corpus, codebooks, id_col, vec_col)
        .withColumn("cell", _literal_cell(F.col("cv"), cent_lit))
        .select("neighbor_id", "cell", "codes")
    )
    q_probe = _literal_probe(
        _side(queries, id_col, vec_col, _Q[:2]), cent_lit, nprobe, _Q[:1]
    )
    q_side = q_probe.join(
        _pq_query_tables(queries, codebooks, id_col, vec_col), "query_id"
    )
    return _adc_topk(
        coded.join(F.broadcast(q_side), "cell"),
        codebooks,
        shortlist,
        _side(corpus, id_col, vec_col, _C),
        _side(queries, id_col, vec_col, _Q),
        k,
    )


def _band_struct_array(planes_per_band: int, num_bands: int):
    """Exploded (band_idx, band_key) structs over the staged ``_projs``
    column: band b's key is the sign-bit string of planes
    [b*planes_per_band, (b+1)*planes_per_band). As Column lambdas the
    per-band slice/transform cost ~0.3 s of py4j round trips per call."""
    bands = ",".join(
        f"struct({b} AS band_idx, array_join(transform(slice(_projs,"
        f" {b * planes_per_band + 1}, {planes_per_band}),"
        " x_0 -> CASE WHEN x_0 >= 0 THEN '1' ELSE '0' END), '') AS band_key)"
        for b in range(num_bands)
    )
    return _parsed(f"explode(array({bands}))")


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = 8,
    num_bands: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k with banded (OR-amplified) sign-LSH: a corpus
    vector is a candidate for a query if ANY of the ``num_bands`` band
    signatures (``planes_per_band`` sign bits each) matches; candidates
    then get an exact cosine re-rank. The single-signature form this
    replaced (one AND-of-all-planes bucket) had recall@5 ~0.3 at useful
    precision — AND-only amplification can only trade recall down. With
    8x8 banding, genuinely-similar neighbors (cos >= ~0.9) collide in
    some band with probability ~0.99 while random pairs (cos ~0) match
    a band at 0.5^8 = 0.004 — the precision/recall knob is
    (planes_per_band up = fewer false candidates, num_bands up = higher
    recall), pinned by tests/test_operators.py's planted-neighbor gate
    at recall@5 >= 0.8.

    Scale shape: projections are staged ONCE per row over a single
    folded plane-matrix literal (num_bands*planes_per_band planes);
    each side explodes to num_bands narrow (band_idx, band_key) rows;
    the query side is broadcast, so the corpus never shuffles; the
    cross-band duplicate candidates collapse with one distinct at
    (query, neighbor) grain BEFORE the ranking window."""
    projs = _projections(num_bands * planes_per_band, dim)

    def sided(df, idn, vecn, normn):
        staged = df.select(
            F.col(id_col).alias(idn), F.col(vec_col).alias("_v")
        ).select(
            idn,
            F.col("_v").alias(vecn),
            _norm(F.col("_v")).alias(normn),
            projs.alias("_projs"),
        )
        return staged.select(
            idn,
            vecn,
            normn,
            _band_struct_array(planes_per_band, num_bands).alias("_b"),
        ).select(
            idn, vecn, normn,
            F.col("_b.band_idx").alias("band_idx"),
            F.col("_b.band_key").alias("band_key"),
        )

    c = sided(spread(corpus), "neighbor_id", "cv", "cn")
    q = sided(queries, "query_id", "qv", "qn")
    scored = _scored(
        c.join(F.broadcast(q), ["band_idx", "band_key"]), _cos_sim()
    ).distinct()  # a pair sharing m bands scores m identical rows
    return _cosine_topk(scored, k)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 quantization: affine-map each vector's range onto
    signed -128..127 codes stored as ARRAY<TINYINT>. Returns (id, codes,
    vmin, scale) — enough to reconstruct x~ = vmin + (code + 128)*scale.

    The ANN scale story: a 64-dim float corpus costs 256 B/vector;
    tinyint codes are byte-per-element in Tungsten's array layout, so
    ~4x more corpus fits in the same broadcast / cache budget (modulo
    the fixed per-array header). Coarse scoring runs on codes; the
    survivors re-rank against full precision (same two-tier shape as
    ivf_topk). All JVM-side higher-order functions, no UDF."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.select(
        F.col(id_col),
        v.alias("_v"),
        F.array_min(v).alias("vmin"),
        F.array_max(v).alias("vmax"),
    )
    scale = F.when(
        F.col("vmax") == F.col("vmin"), F.lit(1.0)
    ).otherwise((F.col("vmax") - F.col("vmin")) / F.lit(255.0))
    with_scale = staged.select(
        id_col, "_v", "vmin", scale.alias("scale")
    )
    codes = F.transform(
        F.col("_v"),
        lambda x: (
            F.round((x - F.col("vmin")) / F.col("scale")) - 128
        ).cast("tinyint"),
    )
    return with_scale.select(
        id_col, codes.alias("codes"), "vmin", "scale", "_v"
    )


# -- persisted IVF index: build once, probe many --------------------------

# the cells store nests each batch under its cell: cell=C/batch_id=B
_CELL_PARTS = ("cell", "batch_id")


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 4,
    codebooks: list[list[list[float]]] | None = None,
    health_sample_mod: int = 1,
) -> None:
    """Materialize an IVF index: train the coarse quantizer
    (_train_cells), assign every corpus vector to its cell ONCE, and
    write

      {path}/centroids/  — (cell, centroid array<double>) — tiny
      {path}/cells/      — pointer-committed generation store (round 7,
                           shared layout with the other stores): the
                           live generation holds (vec_id, embedding,
                           norm) partitioned by (cell, batch_id); the
                           build is batch_id=0
      {path}/health/     — (PQ-carrying only, round 8) one row per
                           ingested batch: sampled mean quantization
                           residual vs the frozen codebooks; batch 0 is
                           the drift baseline (see ivf_index_health)

    The build pays the assignment scan once; every subsequent probe
    reads ONLY its nprobe cell directories (dynamic partition pruning,
    plan-tested) — the serving shape that amortizes at 100 TB, where
    re-deriving cells per query batch (ivf_topk) would rescan the
    corpus. Norms are precomputed into the index so probes never touch
    raw vectors outside the scored cells. The second-level batch_id
    partition exists for the SAME exactly-once contract the signature
    and sketch stores carry: an explicit-batch-id append dynamically
    overwrites only its own (cell, batch_id) leaves, so a replayed
    streaming batch is idempotent (see ivf_index_append /
    streaming_ivf_append); probes ignore the level entirely."""
    import os

    spark = corpus.sparkSession
    model = _train_cells(corpus, num_centroids, vec_col, seed, max_iter)

    cent_rows = [
        (i, [float(x) for x in ctr]) for i, ctr in enumerate(model.clusterCenters())
    ]
    spark.createDataFrame(
        cent_rows, "cell INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "centroids"))

    assigned = model.transform(
        spread(corpus).select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            _features(vec_col),
        )
    ).select(
        "vec_id",
        "embedding",
        _norm(F.col("embedding")).alias("norm"),
        "cell",
    )
    if codebooks is not None:
        # PQ-carrying index: the codebooks are INDEX STATE (written
        # beside the centroids, read back by appends and the ADC
        # probe), and every stored row additionally carries its M
        # codes — the 8-byte column the ADC scan reads INSTEAD of the
        # embedding column, which parquet then never decodes on the
        # scan path (column pruning, plan-tested)
        _codebook_frame(spark, codebooks).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "codebooks"))
        assigned = pq_encode(assigned, codebooks, vec_col="embedding")

    # the cells dir is a pointer-committed generation store (round 7,
    # shared protocol with the signature/sketch/span stores): a build is
    # a full (re)create — clear any prior generations, then append
    # batch 0 to the fresh store
    cells_base = os.path.join(path, "cells")
    store_fs.delete_dir(cells_base, ignore_missing=True)
    store_fs.append_batch(
        cells_base, lambda _: assigned, batch_id=0, partition_by=_CELL_PARTS
    )
    if codebooks is not None:
        # batch-0 health row: the codebooks' residual on the BUILD data
        # is the drift baseline every later batch is compared against
        store_fs.delete_dir(os.path.join(path, "health"), ignore_missing=True)
        _write_index_health(
            assigned, path, codebooks, batch_id=0, replace=False,
            sample_mod=health_sample_mod,
        )


def _index_cells(spark, path: str) -> DataFrame:
    """The live cells generation of a persisted IVF index."""
    import os

    cells = store_fs.read_generation(spark, os.path.join(path, "cells"))
    if cells is None:
        raise FileNotFoundError(
            f"IVF index {path} has no committed cells generation"
        )
    return cells


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index: rank the stored centroids per query
    (broadcast — the centroid table is tiny), keep each query's nprobe
    nearest cells, then join the cell-partitioned index on ``cell`` so
    DYNAMIC PARTITION PRUNING restricts the scan to the probed cell
    directories — the fraction of the index read per batch is
    nprobe/num_centroids regardless of corpus size, enforced by the
    storage layout rather than a filter over a full scan. Returns
    (query_id, neighbor_id, cos_sim, rank)."""
    import os

    cents = read_parquet(spark, os.path.join(path, "centroids"))
    q = _side(queries, id_col, vec_col, _Q)
    q_cells = _relation_probe(q.join(F.broadcast(cents)), "query_id", "qv", _Q, nprobe)
    scored = _scored(
        _index_cells(spark, path).join(F.broadcast(q_cells), "cell"),
        _cos_sim("embedding", "norm"),
        "vec_id",
    )
    return _cosine_topk(scored, k)


def _read_index_codebooks(spark, path: str) -> list[list[list[float]]] | None:
    """Load a persisted index's PQ codebooks ({path}/codebooks) back
    into the nested-list literal form pq_encode consumes, or None for
    a plain IVF index. The collect is O(M x KSUB) rows (256 for the
    suite's 16x16 config) — driver-side by design: the codebooks must
    become PLAN LITERALS so encode/ADC stay whole-stage-codegen'd. Only
    a rebuild rewrites them, so the rows are memoized on the files'
    identity (sources.tables.collect_parquet): a repeat call submits no
    job."""
    import os

    cb_path = os.path.join(path, "codebooks")
    if not store_fs.is_dir(cb_path):
        return None
    rows = collect_parquet(spark, cb_path)
    m = 1 + max(r.j for r in rows)
    books: list[list[list[float]]] = []
    for j in range(m):
        entries = sorted((r for r in rows if r.j == j), key=lambda r: r.c)
        books.append([[float(x) for x in r.ctr] for r in entries])
    return books


def ivf_index_append(
    spark,
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
    health_sample_mod: int = 1,
) -> int:
    """Append a vector batch to a persisted IVF index WITHOUT
    retraining or rewriting history: assign each new vector to its
    nearest EXISTING centroid (_literal_cell over the stored centroids:
    a narrow map, no join; its argmin and the probes' relation window
    break ties the same way, so assignment and probing never disagree
    on a cell boundary — tests/test_operators.py checks both forms)
    and land the rows under the batch's (cell, batch_id) partitions.
    The coarse quantizer is FROZEN — the standard IVF ingestion trade:
    cells drift as the vector distribution shifts, which is monitored
    (cell-size skew) and fixed by an offline rebuild, never by blocking
    ingest. At
    100 TB this is the serving shape: a daily embedding batch costs
    one narrow map + one partitioned append, while probes keep
    reading nprobe cell directories; appended files become visible
    per cell listing, so a concurrent probe sees the old or the new
    file set, never a torn cell.

    An EXPLICIT ``batch_id`` writes with dynamic partition overwrite —
    a replayed streaming batch replaces exactly its own
    (cell, batch_id) leaves instead of double-appending vectors: the
    same exactly-once contract as append_signature_batch and the
    sketch store. ``batch_id=None`` appends under the next sequential
    id, read from the (cell, batch_id) directory names — no Spark job.
    Returns the batch_id used. Appends never implicitly create an
    index: a path without a committed cells generation raises
    (build_ivf_index first).

    If the index was built WITH PQ codebooks ({path}/codebooks
    present), the batch's codes are computed here with those exact
    codebooks — appenders cannot drift from the index's quantizer
    because the quantizer IS index state, not a caller argument."""
    import os

    cents = sorted(
        collect_parquet(spark, os.path.join(path, "centroids")),
        key=lambda r: r.cell,
    )
    assigned = _side(
        spread(new_vectors), id_col, vec_col, ("vec_id", "embedding", "norm")
    ).withColumn(
        "cell",
        _literal_cell(
            F.col("embedding"), centroid_struct_literal([r.centroid for r in cents])
        ),
    )
    books = _read_index_codebooks(spark, path)
    if books is not None:
        assigned = pq_encode(assigned, books, vec_col="embedding")
    bid = store_fs.append_batch(
        os.path.join(path, "cells"),
        lambda _: assigned,
        batch_id=batch_id,
        partition_by=_CELL_PARTS,
        create=False,
    )
    if books is not None:
        # per-batch health row with the batch's own exactly-once
        # contract: a replayed explicit batch_id replaces its own
        # health partition instead of double-counting
        _write_index_health(
            assigned, path, books, batch_id=bid,
            replace=batch_id is not None, sample_mod=health_sample_mod,
        )
    return bid


def ivf_index_adc_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a PQ-carrying persisted IVF index the way a billion-scale
    deployment does: the probed cells' scan projects ONLY
    (vec_id, cell, codes) — parquet never decodes the embedding column
    on the hot path (column pruning + the partition pruning the cell
    layout already enforces: nprobe/num_cells of the index at ~8 bytes
    per row) — and scores by ADC over the index's OWN codebooks
    (read back as plan literals via _read_index_codebooks, so the
    probe can never drift from what appends encoded). The in-plan twin
    is ivfpq_fixed_topk; this is the same math over the persisted
    layout, equivalence-tested."""
    import os

    books = _read_index_codebooks(spark, path)
    if books is None:
        raise FileNotFoundError(
            f"IVF index {path} carries no PQ codebooks — build_ivf_index"
            " with codebooks=... first (or probe with ivf_index_topk)"
        )
    cents = read_parquet(spark, os.path.join(path, "centroids"))
    q_cells = _relation_probe(
        _side(queries, id_col, vec_col, _Q[:2]).join(F.broadcast(cents)),
        "query_id", "qv", _Q[:1], nprobe,
    )
    # the probe + tables subplan feeds ONE consumer (the ADC join's
    # broadcast), so staging it would only add a job
    q_side = q_cells.join(
        _pq_query_tables(queries, books, id_col, vec_col), "query_id"
    )
    cells = _index_cells(spark, path)
    vectors = cells.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"),
        F.col("norm").alias("cn"),
    )
    return _adc_topk(
        cells.select("vec_id", "cell", "codes")  # embedding col PRUNED
        .join(F.broadcast(q_side), "cell"),
        books,
        shortlist,
        vectors,
        _side(queries, id_col, vec_col, _Q),
        k,
        nid="vec_id",
    )


def compact_ivf_cells(spark, path: str) -> int:
    """Maintenance: fold every (cell, batch_id) second-level partition
    of a persisted IVF index into base batch 0 — completing the shared
    store-maintenance contract (signature_store.compact_store,
    sketches.compact_sketch_store, span_store.compact_span_store).
    Thousands of daily appends otherwise accumulate one leaf directory
    per (cell, batch): listing cost on every probe's pruned scan, and
    small files. Semantics-preserving by construction: probes ignore
    the batch level entirely (ivf_index_topk reads (vec_id, embedding,
    norm, cell) only), and the fold changes no row — pure relayout.
    Staged safely via store_fs.fold_generation on the cells directory
    (the centroids dir is untouched — the quantizer is not maintenance
    state). Same single-maintainer window contract as the other
    stores. Returns the number of batches folded."""
    cells = store_fs.join(path, "cells")
    return len(store_fs.fold_generation(spark, cells, partition_by=_CELL_PARTS))


def expire_ivf_batches(path: str, keep_from_batch: int) -> list[str]:
    """Retention: drop index vectors ingested in batches strictly below
    ``keep_from_batch`` (embeddings aged out of the serving horizon) —
    directory-level deletes of the batch_id leaves under every cell,
    the same leased O(#partitions) metadata sweep as every store
    (store_fs.expire_batches_below), on the index's own filesystem. Unlike the dedup stores,
    expiry here CHANGES probe results (the expired vectors stop being
    served) — that is the point of a TTL on an ANN index. Returns the
    removed partition paths (cell-relative)."""
    return store_fs.expire_batches_below(
        store_fs.join(path, "cells"), keep_from_batch, _CELL_PARTS
    )


def pq_residuals(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "residual_micro",
) -> DataFrame:
    """Per-vector PQ quantization residual in exact integer micro-units:
    FLOOR((1 - cos(v, reconstruction(v))) * 1e6) — 0 means the codebooks
    represent the vector perfectly; the index-health signal that RISES
    when ingest drifts away from the frozen quantizer's training
    distribution (the one failure mode of frozen-quantizer serving).

    Same relational grain as pq_encode (explode to (id, subspace),
    join the 16-row book relation, narrow-map argmin — the round-8
    SortAggregate-spill lesson in pq_encode's docstring applies here
    identically) but the winning struct carries the entry's dot/norm
    terms, so reconstruction cosine needs NO second codebook pass:
    because subspaces are disjoint, dot(v, v_hat) =
    sum_j dot(sv_j, ctr_code_j) and |v_hat|^2 = sum_j |ctr_code_j|^2.
    Folds run in subspace order over a j-sorted collect (matching the
    DuckDB twin's list_sum order) and the residual is floored to
    integer micro-units, so downstream SUMs are order-independent and
    engine-exact — no float tolerance anywhere.
    """
    m, dsub, ksub = len(codebooks), len(codebooks[0][0]), len(codebooks[0])

    sv = [f"CAST(sv[{t}] AS DOUBLE)" for t in range(dsub)]
    sv2 = _sum(f"{x} * {x}" for x in sv)
    sub = _book_rows(df, codebooks, vec_col, id_col).withColumn("_sv2", _parsed(sv2))

    def entry(c: int) -> str:
        ctr = f"element_at(_book, {c + 1})"
        ctr_t = [f"element_at({ctr}, {t + 1})" for t in range(dsub)]
        dp = _sum(f"{x} * {y}" for x, y in zip(sv, ctr_t))
        n2 = _sum(f"{y} * {y}" for y in ctr_t)
        return (
            f"struct({_unrolled_d2(ctr, dsub)} AS d2, {c} AS code, {dp} AS dp,"
            f" {n2} AS n2)"
        )

    entries = ",".join(entry(c) for c in range(ksub))
    best = sub.select(
        "_pq_id",
        "j",
        _parsed(f"array_min(array({entries})) AS s"),
        F.col("_sv2").alias("sv2"),
    )
    terms = best.groupBy("_pq_id").agg(
        F.array_sort(
            F.collect_list(F.struct("j", "s.dp", "s.n2", "sv2"))
        ).alias("ts")
    )
    dot_v, n2_r, n2_v = (
        _sum(f"ts[{j}]['{f}']" for j in range(m)) for f in ("dp", "n2", "sv2")
    )
    res = terms.select(
        "_pq_id",
        _parsed(
            f"CAST(FLOOR((1.0D - {dot_v} / sqrt(greatest({n2_v} * {n2_r}, 1e-12D)))"
            f" * 1000000.0D) AS BIGINT) AS {out_col}"
        ),
    )
    return df.join(res, F.col(id_col) == F.col("_pq_id")).drop("_pq_id")


def _write_index_health(
    assigned: DataFrame,
    path: str,
    codebooks: list[list[list[float]]],
    batch_id: int,
    replace: bool,
    sample_mod: int,
    vec_col: str = "embedding",
) -> None:
    """Append one per-batch health row to {path}/health: mean PQ
    quantization residual over a deterministic hash-sample of the
    batch's vectors (vec_id % sample_mod == 0 — at production scale the
    sample keeps health cost a fraction of ingest cost; the residual is
    recomputed on the sample only, so cost is sample-sized, not
    batch-sized). ``replace`` follows the batch's own exactly-once
    contract: an explicit (replayed) batch_id dynamically overwrites its
    own health partition instead of double-counting."""
    import os

    sample = assigned.filter(F.col("vec_id") % sample_mod == 0)
    stats = (
        pq_residuals(sample, codebooks, vec_col=vec_col)
        .agg(
            F.count("*").alias("n_sampled"),
            F.coalesce(F.sum("residual_micro"), F.lit(0)).alias(
                "sum_residual_micro"
            ),
        )
        .select(
            F.lit(batch_id).cast("int").alias("batch_id"),
            "n_sampled",
            "sum_residual_micro",
            F.round(
                F.col("sum_residual_micro")
                / (F.greatest(F.col("n_sampled"), F.lit(1)) * F.lit(1e6)),
                6,
            ).alias("mean_residual"),
        )
    )
    health = os.path.join(path, "health")
    w = stats.coalesce(1).write
    if replace:
        (
            w.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(health)
        )
    else:
        w.mode("append").partitionBy("batch_id").parquet(health)


def ivf_index_health(spark, path: str) -> DataFrame:
    """Residual-drift report for a persisted PQ-carrying IVF index: one
    row per ingested batch with its sampled mean quantization residual
    and the drift ratio vs the BUILD batch (batch_id 0, the codebooks'
    own training-era data). A ratio climbing across batches says the
    ingest distribution is walking away from the frozen quantizer —
    recall at fixed shortlist decays silently — and the fix is an
    offline codebook re-train + reindex (OPERATIONS.md runbook), never
    blocking ingest. Returns (batch_id, n_sampled, mean_residual,
    drift_vs_build)."""
    import os

    h = spark.read.parquet(os.path.join(path, "health"))
    base = h.filter(F.col("batch_id") == 0).select(
        F.col("mean_residual").alias("_base")
    )
    return (
        h.crossJoin(F.broadcast(base))
        .select(
            "batch_id",
            "n_sampled",
            "mean_residual",
            F.round(
                F.col("mean_residual")
                / F.greatest(F.col("_base"), F.lit(1e-9)),
                4,
            ).alias("drift_vs_build"),
        )
        .orderBy("batch_id")
    )


def streaming_ivf_append(
    vec_stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    num_centroids: int = 16,
    trigger: dict | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
):
    """CONTINUOUS IVF ingestion — the streaming twin of
    streaming_minhash_dedup / streaming_substring_dedup, with the same
    exactly-once contract: the
    FIRST micro-batch trains the coarse quantizer and materializes the
    index (build is a full overwrite, so a replayed first batch is
    idempotent); every later micro-batch assigns against the FROZEN
    centroids and lands under its streaming batch id with dynamic
    partition overwrite (a crash-replayed batch replaces its own
    (cell, batch_id) leaves, never double-appending). Probes
    (ivf_index_topk) read the same index mid-stream with unchanged
    semantics. Returns the StreamingQuery.

    The build-vs-append probe runs on the INDEX'S OWN filesystem
    (store_fs) — an os.path.isdir against an hdfs://s3a:// index path
    is always False, which would silently retrain the quantizer and
    full-overwrite the index on EVERY micro-batch, discarding all
    previously ingested cells."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # an EMPTY first micro-batch must not train the quantizer (a
        # kmeans fit on zero vectors either crashes the query or
        # freezes degenerate centroids forever); empty later batches
        # have nothing to assign either — skip both
        if batch_df.isEmpty():
            return
        if not store_fs.is_dir(store_fs.join(path, "centroids")):
            # codebooks (if given) become INDEX STATE at first build;
            # appends then read them back and encode every batch, so a
            # PQ-carrying index streams with the same exactly-once
            # contract and no extra plumbing
            build_ivf_index(
                batch_df, path, num_centroids=num_centroids,
                id_col=id_col, vec_col=vec_col, codebooks=codebooks,
            )
        else:
            ivf_index_append(
                spark, batch_df, path,
                id_col=id_col, vec_col=vec_col, batch_id=batch_id,
            )

    writer = vec_stream.writeStream.queryName("ivf_append").option(
        "checkpointLocation", checkpoint_dir
    ).foreachBatch(process)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
