"""Similarity search over embedding columns (``array<float>``).

Two tiers (SURVEY.md §7 M4):

* ``brute_force_topk`` — exact: broadcast the (small) query set against the
  full corpus, per-row cosine in codegen'd column algebra, top-k via window.
  The corpus side never shuffles until the final per-query top-k (which
  shuffles only (query_id, candidate, score) triples, not vectors).
* ``lsh_topk`` — approximate scale path: sign-bit LSH buckets both sides;
  only same-bucket pairs are scored. Recall is tunable via ``n_bits``
  (fewer bits → bigger buckets → higher recall, more compute).

At 100 TB the corpus stays partitioned; queries are broadcast (dim tables).
* ``ivf_topk`` — IVF-style cell search: vectors are assigned to their
  nearest centroid (argmax cosine, broadcast centroid table), then search
  runs only within the query's cell. Centroid choice here is deterministic
  (first ``n_cells`` corpus vectors) so the whole pipeline stays
  oracle-checkable; swapping in KMeans-learned centroids changes ONLY the
  centroid table — assignment/search plumbing is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.functions.vector import (
    cosine_similarity,
    l2_norm,
    sign_bucket,
)
from cassandra_analytics_example_spark.operators.checkpoints import (
    release_cut,
    truncate_plan,
)
from cassandra_analytics_example_spark.session import pin_small


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Returns (query_id, neighbor_id, cosine, rnk). Self-matches excluded.
    Ties broken by neighbor id ascending (total order → deterministic)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("qv", "cv").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_score: bool = False,
) -> DataFrame:
    """Assign each vector to its nearest centroid (argmax cosine, ties to
    the smallest centroid id) with ZERO shuffle of the corpus.

    The centroid table is collapsed to a single array-of-structs row and
    broadcast (BroadcastNestedLoopJoin against one row = a map-side column
    append); the argmax is then a per-row ``array_max`` over
    (cosine, -cent_id) structs — one projection, no corpus×n_cells row
    expansion, no Exchange between the corpus scan and the cell column.
    Struct comparison is lexicographic, so max picks highest cosine and,
    on exact float ties, the smallest centroid id (via the negated id).

    ``keep_score=True`` additionally surfaces the winning cosine as
    ``score`` — the per-point term of the spherical-KMeans objective."""
    cents = centroids.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("cent_id"), F.col("centv")))
        ).alias("__cents")
    )
    best = F.array_max(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                cosine_similarity(F.col(vec_col), c["centv"]).alias("cs"),
                (-c["cent_id"]).alias("neg_id"),
            ),
        )
    )
    cols = [
        F.col(id_col),
        F.col(vec_col),
        (-best["neg_id"]).alias("cell"),
    ]
    if keep_score:
        cols.append(best["cs"].alias("score"))
    return df.crossJoin(F.broadcast(cents)).select(*cols)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
) -> DataFrame:
    """IVF(1-probe) approximate top-k: partition the corpus into Voronoi
    cells around ``n_cells`` centroids, search only the query's own cell.

    Centroids are the first ``n_cells`` corpus vectors by id — a
    deterministic stand-in for KMeans means that keeps the operator
    oracle-checkable; the assignment/search plumbing is exactly what a
    learned-centroid IVF uses. Same output shape as ``brute_force_topk``."""
    cents = corpus.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("centv")
    )
    cells = assign_cells(corpus, cents, id_col, vec_col)
    q = assign_cells(queries, cents, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "cell"
    )
    c = cells.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "cell"
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("qv", "cv").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 4,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's LSH bucket.

    Same output shape as ``brute_force_topk``; queries whose bucket holds
    fewer than k neighbors return fewer rows (standard ANN behavior)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        sign_bucket(vec_col, n_bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        sign_bucket(vec_col, n_bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("qv", "cv").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def embedding_dim_stats(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group per-dimension embedding statistics: centroid (mean), min,
    max, count — the feature-space profile behind centroid initialization
    (IVF), drift monitoring, and normalization checks.

    posexplode expands each vector into (dim, value) rows, but the groupBy
    partial-aggregates map-side: the shuffle carries only
    |groups| x |dims| partial rows per task, never the expanded data. The
    centroid uses FIXED-POINT accumulation: each element is quantized to
    1e-9 (round to bigint), summed exactly in integers, and divided back —
    double summation is order-dependent across partitions, integer
    summation is associative, so the mean is bit-identical at any
    parallelism (and in any engine; casting doubles to wide DECIMAL is NOT
    portable — engines disagree on the rounding of the final decimal
    digit). min/max are order-independent and stay exact doubles.
    """
    from cassandra_analytics_example_spark.session import spread

    ex = spread(emb).select(
        F.col(group_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"),
    )
    q = F.round(F.col("x") * F.lit(1e9)).cast("bigint")
    return ex.groupBy(group_col, "dim").agg(
        ((F.sum(q).cast("double") / F.count("*")) / F.lit(1e9)).alias("centroid"),
        F.min("x").alias("dmin"),
        F.max("x").alias("dmax"),
        F.count("*").alias("n"),
    ).select(
        F.col(group_col),
        F.col("dim").cast("bigint").alias("dim"),
        "centroid",
        "dmin",
        "dmax",
        "n",
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    objective_out: list | None = None,
) -> DataFrame:
    """Lloyd's KMeans on DataFrames — the learned-centroid upgrade for
    ``ivf_topk`` (whose deterministic first-k init is a stand-in). Returns
    (cent_id, centv array<double>) after ``n_iter`` fixed iterations.

    Each iteration is two shuffle-bounded steps: (1) assignment via the
    broadcast argmax of ``assign_cells`` (zero corpus shuffle), (2) mean
    recomputation over NORMALIZED members via posexplode + map-side
    partial aggregation (the shuffle carries k x dims partial rows) — the
    mean direction of unit vectors is the optimal spherical update
    whatever the input norms; zero-norm vectors have no direction and
    contribute zero. Means use the fixed-point
    convention (quantize 1e-9, exact integer sums) so centroids — and
    therefore every subsequent assignment — are bit-identical at any
    parallelism. Fixed iteration count, no convergence action: the loop
    cost is known up front (n_iter x 2 jobs), and a per-iteration plan
    truncation keeps the lineage flat (operators/checkpoints.py picks a
    local or reliable cut); each round releases the cut it superseded.
    A centroid that loses all members drops out (standard Lloyd's
    behavior; k may shrink).

    ``objective_out``, when a list, receives the spherical-KMeans
    objective (sum of winning cosines) measured at each assignment step —
    non-decreasing by construction (argmax assignment + mean direction
    update both improve it), the invariant q52's oracle gate checks. The
    measurement is one extra aggregate action per iteration, so it is
    opt-in.
    """
    cents = emb.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cent_id"),
        F.col(vec_col).cast("array<double>").alias("centv"),
    )
    q = F.round(F.col("x") * F.lit(1e9)).cast("bigint")
    track = objective_out is not None
    for it in range(n_iter):
        assigned = assign_cells(emb, cents, id_col, vec_col, keep_score=track)
        if track:
            objective_out.append(
                assigned.agg(F.sum("score")).first()[0] or 0.0
            )
        # Mean of NORMALIZED vectors: the spherical-KMeans objective is a
        # sum of cosines, and the mean direction of unit vectors is its
        # optimal update for ANY input norms — the raw mean is optimal
        # only when inputs are already unit-norm (a fixture property this
        # must not depend on). Zero-norm vectors have no direction and
        # contribute zero (also keeps ANSI mode from raising on x/0).
        nrm = l2_norm(F.col(vec_col).cast("array<double>"))
        ex = assigned.select(
            "cell",
            nrm.alias("__nrm"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "x"),
        ).withColumn(
            "x",
            F.when(F.col("__nrm") > 0, F.col("x") / F.col("__nrm")).otherwise(
                F.lit(0.0)
            ),
        )
        means = ex.groupBy("cell", "dim").agg(
            ((F.sum(q).cast("double") / F.count("*")) / F.lit(1e9)).alias("m")
        )
        cut = truncate_plan(
            means.groupBy("cell")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("dim"), F.col("m")))
                ).alias("s")
            )
            .select(
                F.col("cell").alias("cent_id"),
                F.transform(F.col("s"), lambda p: p["m"]).alias("centv"),
            )
        )
        if it:  # round 0 read the input's first k rows, not a cut
            release_cut(cents)
        cents = cut
    if track:
        # objective after the FINAL mean update (what the invariant gate
        # compares against the last in-loop measurement)
        objective_out.append(
            assign_cells(emb, cents, id_col, vec_col, keep_score=True)
            .agg(F.sum("score"))
            .first()[0]
            or 0.0
        )
    return cents


def kmeans_cell_profile(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Summary of the learned KMeans partition: per cell, member count and
    centroid L2 norm (deterministic scalars — the checkable surface of the
    iterative pipeline)."""
    cents = kmeans_centroids(emb, k, n_iter, id_col, vec_col)
    assigned = assign_cells(emb, cents, id_col, vec_col)
    counts = assigned.groupBy("cell").agg(F.count("*").alias("n_members"))
    return counts.join(
        cents.select(
            F.col("cent_id").alias("cell"),
            l2_norm(F.col("centv")).alias("centroid_norm"),
        ),
        "cell",
    ).select("cell", "n_members", "centroid_norm")


def kmeans_invariants(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-checkable surface for the iterative KMeans pipeline.

    Learned floats can't be matched by a SQL oracle, but the algorithm's
    INVARIANTS can be asserted as booleans a SQL oracle expects to be
    uniformly true (the r3 review's value-gate pattern for iterative
    queries). One row per check, ``violations`` expected 0:

    * ``all_assigned`` — every input vector got exactly one cell;
      ``n`` carries the corpus count so the gate is tied to the fixture.
    * ``assignment_is_argmax`` — re-derives each point's best cell by an
      INDEPENDENT plan (explode the k centroids, per-point max_by with the
      same (cosine, -cent_id) tie-break) and counts disagreements with
      ``assign_cells``'s array_max formulation. Same math, different
      physical plan — a real cross-check, not a tautology.
    * ``objective_non_decreasing`` — the spherical-KMeans objective (sum of
      winning cosines) measured at every assignment plus once after the
      final update must never decrease (argmax assignment and normalized-
      mean-direction update each improve it for ANY input norms — the
      update normalizes members before averaging, so the invariant does
      not lean on a unit-norm fixture). Tolerance 1e-6 absorbs the 1e-9
      fixed-point centroid quantization.
    * ``cells_within_k`` — Lloyd's may drop empty cells, never add.

    Verification cost: the argmax cross-check expands corpus x k rows
    map-side (broadcast centroids, no shuffle of the corpus before the
    per-point aggregate) — an audit query, not a hot path.
    """
    objective: list[float] = []
    cents = kmeans_centroids(
        emb,
        k,
        n_iter,
        id_col,
        vec_col,
        objective_out=objective,
    )
    assigned = assign_cells(emb, cents, id_col, vec_col)

    n_total = emb.count()
    n_assigned = assigned.count()
    n_cells = cents.count()

    ex = emb.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col("cent_id"),
        cosine_similarity(F.col(vec_col), F.col("centv")).alias("cs"),
    )
    independent = ex.groupBy(id_col).agg(
        F.max(F.struct(F.col("cs"), (-F.col("cent_id")).alias("neg_id"))).alias(
            "best"
        )
    ).select(F.col(id_col), (-F.col("best.neg_id")).alias("cell2"))
    mismatches = (
        assigned.join(independent, id_col)
        .filter(F.col("cell") != F.col("cell2"))
        .count()
    )

    monotone_violations = sum(
        1
        for prev, nxt in zip(objective, objective[1:])
        if nxt < prev - 1e-6
    )

    spark = emb.sparkSession
    rows = [
        ("all_assigned", n_assigned == n_total, n_total),
        ("assignment_is_argmax", mismatches == 0, mismatches),
        (
            "objective_non_decreasing",
            monotone_violations == 0,
            monotone_violations,
        ),
        ("cells_within_k", n_cells <= k, max(0, n_cells - k)),
    ]
    return spark.createDataFrame(
        rows, "check_name string, ok boolean, n bigint"
    )


def multiprobe_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 4,
) -> DataFrame:
    """Multi-probe sign-LSH top-k: each query probes its own bucket PLUS
    every bucket at hamming distance 1 (one sign bit flipped) — the
    standard recall fix for vectors whose components sit near a hyperplane
    (sign flips under tiny perturbation lose the neighbor in single-probe).

    Scale shape is unchanged from ``lsh_topk``: the small query side fans
    out ×(n_bits+1) and is broadcast; every corpus vector still lives in
    exactly ONE bucket, so the equi-join emits each (query, neighbor) pair
    at most once — no dedup pass needed. Recall strictly dominates
    single-probe at ~(n_bits+1)× the candidate-scoring cost."""
    base = sign_bucket(vec_col, n_bits)
    probes = F.array(
        base, *[base.bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(probes).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        base.alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("qv", "cv").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def quantize_int8(
    df: DataFrame, id_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale by the vector's own
    max |x| so q = round(x * 127 / max|x|) ∈ [-127, 127] — 4× memory
    reduction for the ANN corpus (the difference between an in-memory and
    a spilling index at 100 TB), with the per-vector scale kept for
    dequantization.

    Rounding is ``floor(v + 0.5)`` (round-half-up) rather than an engine
    ``round()``: half-even vs half-away tie-breaking differs across
    engines, floor arithmetic doesn't. Zero vectors quantize to zeros
    with scale 0. The quantized vector surfaces as a CSV string so the
    result is hashable by any oracle harness; ``max_abs_err`` (an
    order-independent max over dims of |dequantized - original|) bounds
    the reconstruction error without a float-sum fold.

    The cast/max/quantize/error steps are STAGED projections, each array
    aliased before reuse: written as one expression, the error column
    re-runs the whole quantization transform per row (array lambdas are
    interpreted, and CollapseProject declines to merge projections only
    when the reused alias is non-cheap — relying on one giant expression
    measured 5× slower than the staged form at sf0.1).
    """
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    staged = df.select(F.col(id_col), x.alias("__x")).select(
        id_col,
        "__x",
        F.array_max(F.transform(F.col("__x"), lambda v: F.abs(v))).alias("__mx"),
    )
    q = F.when(
        F.col("__mx") == 0.0,
        F.transform(F.col("__x"), lambda v: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(
            F.col("__x"),
            lambda v: F.floor(v * 127.0 / F.col("__mx") + 0.5).cast("bigint"),
        )
    )
    with_q = staged.select(id_col, "__x", "__mx", q.alias("__q"))
    scale = F.when(F.col("__mx") == 0.0, F.lit(0.0)).otherwise(
        F.col("__mx") / 127.0
    )
    err = F.when(F.col("__mx") == 0.0, F.lit(0.0)).otherwise(
        F.array_max(
            F.zip_with(
                F.col("__q"),
                F.col("__x"),
                lambda qi, xi: F.abs(
                    qi.cast("double") * (F.col("__mx") / 127.0) - xi
                ),
            )
        )
    )
    return with_q.select(
        F.col(id_col),
        F.array_join(F.col("__q"), ",").alias("q_csv"),
        scale.alias("scale"),
        err.alias("max_abs_err"),
    )


def quantized_vectors(
    df: DataFrame, id_col: str, vec_col: str = "embedding"
) -> DataFrame:
    """(id, q: array<bigint> in [-127, 127], scale: double) — the raw
    staged quantization layer :func:`quantize_int8` stringifies. Kept as
    arrays for integer-arithmetic consumers (``knn_quantized``)."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    staged = df.select(F.col(id_col), x.alias("__x")).select(
        id_col,
        "__x",
        F.array_max(F.transform(F.col("__x"), lambda v: F.abs(v))).alias("__mx"),
    )
    q = F.when(
        F.col("__mx") == 0.0,
        F.transform(F.col("__x"), lambda v: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(
            F.col("__x"),
            lambda v: F.floor(v * 127.0 / F.col("__mx") + 0.5).cast("bigint"),
        )
    )
    scale = F.when(F.col("__mx") == 0.0, F.lit(0.0)).otherwise(
        F.col("__mx") / 127.0
    )
    return staged.select(F.col(id_col), q.alias("q"), scale.alias("scale"))


def knn_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    coarse_k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval over the int8-quantized corpus: INTEGER dot
    products pick ``coarse_k`` candidates per query, exact float cosine
    rescores only those — the memory/bandwidth shape of production vector
    search (scan 1/4 the bytes with exact integer arithmetic; touch full
    floats for a bounded candidate set).

    The coarse score ``idot * scale_q * scale_c`` is monotone in the true
    dot product up to quantization error, and every piece is
    deterministic: the integer dot is exact, the two scale
    multiplications are single IEEE ops. Returns (query_id, neighbor_id,
    cosine, rnk) like :func:`brute_force_topk`; recall < 1 is possible by
    construction (quantization error can reorder near-ties at the
    coarse_k boundary) — widen ``coarse_k`` to trade work for recall.
    """
    qz = quantized_vectors(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("q").alias("qq"),
        F.col("scale").alias("qs"),
    )
    cz = quantized_vectors(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("q").alias("cq"),
        F.col("scale").alias("cs"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    coarse = (
        cz.join(F.broadcast(qz), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (idot.cast("double") * F.col("qs") * F.col("cs")).alias("approx"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        coarse.withColumn("crnk", F.row_number().over(w))
        .filter(F.col("crnk") <= coarse_k)
        .select("query_id", "neighbor_id")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    rescored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity("qv", "cv").alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rescored.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    k: int,
    method: str,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k audit of an approximate ANN result against the exact
    baseline — the quality gate every approximate operator should ship
    with (candidate-capped LSH/IVF trade recall for cost; this MEASURES
    the trade instead of asserting it).

    Per query: |approx top-k ∩ exact top-k| / k, via one semi-join on
    (query, neighbor) and a per-query count; queries the approximate
    method returned nothing for (empty bucket/cell) count as 0 hits, not
    missing rows. Recall surfaces as a single division of exact integers.
    Cost tracks the k·|queries| result tables, never the corpus."""
    hits = (
        exact.join(approx, [query_col, neighbor_col], "left_semi")
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    base = exact.select(query_col).distinct()
    return base.join(hits, query_col, "left").select(
        F.col(query_col),
        F.lit(method).alias("method"),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        F.lit(k).cast("bigint").alias("k"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double") / F.lit(float(k))
        ).alias("recall"),
    )


def semdedup_prune(
    emb: DataFrame,
    target_cell_size: int = 64,
    min_cells: int = 8,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster the
    embedding space into cells, then inside each cell drop every vector
    whose cosine to a LOWER-id cell-mate meets ``threshold`` — one
    keep-min-id survivor per semantic duplicate group, found without ever
    comparing across cells.

    BOTH halves are sized to stay linear in the corpus, which is the whole
    point of the paper's design:

    * **Cell count grows with the corpus** — k = max(min_cells,
      ceil(N / target_cell_size)) — so within-cell pair expansion is
      k · (N/k)² = N · target_cell_size: linear. A FIXED cell count makes
      the in-cell pass quadratic (measured: 22x runtime on a 10x corpus
      before this sizing; ~1x-per-x after).
    * **Assignment is bucket-filtered, not brute-force** — scoring every
      vector against all k centroids is N·k = N²/target_cell_size, a
      quadratic smuggled into the "cheap" step. Centroids are grouped by
      an m-bit sign bucket with m chosen so ~2^3 centroids share a bucket
      (m = log2(k) - 3): each vector argmaxes over its OWN bucket's
      centroid array (a broadcast equi-join on the bucket key — per-row
      cost is constant), falling back to the full centroid argmax only
      for vectors whose bucket holds no centroid (the fallback frame,
      rare and explicitly lazy via CASE WHEN). This is exactly the
      ANN-assisted assignment real SemDeDup deployments use, in
      deterministic, oracle-checkable form.

    The within-cell prune is an equi-self-join on the cell id — the corpus
    shuffles ONCE by cell, never a cross product; the LOWER-id orientation
    halves the scored pairs. Centroids are the first k vectors by id — a
    deterministic stand-in; learned KMeans centroids swap in by replacing
    ONLY the centroid table.

    Sizing k needs N: one metadata-cheap ``count()`` action up front (for
    parquet sources this is footer statistics, not a scan).

    Returns one row per input vector: (id, cell, kept) — ``kept=false``
    means a lower-id semantic duplicate exists in the same cell.

    The assignment layer is persisted (MEMORY_AND_DISK): it is consumed
    THREE times (both prune sides + the kept-flag spine). The cache is
    released by ``pin_scope``/``release_pins``.
    """
    n = emb.count()
    k = max(min_cells, -(-n // target_cell_size))
    m = max(0, k.bit_length() - 1 - 3)  # ~8 centroids per sign bucket
    cents = emb.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cent_id"),
        F.col(vec_col).alias("centv"),
        sign_bucket(vec_col, m).alias("cbucket"),
    )
    # per-bucket centroid arrays: <= 2^m rows, broadcast
    bucket_cents = cents.groupBy("cbucket").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("cent_id"), F.col("centv")))
        ).alias("__bc")
    )
    # full centroid array (one row) for the empty-bucket fallback
    all_cents = cents.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("cent_id"), F.col("centv")))
        ).alias("__ac")
    )

    def argmax_cell(arr_col):
        best = F.array_max(
            F.transform(
                arr_col,
                lambda c: F.struct(
                    cosine_similarity(F.col(vec_col), c["centv"]).alias("cs"),
                    (-c["cent_id"]).alias("neg_id"),
                ),
            )
        )
        return -best["neg_id"]

    cells = pin_small(
        emb.withColumn("cbucket", sign_bucket(vec_col, m))
        .join(F.broadcast(bucket_cents), "cbucket", "left")
        .crossJoin(F.broadcast(all_cents))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.when(
                F.col("__bc").isNotNull(), argmax_cell(F.col("__bc"))
            )
            .otherwise(argmax_cell(F.col("__ac")))
            .alias("cell"),
        )
    )
    a = cells.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "cell"
    )
    b = cells.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "cell"
    )
    drops = (
        a.join(b, "cell")
        .filter(F.col("id_b") < F.col("id_a"))
        .select(
            "id_a", cosine_similarity("va", "vb").alias("cs")
        )
        .filter(F.col("cs") >= threshold)
        .select(F.col("id_a").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        cells.select(id_col, "cell")
        .join(drops, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.col("__dup").isNull().alias("kept"),
        )
    )


def pq_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = 4,
    sub_dim: int = 16,
    n_codes: int = 16,
) -> DataFrame:
    """Product-quantization code assignment: split each vector into
    ``n_sub`` contiguous subvectors of ``sub_dim`` dims, quantize every
    subvector to its nearest codeword (squared L2, ties to the lowest
    code id), and report the per-subvector distortion as an exact
    integer nano-quantized value.

    Codebooks are the subvector slices of the ``n_codes`` lowest-id
    vectors — the same deterministic seeding discipline as
    ``kmeans_centroids`` (no RNG, so the codebook is reproducible and
    oracle-checkable).  Real PQ training would Lloyd-iterate each
    codebook; assignment + distortion is the part that runs over the
    full corpus and dominates at scale.

    Scale shape: the codebook is ``n_sub * n_codes`` rows — broadcast —
    so the corpus is NEVER reshuffled: one projection into (id, sub,
    subvector), one broadcast join, one per-(id,sub) rank over
    ``n_codes`` candidates.  Distortion doubles come from the ordered
    ``zip_with``/``aggregate`` fold (functions/vector.py), bit-identical
    to a single-node engine, then floor-quantized to nanos so the output
    is integer-exact.
    """
    subs = None
    for s in range(n_sub):
        part = emb.select(
            F.col(id_col),
            F.lit(s).cast("int").alias("sub"),
            F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim)
            .cast("array<double>")
            .alias("sv"),
        )
        subs = part if subs is None else subs.unionByName(part)
    cents = (
        subs.where(F.col(id_col) < n_codes)
        .select(
            "sub",
            F.col(id_col).cast("int").alias("code"),
            F.col("sv").alias("cv"),
        )
    )
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = subs.join(F.broadcast(cents), "sub").select(
        id_col,
        "sub",
        "code",
        d2.alias("d2"),
    )
    # argmin via min(struct(d2, code)): lexicographic struct ordering IS
    # the (distance, code-id) tie-break, and unlike a rank window it gets
    # map-side partial aggregation — the 16 candidate rows per subvector
    # collapse before the shuffle instead of after it.
    best = scored.groupBy(id_col, "sub").agg(
        F.min(F.struct(F.col("d2"), F.col("code"))).alias("m")
    )
    return best.select(
        id_col,
        F.col("sub").cast("bigint").alias("sub"),
        F.col("m.code").cast("bigint").alias("code"),
        F.expr("cast(floor(m.d2 * 1000000000) as bigint)").alias("d2_q"),
    )
