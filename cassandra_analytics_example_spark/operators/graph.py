"""Iterative graph algorithms over edge DataFrames.

Connected components (min-label propagation with pointer jumping) lives in
operators/dedup.py next to its near-dup consumers; this module holds the
rank-propagation family.

Determinism contract: PageRank here runs in EXACT integer arithmetic — the
initial mass is an integer quantum (1e12 per node), each propagation step
is ``(rank * damping_num) div (damping_den * outdeg)`` in bigints, and the
teleport term is the integer ``quantum * (den - num) div den``.  Integer
sums are associative/commutative bit-for-bit, so the result is identical
under any partitioning, any aggregation order, and any engine — which is
what makes a 5-iteration PageRank DuckDB-oracle-checkable with a plain
hash compare (float PageRank would differ by ulps between engines).

Every cached layer is persisted through ``session.pin_small``: the lazy
operators' caches are released by the caller's ``pin_scope``/
``release_pins``, and the eager ones (``label_propagation``,
``k_core_rounds``, ``bfs_hop_counts``) unpersist theirs before returning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.checkpoints import (
    release_cut,
    truncate_plan,
)
from cassandra_analytics_example_spark.session import pin_small

#: Integer mass quantum per node.  Large enough that 5-15 iterations of
#: ``div`` flooring lose < 1e-9 relative mass per step; small enough that
#: ``sum(rank * 85)`` stays far from bigint overflow for graphs up to
#: ~1e5 nodes per shuffle partition times 1e12 quantum (~1e19 is the
#: bigint ceiling; worst-case per-node concentration is total mass).
PAGERANK_QUANTUM = 1_000_000_000_000


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Exact-integer PageRank over a directed edge list.

    ``rank_{t+1}(v) = teleport + sum_{(u,v) in E} (rank_t(u) * damping_num)
    div (damping_den * outdeg(u))`` with ``teleport = QUANTUM *
    (damping_den - damping_num) div damping_den`` — the classic damped
    power iteration with flooring division standing in for float math.

    Scale shape: the edge table is hash-partitioned by ``src`` ONCE, the
    out-degree column is added by a window count riding that same
    exchange (one per-partition sort, no join, no second edge shuffle),
    and the resulting ``(src, dst, outdeg)`` table is cached: every
    iteration then needs exactly ONE join (cached edges ⋈ node-sized
    ranks on ``src`` — the rank side broadcasts while it fits, and falls
    back to the co-partitioned shuffle automatically at billion-node
    scale) and one ``dst``-keyed aggregation. The per-edge send quota
    ``(r * num) div (den * outdeg)`` is constant per source, so folding
    it into the edge join is integer-identical to precomputing it
    per node — it is the SQL oracle's own formulation (q143's CTE joins
    ``deg`` inside the sum) — and removes the node-sized quota join that
    previously cost a third shuffle stage per iteration (round 11:
    measured ~25% off the iteration phase at sf0.1; at 1000 executors
    the saved stage is a full cluster barrier per iteration).
    ``checkpoint_every`` truncates lineage every N
    iterations (0 = never): mandatory for deep iteration counts on a
    real cluster, wasteful for the shallow 5-iteration form — see
    operators/checkpoints.py for the local-vs-reliable trade (measured
    at sf0.1: no win at 5 iterations — the unrolled lineage is not the
    cost driver, r11 probe).

    Nodes are the set of edge SOURCES: with a symmetrized edge list every
    participant has outdeg >= 1, so no dangling-mass correction is needed
    (dangling handling would otherwise be a broadcast scalar per round).
    """
    # The edge table feeds every iteration: without a persist its whole
    # upstream lineage (often a pair-generating self-join) re-executes
    # per round — at 5 iterations that's 5x the most expensive stage of
    # the job.  MEMORY_AND_DISK so a 100 TB edge list spills, not OOMs.
    # Partition count pins to the session's shuffle parallelism so the
    # cached layout matches what the per-iteration join would ask for.
    nparts = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # ONE cached table, built in ONE lineage: the explicit repartition
    # satisfies the window's hash(src) requirement directly, so the
    # out-degree column costs a per-partition sort, not a join (an
    # e-cache ⋈ deg build re-shuffles the cached edges: the outer
    # planner does not recognize an AQE-finalized cache's output
    # partitioning and inserts ENSURE_REQUIREMENTS —
    # tests/test_plans.py::test_pagerank_edge_cache_partitioning_is_reused
    # pins the no-reshuffle contract).
    w = Window.partitionBy("src")
    edeg = pin_small(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition(nparts, "src")
        .withColumn("outdeg", F.count(F.lit(1)).over(w))
    )
    # node inventory, persisted: the unrolled N-iteration plan embeds
    # `nodes` once per iteration's left join, and an unpersisted distinct
    # would re-aggregate the edge cache each time (round-11 self-review;
    # the old code's persisted deg table paid this once too) — the cache
    # is node-sized.
    nodes = pin_small(
        edeg.select(F.col("src").alias("node"))
        .distinct()
    )
    teleport = PAGERANK_QUANTUM * (damping_den - damping_num) // damping_den
    ranks = nodes.select(
        "node", F.lit(PAGERANK_QUANTUM).cast("bigint").alias("r")
    )
    for it in range(1, iterations + 1):
        # One edge join per iteration; the per-edge quota expression is
        # constant per src, so this is integer-identical to the per-node
        # precompute (and IS the oracle's formulation — see docstring).
        contrib = (
            edeg.join(ranks, edeg.src == ranks.node)
            .groupBy("dst")
            .agg(
                F.sum(
                    F.expr(
                        f"(r * {damping_num}) div ({damping_den} * outdeg)"
                    )
                )
                .cast("bigint")
                .alias("c")
            )
            .withColumnRenamed("dst", "node")
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(teleport) + F.coalesce("c", F.lit(0)))
                .cast("bigint")
                .alias("r"),
            )
        )
        if checkpoint_every and it % checkpoint_every == 0 and it < iterations:
            cut = truncate_plan(ranks)
            if it > checkpoint_every:  # an earlier cut fed this one
                release_cut(prev)
            ranks = prev = cut
    return ranks


def triangle_participation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph, via the
    degree-ordered orientation (the standard distributed-triangle trick:
    orient every edge from its lower-(degree, id) endpoint to the higher
    one, so each node's OUT-adjacency is O(sqrt(m)) and the wedge
    self-join is bounded by sum(outdeg^2) ~ m^1.5 instead of the
    unoriented sum(deg^2), which a single hub node would blow up).

    Input edges may be directed/duplicated; they are canonicalized to
    distinct ``a < b`` pairs first.  A triangle {u, v, w} is counted once
    as an oriented wedge (u→v, u→w) closed by the canonical edge (v, w);
    each participant's count increments by one.  Everything is an
    equi-join (wedge on the pivot node, closure on the (a, b) edge key) —
    never a cross product — and all arithmetic is integer, so results are
    engine- and partitioning-exact.

    Returns (node, tri_count) for nodes in >= 1 triangle.
    """
    a, b = F.col(src), F.col(dst)
    und = pin_small(
        edges.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    ends = und.select(F.col("a").alias("node")).unionAll(
        und.select(F.col("b").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # total order for orientation: (deg, id) packed into one bigint key
    rank = deg.select(
        "node",
        (F.col("deg") * F.lit(1_000_000_000) + F.col("node")).alias("rk"),
    )
    ra = rank.withColumnRenamed("node", "a").withColumnRenamed("rk", "rka")
    rb = rank.withColumnRenamed("node", "b").withColumnRenamed("rk", "rkb")
    oriented = pin_small(
        und.join(ra, "a")
        .join(rb, "b")
        .select(
            F.when(F.col("rka") < F.col("rkb"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("u"),
            F.when(F.col("rka") < F.col("rkb"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("v"),
        )
    )
    o1 = oriented.select(F.col("u"), F.col("v").alias("v1"))
    o2 = oriented.select(F.col("u"), F.col("v").alias("v2"))
    wedges = o1.join(o2, "u").where(F.col("v1") < F.col("v2"))
    tris = wedges.join(
        und,
        (wedges.v1 == und.a) & (wedges.v2 == und.b),
    ).select("u", "v1", "v2")
    members = (
        tris.select(F.col("u").alias("node"))
        .unionAll(tris.select(F.col("v1").alias("node")))
        .unionAll(tris.select(F.col("v2").alias("node")))
    )
    return members.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("tri_count")
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 2,
) -> DataFrame:
    """Synchronous seeded label propagation (Raghavan et al. 2007, the
    semi-supervised variant): seeds keep their label forever; every other
    node takes, each round, the MAJORITY label among its currently
    labelled neighbours (count desc, label asc tiebreak — a total order,
    so the result is deterministic under any partitioning). Nodes with no
    labelled neighbour stay unlabelled and are absent from the output.

    ``edges`` must be the DIRECTED expansion of the graph (both (u,v)
    and (v,u) present for an undirected edge); ``seeds`` is
    ``(node, label)``. Returns ``(node, label, is_seed)``.

    Per round: one edge⋈labels equi-join + one (node, label) count
    aggregate + one per-node argmax window partitioned by node (bounded
    by the node's distinct neighbour-label count, never the graph) —
    the same Pregel-on-DataFrames step shape as ``pagerank_integer``,
    including its edge-table discipline: hash-partitioned by ``src``
    once and cached (the upstream lineage is often a pair-generating
    self-join; without the persist it re-executes every round, and the
    cached ``HashPartitioning`` lets each round's join reuse the layout
    so only the node-sized label side shuffles). The frontier table is
    persisted per round so lineage stays one-round deep.
    """
    nparts = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    e = pin_small(
        edges.select("src", "dst")
        .repartition(nparts, "src")
    )
    labels = pin_small(
        seeds.select("node", "label", F.lit(True).alias("is_seed"))
    )
    labels.count()
    try:
        for _ in range(rounds):
            votes = (
                e.join(
                    labels.select(F.col("node").alias("src"), "label"),
                    "src",
                )
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            from pyspark.sql import Window

            w = Window.partitionBy("node").orderBy(
                F.col("c").desc(), F.col("label").asc()
            )
            majority = (
                votes.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("node", "label")
            )
            seeds_only = labels.where(F.col("is_seed"))
            nxt = pin_small(
                seeds_only.unionByName(
                    majority.join(
                        seeds_only.select("node"), "node", "left_anti"
                    ).select("node", "label", F.lit(False).alias("is_seed"))
                )
            )
            try:
                nxt.count()
            except Exception:
                # the except below unpersists `labels`; this round's new
                # frame must not leak its cache entry when its own
                # materializing action is what failed
                nxt.unpersist()
                raise
            labels.unpersist()
            labels = nxt
        return labels
    except Exception:
        labels.unpersist()
        raise
    finally:
        # every round is materialized eagerly (nxt.count()), so the edge
        # cache is no longer reachable from the returned frame
        e.unpersist()


def k_core_rounds(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    rounds: int = 4,
    k_num: int = 8,
    k_den: int = 5,
) -> DataFrame:
    """Iterative k-core peeling over an undirected edge list (each edge
    stored once with ``a < b``), k chosen adaptively relative to the
    initial mean degree: ``k = (k_num·|E|) div (k_den·|V|) + 1`` (the
    default 8/5 is 0.8x the mean degree — high enough to cascade for
    several rounds on the co-purchase fixture graphs, low enough that
    early rounds keep a non-trivial core).

    Each round recomputes degrees inside the surviving subgraph, keeps
    nodes with ``deg >= k``, and restricts edges to surviving endpoint
    pairs (two semi-joins).  Returns one row per round:
    ``(round, k, n_nodes, n_edges)`` — the survivor trajectory, which is
    deterministic and lets an oracle unroll the same fixed number of
    rounds.  The peel is a degree groupBy + two equi-semi-joins per
    round (the Pregel step shape, like pagerank_integer above).

    Execution is EAGER per round, like every iterative fixpoint here has
    to be: round r+1's subgraph depends on round r, so each round's edge
    table persists, is pinned by the round's own ``count()`` (a bounded
    scalar action — the value IS the round's output), and the previous
    round unpersists immediately, so the cache footprint stays one
    subgraph regardless of round count.  A fully-lazy union of the four
    stats rows instead planned one job whose branches re-ran shared
    upstream stages before the caches landed (~45s lazy vs ~25s eager at
    sf0.1 under comparable load).  The returned frame is the 4-row
    trajectory itself.
    """
    spark = edges.sparkSession
    e = pin_small(edges.select(F.col(a).alias("a"), F.col(b).alias("b")))
    two_e, v = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .agg(
            F.count("*").alias("__two_e"),
            F.count_distinct("node").alias("__v"),
        )
        .first()
    )
    k = (two_e // 2 * k_num) // (v * k_den) + 1
    rows = []
    for r in range(1, rounds + 1):
        deg = (
            e.select(F.explode(F.array("a", "b")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").alias("__d"))
        )
        surv = pin_small(
            deg.where(F.col("__d") >= F.lit(int(k)))
            .select("node")
        )
        n_nodes = surv.count()
        prev = e
        e = pin_small(
            prev.join(surv, prev.a == surv.node, "left_semi")
            .join(surv, F.col("b") == surv.node, "left_semi")
        )
        n_edges = e.count()
        prev.unpersist()
        surv.unpersist()
        rows.append((r, int(k), int(n_nodes), int(n_edges)))
    e.unpersist()
    return spark.createDataFrame(
        rows, "round bigint, k bigint, n_nodes bigint, n_edges bigint"
    )


def bfs_hop_counts(
    edges: DataFrame,
    seeds: DataFrame,
    a: str = "a",
    b: str = "b",
    node: str = "node",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS level sets over an undirected edge list: the
    number of nodes at hop distance 0..max_hops from the seed set, plus
    one ``dist = -1`` row for nodes unreached within the bound.

    Frontier expansion is the Pregel step: per hop, one edge equi-join
    against the (persisted) frontier in each direction, a distinct, and
    a left-anti join against the reached set — no per-node state beyond
    membership.  Hop-bounded because an unbounded BFS on a 100 TB graph
    is a different algorithm (iterate-to-fixpoint with lineage
    checkpointing, as pagerank_integer does); bounded level sets are
    what seed-expansion audits actually use.

    Execution is EAGER per hop, mirroring ``k_core_rounds``: each hop's
    frontier/reached frames persist, are pinned by the hop's own
    ``count()`` (a bounded scalar action — the count IS the hop's
    output row), and the superseded frames unpersist immediately, so
    the cache footprint stays one frontier + one reached set regardless
    of hop count.  All persisted inputs (edges, node universe) are
    released before returning; the result is the (max_hops + 2)-row
    level trajectory built from the already-computed scalars.
    """
    spark = edges.sparkSession
    e = pin_small(edges.select(F.col(a).alias("a"), F.col(b).alias("b")))
    all_nodes = pin_small(
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .distinct()
    )
    reached = pin_small(
        seeds.select(F.col(node).alias("node"))
        .join(all_nodes, "node", "left_semi")
        .distinct()
    )
    frontier = reached
    levels: list[tuple[int, int]] = [(0, reached.count())]
    for h in range(1, max_hops + 1):
        nbr = (
            e.join(frontier, e.a == frontier.node, "left_semi")
            .select(F.col("b").alias("node"))
            .unionByName(
                e.join(frontier, e.b == frontier.node, "left_semi").select(
                    F.col("a").alias("node")
                )
            )
            .distinct()
        )
        prev_frontier, prev_reached = frontier, reached
        frontier = pin_small(nbr.join(reached, "node", "left_anti"))
        reached = pin_small(prev_reached.unionByName(frontier))
        levels.append((h, frontier.count()))
        reached.count()
        if prev_frontier is not prev_reached:
            prev_frontier.unpersist()
        prev_reached.unpersist()
    n_unreached = all_nodes.join(reached, "node", "left_anti").count()
    levels.append((-1, n_unreached))
    frontier.unpersist()
    reached.unpersist()
    all_nodes.unpersist()
    e.unpersist()
    return spark.createDataFrame(
        [(int(d), int(n)) for d, n in levels], "dist bigint, n_nodes bigint"
    )


def personalized_pagerank_integer(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
) -> DataFrame:
    """Exact-integer PERSONALIZED PageRank: random walks restart at the
    SEED set instead of everywhere, so mass concentrates around the
    seeds — the related-items / similar-entities primitive. Identical
    iteration shape to ``pagerank_integer`` (one edge-keyed shuffle
    join + one dst aggregation per round, node-sized quota join), with
    the teleport term paid only to seed nodes and the initial mass
    placed on the seeds (``PAGERANK_QUANTUM`` each; non-seeds start 0).
    Flooring division stands in for float math throughout, so the
    result is engine- and partitioning-independent.

    The node universe is ``src ∪ dst ∪ seeds``, so on a directed graph
    dst-only (sink) nodes and out-edge-less seeds still receive their
    contributions / teleport mass and appear in the output.  Mass that
    lands on a node with no out-edges is dropped at the next iteration
    (the standard "dangling mass discarded" PPR variant — documented
    rather than redistributed, so the oracle can unroll it exactly).

    Same round-11 scale shape as ``pagerank_integer``: one cached
    ``(src, dst, outdeg)`` table (out-degree via a window count riding
    the single explicit hash(src) repartition — no join, no second edge
    shuffle), and per iteration exactly ONE edge join (ranks broadcast
    while node-sized; co-partitioned shuffle at billion-node scale) plus
    one ``dst``-keyed aggregation — the per-edge quota is constant per
    source, integer-identical to the per-node precompute, and is the
    oracle's own formulation.
    """
    nparts = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    w = Window.partitionBy("src")
    edeg = pin_small(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition(nparts, "src")
        .withColumn("outdeg", F.count(F.lit(1)).over(w))
    )
    sd = seeds.select(F.col(seed_col).alias("node")).distinct()
    nodes = pin_small(
        edeg.select(F.col("src").alias("node"))
        .unionByName(edeg.select(F.col("dst").alias("node")))
        .unionByName(sd)
        .distinct()
        .join(sd.withColumn("__is_seed", F.lit(1)), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("__is_seed"), F.lit(0)).alias("is_seed"),
        )
    )
    teleport = PAGERANK_QUANTUM * (damping_den - damping_num) // damping_den
    ranks = nodes.select(
        "node",
        (F.col("is_seed") * F.lit(PAGERANK_QUANTUM))
        .cast("bigint")
        .alias("r"),
    )
    for _ in range(iterations):
        contrib = (
            edeg.join(ranks, edeg.src == ranks.node)
            .groupBy("dst")
            .agg(
                F.sum(
                    F.expr(
                        f"(r * {damping_num}) div ({damping_den} * outdeg)"
                    )
                )
                .cast("bigint")
                .alias("c")
            )
            .withColumnRenamed("dst", "node")
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.col("is_seed") * F.lit(teleport)
                + F.coalesce("c", F.lit(0))
            )
            .cast("bigint")
            .alias("r"),
        )
    return ranks
