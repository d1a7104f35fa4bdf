"""Physical-plan shape assertions — the 100 TB design gates.

Correctness tests (oracle parity) prove the VALUES are right; these prove
the PLANS are right: filters reach the parquet scan, projections prune the
read schema, small dimensions broadcast, candidate-generation dedup never
degenerates into a cross product, and hot aggregates keep map-side partial
aggregation. A regression here is invisible at sf0.01 and fatal at 100 TB.
"""

from __future__ import annotations

import pytest

from cassandra_analytics_example_spark.queries import load_all

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def plan_of(spark, registry, name: str) -> str:
    df = registry[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushed_to_scan(spark, registry):
    """q02's shipdate/discount/quantity predicates must reach the parquet
    reader as PushedFilters, not run post-scan only."""
    plan = plan_of(spark, registry, "q02_revenue_filter")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no filters pushed to the lineitem scan"
    assert "l_shipdate" in pushed or "l_discount" in pushed


def test_column_pruning(spark, registry):
    """q01 touches 7 of lineitem's 16 columns; the scan schema must shrink
    accordingly (no SELECT * reads)."""
    plan = plan_of(spark, registry, "q01_pricing_summary")
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema, "unused column not pruned"
    assert "l_comment" not in read_schema, "unused column not pruned"
    assert "l_quantity" in read_schema


def test_broadcast_join_for_small_dims(spark, registry):
    """q03 joins lineitem against customer/orders/nation dims — the small
    dimension side must broadcast, not shuffle the fact table extra times."""
    plan = plan_of(spark, registry, "q03_revenue_by_nation")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_partial_aggregation(spark, registry):
    """q01's hash aggregate must run partial (map-side) + final — two
    HashAggregate operators around the exchange."""
    plan = plan_of(spark, registry, "q01_pricing_summary")
    assert plan.count("HashAggregate") >= 2, "missing map-side partial agg"


def test_relational_path_stays_jvm_side(spark, registry):
    """No Python evaluation nodes in the relational hot path: every
    expression must be JVM-side (codegen/vectorized), Python only at the
    deliberate mapInPandas boundaries (q30/q31)."""
    for name in (
        "q01_pricing_summary",
        "q03_revenue_by_nation",
        "q21_minhash_lsh_neardup",
        "q25_knn_bruteforce",
    ):
        plan = plan_of(spark, registry, name)
        assert "BatchEvalPython" not in plan, f"{name} fell back to Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} fell back to Python UDF"


@pytest.mark.parametrize(
    "name",
    [
        "q21_minhash_lsh_neardup",
        "q22_token_jaccard_neardup",
        "q23_simhash_hamming",
        "q24_embedding_neardup",
        "q26_knn_lsh",
    ],
)
def test_dedup_similarity_never_cross_product(spark, registry, name):
    """Candidate generation must stay an equi-join on bucket/band/cell keys.
    A CartesianProduct here means the blocking key was lost — O(N²) at
    scale. (BroadcastNestedLoopJoin is allowed only where it is the design:
    the brute-force q25 baseline, and q32's centroid assignment — a
    broadcast against a CONSTANT-size centroid table, excluded here.)"""
    plan = plan_of(spark, registry, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_shuffle(spark, registry):
    """The as-of join is a union + one window pass: exactly one shuffle on
    the join keys, and no join operator at all."""
    plan = plan_of(spark, registry, "q18_asof_purchase_signup")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Window" in plan


def test_exact_dedup_single_shuffle(spark, registry):
    """Exact dedup = one hash-partition on content_hash; a second exchange
    would mean the window partitioning diverged from the hash."""
    plan = plan_of(spark, registry, "q20_exact_dedup")
    assert plan.count("Exchange hashpartitioning") <= 1


def test_ivf_assignment_no_corpus_shuffle(spark, registry):
    """IVF cell assignment must be a broadcast of the one-row centroid
    array + a per-row argmax projection: no Exchange (shuffle) may sit
    between the corpus scan and the cell column, and the corpus×n_cells
    scored-row expansion (the round-1 window argmax) must be gone."""
    from pyspark.sql import functions as F

    from cassandra_analytics_example_spark.operators.similarity import (
        assign_cells,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("centv")
    )
    plan = (
        assign_cells(emb, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # one-row build side, by design


@pytest.mark.parametrize(
    "name,fold_marker",
    [
        ("q22_token_jaccard_neardup", "array_intersect"),
        ("q21_minhash_lsh_neardup", "array_intersect"),
        ("q24_embedding_neardup", "aggregate("),
        ("q23_simhash_hamming", "md5("),
    ],
)
def test_expensive_folds_compute_once(spark, registry, name, fold_marker):
    """Threshold filters over expensive computed columns (Jaccard
    intersection folds, cosine folds, hash+vote fingerprints) must test the
    MATERIALIZED column, not get pushed below the computing projection —
    pushdown inlines the whole expression into a Filter/join-residual and
    runs it twice per row (and for every rejected candidate). The
    barrier_filter helper pins them above; this locks that no Filter node
    or join residual condition carries the fold expression."""
    plan = plan_of(spark, registry, name)
    for line in plan.splitlines():
        stripped = line.strip().lstrip("+-: ")
        if stripped.startswith(("Filter ", "*(") ) and "Filter" in stripped.split("[")[0]:
            cond = stripped
        elif stripped.startswith(("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")):
            cond = stripped
        else:
            continue
        assert fold_marker not in cond, (
            f"{name}: expensive fold recomputed in filter/join condition: "
            f"{stripped[:200]}"
        )


def test_salted_join_no_cartesian_and_single_corpus_shuffle(spark, registry):
    """q62: salting must stay an equi-join ((key, salt) pair) — never a
    cartesian/nested-loop — and the replicated dimension side must arrive
    via explode, not a shuffle of its own."""
    plan = plan_of(spark, registry, "q62_salted_skew_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan


def test_upsample_corpus_never_shuffled(spark, registry):
    """q64: the corpus side is a broadcast-join + explode projection; the
    only hashpartitioning exchange allowed is the tiny stratum-count
    aggregate (cached) — nothing repartitions the corpus."""
    plan = plan_of(spark, registry, "q64_language_upsample")
    # the cached stratum-count subtree prints once per consumer; count
    # DISTINCT exchanges (plan ids), not textual occurrences.
    import re

    distinct_hash_exchanges = set(
        re.findall(r"Exchange hashpartitioning.*?plan_id=(\d+)", plan)
    )
    assert len(distinct_hash_exchanges) <= 1
    assert "Generate explode" in plan
    assert "InMemoryTableScan" in plan  # pinned stratum rates


def test_zorder_bucketing_is_projection_plus_one_agg(spark, registry):
    """q63: the Z-value is pure bit algebra in a projection; the plan may
    shuffle only for the final bucket aggregate and the scalar max box."""
    plan = plan_of(spark, registry, "q63_zorder_layout")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_tfidf_single_tokenize_lineage(spark, registry):
    """q59: document length and document frequency attach as windows over
    ONE (doc, term) lineage — exactly one Generate (tokenize+explode) in
    the whole plan, and no join back onto the corpus."""
    plan = plan_of(spark, registry, "q59_tfidf_top_terms")
    assert plan.count("Generate explode") == 1
    assert "SortMergeJoin" not in plan


def test_unigram_vocab_pinned_not_recomputed(spark, registry):
    """q67: the vocabulary feeds both the corpus-total scalar and the
    scored broadcast side; it must come from the cache, not two more
    corpus tokenizations."""
    plan = plan_of(spark, registry, "q67_unigram_logprob")
    assert plan.count("InMemoryTableScan") >= 2


def test_profiling_reports_are_two_level_aggregates(spark, registry):
    """q68: keyed count + scalar reduce — one hashpartitioning exchange,
    one single-partition exchange, nothing else."""
    plan = plan_of(spark, registry, "q68_key_skew_report")
    assert plan.count("Exchange hashpartitioning") <= 1
    assert plan.count("Exchange SinglePartition") == 1


def test_quantization_is_pure_projection(spark, registry):
    """q71: per-vector quantization has no exchanges at all — it must
    remain a zero-shuffle projection."""
    plan = plan_of(spark, registry, "q71_int8_quantization")
    assert "Exchange" not in plan


def test_spread_fast_path_uses_plan_stats_not_rdd(spark, monkeypatch):
    """spread() gates on the optimizer's size estimate via private plan
    APIs (session.py). The try/except fallback touches df.rdd, which
    forces physical planning per call — this test fails LOUDLY if a Spark
    upgrade breaks the introspection and silently degrades every caller
    to the slow path: with DataFrame.rdd booby-trapped, only the fast
    path can succeed."""
    from cassandra_analytics_example_spark.session import spread

    df = spark.range(0, 1000)
    monkeypatch.setattr(
        type(df),  # the concrete (classic) DataFrame class, not the base
        "rdd",
        property(lambda self: (_ for _ in ()).throw(
            AssertionError("spread() fell back to the df.rdd slow path")
        )),
    )
    out = spread(df, 8)          # small input → repartition decision
    again = spread(out, 8)       # existing Repartition(8) → identity
    assert again is out
    monkeypatch.undo()
    assert out.rdd.getNumPartitions() == 8


def test_spread_noop_when_estimate_large(spark):
    """With maxPartitionBytes shrunk to 1, any parquet-backed estimate
    exceeds target×1 bytes — spread() must return the input unchanged
    (at 100 TB the file splits already provide the parallelism)."""
    from cassandra_analytics_example_spark.session import spread

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try:
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        assert spread(df, 4) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_banded_join_is_equi_on_cell_never_nested_loop(spark, registry):
    """q93: the |Δts| <= band predicate must ride a cell-id EQUI join
    (explode to {cell, cell+1} on one side); a CartesianProduct or
    BroadcastNestedLoopJoin means the bucketing was lost and the plan is
    O(N²) at scale."""
    plan = plan_of(spark, registry, "q93_purchase_band_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate explode" in plan  # the {cell, cell+1} expansion


def test_bloom_probe_broadcasts_bits_not_members(spark, registry):
    """q90: the probe side must join the fixed-size BIT table as a
    broadcast — the whole point is that the member set never shuffles the
    probe. A shuffle-side join of the bit table defeats the filter."""
    plan = plan_of(spark, registry, "q90_bloom_semi_join")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_edit_distance_blocking_is_equi_join(spark, registry):
    """q87: levenshtein verification must run inside a block-key equi
    join, never a cross product over the corpus."""
    plan = plan_of(spark, registry, "q87_edit_distance_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_bm25_corpus_single_tokenize_lineage(spark, registry):
    """q95 (r14 shape): per-doc tf for the fixed query-term set is
    ROW-LOCAL column algebra — the corpus must never explode and never
    shuffle. The pinned (k+2)-int per-doc stat frame is the only shared
    layer: the totals aggregate and the scored projection both read it
    (two InMemoryTableScan consumers); zero Generate nodes and no
    corpus-sized Exchange may appear (the only exchanges allowed are the
    1-row totals aggregate's and the tiny broadcast)."""
    plan = plan_of(spark, registry, "q95_bm25_retrieval")
    assert plan.count("InMemoryTableScan") >= 2  # shared per-doc stat layer
    assert plan.count("Generate") == 0  # no explode: tf is size(filter(...))
    assert "hashpartitioning" not in plan  # corpus never shuffles on a key


def test_incremental_merge_partial_aggregation(spark, registry):
    """q100: both the base/delta partials and the merge must keep
    map-side partial aggregation (HashAggregate pairs), and no join —
    the merge is a unionByName + re-aggregate."""
    plan = plan_of(spark, registry, "q100_incremental_agg_merge")
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_windowed_first_event_single_shuffle(spark, registry):
    """q94: one hashpartitioning exchange on the composite suppression
    key feeding one Window — no join, no extra exchange."""
    plan = plan_of(spark, registry, "q94_windowed_first_event")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan
    assert "Join" not in plan


def test_dynamic_partition_pruning_inserted(spark, registry):
    """q101: the fact scan must carry a dynamicpruning expression in its
    PartitionFilters — the dim's runtime filter prunes fact directories
    before the scan. Without it the 'partitioned join' silently reads
    every partition."""
    from cassandra_analytics_example_spark.queries.events import dpp_join_plan

    key = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        df = dpp_join_plan(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert "dynamicpruning" in plan.lower()


def test_overlap_join_prefix_candidates_equi_join(spark, registry):
    """q104: prefix-filter candidate generation must stay an equi-join on
    the prefix token — no cross product — and verification must read the
    token arrays through the persisted lineage."""
    plan = plan_of(spark, registry, "q104_overlap_prefix_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_cbo_join_reorder_fixes_bad_user_order(spark):
    """Cost-based join reordering: with table stats ANALYZEd and
    cbo.joinReorder on, a star query written fact-first must come out of
    the optimizer dim-first — the printed plan's OUTERMOST join becomes
    the fact join (dims already reduced), where the naive user order
    leaves the nation join outermost. This is the optimizer capability
    that makes hand-ordering joins unnecessary at 100 TB."""
    q = """
    SELECT n_name, count(*) AS n
    FROM cbo_lineitem l
    JOIN cbo_orders o ON l.l_orderkey = o.o_orderkey
    JOIN cbo_customer c ON o.o_custkey = c.c_custkey
    JOIN cbo_nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
    """
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for t in ("lineitem", "orders", "nation", "customer"):
        spark.sql(f"DROP TABLE IF EXISTS cbo_{t}")
        shutil.rmtree(
            warehouse.removeprefix("file:") + f"/cbo_{t}", ignore_errors=True
        )
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").write.mode(
            "overwrite"
        ).saveAsTable(f"cbo_{t}")
        spark.sql(f"ANALYZE TABLE cbo_{t} COMPUTE STATISTICS")
    try:
        def join_order(plan: str) -> tuple[int, int]:
            lines = plan.splitlines()
            fact = min(
                i for i, l in enumerate(lines)
                if "Join" in l and "l_orderkey" in l
            )
            dim = min(
                i for i, l in enumerate(lines)
                if "Join" in l and "n_nationkey" in l
            )
            return fact, dim

        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        fact, dim = join_order(
            spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
        )
        assert fact < dim, "CBO did not pull the fact join outermost"

        spark.conf.set("spark.sql.cbo.enabled", "false")
        fact0, dim0 = join_order(
            spark.sql(q)._jdf.queryExecution().optimizedPlan().toString()
        )
        assert dim0 < fact0, "without CBO the user order should persist"
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        for t in ("lineitem", "orders", "nation", "customer"):
            spark.sql(f"DROP TABLE IF EXISTS cbo_{t}")


def test_join_hints_are_honored(spark):
    """Join strategy hints: BROADCAST must force a BroadcastHashJoin even
    for a side above the auto-broadcast threshold, MERGE must force a
    SortMergeJoin even for a tiny side, SHUFFLE_HASH a ShuffledHashJoin —
    the manual overrides a 100 TB operator sometimes needs when AQE's
    estimates are wrong."""
    from pyspark.sql import functions as F

    big = spark.range(0, 200_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    small = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan(big.join(small.hint("merge"), "k"))
    assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p

    p = plan(big.join(small.hint("shuffle_hash"), "k"))
    assert "ShuffledHashJoin" in p

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try:
        p = plan(big.join(small.hint("broadcast"), "k"))
        assert "BroadcastHashJoin" in p
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_countmin_sketch_plan(spark, registry):
    """q109: sketch build + estimate must stay equi-join/aggregate shaped —
    the probe join broadcasts against the depth*width cell table, never a
    cross product; cell counting keeps map-side partial aggregation."""
    plan = plan_of(spark, registry, "q109_countmin_heavy_hitters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("HashAggregate") >= 4  # partial+final for counts+cells


def test_mixture_plan_plan(spark, registry):
    """q110: one keyed shuffle family for the per-group sums; the totals
    row joins back as a broadcast single-row (the repo's sanctioned
    one-row BroadcastNestedLoopJoin pattern); nothing else may shuffle."""
    plan = plan_of(spark, registry, "q110_mixture_plan")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert plan.count("Exchange hashpartitioning") <= 2


def test_shard_packing_no_global_corpus_window(spark, registry):
    """q111: the corpus-sized rank window must be PARTITIONED (by the
    (size, md5-subkey) value pair) — a bare global row_number funnels the
    whole corpus through one task. The only unpartitioned window allowed
    is the cumulative-offset pass over the distinct-size layer."""
    plan = plan_of(spark, registry, "q111_shard_packing")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith("Window ") and "row_number" in s:
            assert "__sub" in s.split("], [")[1], (
                "corpus rank window lost its partition keys: " + s[:160]
            )


def test_scd2_single_shuffle(spark, registry):
    """q112: change-detection and interval construction share one user_id
    partitioning — the filter between the two windows preserves
    distribution and ordering, so the whole history build is exactly one
    exchange and two Window operators."""
    plan = plan_of(spark, registry, "q112_scd2_intervals")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 2
    assert "Join" not in plan


def test_winsorized_no_group_percentile_buffer(spark, registry):
    """q113: the p05/p95 thresholds must come from distributed rank
    selection — an exact `percentile` aggregate buffers EVERY value of a
    group in one task, and event_type has ~5 distinct values, so at 100x
    one executor holds billions of doubles. The only windows allowed are
    partitioned by (pid, group) range cells or the tiny per-cell offset
    layer."""
    plan = plan_of(spark, registry, "q113_winsorized_stats")
    assert "percentile" not in plan.lower(), (
        "q113 regressed to a full-group percentile aggregation buffer"
    )
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith("Window ") and "row_number" in s:
            assert "__pid" in s, (
                "rank window lost its range-cell partitioning: " + s[:160]
            )


def test_group_quantiles_plan(spark, registry):
    """q114: same contract as q113 for the bare operator — rank selection
    via bounded range cells, offsets broadcast, no percentile buffer, no
    cross product."""
    plan = plan_of(spark, registry, "q114_group_quantiles")
    assert "percentile" not in plan.lower()
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith("Window ") and "row_number" in s:
            assert "__pid" in s, (
                "rank window lost its range-cell partitioning: " + s[:160]
            )


def test_q101_result_distributed_not_collected(spark, registry):
    """q101 materializes inside its conf scope via eager localCheckpoint —
    the result must be a distributed scan over checkpointed blocks, never
    a driver-side collect()+createDataFrame round trip (which would show
    as a LocalTableScan over driver rows)."""
    df = registry["q101_dynamic_partition_pruning"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan, "q101 collected through the driver"
    assert "ExistingRDD" in plan, "q101 is not a checkpointed distributed scan"


def test_q101_copy_lives_under_the_context_file_root(spark):
    """q101's partitioned events copy, and the dim table beside it, sit
    under ``SparkFiles.getRootDirectory()``, which Spark deletes when the
    context stops, so the query leaves no directories behind the session
    that read them."""
    import os

    from pyspark import SparkFiles

    from cassandra_analytics_example_spark.queries.events import dpp_join_plan

    root = os.path.realpath(SparkFiles.getRootDirectory())
    files = dpp_join_plan(spark, SF_DIR).inputFiles()
    assert files
    for f in files:
        path = os.path.realpath(f.removeprefix("file:"))
        assert os.path.commonpath([root, path]) == root, (f, root)


def test_bpe_pair_counts_aggregates_vocab_not_tokens(spark, registry):
    """q115's pair explosion must run over the AGGREGATED word vocabulary
    (post-groupBy), not the raw token stream: the plan must show partial
    (map-side) aggregation for the word count, the final top-N must be a
    TakeOrdered (never a global Sort+Exchange of the full pair table), and
    no join/cross product belongs anywhere in this pipeline."""
    plan = plan_of(spark, registry, "q115_bpe_pair_merges")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "Join" not in plan
    # two-phase (partial + final) hash aggregation for both groupBys
    assert plan.count("HashAggregate") >= 4


def test_semdedup_within_cell_equi_join_only(spark, registry):
    """q116's within-cell prune must be an equi-join on the cell id; the
    only nested-loop broadcast allowed is the one-row centroid-array append
    (constant size). A CartesianProduct means the cell key was lost —
    O(N²) across cells at scale."""
    plan = plan_of(spark, registry, "q116_semdedup")
    assert "CartesianProduct" not in plan
    # the assignment layer is persisted (computed once, consumed three
    # times); its lineage prints under each consumer, so BNLJ occurrences
    # repeat — what matters is that every BNLJ is the one-row
    # IdentityBroadcastMode append (empty-bucket fallback array), never a
    # data-sized side, and that the bucketed centroid lookup + within-cell
    # prune are hash equi-joins.
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert plan.count("IdentityBroadcastMode") >= (1 if n_bnlj else 0)
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_ring_negatives_bucket_local_window(spark, registry):
    """q117's ranking window must partition by the ring bucket — a window
    with an empty partition spec would serialize the whole corpus through
    one task. The successor lookup must be an equi-join."""
    plan = plan_of(spark, registry, "q117_ring_negatives")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    for m in re.finditer(r"Window \[", plan):
        seg = plan[m.start():m.start() + 400]
        assert "windowspecdefinition(bucket" in seg, (
            "ranking window is not bucket-partitioned:\n" + seg
        )


def test_containment_blocking_is_equi_join(spark, registry):
    """q118's candidate generation must stay the rarest-gram equi-join
    (bounded blocks), same discipline as q22."""
    plan = plan_of(spark, registry, "q118_containment_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_leakage_matrix_no_cross_product(spark, registry):
    """q119 composes q21's LSH pair generation with two source equi-joins
    and a tiny groupBy — the bucketed-candidate discipline must survive the
    composition."""
    plan = plan_of(spark, registry, "q119_source_leakage_matrix")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_probe_broadcasts_gram_set(spark, registry):
    """q120's membership probe must broadcast the (size-bounded)
    boilerplate gram set — the corpus tokenization side must NOT shuffle
    for the semi-join. The one-row n_docs scalar append is the only
    nested-loop allowed."""
    plan = plan_of(spark, registry, "q120_boilerplate_coverage")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_budget_selection_no_lang_only_window(spark, registry):
    """q121's ranking windows must partition by (lang, band, subkey) — a
    window partitioned by the low-cardinality lang alone serializes each
    language through one task (the q113 failure class). The offset layer
    window runs over the bounded per-(lang,band,sub) aggregate only."""
    import re

    plan = plan_of(spark, registry, "q121_token_budget_selection")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "no window specs found in q121 plan"
    for spec in specs:
        parts = [p.strip() for p in spec.split(",")]
        # partition keys precede the ordering specs (which carry ASC/DESC)
        keys = [p for p in parts if " ASC" not in p and " DESC" not in p
                and "specifiedwindowframe" not in p]
        if any(k.startswith("lang") for k in keys):
            assert len(keys) >= 2 or "__n" in spec, (
                "window partitioned by lang alone: " + spec
            )
    assert "CartesianProduct" not in plan


def test_cluster_weights_joins_stay_equi(spark, registry):
    """q122 composes hash-window rep mapping, LSH pairs, components, and
    two cluster-id equi-joins — no stage may degrade to a cross product."""
    plan = plan_of(spark, registry, "q122_cluster_weights")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_inverted_index_caps_before_collect(spark, registry):
    """q124: the posting cap (rn <= 16) must FILTER between the term
    window and the collect_list aggregation, so no per-term aggregation
    buffer ever holds an uncapped posting list; stats and postings join
    on the term key (equi), never a cross product."""
    plan = plan_of(spark, registry, "q124_inverted_index")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    win_i = plan.find("Window")
    assert win_i != -1, "posting rank window missing"
    tail = plan[:win_i]  # executed plans print sinks first: agg ABOVE window
    assert "collect_list" in tail, "collect_list should consume the window"
    filt_i = plan.find("rn#", 0, win_i)
    assert filt_i != -1 and " <= 16" in plan[:win_i], (
        "rn <= 16 cap must sit between the window and the collect"
    )


def test_item_affinity_pair_join_is_equi(spark, registry):
    """q125: the pair generator must be an equi-join on the ORDER key with
    the item inequality as a post-join condition — a SortMergeJoin/
    ShuffledHashJoin keyed on g, never a cross product over items."""
    plan = plan_of(spark, registry, "q125_item_affinity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_deterministic_shuffle_no_global_window(spark, registry):
    """q126: the corpus-sized rank window must be partitioned by shard;
    the only unpartitioned window allowed is the cumulative-offset pass
    over the 64-row shard-size layer, and the offset layer must come back
    via a broadcast join."""
    plan = plan_of(spark, registry, "q126_deterministic_shuffle")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith("Window ") and "row_number" in s:
            assert "shard#" in s.split("], [")[1], (
                "corpus rank window lost its shard partition key: " + s[:160]
            )


def test_scd2_pit_join_is_single_key_shuffle(spark, registry):
    """q129: the point-in-time join must keep the union-and-carry shape —
    user_id-keyed exchanges only, no join operator of any kind in the
    carry path (no range join that could explode per-key, no cartesian)."""
    plan = plan_of(spark, registry, "q129_scd2_pit_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Window" in plan


def test_bigram_lm_broadcasts_vocab_layers(spark, registry):
    """q130: bigram/unigram vocabularies and the one-row total must come
    back as broadcasts; the only corpus-keyed exchanges are the (doc,
    bigram) count and the final per-doc sum. Never a cross product over
    corpus-sized inputs."""
    plan = plan_of(spark, registry, "q130_bigram_logprob")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # one-row total only


def test_wilson_ranking_is_one_aggregate(spark, registry):
    """q131: the whole query is one source-keyed aggregate plus row-local
    Wilson arithmetic — no joins, at most one hash exchange."""
    plan = plan_of(spark, registry, "q131_source_wilson_ranking")
    for op in ("Join", "CartesianProduct"):
        assert op not in plan, op
    assert plan.count("Exchange hashpartitioning") <= 1


def test_lang_drift_joins_are_broadcast(spark, registry):
    """q132: every KL layer is (source x lang)-sized; all joins broadcast
    (plus the sanctioned one-row total), nothing corpus-sized shuffles
    after the first count."""
    plan = plan_of(spark, registry, "q132_source_lang_drift")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_embargo_split_never_shuffles_events(spark, registry):
    """q133: the split is a pure projection against a broadcast two-value
    bounds row — the events table itself must never hash-shuffle (the only
    exchange is the single-partition min/max reduction)."""
    plan = plan_of(spark, registry, "q133_temporal_embargo_split")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # one-row bounds
    assert plan.count("Exchange hashpartitioning") == 0


def test_grouped_split_windows_stay_source_partitioned(spark, registry):
    """q134: the split-count audit window must be partitioned by source
    (never a global window); no join anywhere."""
    plan = plan_of(spark, registry, "q134_grouped_split")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith("Window "):
            assert "source#" in s.split("], [")[1]


def test_hll_layers_stay_register_sized(spark, registry):
    """q135: after the one corpus-keyed register aggregation, everything
    operates on <=(shards x 256)-row register tables — no join of any
    kind touches the corpus, no cartesian anywhere."""
    plan = plan_of(spark, registry, "q135_hll_shard_merge")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # pure aggregate/union pipeline


def test_rrf_fusion_windows_and_broadcasts(spark, registry):
    """q136: both ranking legs broadcast the bounded QUERY side over the
    corpus (nested-loop against a broadcast is the sanctioned ANN shape;
    a CartesianProduct is not), every rank window is partitioned by
    query_id, and the fusion join is an equi-join on (query, doc)."""
    plan = plan_of(spark, registry, "q136_hybrid_rrf_retrieval")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith("Window ") and "row_number" in s:
            assert "query_id#" in s.split("], [")[1]


def test_ivf_partitioned_index_prunes_cells(spark, registry):
    """q138: the persisted IVF layout must be searched with a dynamic
    partition pruning subquery on the cell partition column — unprobed
    cell directories never reach the scan — and the query side must come
    in as a broadcast."""
    from cassandra_analytics_example_spark.queries.llm import (
        ivf_partitioned_plan,
    )

    key = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        plan = (
            ivf_partitioned_plan(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert "dynamicpruning" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the registered query keeps the conf scoped: nothing leaks
    registry["q138_ivf_partitioned_index"].fn(spark, SF_DIR)
    assert spark.conf.get(key, None) == prev


def test_session_paths_windows_partitioned_except_rank_layer(spark, registry):
    """q139: sessionization and the lead windows must be user-partitioned;
    the ONLY unpartitioned window allowed is the top-10 rank over the
    |event_type|^3-bounded path-count layer."""
    plan = plan_of(spark, registry, "q139_session_paths")
    assert "CartesianProduct" not in plan
    unpartitioned = 0
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith("Window "):
            if "user_id#" not in s.split("], [")[1]:
                unpartitioned += 1
    assert unpartitioned <= 1


def test_recency_decay_single_shuffle(spark, registry):
    """q140: one user-keyed aggregate plus the broadcast one-row max — the
    events table shuffles exactly once and the weights are integer shifts
    (no exp() anywhere in the plan)."""
    plan = plan_of(spark, registry, "q140_recency_decay_scores")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # one-row t_max
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "EXP(" not in plan.upper()


def test_substring_spans_no_cross_and_doc_windows(spark, registry):
    """q142: duplicate detection must be the md5-keyed groupBy + same-key
    join-back (equi only, never all-pairs), and the span-merge windows run
    partitioned by doc_id — no global window over the position table."""
    plan = plan_of(spark, registry, "q142_substring_dup_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith("Window "):
            assert "doc_id#" in s.split("], [")[1], (
                "span-merge window must partition by doc_id: " + s
            )


def test_pagerank_equi_joins_only(spark, registry):
    """q143: every propagation step is an equi-join (quota on node, edges
    on src) plus a dst-keyed aggregate — 5 iterations must introduce zero
    cross products and keep map-side partial aggregation on the contrib
    sums."""
    plan = plan_of(spark, registry, "q143_pagerank_items")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_hourly_anomalies_stats_broadcast_back(spark, registry):
    """q144: the per-type stats layer (|event_type| rows) must come back
    via a broadcast hash join — the hourly layer never reshuffles to meet
    it — and detection is integer algebra (no stddev/sqrt in the plan)."""
    plan = plan_of(spark, registry, "q144_hourly_anomalies")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    up = plan.upper()
    assert "STDDEV" not in up and "SQRT" not in up


def test_profile_drift_single_pass(spark, registry):
    """q145: the drift report is ONE conditional-aggregation pass — a
    single hash-partitioned exchange on event_type (plus its expand for
    the two distinct-user columns); the midpoint is a one-row broadcast,
    and there is no self-join of events."""
    plan = plan_of(spark, registry, "q145_profile_drift")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # one-row midpoint
    assert "SortMergeJoin" not in plan
    assert plan.count("FileScan") <= 2  # events + the one-row mid scan


def test_pq_codebook_broadcast_partial_argmin(spark, registry):
    """q146: the codebook must broadcast (corpus never reshuffled to meet
    it) and the argmin must be an aggregation with map-side partial_min —
    not a rank window over the candidate rows."""
    plan = plan_of(spark, registry, "q146_pq_codes")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_min" in plan
    assert "Window" not in plan


def test_triangle_counts_equi_joins_only(spark, registry):
    """q147: the wedge self-join must pivot on the node key and the
    closure must be an (a, b) edge-key equi-join — degree-ordered
    orientation never introduces a cross product, and the heavy layers
    reuse the persisted canonical edge table (InMemoryTableScan)."""
    plan = plan_of(spark, registry, "q147_triangle_counts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_incremental_clusters_no_cross_and_cached_layers(spark, registry):
    """q152: candidate generation must stay equi-joined on (band, bhash)
    and the shingle/band layers must come from the persisted caches
    (InMemoryTableScan) — the delta pass reads the index, it never
    recomputes the signature pipeline per consumer."""
    plan = plan_of(spark, registry, "q152_incremental_clusters")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan


def test_value_concentration_no_global_user_window(spark, registry):
    """q158: the user-sized rank/cumsum windows must partition by the
    value-range shard; the only unpartitioned windows allowed are over
    the ~20-row shard-summary layer, and offsets/boundaries come back
    via broadcast joins."""
    plan = plan_of(spark, registry, "q158_value_concentration")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: ")
        if s.startswith("Window ") and "rn_local" in s:
            assert "shard#" in s.split("], [")[1], (
                "user rank window must partition by shard: " + s
            )


def test_pagerank_edge_cache_partitioning_is_reused(spark):
    """The Pregel co-partitioning contract: the edge table is cached
    hash-partitioned by src, so per-iteration joins must consume the
    cache WITHOUT an ENSURE_REQUIREMENTS re-shuffle above it (only the
    explicit up-front REPARTITION_BY_NUM inside the cache build). A
    regression here silently multiplies the iteration cost by the edge
    table's shuffle — the q143 6.1s->3.2s win of round 7."""
    from cassandra_analytics_example_spark.operators.graph import (
        pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(i % 50, (i * 7) % 50) for i in range(400) if i % 50 != (i * 7) % 50],
        "src bigint, dst bigint",
    )
    ranks = pagerank_integer(edges, iterations=3)
    ranks.count()
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    edge_scans = 0
    for i, line in enumerate(lines):
        if "InMemoryTableScan" in line and "dst#" in line and "src#" in line:
            edge_scans += 1
            ctx = "\n".join(lines[max(0, i - 3): i])
            assert "ENSURE_REQUIREMENTS" not in ctx, (
                "edge cache re-shuffled above an InMemoryTableScan — "
                "co-partitioning reuse regressed:\n" + ctx
            )
    # one scan per iteration consumed the cache directly
    assert edge_scans >= 3


def test_personalized_pagerank_caches_nodes_and_edges(spark):
    """PPR's node inventory (src∪dst∪seeds distinct + seed left-join) is
    MORE expensive than pagerank_integer's src-distinct, and the unrolled
    N-iteration plan embeds it once per iteration's left join — so it must
    be served from cache, not re-derived from the edge cache each round
    (r11 ADVICE; pagerank_integer got the same persist in the r11
    self-review). Pinned at the physical plan: every iteration's node-side
    read is an InMemoryTableScan carrying the is_seed column."""
    from cassandra_analytics_example_spark.operators.graph import (
        personalized_pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(i % 40, (i * 11) % 40) for i in range(300) if i % 40 != (i * 11) % 40],
        "src bigint, dst bigint",
    )
    seeds = spark.createDataFrame([(1,), (7,)], "node bigint")
    ranks = personalized_pagerank_integer(edges, seeds, iterations=3)
    ranks.count()
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    node_scans = sum(
        1
        for line in plan.splitlines()
        if "InMemoryTableScan" in line and "is_seed#" in line
    )
    # 3 iterations × (left-join probe + rank rebuild reads) — at minimum
    # one cached node read per iteration, and no raw re-derivation: the
    # distinct+union build must not appear outside the cache build
    assert node_scans >= 3, plan


def test_list_data_files_scheme_less_path_under_hidden_ancestor(spark, tmp_path):
    """A scheme-less table path whose ancestors start with ``.``/``_`` must
    still list its files: the hidden-directory walk stops at the table
    root (compared qualified, as ``listFiles`` reports it), so only
    directories INSIDE the table, like ``_snapshots/``, are skipped."""
    from cassandra_analytics_example_spark.datagen import (
        gen_dataset_deterministic,
    )
    from cassandra_analytics_example_spark.plans.fs import list_data_files
    from cassandra_analytics_example_spark.sources import read, write

    table = str(tmp_path / ".hid" / "_u" / "t")
    write(gen_dataset_deterministic(spark, 600, 3), {"path": table})
    snap = read(
        spark, {"path": table, "createSnapshot": "true", "snapshotName": "s1"}
    )
    assert snap.count() == 600
    files = list_data_files(spark, table)
    assert files, "no data files listed under a hidden ancestor"
    assert all("/_snapshots/" not in p for p, _ in files), files
    # the second snapshot must freeze the data files, not s1's manifest
    again = read(
        spark, {"path": table, "createSnapshot": "true", "snapshotName": "s2"}
    )
    assert again.count() == 600


def test_etl_legs_run_one_pass(spark, tmp_path):
    """Each bulk-ETL leg runs its lineage once: the sink write counts its
    own rows, and snapshot and staging reads plan from a known schema
    instead of running a parquet footer-inference job. A coordinated
    write copies its staged files into each target, so its one job is
    the stage. The job budgets below are what the legs take with that
    design; a persist+count pair, a re-inferred read or a re-encoded
    import adds at least one job. No leg leaves a cached RDD behind."""
    from cassandra_analytics_example_spark.config import JobConfiguration
    from cassandra_analytics_example_spark.plans import jobs

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    cached_before = set(sc._jsc.getPersistentRDDs().keySet())
    uri = lambda name: f"file://{tmp_path}/{name}"  # noqa: E731

    def n_jobs(leg, fn):
        group = f"one-pass-{leg}"
        sc.setJobGroup(group, leg)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(tracker.getJobIdsForGroup(group))

    cfg = JobConfiguration
    budgets = {
        "write_job": (2, lambda: jobs.write_job(spark, cfg(write_options={
            "rows": "4000", "path": uri("t1"), "mode": "overwrite",
            "partition_key": "id", "splits": "4"}))),
        "snapshot": (None, lambda: jobs.read_job(spark, cfg(read_options={
            "path": uri("t1"), "createSnapshot": "true", "snapshotName": "s1"}))),
        "append": (1, lambda: jobs.write_job(spark, cfg(write_options={
            "rows": "400", "path": uri("t1"), "mode": "append"}))),
        "copy_table": (1, lambda: jobs.copy_table(spark, cfg(
            read_options={"path": uri("t1"), "snapshotName": "s1"},
            write_options={"path": uri("t2"), "mode": "overwrite"}))),
        "table_to_parquet": (2, lambda: jobs.table_to_parquet(
            spark, cfg(read_options={"path": uri("t2")}), uri("t3"))),
        "coordinated_write": (1, lambda: jobs.two_clusters_coordinated_write(
            spark, cfg(write_options={"rows": "4000", "staging_dir": uri("stg")}),
            {"c1": {"path": uri("c1")}, "c2": {"path": uri("c2")}})),
    }
    over = {}
    for leg, (budget, fn) in budgets.items():
        used = n_jobs(leg, fn)
        if budget is not None and used > budget:
            over[leg] = (used, budget)
    assert not over, f"legs over their Spark-job budget (used, budget): {over}"
    # earlier tests' pins may be released meanwhile (the context cleaner
    # unpersists collected RDDs), so only a NEW persistent RDD is a leak
    left_behind = set(sc._jsc.getPersistentRDDs().keySet()) - cached_before
    assert not left_behind, f"legs left cached RDDs behind: {left_behind}"
