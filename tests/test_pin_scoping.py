"""Cache-residency scoping for pin_partition_ids (round-8 advisor item).

``DataFrame.persist`` registers in Spark SQL's CacheManager, which holds a
strong reference until an explicit unpersist — so pinned operators composed
in a long-lived user session would accumulate entries without bound.  Three
contracts close that leak:

* every pin registers on the session, and ``release_pins`` drains them;
* ``pin_scope`` unpersists exactly the pins created inside the scope
  (watermark semantics — pre-existing pins survive, scopes nest);
* the one-row terminal metrics (``roc_auc_exact``,
  ``average_precision_exact``) eager-materialize and self-release, so a
  naive metrics loop holds ZERO CacheManager entries between calls.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.checkpoints import (
    _thread_pins,
    pin_partition_ids,
    pin_scope,
    release_pins,
)
from cassandra_analytics_example_spark.operators.dedup import (
    incremental_lsh_clusters,
    minhash_lsh_dedup,
    overlap_join,
    token_containment_pairs,
    token_jaccard_pairs,
)
from cassandra_analytics_example_spark.operators.graph import (
    pagerank_integer,
    personalized_pagerank_integer,
    triangle_participation,
)
from cassandra_analytics_example_spark.operators.similarity import (
    semdedup_prune,
)
from cassandra_analytics_example_spark.operators.text import (
    boilerplate_gram_coverage,
)
from cassandra_analytics_example_spark.sources.files import (
    read_csv,
    split_corrupt,
)


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _scored(spark, n=20_000):
    return spark.range(n).select(
        (
            F.expr("conv(substr(md5(cast(id as string)), 1, 6), 16, 10)")
            % 1000
        )
        .cast("bigint")
        .alias("score"),
        (F.col("id") % 4 == 0).cast("int").alias("is_pos"),
    )


def test_terminal_metrics_leave_no_cache_entries(spark):
    from cassandra_analytics_example_spark.operators.ranking import (
        average_precision_exact,
        roc_auc_exact,
    )

    release_pins(spark)
    spark.catalog.clearCache()
    base = _scored(spark)
    # the advisor's exact scenario: metrics composed in a loop
    rows = []
    for _ in range(3):
        rows.append(roc_auc_exact(base).collect())
        rows.append(average_precision_exact(base).collect())
    assert _cache_manager_empty(spark), (
        "terminal metric left CacheManager entries — the eager "
        "localCheckpoint + pin_scope release in operators/ranking.py "
        "regressed"
    )
    assert not _thread_pins(spark)
    # results stay deterministic and re-collectable after release
    assert rows[0] == rows[2] == rows[4]
    assert rows[1] == rows[3] == rows[5]


def test_pin_scope_releases_only_inner_pins(spark):
    release_pins(spark)
    outer = pin_partition_ids(
        spark.range(1000).repartitionByRange(4, "id").withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    outer.count()
    with pin_scope(spark):
        inner = pin_partition_ids(
            spark.range(500).repartitionByRange(4, "id").withColumn(
                "__pid", F.spark_partition_id()
            )
        )
        inner.count()
        assert len(_thread_pins(spark)) == 2
    # inner released, outer survives
    assert _thread_pins(spark) == [outer]
    assert outer.storageLevel.useMemory
    assert not inner.storageLevel.useMemory
    assert release_pins(spark) == 1
    assert not outer.storageLevel.useMemory


def test_release_pins_drains_row_level_operators(spark):
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    release_pins(spark)
    g = _scored(spark).groupBy("score").agg(
        F.count("*").cast("bigint").alias("n")
    )
    pre = grouped_prefix_sums(g, [], ["score"], ["n"])
    total = pre.agg(F.sum("n")).first()[0]
    assert len(_thread_pins(spark)) == 1
    assert release_pins(spark) == 1
    assert _thread_pins(spark) == []
    # idempotent
    assert release_pins(spark) == 0
    assert pre.agg(F.sum("n")).first()[0] == total


def test_pin_registries_are_per_thread(spark):
    """Concurrent builders (the standard multi-threaded Spark driver
    pattern) must not see or release each other's pins — the eager
    metrics wrap pin_scope internally, so this is imposed on callers who
    never opted in; per-thread registries make it safe."""
    import threading

    release_pins(spark)
    results = {}

    def build(tag, n):
        # DISTINCT plan per thread: identical plans share one CacheManager
        # entry (dedup by canonicalized plan), so one thread's unpersist
        # would clear them all — inherent Spark behavior, not a registry
        # property, and not the concurrent-builder shape (real builders
        # run different queries)
        with pin_scope(spark):
            p = pin_partition_ids(
                spark.range(n).repartitionByRange(4, "id").withColumn(
                    "__pid", F.spark_partition_id()
                )
            )
            results[tag] = p.count()
            # while inside MY scope, my thread sees exactly my pin
            results[f"{tag}_pins"] = len(_thread_pins(spark))

    threads = [
        threading.Thread(target=build, args=(f"t{i}", 2000 + 111 * i))
        for i in range(3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert all(results[f"t{i}"] == 2000 + 111 * i for i in range(3))
    assert all(results[f"t{i}_pins"] == 1 for i in range(3))
    # every scope exit released its own pin; nothing left anywhere
    assert release_pins(spark) == 0


def test_thread_registry_prunes_externally_cleared_pins(spark):
    """spark.catalog.clearCache() unpersists behind the registry's back
    (bench.py does this per run); the next append must prune the dead
    references so long sessions don't accumulate them and release counts
    stay honest."""
    release_pins(spark)
    pin_partition_ids(
        spark.range(500).repartitionByRange(2, "id").withColumn(
            "__pid", F.spark_partition_id()
        )
    ).count()
    assert len(_thread_pins(spark)) == 1
    spark.catalog.clearCache()
    p2 = pin_partition_ids(
        spark.range(600).repartitionByRange(2, "id").withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    p2.count()
    pins = _thread_pins(spark)
    assert pins == [p2]  # the cleared pin was pruned on append
    assert release_pins(spark) == 1


def test_pin_scope_survives_midscope_clearcache(spark):
    """The scope watermark is the SET of frames at entry, not a list
    index: a mid-scope clearCache prunes pre-existing entries from the
    registry, and an index watermark would then let in-scope pins escape
    the exit (round-8 second review)."""
    release_pins(spark)
    outer = pin_partition_ids(
        spark.range(900).repartitionByRange(3, "id").withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    outer.count()
    with pin_scope(spark):
        spark.catalog.clearCache()  # kills outer behind the registry's back
        inner = pin_partition_ids(
            spark.range(901).repartitionByRange(3, "id").withColumn(
                "__pid", F.spark_partition_id()
            )
        )
        inner.count()
    assert not inner.storageLevel.useMemory, "in-scope pin escaped the exit"
    assert release_pins(spark) == 0


def test_pin_small_registers_in_the_scope(spark):
    """pin_small persists must drain under pin_scope/release_pins too —
    the vocabulary/stratum pins are the other half of the residency
    class (round-8 second review)."""
    from cassandra_analytics_example_spark.session import pin_small

    release_pins(spark)
    spark.catalog.clearCache()
    with pin_scope(spark):
        small = pin_small(
            spark.range(100).groupBy((F.col("id") % 5).alias("g")).count()
        )
        small.count()
        assert len(_thread_pins(spark)) == 1
    assert not small.storageLevel.useMemory
    assert _cache_manager_empty(spark)


def test_release_pins_default_is_current_thread_only(spark):
    """A pin built (not yet executed) by another thread must survive a
    default release_pins from this thread — unpersisting it would compile
    its consumers without the shared InMemoryRelation and reintroduce the
    pid-divergence row loss."""
    import threading

    release_pins(spark, all_threads=True)
    built = {}

    def build():
        built["p"] = pin_partition_ids(
            spark.range(12345).repartitionByRange(4, "id").withColumn(
                "__pid", F.spark_partition_id()
            )
        )
        # built, NOT executed — the dangerous window

    t = threading.Thread(target=build)
    t.start(); t.join()
    assert release_pins(spark) == 0  # current thread: nothing to drain
    built["p"].count()  # executes with its cache entry intact
    assert built["p"].storageLevel.useMemory
    assert release_pins(spark, all_threads=True) == 1


# ---------------------------------------------------------------------------
# round-9 sweep (VERDICT r8 task 7): EVERY registered metric query — any
# query whose fn uses a terminal rank/drift metric — must self-release, so
# a naive loop over the whole metric family holds zero CacheManager entries.
# The list is derived from the live registry by source scan, so a new metric
# query joins the sweep automatically.
# ---------------------------------------------------------------------------

_EAGER_METRICS = (
    "roc_auc_exact",
    "average_precision_exact",
    "spearman_rho",
    "spearman_grouped",
    "gini_exact",
    "gini_grouped",
    "ks_two_sample",
    "ks_grouped",
    "kaplan_meier",
    "kaplan_meier_grouped",
    "cusum_changepoint_from_counts",
    "cusum_grouped_from_counts",
)


def _metric_query_names():
    import inspect

    from cassandra_analytics_example_spark.queries import load_all

    names = []
    for name, qd in load_all().items():
        try:
            src = inspect.getsource(qd.fn)
        except (OSError, TypeError):
            continue
        if any(m in src for m in _EAGER_METRICS):
            names.append(name)
    return names


def test_every_registered_metric_query_leaves_no_cache_entries(spark):
    """Loop over every registered rank/drift metric query twice at
    sf0.001 (the advisor's monitoring-loop scenario, registry-wide):
    after each call + collect the CacheManager must be EMPTY — the
    operators are eager and self-releasing, so nothing survives the call.
    A lazily-returned pin anywhere in the family fails this by name."""
    from cassandra_analytics_example_spark.queries import load_all

    names = _metric_query_names()
    assert len(names) >= 13, f"metric sweep lost coverage: {names}"
    reg = load_all()
    release_pins(spark)
    spark.catalog.clearCache()
    sf = "/root/testdata/sf0.001"
    for _ in range(2):
        for name in names:
            rows = reg[name].fn(spark, sf).collect()
            assert rows, f"{name} returned no rows"
            assert _cache_manager_empty(spark), (
                f"{name} left CacheManager entries — its terminal metric "
                "is not eager/self-releasing"
            )
    assert not _thread_pins(spark)


# ---------------------------------------------------------------------------
# Library operators that cache a shared layer: every such persist goes
# through the pin registry, so a pin_scope around build + action leaves no
# persistent RDD behind (the eager graph operators release theirs inside).
# ---------------------------------------------------------------------------


def _docs(spark):
    body = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(i, f"{body} {i % 5} tail {i % 3}") for i in range(30)]
    rows += [(100 + i, f"unrelated words {i} only here") for i in range(5)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _edges(spark):
    tri = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3), (5, 6), (6, 1)]
    both = tri + [(b, a) for a, b in tri]
    return spark.createDataFrame(both, "src long, dst long")


def _seeds(spark):
    return spark.createDataFrame([(1,), (4,)], "node long")


def _corrupt_csv(spark, tmp_path):
    p = tmp_path / "docs.csv"
    p.write_text("doc_id,text\n1,plain words\n2,more words\nnot-a-number\n")
    return read_csv(spark, str(p), "doc_id bigint, text string")


# name -> build(spark, tmp_path, sf_dir): the frames to act on
_PINNED_OPERATORS = {
    "minhash_lsh_dedup_capped": lambda s, t, sf: [
        minhash_lsh_dedup(_docs(s), "doc_id", "text", max_bucket_size=1000)
    ],
    "token_jaccard_pairs": lambda s, t, sf: [
        token_jaccard_pairs(_docs(s), "doc_id", "text", max_block_size=1000)
    ],
    "token_containment_pairs": lambda s, t, sf: [
        token_containment_pairs(
            _docs(s), "doc_id", "text", max_block_size=1000
        )
    ],
    "overlap_join": lambda s, t, sf: [
        overlap_join(_docs(s), "doc_id", "text", 3, max_posting_size=1000)
    ],
    "incremental_lsh_clusters": lambda s, t, sf: [
        incremental_lsh_clusters(
            _docs(s), "doc_id", "text", F.col("doc_id") % 7 == 0
        )
    ],
    "boilerplate_gram_coverage": lambda s, t, sf: [
        boilerplate_gram_coverage(_docs(s), "doc_id", "text")
    ],
    "pagerank_integer": lambda s, t, sf: [
        pagerank_integer(_edges(s), iterations=3)
    ],
    "personalized_pagerank_integer": lambda s, t, sf: [
        personalized_pagerank_integer(_edges(s), _seeds(s), iterations=3)
    ],
    "triangle_participation": lambda s, t, sf: [
        triangle_participation(_edges(s))
    ],
    "semdedup_prune": lambda s, t, sf: [
        semdedup_prune(s.read.parquet(f"{sf}/embeddings.parquet"))
    ],
    "split_corrupt": lambda s, t, sf: list(
        split_corrupt(_corrupt_csv(s, t))
    ),
}


def _cached_rdd_ids(spark) -> set:
    """Persistent RDDs that hold a cache. The local checkpoints of
    ``truncate_plan`` (the lineage cut an iterative operator such as
    ``connected_components`` returns) are persistent RDDs too, but they
    are not caches and no registry owns them: Spark's context cleaner
    drops their blocks once the frame is garbage-collected."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        i for i in rdds.keySet() if not rdds.get(i).rdd().isLocallyCheckpointed()
    }


@pytest.mark.parametrize("name", sorted(_PINNED_OPERATORS))
def test_operator_caches_are_released_by_pin_scope(
    spark, tmp_path, sf_dir, name
):
    """Build and act on the operator inside ``pin_scope``: every cache it
    created is registered, so the scope's exit leaves no new cached
    persistent RDD (only ids that were already there may remain)."""
    before = _cached_rdd_ids(spark)
    with pin_scope(spark):
        for out in _PINNED_OPERATORS[name](spark, tmp_path, sf_dir):
            out.write.format("noop").mode("overwrite").save()
    left_behind = _cached_rdd_ids(spark) - before
    assert not left_behind, f"{name} left persistent RDDs: {left_behind}"
