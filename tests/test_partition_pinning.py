"""Behavioral regression net for the partition-id pinning fix (round 7).

The two-layer prefix/offset operators consume one ``repartitionByRange``
+ ``spark_partition_id()`` frame from two plan branches joined back on
the partition id.  Unpinned, the branches can plan as SEPARATE exchange
instances whose range boundaries are sampled independently (plus
per-consumer AQE coalescing), so the (pid, …)-keyed join between the
layers silently drops whatever disagrees.  Observed live pre-fix: this
exact fixture lost 4,463 of 400,000 rows on one of four runs, and q275
lost ~0.1% of events at sf0.1 while sf0.001/sf0.01 single-partition
inputs hid it.

Two nets, complementary:

* the STRUCTURAL gate (``test_plan_lint``): every registered query's
  plan with ``spark_partition_id`` must read it through the pinning
  ``InMemoryRelation`` — deterministic, but only covers registered
  queries;
* this BEHAVIORAL gate: a divergence-prone input (multi-partition, 50k
  distinct order keys — large enough that boundary sampling is partial)
  driven repeatedly through ``ks_grouped``, asserting exact row
  conservation AND bit-identical results across runs.  Probabilistic
  against a reintroduced bug, but engine-level (catches an unpinned
  reimplementation the lint's string match might miss).
"""

from __future__ import annotations

from pyspark.sql import functions as F

N_ROWS = 400_000
N_RUNS = 6


def _fixture(spark):
    # md5-derived values: deterministic content, ~50k distinct order keys
    # across 32 input partitions — enough that each exchange instance's
    # boundary sample is partial (divergence-prone pre-fix)
    return (
        spark.range(N_ROWS)
        .select(
            (F.col("id") % 5).alias("g"),
            F.expr(
                "cast(conv(substr(md5(cast(id as string)), 1, 8), 16, 10) "
                "% 50000 as bigint)"
            ).alias("v"),
            (F.col("id") % 2).alias("grp"),
        )
        .repartition(32)
    )


def test_ks_grouped_conserves_rows_and_is_run_stable(spark):
    from cassandra_analytics_example_spark.operators.rankstats import (
        ks_grouped,
    )

    base = _fixture(spark)
    results = []
    for _ in range(N_RUNS):
        rows = sorted(
            (r.g, r.n_a, r.n_b, r.d_ppm)
            for r in ks_grouped(base, "g", "v", "grp").collect()
        )
        total = sum(na + nb for _, na, nb, _ in rows)
        assert total == N_ROWS, f"row loss: {N_ROWS - total} rows dropped"
        results.append(rows)
    assert all(r == results[0] for r in results[1:]), (
        "ks_grouped results differ across identical runs — partition-id "
        "mapping not frozen (see operators/checkpoints.py:pin_partition_ids)"
    )


def test_exclusive_prefix_totals_conserve_and_are_run_stable(spark):
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    g = (
        _fixture(spark)
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    results = []
    for _ in range(3):
        pre = grouped_prefix_sums(g, [], ["v"], ["n"])
        row = pre.agg(
            F.sum("n").alias("tot"),
            F.max(F.col("n_before") + F.col("n")).alias("max_cum"),
            F.count("*").alias("cells"),
        ).first()
        assert row.tot == N_ROWS
        # the largest inclusive running total must equal the grand total
        assert row.max_cum == N_ROWS
        results.append((row.tot, row.max_cum, row.cells))
    assert len(set(results)) == 1
