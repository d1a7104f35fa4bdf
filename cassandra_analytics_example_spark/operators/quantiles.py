"""Distributed exact per-group quantiles — selection by global rank, not
by buffering a group.

``F.percentile`` (and any exact percentile aggregate) accumulates EVERY
value of a group inside one aggregation buffer.  With low-cardinality
groups (``events.event_type`` has ~5 distinct values) that is the
whole-corpus-on-one-executor failure mode: correct at sf0.1, OOM at 100x.

This module computes the same exact interpolated quantile
(``quantile_cont`` semantics: value at fractional 0-indexed rank
``q * (n - 1)``, linearly interpolated between its two neighbouring order
statistics) with bounded memory per task:

1. per-group counts ``n`` -> the at-most-two boundary ranks per quantile
   (a G x Q row table, broadcast);
2. each row's global rank in its group, as the exclusive prefix sum of a
   unit count over (value, tiebreak) plus one — the package's one
   range-prefix operator (``operators/ranking.py:grouped_prefix_sums``:
   range cells on (group, value, tiebreak), a LOCAL window per
   (partition, group) cell, broadcast per-cell offsets);
3. keep only rows whose global rank is a boundary rank, and interpolate.

Cost: two corpus passes (count + select), one range shuffle, one bounded
window shuffle, two tiny broadcasts.  No aggregation buffer ever holds
more than a few doubles; the largest window cell is ~|corpus| /
num_partitions rows regardless of group cardinality.

``weighted_quantile_exact`` keeps its own range cells: it windows only
the candidate cells whose weight span can hold the threshold, which a
prefix over every cell cannot do.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.checkpoints import (
    pin_partition_ids,
)
from cassandra_analytics_example_spark.operators.ranking import (
    grouped_prefix_sums,
)


def group_quantiles_exact(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: Mapping[str, float],
    num_partitions: int = 64,
) -> DataFrame:
    """Exact interpolated quantiles per group, one output row per group.

    ``quantiles`` maps output column name -> q in [0, 1]; the result is
    ``(group_col, <name> double ...)`` with ``quantile_cont``-identical
    values (same ``lo*(1-frac) + hi*frac`` arithmetic on the same
    ``q * (n - 1)`` double rank, so DuckDB oracles hash-match).  NULL
    values are ignored, matching ``quantile_cont``; a group whose values
    are all NULL is absent from the output.
    """
    if not quantiles:
        raise ValueError("quantiles must name at least one quantile")
    for name, q in quantiles.items():
        if not 0.0 <= float(q) <= 1.0:
            raise ValueError(f"quantile {name}={q} outside [0, 1]")

    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(F.col("__v").isNotNull())

    # Pass 1: group sizes -> boundary ranks.  r = q * (n - 1) is the
    # 0-indexed fractional rank; its floor/ceil neighbours (1-indexed
    # k_lo / k_hi) are the only rows selection needs.
    counts = base.groupBy("__g").agg(F.count("*").alias("__n"))
    qlits = F.array(*[F.lit(float(q)) for q in quantiles.values()])
    ranks = (
        counts.select(
            "__g", F.explode(qlits).alias("__q"), F.col("__n")
        )
        .withColumn("__r", F.col("__q") * (F.col("__n") - F.lit(1)))
        .select(
            "__g",
            "__q",
            (F.floor("__r") + 1).cast("bigint").alias("__k_lo"),
            (F.col("__r") - F.floor("__r")).alias("__frac"),
        )
        .withColumn(
            "__k_hi",
            F.col("__k_lo")
            + F.when(F.col("__frac") > 0, F.lit(1)).otherwise(F.lit(0)),
        )
    )

    # Pass 2: global rank within the group = the rows of the group before
    # this one in (value, tiebreak) order, plus one: the one prefix
    # operator (operators/ranking.py:grouped_prefix_sums) over a unit
    # count, i.e. range cells on (group, value, tiebreak) with broadcast
    # per-cell offsets, never a window over a whole group.  The tiebreak
    # column makes the order total and spreads heavy duplicate values
    # across cells (selection is tie-order independent: equal ranks carry
    # equal values).  monotonically_increasing_id depends on the source
    # partitioning; the operator's partition-id pin freezes it along with
    # the cells.
    glob = grouped_prefix_sums(
        base.withColumn("__tb", F.monotonically_increasing_id()).withColumn(
            "__one", F.lit(1).cast("bigint")
        ),
        ["__g"],
        ["__v", "__tb"],
        ["__one"],
        num_partitions=num_partitions,
    ).withColumn("__gr", (F.col("__one_before") + F.lit(1)).cast("bigint"))

    bnd = glob.join(F.broadcast(ranks), "__g").where(
        (F.col("__gr") == F.col("__k_lo"))
        | (F.col("__gr") == F.col("__k_hi"))
    )
    picked = bnd.groupBy("__g", "__q").agg(
        F.min(
            F.when(F.col("__gr") == F.col("__k_lo"), F.col("__v"))
        ).alias("__v_lo"),
        F.min(
            F.when(F.col("__gr") == F.col("__k_hi"), F.col("__v"))
        ).alias("__v_hi"),
        F.min("__frac").alias("__frac"),
    )
    # DuckDB's quantile_cont interpolates as lo*(1-frac) + hi*frac (and
    # returns lo untouched when the rank is integral); replicate that
    # arithmetic EXACTLY — `lo + frac*(hi-lo)` differs by an ulp on some
    # inputs and the driver's value-hash is bitwise.
    interpolated = picked.select(
        "__g",
        "__q",
        F.when(F.col("__frac") == 0, F.col("__v_lo"))
        .otherwise(
            F.col("__v_lo") * (F.lit(1.0) - F.col("__frac"))
            + F.col("__v_hi") * F.col("__frac")
        )
        .alias("__quantile"),
    )

    named = interpolated.groupBy("__g").agg(
        *[
            F.min(
                F.when(F.col("__q") == float(q), F.col("__quantile"))
            ).alias(name)
            for name, q in quantiles.items()
        ]
    )
    return named.withColumnRenamed("__g", group_col)


def weighted_quantile_exact(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    q_num: int,
    q_den: int,
    tiebreak_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """Exact weighted quantile by distributed rank selection: the smallest
    value whose cumulative weight reaches ``ceil(W * q_num / q_den)``
    (the inf{v : F(v) >= q} definition, threshold computed in EXACT
    integer arithmetic — weights must be non-negative integers).

    Same bounded-memory shape as :func:`group_quantiles_exact`: one
    range shuffle on (value, tiebreak), per-cell weight sums with a
    broadcast cumulative-offset layer, and a window only inside range
    cells — no aggregation buffer ever holds a group. Returns one row
    ``(quantile_value, total_weight, threshold)``.
    """
    if q_num <= 0 or q_den <= 0 or q_num > q_den:
        raise ValueError("quantile must satisfy 0 < q_num/q_den <= 1")
    base = df.select(
        F.col(value_col).alias("__v"),
        F.col(weight_col).cast("bigint").alias("__w"),
        F.col(tiebreak_col).alias("__tb"),
    ).where(F.col("__v").isNotNull() & (F.col("__w") > 0))

    # pin_partition_ids: cells + candidate layers join back on __pid —
    # frozen mapping required (operators/checkpoints.py:pin_partition_ids).
    part = pin_partition_ids(
        base.repartitionByRange(num_partitions, "__v", "__tb").withColumn(
            "__pid", F.spark_partition_id()
        )
    )
    cells = part.groupBy("__pid").agg(F.sum("__w").alias("__cw"))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = cells.select(
        "__pid",
        F.coalesce(F.sum("__cw").over(w_off), F.lit(0)).alias("__off"),
        F.col("__cw"),
    )
    total = offsets.agg(
        (F.max(F.col("__off") + F.col("__cw"))).alias("__tw")
    )
    # threshold T = ceil(W * q_num / q_den), exact in bigints
    thr = total.select(
        "__tw",
        F.expr(f"(__tw * {q_num} + {q_den} - 1) div {q_den}").alias("__thr"),
    )
    # candidate cells: those whose span [off, off+cw] can contain T
    cand = (
        part.join(F.broadcast(offsets), "__pid")
        .crossJoin(F.broadcast(thr))
        .where(
            (F.col("__off") < F.col("__thr"))
            & (F.col("__off") + F.col("__cw") >= F.col("__thr"))
        )
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy("__v", "__tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    crossed = cand.withColumn(
        "__cum", F.col("__off") + F.sum("__w").over(w_local)
    ).where(F.col("__cum") >= F.col("__thr"))
    return crossed.agg(
        F.min("__v").alias("quantile_value"),
        F.min("__tw").cast("bigint").alias("total_weight"),
        F.min("__thr").cast("bigint").alias("threshold"),
    )


def group_quantiles_from_counts(
    counts: DataFrame,
    group_col: str,
    value_col: str,
    count_col: str,
    quantiles: Mapping[str, float],
) -> DataFrame:
    """``group_quantiles_exact`` over a pre-aggregated per-(group, value)
    COUNT table — the mergeable-partial entry point (the ks_from_counts
    stance): per-value counts sum-merge exactly across shards or stream
    microbatches, so a streaming metrics layer that appends count
    partials and calls this on the merged-on-read table reproduces the
    row-level selector bit-for-bit (same ``q·(n−1)`` rank arithmetic,
    same ``lo·(1−frac) + hi·frac`` interpolation).

    The cumulative layer is a window over the per-group DISTINCT-VALUE
    table (bounded by the value domain, not the row count), so no group
    ever buffers its rows.
    """
    if not quantiles:
        raise ValueError("quantiles must name at least one quantile")
    for name, q in quantiles.items():
        if not 0.0 <= float(q) <= 1.0:
            raise ValueError(f"quantile {name}={q} outside [0, 1]")

    g = counts.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("double").alias("__v"),
        F.col(count_col).cast("bigint").alias("__c"),
    ).where(F.col("__v").isNotNull() & (F.col("__c") > 0))

    w_cum = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.withColumn("__cw", F.sum("__c").over(w_cum))
    n = g.groupBy("__g").agg(F.sum("__c").alias("__n"))

    qlits = F.array(*[F.lit(float(q)) for q in quantiles.values()])
    ranks = (
        n.select("__g", F.explode(qlits).alias("__q"), "__n")
        .withColumn("__r", F.col("__q") * (F.col("__n") - F.lit(1)))
        .select(
            "__g",
            "__q",
            (F.floor("__r") + 1).cast("bigint").alias("__k_lo"),
            (F.col("__r") - F.floor("__r")).alias("__frac"),
        )
        .withColumn(
            "__k_hi",
            F.col("__k_lo")
            + F.when(F.col("__frac") > 0, F.lit(1)).otherwise(F.lit(0)),
        )
    )
    j = cum.join(ranks, "__g")
    picked = j.groupBy("__g", "__q").agg(
        F.min(
            F.when(F.col("__cw") >= F.col("__k_lo"), F.col("__v"))
        ).alias("__v_lo"),
        F.min(
            F.when(F.col("__cw") >= F.col("__k_hi"), F.col("__v"))
        ).alias("__v_hi"),
        F.min("__frac").alias("__frac"),
    )
    interpolated = picked.select(
        "__g",
        "__q",
        F.when(F.col("__frac") == 0, F.col("__v_lo"))
        .otherwise(
            F.col("__v_lo") * (F.lit(1.0) - F.col("__frac"))
            + F.col("__v_hi") * F.col("__frac")
        )
        .alias("__val"),
    )
    named = interpolated.groupBy("__g").agg(
        *[
            F.min(
                F.when(F.col("__q") == float(q), F.col("__val"))
            ).alias(name)
            for name, q in quantiles.items()
        ]
    )
    return named.withColumnRenamed("__g", group_col)
