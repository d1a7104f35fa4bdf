"""Distributed order statistics — the one exclusive-prefix operator
(``grouped_prefix_sums``) and the exact rank metrics built on it (ROC AUC
via the Mann-Whitney U rank statistic, average precision).

A global ``Window.orderBy(...)`` with no partition key funnels the whole
corpus through ONE task.  ``grouped_prefix_sums`` is a segmented scan
instead (Blelloch, *Prefix Sums and Their Applications*): per group, or
over the whole frame with ``group_cols=[]`` (one segment),

1. ``repartitionByRange`` on (group, order) so each partition holds a
   contiguous slice of each group's order;
2. a LOCAL window prefix sum inside each (partition, group) cell;
3. a tiny per-cell totals table, whose own exclusive prefix (at most
   ``num_partitions`` rows per group) broadcasts back as the cell offset.

Cost: one range shuffle + one bounded local window + one broadcast.  No
task ever sees more than ~|corpus| / num_partitions rows.  Every global
or per-group running sum in the package goes through it
(``operators/rankstats.py``, ``operators/quantiles.py``'s rank layer and
the registered queries); ``tests/test_plan_lint.py`` lets only it, and
the two operators with cells of their own (``weighted_quantile_exact``,
``pareto_frontier_2d``), pin a partition-id frame.

Reference scope note: the reference engine (558-LoC Scala ETL,
``App.scala``/``SparkUtils.scala``) has no rank/window machinery at all —
this belongs to the SURVEY §2.8 analytics surface the new engine adds.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.checkpoints import (
    eager_terminal,
    pin_partition_ids,
)


def grouped_prefix_sums(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    num_partitions: int = 64,
) -> DataFrame:
    """Exclusive prefix sums per group: ``<c>_before`` is the sum of
    ``c`` over rows of the SAME group strictly before this row in the
    group's ``order_cols`` order — running totals for millions of
    groups of any size without a per-group buffer.  ``group_cols=[]``
    is one group: the global running total in ``order_cols`` order.

    The group key is prepended to the range partitioning and to both
    window partitionings: each (partition, group) cell takes a bounded
    local window, and each group's per-cell offset table holds at most
    ``num_partitions`` rows (its own window is per-group bounded).  The
    caller must ensure (group_cols, order_cols) is a total order — with
    duplicate keys "strictly before" would be ambiguous between engines
    — and sum columns must be integral (bigint-safe), so partial sums
    are associative and engine-portable.
    """
    if not order_cols or not sum_cols:
        raise ValueError("order_cols and sum_cols must be non-empty")

    # pin_partition_ids: both window layers join back on __pid — frozen
    # pid mapping required (operators/checkpoints.py:pin_partition_ids).
    part = pin_partition_ids(
        df.repartitionByRange(
            num_partitions,
            *[F.col(c) for c in (*group_cols, *order_cols)],
        ).withColumn("__pid", F.spark_partition_id())
    )

    cells = part.groupBy("__pid", *group_cols).agg(
        *[F.sum(F.col(c)).alias(f"__tot_{c}") for c in sum_cols]
    )
    w_cells = (
        Window.partitionBy(*group_cols)
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = cells.select(
        "__pid",
        *group_cols,
        *[
            F.coalesce(F.sum(f"__tot_{c}").over(w_cells), F.lit(0))
            .alias(f"__off_{c}")
            for c in sum_cols
        ],
    )

    w_local = (
        Window.partitionBy("__pid", *group_cols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = part.join(F.broadcast(offsets), ["__pid", *group_cols])
    for c in sum_cols:
        out = out.withColumn(
            f"{c}_before",
            (
                F.col(f"__off_{c}")
                + F.coalesce(F.sum(F.col(c)).over(w_local), F.lit(0))
            ).cast("bigint"),
        )
    return out.drop("__pid", *[f"__off_{c}" for c in sum_cols])


@eager_terminal
def roc_auc_exact(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "is_pos",
    num_partitions: int = 64,
) -> DataFrame:
    """Exact ROC AUC by the Mann-Whitney U rank statistic, tie-corrected,
    in pure integer arithmetic.

    ``scored`` must have an integral ``score_col`` and a 0/1 ``label_col``.
    With ``np(s)`` positives and ``nn(s)`` negatives at each distinct
    score and ``neg_below(s)`` the negatives at strictly lower scores,

        2·U = 2·Σ np(s)·neg_below(s) + Σ np(s)·nn(s)
        AUC = U / (n_pos · n_neg)

    Returns one row ``(n_pos, n_neg, u2, auc_ppm)`` with
    ``auc_ppm = ⌊2U · 500000 / (n_pos · n_neg)⌋`` (AUC in parts-per-
    million, exact floor division — engine-portable, no float division).
    Single-class input (no positives or no negatives) is a defined
    degenerate: the counts row is still emitted with ``auc_ppm`` NULL
    (AUC is undefined there), guarded so ANSI mode cannot raise a
    divide-by-zero.  The per-score aggregate makes score ties exact
    (average-rank semantics), and the prefix layer is the
    range-partitioned cell-offset pattern, so no task ever holds a
    whole score ordering.

    EAGER: the one-row result is materialized and the internal partition
    pin released before returning, so looping callers cannot accumulate
    CacheManager entries (the returned frame reads the checkpointed row,
    lineage-free).  Without a session checkpoint directory that is a
    ``localCheckpoint`` — right on ``local[*]``, but its blocks die with
    a decommissioned executor and the truncated lineage cannot
    recompute; on a cluster with dynamic allocation set
    ``spark.checkpoint.dir`` for the reliable path
    (``operators/checkpoints.py:eager_terminal``).
    """
    g = scored.groupBy(F.col(score_col).alias("__s")).agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum(F.col(label_col).cast("bigint")).alias("__np"),
    ).withColumn("__nn", F.col("__n") - F.col("__np"))

    pre = grouped_prefix_sums(
        g, [], ["__s"], ["__nn"], num_partitions=num_partitions
    )
    # coalesce: sums over an EMPTY input are NULL — the degenerate
    # contract is a defined counts row (zeros), not NULL counts.
    # DECIMAL(38,0) intermediates: the per-cell product np*nn_before is
    # O(n_pos*n_neg) and `u2 * 500000` another 6 decimal digits — plain
    # bigint math ANSI-overflows near ~10M rows per class, far below the
    # design scale. The reported u2 column stays bigint (exact while
    # 2U < 2^63, i.e. n_pos*n_neg ≲ 4.6e18); auc_ppm (≤ 1e6) is computed
    # entirely in decimal and never overflows.
    return pre.agg(
        F.coalesce(F.sum("__np"), F.lit(0)).cast("bigint").alias("n_pos"),
        F.coalesce(F.sum("__nn"), F.lit(0)).cast("bigint").alias("n_neg"),
        F.coalesce(
            F.lit(2)
            * F.sum(
                F.col("__np").cast("decimal(38,0)") * F.col("__nn_before")
            )
            + F.sum(F.col("__np").cast("decimal(38,0)") * F.col("__nn")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "u2",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr(
                "cast(u2 as decimal(38,0)) * 500000 "
                "div (cast(n_pos as decimal(38,0)) * n_neg)"
            ),
        )
        .cast("bigint")
        .alias("auc_ppm"),
    )


@eager_terminal
def average_precision_exact(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "is_pos",
    num_partitions: int = 64,
) -> DataFrame:
    """Exact average precision (area under the step PR curve) in pure
    integer arithmetic — the PR-side companion to ``roc_auc_exact``.

    Thresholds sweep the distinct scores descending; at each threshold
    ``s`` every row with score ≥ s is predicted positive, so with
    ``tp(s)``/``n(s)`` the positives/rows at score ≥ s and ``np(s)`` the
    positives exactly at ``s``,

        AP = Σ_s (np(s)/P) · (tp(s)/n(s))

    (the step interpolation — each threshold's recall gain times its
    precision).  Each cell's ``10⁹·np·tp div n`` is an exact integer
    floor (no float anywhere, not even a quantized log), summed as
    bigints; the final ``ap_ppm = Σ div (1000·P)``.  The ≥-cumulative
    counts come from ascending exclusive prefix sums plus broadcast
    totals, so no task ever holds a full score ordering.  Returns one
    row ``(n_pos, n_total, ap_ppm)`` — always exactly one row: with no
    positive rows AP is undefined, so the row carries ``n_pos = 0`` and
    ``ap_ppm`` NULL instead of coming back empty (and the division is
    guarded so ANSI mode cannot raise on ``P = 0``).

    EAGER like ``roc_auc_exact``: one-row result materialized, the
    internal pin released before returning.
    """
    g = scored.groupBy(F.col(score_col).alias("__s")).agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum(F.col(label_col).cast("bigint")).alias("__np"),
    )
    pre = grouped_prefix_sums(
        g, [], ["__s"], ["__n", "__np"], num_partitions=num_partitions
    )
    # coalesce: sum over an EMPTY input is NULL — the documented contract
    # is one row with n_pos = 0 / n_total = 0, not a row of NULL counts
    tot = pre.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("__nt"),
        F.coalesce(F.sum("__np"), F.lit(0)).cast("bigint").alias("__pt"),
    )
    cells = pre.crossJoin(F.broadcast(tot)).select(
        "__np",
        (F.col("__nt") - F.col("__n_before")).alias("__n_ge"),
        (F.col("__pt") - F.col("__np_before")).alias("__tp_ge"),
        "__pt",
    )
    # Per-cell floor division stays in DECIMAL end-to-end.  `div`
    # (IntegralDivide) always RETURNS bigint regardless of operand type, so
    # `a div b` would reintroduce the very ceiling the decimal accumulation
    # lifts (a cell's floor approaches 1e9·np, overflowing bigint near
    # P ≈ 9.2e9 positives).  Instead the exact floor is computed by the
    # remainder identity floor(a/b) = (a - a % b) / b: decimal `%` and `-`
    # are exact, and the final `/` divides evenly by construction, so the
    # decimal(38,6) quotient is an exact integer and the cast to
    # decimal(38,0) is lossless.  Exact while 1e9·np·tp_ge < 10^38
    # (np·tp_ge < 10^29) — past any corpus.
    contrib = cells.filter(F.col("__np") > 0).select(
        "__pt",
        "__n_ge",
        F.expr("cast(1000000000 as decimal(38,0)) * __np * __tp_ge").alias(
            "__num"
        ),
    ).select(
        "__pt",
        F.expr(
            "cast((__num - __num % __n_ge) / __n_ge as decimal(38,0))"
        ).alias("__c"),
    )
    # DECIMAL(38,0) accumulation: __sc sums per-cell 1e9-scaled floors —
    # up to 1e9 * P total, which ANSI-overflows a bigint sum near 9e9
    # positives; the divisor 1000 * P gets the same treatment.
    ap = contrib.groupBy("__pt").agg(
        F.sum(F.col("__c").cast("decimal(38,0)")).alias("__sc")
    )
    return (
        tot.join(F.broadcast(ap), "__pt", "left")
        .select(
            F.col("__pt").alias("n_pos"),
            F.col("__nt").alias("n_total"),
            F.when(
                F.col("__pt") > 0,
                F.expr(
                    "cast(__sc div (cast(1000 as decimal(38,0)) * __pt) "
                    "as bigint)"
                ),
            ).alias("ap_ppm"),
        )
    )
