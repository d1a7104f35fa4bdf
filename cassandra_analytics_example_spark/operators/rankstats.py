"""Exact distributed rank statistics — Spearman correlation, Gini
concentration, two-sample Kolmogorov–Smirnov, Kaplan–Meier survival and
the CUSUM changepoint scan, each over the whole input or per group.

All five reduce to the same scale-safe skeleton:

1. collapse the corpus to its DISTINCT (group, value) cells (one
   groupBy — map-side combinable, output bounded by the value domain,
   never the row count);
2. lay the cells on each group's value order with the one
   range-partitioned exclusive-prefix operator
   (``operators/ranking.py:grouped_prefix_sums`` — range shuffle +
   bounded local window + broadcast cell offsets, never a single-task
   window);
3. finish with exact integer algebra (DECIMAL(38,0) moments where
   products can outgrow bigint), so every output hash-matches a SQL
   oracle bit-for-bit.

Each statistic has ONE private implementation (``_spearman``,
``_gini``, ``_ks``, ``_kaplan_meier``, ``_cusum``) over a possibly
empty list of group columns; the public global and ``*_grouped`` names
are thin entry points over it, so the two forms cannot drift apart.
With no group columns the aggregates are global (``groupBy()``) and the
joins onto per-group totals become broadcast cross joins of the one-row
side (``_join_on``).  What differs stays explicit in the
implementation: the grouped forms drop degenerate groups (zero total,
no variance, a missing sample), the global forms return their row
whatever the input, and only the global KS reports ``d_at``.

Float appears in exactly two sanctioned forms (the q214 precedent):
a single deterministic closed-form expression over exact moments
(Spearman's rho), or per-cell ``floor``-quantized ``ln`` contributions
summed as integers (Kaplan–Meier's log-survival) — never a float
accumulation whose partition order could differ between engines.

Every PUBLIC metric here is EAGER and self-releasing
(``checkpoints.eager_terminal``): the prefix layer pins its range
partitioning (``pin_partition_ids``), and a lazy return would park that
pin in the CacheManager until an explicit release — so a monitoring
loop calling metrics per-slice would accumulate entries without bound
(the round-8 advisor scenario, fixed first for ``roc_auc_exact``).  The
building blocks (``doubled_average_ranks``, ``ks_from_counts``,
``densify_counts``) stay lazy for composition; wrap loops over THEM in
``pin_scope``.

Reference scope note: the reference engine
(smiklosovic/cassandra-analytics-example, ``App.scala`` /
``SparkUtils.scala``) ships no statistics at all — this module belongs
to the SURVEY §2.8 analytics surface the Spark engine adds on top of
the reference's ETL job shapes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.checkpoints import (
    eager_terminal,
)
from cassandra_analytics_example_spark.operators.ranking import (
    grouped_prefix_sums,
)

_DEC = "decimal(38,0)"


def _group_keys(
    group_cols: Sequence[str],
) -> tuple[list[str], list[Column], list[Column]]:
    """Internal names of the caller's group columns, the select that
    renames them in, and the one that renames them back.  The internal
    names keep a group column from colliding with a statistic's own
    columns (``t``, ``n``, ``h`` ...)."""
    keys = [f"__grp{i}" for i in range(len(group_cols))]
    pairs = list(zip(group_cols, keys))
    return (
        keys,
        [F.col(c).alias(k) for c, k in pairs],
        [F.col(k).alias(c) for c, k in pairs],
    )


def _join_on(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """Inner join on the group keys.  With no keys ``right`` is the
    one-row global side and rides a broadcast cross join (PySpark's
    ``join(other, [])`` raises ``IndexError``)."""
    if keys:
        return left.join(right, keys)
    return left.crossJoin(F.broadcast(right))


def _doubled_ranks(
    df: DataFrame, keys: list[str], value_col: str, num_partitions: int
) -> DataFrame:
    g = df.groupBy(*keys, F.col(value_col)).agg(
        F.count("*").cast("bigint").alias("__n")
    )
    pre = grouped_prefix_sums(
        g, keys, [value_col], ["__n"], num_partitions=num_partitions
    )
    return pre.select(
        *keys,
        value_col,
        "__n",
        (F.lit(2) * F.col("__n_before") + F.col("__n") + F.lit(1))
        .cast("bigint")
        .alias("__r2"),
    )


def doubled_average_ranks(
    df: DataFrame, value_col: str, num_partitions: int = 64
) -> DataFrame:
    """Per distinct value of ``value_col``: the DOUBLED average rank of
    that value's rows under ascending order (``2r`` is always an exact
    integer even for fractional tie-averaged ranks) plus the tie count.

    With ``n(v)`` rows at value ``v`` and ``b(v)`` rows strictly below,
    average-rank semantics give ``r(v) = b(v) + (n(v)+1)/2``, so
    ``2·r(v) = 2·b(v) + n(v) + 1`` — integer arithmetic end to end.
    Returns ``(value_col, __n, __r2)``; the group table is bounded by
    the distinct-value count and the prefix layer is the range-cell +
    broadcast-offset pattern, so no task ever holds a full ordering.
    """
    return _doubled_ranks(df, [], value_col, num_partitions)


def _spearman(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    num_partitions: int,
) -> DataFrame:
    keys, key_in, key_out = _group_keys(group_cols)
    # NULL rows are excluded UP FRONT (see spearman_rho)
    d = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()).select(
        *key_in, x_col, y_col
    )
    rx = _doubled_ranks(d, keys, x_col, num_partitions).select(
        *keys, x_col, F.col("__r2").alias("__rx")
    )
    ry = _doubled_ranks(d, keys, y_col, num_partitions).select(
        *keys, y_col, F.col("__r2").alias("__ry")
    )
    ranked = (
        d.join(rx, [*keys, x_col])
        .join(ry, [*keys, y_col])
        .select(*keys, F.col("__rx").alias("x"), F.col("__ry").alias("y"))
    )
    m = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        # operands cast BEFORE the multiply: doubled ranks are O(n), so
        # a bigint sum of rank products is O(n^3) and overflows past ~2e6
        # rows; the decimal(38,0) sums are exact to 4n^3 < 1e38.
        F.sum(F.col("x").cast(_DEC) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
    )
    # Centered-moment identity: doubled tie-averaged ranks over n rows sum
    # to EXACTLY n(n+1) (tie-averaging preserves the total), so both means
    # are the integer (n+1) and Pearson's numerator/variances reduce to
    #   sum(x'y') = sxy - n(n+1)^2,   sum(x'^2) = sxx - n(n+1)^2
    # with x' = x - (n+1).  Every quantity stays O(n^3) — no n*sxx-style
    # decimal-times-decimal product of two 38-digit values (the old form
    # was O(n^4) and bound at ~2e9 rows).  Exact range: 4n^3 < 1e38,
    # i.e. n ~ 2.9e12 rows per correlation (proved at the formula level
    # by tests/test_rankstats_properties.py near-ceiling case).
    if keys:
        # per-group form: only groups with variance in BOTH variables
        m = m.where(
            (F.expr("sxx - n * (n + 1) * (n + 1)") > 0)
            & (F.expr("syy - n * (n + 1) * (n + 1)") > 0)
        )
    return m.select(
        *key_out,
        F.col("n").cast("bigint").alias("n"),
        (
            F.expr("cast(sxy - n * (n + 1) * (n + 1) as double)")
            / (
                F.sqrt(F.expr("cast(sxx - n * (n + 1) * (n + 1) as double)"))
                * F.sqrt(
                    F.expr("cast(syy - n * (n + 1) * (n + 1) as double)")
                )
            )
        ).alias("rho"),
    )


@eager_terminal
def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """Exact tie-corrected Spearman rank correlation of two integral
    columns: one row ``(n, rho)``.

    Ranks are tie-averaged and carried DOUBLED (exact integers); rho is
    Pearson's r over the doubled ranks — scaling both variables by 2
    leaves r unchanged — computed from four exact DECIMAL(38,0) moments
    via the centered-moment identity (doubled ranks sum to exactly
    n(n+1), so the mean is the integer n+1) with a single closed-form
    float expression (the q214 discipline: exact order-invariant sums,
    one deterministic division at the end).  Exact to ~2.9e12 rows
    (4n^3 < 1e38).

    Three bounded passes: two distinct-value rank tables (each a groupBy
    + prefix layer over the value domain), one broadcast-join of the
    rank tables back onto the rows, one moment aggregation.

    NULL rows are excluded UP FRONT (pairwise-complete semantics): the
    centered identity requires the ranks to be computed over exactly the
    rows that reach the moment aggregation — ranks built over a corpus
    that includes NULL rows the join then drops would break
    sum(2r) = n(n+1) and could push |rho| past 1 or under a sqrt of a
    negative (round-9 review finding).
    """
    return _spearman(df, [], x_col, y_col, num_partitions)


@eager_terminal
def spearman_grouped(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """``spearman_rho`` per group — one row ``(group, n, rho)`` per
    group with variance in both variables; exact to ~2.9e12 rows PER
    GROUP.  Doubled tie-averaged ranks per group come from per-(group,
    value) counts plus the grouped prefix operator (no per-group
    buffer)."""
    return _spearman(df, [group_col], x_col, y_col, num_partitions)


def _gini(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    num_partitions: int,
) -> DataFrame:
    keys, key_in, key_out = _group_keys(group_cols)
    # NULL measures are excluded up front (same rationale as spearman_rho:
    # a NULL row would ride the prefix layer while the moment sums skip
    # its products, so n and the moments would disagree)
    g = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*key_in, F.col(value_col).alias("__v"))
        .agg(F.count("*").cast("bigint").alias("__n"))
    )
    pre = grouped_prefix_sums(
        g, keys, ["__v"], ["__n"], num_partitions=num_partitions
    )
    m = pre.groupBy(*keys).agg(
        F.sum("__n").cast(_DEC).alias("n"),
        F.sum(F.col("__v").cast(_DEC) * F.col("__n")).alias("sx"),
        F.sum(
            F.col("__v").cast(_DEC)
            * (
                F.col("__n").cast(_DEC) * F.col("__n_before")
                + (
                    F.col("__n").cast(_DEC)
                    * (F.col("__n") + F.lit(1))
                    / F.lit(2)
                ).cast(_DEC)
            )
        ).alias("srx"),
    )
    if keys:
        m = m.where(F.col("sx") > 0)  # per-group form: non-zero totals
    return m.select(
        *key_out,
        F.col("n").cast("bigint").alias("n"),
        F.col("sx").cast("bigint").alias("total"),
        F.expr(
            "cast((2 * srx - (n + 1) * sx) * 1000000 div (n * sx) as bigint)"
        ).alias("gini_ppm"),
    )


@eager_terminal
def gini_exact(
    df: DataFrame, value_col: str, num_partitions: int = 64
) -> DataFrame:
    """Exact Gini coefficient of a non-negative integral column, in
    parts-per-million: one row ``(n, total, gini_ppm)``.

    With the values sorted ascending and 1-based ranks ``i``,
    ``G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx)``; ties make the rank
    assignment within a value group arbitrary, but equal values make
    ``Σ i·x_i`` invariant to that choice, so the statistic is exact.
    Per distinct value ``v`` with count ``n(v)`` and ``b(v)`` rows
    strictly below, the group's rank sum is
    ``Σ_i i = n(v)·b(v) + n(v)·(n(v)+1)/2``, so

        Σ i·x_i = Σ_v v · (n(v)·b(v) + n(v)·(n(v)+1)/2)

    — a distinct-value groupBy plus one prefix layer, never a global
    sort of the rows.  All products run in DECIMAL(38,0); the output is
    the exact floor of ``10⁶·G``.
    """
    return _gini(df, [], value_col, num_partitions)


@eager_terminal
def gini_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """``gini_exact`` per group — one row ``(group, n, total, gini_ppm)``
    per group with a non-zero total, so millions of groups of any size
    never buffer."""
    return _gini(df, [group_col], value_col, num_partitions)


def _ks_counts(
    df: DataFrame, group_cols: Sequence[str], value_col: str, split_col: str
) -> DataFrame:
    """Per-(group, value) sample counts ``(keys..., __v, __na, __nb)``
    of a binary ``split_col`` (0 = sample a, anything else = b)."""
    _, key_in, _ = _group_keys(group_cols)
    return (
        df.where(F.col(value_col).isNotNull() & F.col(split_col).isNotNull())
        .groupBy(*key_in, F.col(value_col).alias("__v"))
        .agg(
            F.sum(
                F.when(F.col(split_col) == 0, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("__na"),
            F.sum(
                F.when(F.col(split_col) == 0, F.lit(0)).otherwise(F.lit(1))
            )
            .cast("bigint")
            .alias("__nb"),
        )
    )


def _ks(
    g: DataFrame, group_cols: Sequence[str], num_partitions: int
) -> DataFrame:
    keys, _, key_out = _group_keys(group_cols)
    pre = grouped_prefix_sums(
        g, keys, ["__v"], ["__na", "__nb"], num_partitions=num_partitions
    )
    tot = pre.groupBy(*keys).agg(
        F.sum("__na").cast("bigint").alias("n_a"),
        F.sum("__nb").cast("bigint").alias("n_b"),
    )
    gap = _join_on(pre, tot, keys).select(
        *keys,
        "__v",
        "n_a",
        "n_b",
        F.abs(
            (F.col("__na_before") + F.col("__na")).cast(_DEC) * F.col("n_b")
            - (F.col("__nb_before") + F.col("__nb")).cast(_DEC)
            * F.col("n_a")
        ).alias("__gap"),
    )
    d_ppm = F.expr(
        "cast(__best * 1000000 div "
        "(cast(n_a as decimal(38,0)) * n_b) as bigint)"
    ).alias("d_ppm")
    if keys:
        # per-group form: groups missing a sample are dropped
        return (
            gap.where((F.col("n_a") > 0) & (F.col("n_b") > 0))
            .groupBy(*keys, "n_a", "n_b")
            .agg(F.max("__gap").alias("__best"))
            .select(*key_out, "n_a", "n_b", d_ppm)
        )
    # global form: also the smallest value attaining the supremum
    best = gap.agg(F.max("__gap").alias("__best"))
    return (
        gap.join(F.broadcast(best), gap["__gap"] == best["__best"])
        .groupBy("n_a", "n_b", "__best")
        .agg(F.min("__v").cast("bigint").alias("d_at"))
        .select("n_a", "n_b", d_ppm, "d_at")
    )


@eager_terminal
def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the two
    groups of a binary ``group_col`` (0/1 integral): one row
    ``(n_a, n_b, d_ppm, d_at)`` where ``d_ppm = ⌊10⁶·D⌋`` and ``d_at``
    is the smallest value attaining the supremum.

    The ECDF difference only changes at distinct observed values, so
    ``D = max_v |A(v)·n_b − B(v)·n_a| / (n_a·n_b)`` with ``A(v)``/
    ``B(v)`` the cumulative counts through ``v`` — a per-value groupBy,
    one prefix layer over the merged value order, and exact integer
    cross-multiplication (no per-sample division, no float ECDFs).
    Incomplete rows are excluded up front (see spearman_rho/gini_exact).
    """
    return _ks(_ks_counts(df, [], value_col, group_col), [], num_partitions)


def ks_from_counts(
    g: DataFrame, num_partitions: int = 64
) -> DataFrame:
    """KS statistic from a pre-aggregated per-value count table
    ``(__v, __na, __nb)`` — the mergeable-partial entry point: per-value
    counts sum-merge exactly across shards or stream microbatches, so a
    streaming monitor that appends count partials and calls this on the
    merged-on-read table is bit-identical to the batch recompute."""
    return _ks(g, [], num_partitions)


@eager_terminal
def ks_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    split_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """Per-group two-sample KS — one row ``(group, n_a, n_b, d_ppm)``
    per group with both samples non-empty: the "which slice drifted"
    monitoring table, with any number of groups of any size and no
    per-group buffer."""
    return _ks(
        _ks_counts(df, [group_col], value_col, split_col),
        [group_col],
        num_partitions,
    )


def _kaplan_meier(
    df: DataFrame,
    group_cols: Sequence[str],
    duration_col: str,
    event_col: str,
    num_partitions: int,
) -> DataFrame:
    keys, key_in, key_out = _group_keys(group_cols)
    # incomplete rows excluded up front — see spearman_rho/gini_exact
    df = df.where(
        F.col(duration_col).isNotNull() & F.col(event_col).isNotNull()
    )
    g = df.groupBy(*key_in, F.col(duration_col).alias("t")).agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum(F.col(event_col).cast("bigint")).alias("n_events"),
    ).withColumn("n_censored", F.col("__n") - F.col("n_events"))
    pre = grouped_prefix_sums(
        g, keys, ["t"], ["__n"], num_partitions=num_partitions
    )
    tot = pre.groupBy(*keys).agg(F.sum("__n").cast("bigint").alias("__grand"))
    risk = _join_on(pre, tot, keys).select(
        *keys,
        "t",
        "n_events",
        "n_censored",
        (F.col("__grand") - F.col("__n_before"))
        .cast("bigint")
        .alias("n_risk"),
    )
    # Per-step quantized log factor; durations where nobody dies
    # contribute 0 and are dropped from the output (standard KM table).
    # A step where EVERYONE at risk dies drives S to exactly 0 — ln(0)
    # is undefined, so the step contributes 0 to the running sum and a
    # death marker instead; log_s_nano is NULL at and after that step
    # (the marker rides the same prefix pass, so no extra shuffle).
    step = risk.withColumn(
        "__step",
        F.when(
            (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_risk")),
            F.floor(
                F.lit(1_000_000_000.0)
                * F.log(
                    (F.col("n_risk") - F.col("n_events")).cast("double")
                    / F.col("n_risk").cast("double")
                )
            ).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    ).withColumn(
        "__died",
        F.when(F.col("n_events") >= F.col("n_risk"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint"),
    )
    cum = grouped_prefix_sums(
        step, keys, ["t"], ["__step", "__died"], num_partitions=num_partitions
    )
    return (
        cum.filter(F.col("n_events") > 0)
        .select(
            *key_out,
            F.col("t").cast("bigint").alias("t"),
            "n_risk",
            "n_events",
            "n_censored",
            F.when(
                F.col("__died_before") + F.col("__died") > 0,
                F.lit(None).cast("bigint"),
            )
            .otherwise(
                (F.col("__step_before") + F.col("__step")).cast("bigint")
            )
            .alias("log_s_nano"),
        )
    )


@eager_terminal
def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """Exact Kaplan–Meier survival table over integral durations with a
    0/1 ``event_col`` (1 = event observed, 0 = right-censored at that
    duration): one row per distinct duration with at least one observed
    event — ``(t, n_risk, n_events, n_censored, log_s_nano)``.

    ``n_risk(t)`` is subjects with duration ≥ t, computed as
    ``N − (rows strictly below t)`` from one prefix layer.  The product
    estimator ``S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ)`` is carried in log space
    with each step's ``ln(1 − dᵢ/nᵢ)`` floor-quantized to integer
    nano-nats BEFORE the cumulative sum (the repo's sanctioned
    quantize-then-integer-sum pattern), so the running sum is exact
    integer arithmetic and engine-portable; the cumulative layer is a
    second bounded prefix pass over the distinct-duration table.
    ``log_s_nano`` is NULL at and after any step where every subject at
    risk dies (S hits exactly 0; its logarithm is undefined).
    """
    return _kaplan_meier(df, [], duration_col, event_col, num_partitions)


@eager_terminal
def kaplan_meier_grouped(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """Per-cohort Kaplan–Meier — the ``kaplan_meier`` table per group
    (signup cohorts, experiment arms), any number of cohorts of any size
    without a per-cohort buffer.  NULL log-S at and after a cohort's
    extinction step."""
    return _kaplan_meier(
        df, [group_col], duration_col, event_col, num_partitions
    )


def _cusum(
    d: DataFrame, group_cols: Sequence[str], num_partitions: int
) -> DataFrame:
    keys, key_in, key_out = _group_keys(group_cols)
    d = d.select(*key_in, "h", "c")
    t = d.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("total"),
    )
    dev = _join_on(d, t, keys).select(
        *keys,
        "h",
        "n",
        "total",
        (F.col("n") * F.col("c") - F.col("total")).alias("dev"),
    )
    cu = grouped_prefix_sums(
        dev, keys, ["h"], ["dev"], num_partitions=num_partitions
    ).select(
        *keys, "h", "n", "total", (F.col("dev_before") + F.col("dev")).alias("s")
    )
    m = cu.groupBy(*keys).agg(F.max(F.abs(F.col("s"))).alias("peak"))
    at = (
        _join_on(cu, m, keys)
        .where(F.abs(F.col("s")) == F.col("peak"))
        .groupBy(*keys)
        .agg(F.min("h").cast("bigint").alias("change_at_hour"))
    )
    return _join_on(_join_on(t, m, keys), at, keys).select(
        *key_out,
        F.col("n").alias("n_hours"),
        F.col("total").alias("n_events"),
        "change_at_hour",
        F.expr(
            "cast(cast(peak as decimal(38,0)) * 1000000 div n as bigint)"
        ).alias("peak_micro_events"),
    )


@eager_terminal
def cusum_changepoint_from_counts(
    d: DataFrame, num_partitions: int = 64
) -> DataFrame:
    """CUSUM changepoint scan over a dense per-bucket count table
    ``(h, c)`` — the mergeable-partial entry point (the ``ks_from_counts``
    stance): per-bucket counts sum-merge exactly across shards or stream
    microbatches, so a streaming monitor appending count partials and
    calling this on the merged-on-read dense table is bit-identical to
    the batch recompute.

    Scaling deviations by n turns the cumulative sum of ``c_i − mean``
    into ``Σ (n·c_i − total)`` — an exact integer prefix sum (range-
    partitioned, never one task).  Returns one row ``(n_hours, n_events,
    change_at_hour, peak_micro_events)`` with the earliest argmax of
    |CUSUM| and the peak scaled back by one exact division.
    """
    return _cusum(d, [], num_partitions)


@eager_terminal
def cusum_grouped_from_counts(
    d: DataFrame, group_col: str, num_partitions: int = 64
) -> DataFrame:
    """Per-group CUSUM changepoint scan over dense per-(group, bucket)
    counts ``(group, h, c)`` — one row ``(group, n_hours, n_events,
    change_at_hour, peak_micro_events)`` per group: the which-slice-
    changed monitor, with no per-slice buffer."""
    return _cusum(d, [group_col], num_partitions)


def densify_counts(e: DataFrame, bucket_col: str = "h") -> DataFrame:
    """Densify a sparse per-bucket count table ``(bucket_col, c)`` over
    the full observed integer bucket range, missing buckets = 0 — the
    shared spine for the hourly CUSUM/ACF family (q248/q249/s28), so the
    batch queries and their streaming twins cannot drift apart.  The
    spine explodes from the two-value bounds row; its size is the bucket
    range, never the corpus."""
    r = e.agg(
        F.min(bucket_col).alias("__h0"), F.max(bucket_col).alias("__h1")
    )
    spine = r.select(
        F.explode(F.sequence(F.col("__h0"), F.col("__h1"))).alias(bucket_col)
    )
    return spine.join(e, bucket_col, "left").select(
        bucket_col,
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
    )
