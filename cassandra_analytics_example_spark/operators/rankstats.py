"""Exact distributed rank statistics — Spearman correlation, Gini
concentration, two-sample Kolmogorov–Smirnov, Kaplan–Meier survival.

All four reduce to the same scale-safe skeleton:

1. collapse the corpus to its DISTINCT value groups (one groupBy —
   map-side combinable, output bounded by the value domain, never the
   row count);
2. lay the groups on the global value order with the range-partitioned
   exclusive-prefix operator (``operators/ranking.py`` — range shuffle +
   bounded local window + broadcast cell offsets, never a single-task
   global window);
3. finish with exact integer algebra (DECIMAL(38,0) moments where
   products can outgrow bigint), so every output hash-matches a SQL
   oracle bit-for-bit.

Float appears in exactly two sanctioned forms (the q214 precedent):
a single deterministic closed-form expression over exact moments
(Spearman's rho), or per-cell ``floor``-quantized ``ln`` contributions
summed as integers (Kaplan–Meier's log-survival) — never a float
accumulation whose partition order could differ between engines.

Every PUBLIC metric here is EAGER and self-releasing
(``_eager_terminal``): the prefix layer pins its range partitioning
(``pin_partition_ids``), and a lazy return would park that pin in the
CacheManager until an explicit release — so a monitoring loop calling
metrics per-slice would accumulate entries without bound (the round-8
advisor scenario, fixed first for ``roc_auc_exact``).  The building
blocks (``doubled_average_ranks``, ``ks_from_counts``,
``densify_counts``) stay lazy for composition; wrap loops over THEM in
``pin_scope``.

Reference scope note: the reference engine
(smiklosovic/cassandra-analytics-example, ``App.scala`` /
``SparkUtils.scala``) ships no statistics at all — this module belongs
to the SURVEY §2.8 analytics surface the Spark engine adds on top of
the reference's ETL job shapes.
"""

from __future__ import annotations

import functools
import inspect

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.checkpoints import (
    pin_scope,
    truncate_plan,
)
from cassandra_analytics_example_spark.operators.ranking import (
    exclusive_prefix_sums,
)

_DEC = "decimal(38,0)"


def _eager_terminal(fn):
    """Terminal-metric EAGER contract (operators/ranking.py:roc_auc_exact):
    build the lazy plan inside a ``pin_scope``, materialize it
    lineage-free (``truncate_plan``), release the internal partition pins
    before returning — looping callers hold ZERO CacheManager entries
    between calls.  ``truncate_plan`` picks the local or reliable cut
    from the session's checkpoint directory.

    The wrapper forwards ``*args``/``**kwargs`` against the wrapped fn's
    OWN signature (round-9 ADVICE: a named first parameter here silently
    renamed every metric's first argument to ``df`` and broke keyword
    calls like ``cusum_changepoint_from_counts(d=...)``); the session for
    ``pin_scope`` is taken from the bound first argument, which is the
    input DataFrame for every metric in this module."""
    sig = inspect.signature(fn)
    # The first bound argument must be the DataFrame, or pin_scope/
    # truncate_plan fail far from the call: check it at decoration time
    # (required positional) and at call time (a DataFrame). Raise, not
    # assert, so the checks hold under python -O.
    _first = next(iter(sig.parameters.values()))
    if _first.default is not inspect.Parameter.empty or _first.kind not in (
        inspect.Parameter.POSITIONAL_ONLY,
        inspect.Parameter.POSITIONAL_OR_KEYWORD,
    ):
        raise TypeError(
            f"{fn.__name__}: _eager_terminal requires the first parameter "
            f"to be a required positional DataFrame, got {_first}"
        )

    @functools.wraps(fn)
    def wrapper(*args, **kwargs) -> DataFrame:
        bound = sig.bind(*args, **kwargs)
        df = next(iter(bound.arguments.values()))
        if not isinstance(df, DataFrame):
            raise TypeError(
                f"{fn.__name__}: first argument must be the input "
                f"DataFrame (got {type(df).__name__}) - _eager_terminal "
                f"takes its SparkSession from it"
            )
        with pin_scope(df.sparkSession):
            return truncate_plan(fn(*args, **kwargs))

    return wrapper


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
    g = df.groupBy(F.col(value_col)).agg(
        F.count("*").cast("bigint").alias("__n")
    )
    pre = exclusive_prefix_sums(
        g, [value_col], ["__n"], num_partitions=num_partitions
    )
    return pre.select(
        value_col,
        "__n",
        (F.lit(2) * F.col("__n_before") + F.col("__n") + F.lit(1))
        .cast("bigint")
        .alias("__r2"),
    )


@_eager_terminal
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
    df = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    rx = doubled_average_ranks(df, x_col, num_partitions).withColumnRenamed(
        "__r2", "__rx"
    ).drop("__n")
    ry = doubled_average_ranks(df, y_col, num_partitions).withColumnRenamed(
        "__r2", "__ry"
    ).drop("__n")
    ranked = (
        df.select(x_col, y_col)
        .join(rx, x_col)
        .join(ry, y_col)
        .select(F.col("__rx").alias("x"), F.col("__ry").alias("y"))
    )
    m = ranked.agg(
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
    return m.select(
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


@_eager_terminal
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
    # NULL measures are excluded up front (same rationale as spearman_rho:
    # a NULL row would ride the prefix layer while the moment sums skip
    # its products, so n and the moments would disagree)
    df = df.where(F.col(value_col).isNotNull())
    g = df.groupBy(F.col(value_col).alias("__v")).agg(
        F.count("*").cast("bigint").alias("__n")
    )
    pre = exclusive_prefix_sums(
        g, ["__v"], ["__n"], num_partitions=num_partitions
    )
    m = pre.agg(
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
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("sx").cast("bigint").alias("total"),
        F.expr(
            "cast((2 * srx - (n + 1) * sx) * 1000000 div (n * sx) as bigint)"
        ).alias("gini_ppm"),
    )


@_eager_terminal
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
    """
    df = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )  # incomplete rows excluded up front — see spearman_rho/gini_exact
    g = df.groupBy(F.col(value_col).alias("__v")).agg(
        F.sum(
            F.when(F.col(group_col) == 0, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("__na"),
        F.sum(
            F.when(F.col(group_col) == 0, F.lit(0)).otherwise(F.lit(1))
        )
        .cast("bigint")
        .alias("__nb"),
    )
    return ks_from_counts(g, num_partitions=num_partitions)


def ks_from_counts(
    g: DataFrame, num_partitions: int = 64
) -> DataFrame:
    """KS statistic from a pre-aggregated per-value count table
    ``(__v, __na, __nb)`` — the mergeable-partial entry point: per-value
    counts sum-merge exactly across shards or stream microbatches, so a
    streaming monitor that appends count partials and calls this on the
    merged-on-read table is bit-identical to the batch recompute."""
    pre = exclusive_prefix_sums(
        g, ["__v"], ["__na", "__nb"], num_partitions=num_partitions
    )
    tot = pre.agg(
        F.sum("__na").cast("bigint").alias("n_a"),
        F.sum("__nb").cast("bigint").alias("n_b"),
    )
    cum = pre.select(
        "__v",
        (F.col("__na_before") + F.col("__na")).alias("__ca"),
        (F.col("__nb_before") + F.col("__nb")).alias("__cb"),
    ).crossJoin(F.broadcast(tot))
    gap = cum.select(
        "__v",
        "n_a",
        "n_b",
        F.abs(
            F.col("__ca").cast(_DEC) * F.col("n_b")
            - F.col("__cb").cast(_DEC) * F.col("n_a")
        ).alias("__gap"),
    )
    best = gap.agg(F.max("__gap").alias("__best"))
    return (
        gap.join(F.broadcast(best), gap["__gap"] == best["__best"])
        .groupBy("n_a", "n_b", "__best")
        .agg(F.min("__v").cast("bigint").alias("d_at"))
        .select(
            "n_a",
            "n_b",
            F.expr(
                "cast(__best * 1000000 div "
                "(cast(n_a as decimal(38,0)) * n_b) as bigint)"
            ).alias("d_ppm"),
            "d_at",
        )
    )


@_eager_terminal
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
    df = df.where(
        F.col(duration_col).isNotNull() & F.col(event_col).isNotNull()
    )  # incomplete rows excluded up front — see spearman_rho/gini_exact
    g = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum(F.col(event_col).cast("bigint")).alias("n_events"),
    ).withColumn("n_censored", F.col("__n") - F.col("n_events"))
    pre = exclusive_prefix_sums(
        g, ["t"], ["__n"], num_partitions=num_partitions
    )
    tot = pre.agg(F.sum("__n").cast("bigint").alias("__grand"))
    risk = pre.crossJoin(F.broadcast(tot)).select(
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
    cum = exclusive_prefix_sums(
        step, ["t"], ["__step", "__died"], num_partitions=num_partitions
    )
    return (
        cum.filter(F.col("n_events") > 0)
        .select(
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


@_eager_terminal
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
    t = d.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("total"),
    )
    dev = d.crossJoin(F.broadcast(t)).select(
        "h",
        "n",
        "total",
        (F.col("n") * F.col("c") - F.col("total")).alias("dev"),
    )
    cu = exclusive_prefix_sums(
        dev, ["h"], ["dev"], num_partitions=num_partitions
    ).select(
        "h", "n", "total", (F.col("dev_before") + F.col("dev")).alias("s")
    )
    m = cu.agg(F.max(F.abs(F.col("s"))).alias("peak"))
    at = cu.join(F.broadcast(m), F.abs(cu.s) == m.peak).agg(
        F.min("h").cast("bigint").alias("change_at_hour")
    )
    return (
        t.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(at))
        .select(
            F.col("n").alias("n_hours"),
            F.col("total").alias("n_events"),
            "change_at_hour",
            F.expr(
                "cast(cast(peak as decimal(38,0)) * 1000000 div n "
                "as bigint)"
            ).alias(
                "peak_micro_events"
            ),
        )
    )


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


@_eager_terminal
def gini_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """``gini_exact`` per group — one row ``(group, n, total, gini_ppm)``
    per group with a non-zero total, using the grouped prefix operator
    so millions of groups of any size never buffer: distinct
    (group, value) counts, per-group exclusive prefix of the counts,
    the same exact DECIMAL(38,0) rank-sum algebra per group."""
    df = df.where(F.col(value_col).isNotNull())  # see gini_exact
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    g = df.groupBy(
        F.col(group_col).alias("__grp"), F.col(value_col).alias("__v")
    ).agg(F.count("*").cast("bigint").alias("__n"))
    pre = grouped_prefix_sums(
        g, ["__grp"], ["__v"], ["__n"], num_partitions=num_partitions
    )
    m = pre.groupBy("__grp").agg(
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
    return m.where(F.col("sx") > 0).select(
        F.col("__grp").alias(group_col),
        F.col("n").cast("bigint").alias("n"),
        F.col("sx").cast("bigint").alias("total"),
        F.expr(
            "cast((2 * srx - (n + 1) * sx) * 1000000 div (n * sx) as bigint)"
        ).alias("gini_ppm"),
    )


@_eager_terminal
def ks_grouped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    split_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """Per-group two-sample KS — one row ``(group, n_a, n_b, d_ppm)``
    per group with both samples non-empty: the "which slice drifted"
    monitoring table.  Same integer cross-multiplied ECDF-gap algebra as
    ``ks_two_sample``, with the cumulative layer on the grouped prefix
    operator so any number of groups of any size runs without a
    per-group buffer."""
    df = df.where(
        F.col(value_col).isNotNull() & F.col(split_col).isNotNull()
    )  # incomplete rows excluded up front — see ks_two_sample
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    g = df.groupBy(
        F.col(group_col).alias("__grp"), F.col(value_col).alias("__v")
    ).agg(
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
    pre = grouped_prefix_sums(
        g, ["__grp"], ["__v"], ["__na", "__nb"],
        num_partitions=num_partitions,
    )
    tot = pre.groupBy("__grp").agg(
        F.sum("__na").cast("bigint").alias("n_a"),
        F.sum("__nb").cast("bigint").alias("n_b"),
    )
    gap = pre.join(tot, "__grp").select(
        "__grp",
        "n_a",
        "n_b",
        F.abs(
            (F.col("__na_before") + F.col("__na")).cast(_DEC) * F.col("n_b")
            - (F.col("__nb_before") + F.col("__nb")).cast(_DEC)
            * F.col("n_a")
        ).alias("__gap"),
    )
    return (
        gap.where((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .groupBy("__grp", "n_a", "n_b")
        .agg(F.max("__gap").alias("__best"))
        .select(
            F.col("__grp").alias(group_col),
            "n_a",
            "n_b",
            F.expr(
                "cast(__best * 1000000 div "
                "(cast(n_a as decimal(38,0)) * n_b) as bigint)"
            ).alias("d_ppm"),
        )
    )


@_eager_terminal
def spearman_grouped(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """Per-group exact tie-corrected Spearman — one row
    ``(group, n, rho)`` per group with variance in both variables.
    Doubled tie-averaged ranks per group come from per-(group, value)
    counts plus the grouped prefix operator (no per-group buffer);
    the per-group moments and the single closed-form float expression
    follow the global ``spearman_rho`` exactly — including the up-front
    NULL exclusion the centered identity requires (see spearman_rho)."""
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    df = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())

    def ranks(col, out):
        g = df.groupBy(
            F.col(group_col).alias("__grp"), F.col(col).alias("__v")
        ).agg(F.count("*").cast("bigint").alias("__n"))
        pre = grouped_prefix_sums(
            g, ["__grp"], ["__v"], ["__n"], num_partitions=num_partitions
        )
        return pre.select(
            "__grp",
            F.col("__v").alias(col),
            (F.lit(2) * F.col("__n_before") + F.col("__n") + F.lit(1))
            .cast("bigint")
            .alias(out),
        )

    rx = ranks(x_col, "__rx")
    ry = ranks(y_col, "__ry")
    ranked = (
        df.select(F.col(group_col).alias("__grp"), x_col, y_col)
        .join(rx, ["__grp", x_col])
        .join(ry, ["__grp", y_col])
        .select(
            "__grp",
            F.col("__rx").alias("x"),
            F.col("__ry").alias("y"),
        )
    )
    m = ranked.groupBy("__grp").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        # operands cast BEFORE the multiply: doubled ranks are O(n), so
        # a bigint sum of rank products is O(n^3) and overflows past ~2e6
        # rows; the decimal(38,0) sums are exact to 4n^3 < 1e38.
        F.sum(F.col("x").cast(_DEC) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
    )
    # Centered-moment identity (see spearman_rho): per-group doubled ranks
    # sum to exactly n_g(n_g+1), so the group mean is the integer (n_g+1)
    # and the moments center by subtracting n(n+1)^2 — everything stays
    # O(n^3), exact to ~2.9e12 rows PER GROUP (4n^3 < 1e38); the old
    # n*sxx - sx*sx form was O(n^4) and bound at ~2e9.  The guard keeps
    # only groups with variance in BOTH variables (same sign as the old
    # n-scaled guard: new = old / n).
    return m.where(
        (F.expr("sxx - n * (n + 1) * (n + 1)") > 0)
        & (F.expr("syy - n * (n + 1) * (n + 1)") > 0)
    ).select(
        F.col("__grp").alias(group_col),
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


@_eager_terminal
def kaplan_meier_grouped(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
    num_partitions: int = 64,
) -> DataFrame:
    """Per-cohort Kaplan–Meier — the survival-curve table per group
    (signup cohorts, experiment arms): same estimator as
    ``kaplan_meier`` with BOTH prefix layers (at-risk counts and the
    cumulative quantized log-survival) on the grouped prefix operator,
    so any number of cohorts of any size runs without a per-cohort
    buffer.  NULL log-S at and after a cohort's extinction step."""
    df = df.where(
        F.col(duration_col).isNotNull() & F.col(event_col).isNotNull()
    )  # incomplete rows excluded up front — see kaplan_meier
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    g = df.groupBy(
        F.col(group_col).alias("__grp"), F.col(duration_col).alias("t")
    ).agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum(F.col(event_col).cast("bigint")).alias("n_events"),
    ).withColumn("n_censored", F.col("__n") - F.col("n_events"))
    pre = grouped_prefix_sums(
        g, ["__grp"], ["t"], ["__n"], num_partitions=num_partitions
    )
    tot = pre.groupBy("__grp").agg(
        F.sum("__n").cast("bigint").alias("__grand")
    )
    risk = pre.join(tot, "__grp").select(
        "__grp",
        "t",
        "n_events",
        "n_censored",
        (F.col("__grand") - F.col("__n_before"))
        .cast("bigint")
        .alias("n_risk"),
    )
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
        step, ["__grp"], ["t"], ["__step", "__died"],
        num_partitions=num_partitions,
    )
    return (
        cum.filter(F.col("n_events") > 0)
        .select(
            F.col("__grp").alias(group_col),
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


@_eager_terminal
def cusum_grouped_from_counts(
    d: DataFrame, group_col: str, num_partitions: int = 64
) -> DataFrame:
    """Per-group CUSUM changepoint scan over dense per-(group, bucket)
    counts ``(group, h, c)`` — one row ``(group, n_hours, n_events,
    change_at_hour, peak_micro_events)`` per group: the which-slice-
    changed monitor. Same scaled-integer algebra as
    ``cusum_changepoint_from_counts`` (Σ n·c − total per group, exact),
    with the running sum on the grouped prefix operator so any number
    of slices runs without a per-slice buffer."""
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    t = d.groupBy(F.col(group_col).alias("__grp")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("total"),
    )
    dev = d.select(
        F.col(group_col).alias("__grp"), "h", "c"
    ).join(t, "__grp").select(
        "__grp",
        "h",
        "n",
        "total",
        (F.col("n") * F.col("c") - F.col("total")).alias("dev"),
    )
    cu = grouped_prefix_sums(
        dev, ["__grp"], ["h"], ["dev"], num_partitions=num_partitions
    ).select(
        "__grp",
        "h",
        "n",
        "total",
        (F.col("dev_before") + F.col("dev")).alias("s"),
    )
    m = cu.groupBy("__grp").agg(F.max(F.abs(F.col("s"))).alias("peak"))
    at = (
        cu.join(m, "__grp")
        .where(F.abs(F.col("s")) == F.col("peak"))
        .groupBy("__grp")
        .agg(F.min("h").cast("bigint").alias("change_at_hour"))
    )
    return (
        t.join(m, "__grp")
        .join(at, "__grp")
        .select(
            F.col("__grp").alias(group_col),
            F.col("n").alias("n_hours"),
            F.col("total").alias("n_events"),
            "change_at_hour",
            F.expr(
                "cast(cast(peak as decimal(38,0)) * 1000000 div n "
                "as bigint)"
            ).alias(
                "peak_micro_events"
            ),
        )
    )
