"""Event-analytics queries, `cohorts` block — mechanically split from the
former queries/events.py in round 10 (zero behavior change; see events/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.relational import sessionize
from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.queries._tables import table

# --------------------------------------------------------------------------


@register(
    "q190_retention_cohorts",
    oracle="""
WITH f AS (
  SELECT user_id,
         CAST(min(epoch_us(ts)) // 86400000000 AS BIGINT) AS cohort_day
  FROM events GROUP BY user_id
),
act AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         CAST(epoch_us(e.ts) // 86400000000 AS BIGINT) - f.cohort_day
           AS day_offset
  FROM events e JOIN f ON e.user_id = f.user_id
),
sz AS (SELECT cohort_day, count(*) AS cohort_size FROM f GROUP BY 1)
SELECT a.cohort_day, a.day_offset,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(count(*) * 1000 // s.cohort_size AS BIGINT)
         AS retained_permille
FROM act a JOIN sz s ON a.cohort_day = s.cohort_day
GROUP BY a.cohort_day, a.day_offset, s.cohort_size
""",
    doc="retention cohort triangle: users bucketed by first-activity day, "
    "per (cohort, day-offset) distinct active users and retained share "
    "in exact integer permille — two user-keyed aggregates, no window "
    "over the corpus",
    tags=("events", "funnel", "aggregate"),
)
def q190_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_us = 86_400_000_000
    ev = table(spark, sf_dir, "events").select("user_id", "ts_us")
    f = ev.groupBy("user_id").agg(
        F.expr(f"min(ts_us) div {day_us}").cast("bigint").alias("cohort_day")
    )
    act = (
        ev.join(f, "user_id")
        .select(
            "user_id",
            "cohort_day",
            (F.expr(f"ts_us div {day_us}") - F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    sz = f.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        act.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
        .join(sz, "cohort_day")
        .select(
            "cohort_day",
            F.col("day_offset").cast("bigint").alias("day_offset"),
            "n_active",
            F.expr("n_active * 1000 div cohort_size")
            .cast("bigint")
            .alias("retained_permille"),
        )
    )


# --------------------------------------------------------------------------
# q192 — population stability index (PSI) per event type between the
# first and second time-halves: the standard drift score
# Σ (p_i - q_i)·ln(p_i/q_i) over fixed value buckets. Laplace-smoothed
# bucket shares keep every ratio a single exact-integer division, and
# each bucket's term is floored to integer micro-units BEFORE the sum
# (the q184 discipline), so the score is order- and engine-invariant.
# PSI > 0.1 is the conventional "investigate" threshold.
# --------------------------------------------------------------------------


@register(
    "q192_psi_value_drift",
    oracle="""
WITH mid AS (
  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS m FROM events
),
b AS (
  SELECT event_type,
         CASE WHEN epoch_us(ts) < m THEN 0 ELSE 1 END AS half,
         least(greatest(CAST(floor(value / 10) AS BIGINT), 0), 9) AS bucket
  FROM events, mid
),
c AS (
  SELECT event_type, bucket,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c2
  FROM b GROUP BY 1, 2
),
n AS (
  SELECT event_type, sum(c1) AS n1, sum(c2) AS n2 FROM c GROUP BY 1
),
terms AS (
  SELECT c.event_type,
         CAST(floor(1000000.0
              * ((c.c1 + 1.0) / (n.n1 + 10.0) - (c.c2 + 1.0) / (n.n2 + 10.0))
              * ln(((c.c1 + 1.0) / (n.n1 + 10.0))
                   / ((c.c2 + 1.0) / (n.n2 + 10.0)))) AS BIGINT) AS t_micro
  FROM c JOIN n ON c.event_type = n.event_type
)
SELECT event_type, CAST(sum(t_micro) AS BIGINT) AS psi_micro,
       sum(t_micro) > 100000 AS drifted
FROM terms GROUP BY event_type
""",
    doc="population stability index of the value distribution per event "
    "type between time halves: Laplace-smoothed fixed-bucket shares, "
    "per-bucket terms floored to integer micro-units before the sum "
    "(order-invariant), PSI > 0.1 flags drift — the standard model/data "
    "drift monitor",
    tags=("events", "monitoring", "audit"),
)
def q192_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "ts_us", "value")
    mid = ev.agg(
        ((F.min("ts_us") + F.max("ts_us")) / F.lit(2))
        .cast("bigint")
        .alias("m")
    )
    b = ev.crossJoin(F.broadcast(mid)).select(
        "event_type",
        F.when(F.col("ts_us") < F.col("m"), 0).otherwise(1).alias("half"),
        F.least(
            F.greatest(
                F.floor(F.col("value") / 10).cast("bigint"), F.lit(0)
            ),
            F.lit(9),
        ).alias("bucket"),
    )
    c = b.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c2"),
    )
    n = c.groupBy("event_type").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    terms = c.join(n, "event_type").select(
        "event_type",
        F.floor(
            F.lit(1000000.0)
            * (
                (F.col("c1") + 1.0) / (F.col("n1") + 10.0)
                - (F.col("c2") + 1.0) / (F.col("n2") + 10.0)
            )
            * F.log(
                ((F.col("c1") + 1.0) / (F.col("n1") + 10.0))
                / ((F.col("c2") + 1.0) / (F.col("n2") + 10.0))
            )
        )
        .cast("bigint")
        .alias("t_micro"),
    )
    return terms.groupBy("event_type").agg(
        F.sum("t_micro").cast("bigint").alias("psi_micro"),
        (F.sum("t_micro") > 100000).alias("drifted"),
    )


# --------------------------------------------------------------------------
# q200 — OHLC bars (open/high/low/close) per event type per hour: the
# canonical downsampling shape for any metered series. Open/close are
# min_by/max_by on a (ts, event_id) total order packed into one
# wide-decimal key (ts_us*1e7 + event_id overflows bigint, so the key
# is DECIMAL(38,0)/HUGEINT on the two engines) — deterministic when two
# events share a timestamp; values surface as exact cents. One
# hour-keyed aggregate, map-side combinable.
# --------------------------------------------------------------------------


@register(
    "q200_ohlc_bars",
    oracle="""
WITH e AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_bucket,
         CAST(epoch_us(ts) AS HUGEINT) * 10000000 + event_id AS ord,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT event_type, hour_bucket,
       CAST(arg_min(cents, ord) AS BIGINT) AS open_cents,
       CAST(max(cents) AS BIGINT) AS high_cents,
       CAST(min(cents) AS BIGINT) AS low_cents,
       CAST(arg_max(cents, ord) AS BIGINT) AS close_cents,
       CAST(count(*) AS BIGINT) AS n
FROM e GROUP BY 1, 2
""",
    doc="hourly OHLC bars per event type: open/close by min_by/max_by on a "
    "(ts, event_id) total order (deterministic under timestamp ties), "
    "high/low/count exact — one map-side-combinable hour-keyed "
    "aggregate, the metered-series downsampling shape",
    tags=("events", "aggregate", "window"),
)
def q200_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("ts_us div 3600000000").cast("bigint").alias("hour_bucket"),
        (
            F.col("ts_us").cast("decimal(38,0)") * 10000000
            + F.col("event_id")
        ).alias("ord"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return ev.groupBy("event_type", "hour_bucket").agg(
        F.min_by("cents", "ord").cast("bigint").alias("open_cents"),
        F.max("cents").cast("bigint").alias("high_cents"),
        F.min("cents").cast("bigint").alias("low_cents"),
        F.max_by("cents", "ord").cast("bigint").alias("close_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


# --------------------------------------------------------------------------
# q202 — rolling-window COUNT DISTINCT via mergeable HLL registers: the
# 3-day rolling distinct-user count per day. Exact rolling distinct at
# 100 TB means re-shuffling every key once per window position; the
# sketch path builds ONE register table per day (256 rows/day,
# q135's portable md5-HLL) and merges each day's window by per-bucket
# MAX — idempotent, so overlapping windows re-merge the same day's
# registers harmlessly. The estimate is engine-native arithmetic, so
# the CONTRACT is oracle-checked (q37/q99/q188 discipline): exact
# rolling distinct plus a 20% relative error gate (256 registers →
# ~6.5% standard error).
# --------------------------------------------------------------------------

_Q202_WINDOW = 3  # days, current day inclusive


@register(
    "q202_rolling_distinct_hll",
    oracle=f"""
WITH d AS (
  SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         user_id
  FROM events
),
days AS (SELECT DISTINCT day FROM d),
roll AS (
  SELECT days.day AS day, d.user_id
  FROM days JOIN d ON d.day BETWEEN days.day - {_Q202_WINDOW - 1}
                             AND days.day
)
SELECT day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_rolling_users,
       TRUE AS within_bound
FROM roll GROUP BY day
""",
    doc="3-day rolling distinct users per day: daily portable md5-HLL "
    "register tables merged per window by per-bucket max (idempotent, "
    "256 rows/day regardless of volume) — the scale path for rolling "
    "COUNT DISTINCT; sketch estimate gated at 20% relative error "
    "against the exact recompute",
    tags=("events", "sketch", "window"),
)
def q202_rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    day_us = 86_400_000_000
    ev = table(spark, sf_dir, "events").select(
        F.expr(f"ts_us div {day_us}").cast("bigint").alias("day"), "user_id"
    )
    regs = hll_registers(ev, "user_id", ("day",))
    days = ev.select("day").distinct()
    # Window merge: day d's registers serve windows d..d+W-1; keep only
    # target days that exist. Fan-out is W x 256 rows per day — constant.
    off = spark.range(_Q202_WINDOW).select(F.col("id").alias("off"))
    window_regs = (
        regs.crossJoin(F.broadcast(off))
        .select((F.col("day") + F.col("off")).alias("day"), "bucket", "r")
        .join(days, "day")
        .groupBy("day", "bucket")
        .agg(F.max("r").alias("r"))
    )
    est = hll_estimate(window_regs, ("day",))
    exact = (
        ev.distinct()
        .crossJoin(F.broadcast(off))
        .select((F.col("day") + F.col("off")).alias("day"), "user_id")
        .join(days, "day")
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("bigint").alias(
            "exact_rolling_users"
        ))
    )
    return exact.join(est, "day").select(
        "day",
        "exact_rolling_users",
        (
            F.abs(F.col("est") - F.col("exact_rolling_users"))
            <= F.col("exact_rolling_users") * 0.2
        ).alias("within_bound"),
    )


# --------------------------------------------------------------------------
# q203 — calibration curve: bucket a score (the event value, fixed-width
# deciles — fixed edges, not quantiles, so no rank machinery) and report
# the observed positive rate (purchase events) per bucket next to the
# bucket's mean score in exact integer algebra. The reliability-diagram
# table every scored model ships with; monotone deviations flag
# miscalibration. One bucket-keyed aggregate.
# --------------------------------------------------------------------------


@register(
    "q203_score_calibration",
    oracle="""
WITH b AS (
  SELECT least(greatest(CAST(floor(value / 10) AS BIGINT), 0), 9) AS bucket,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
         CAST(round(value * 1000) AS BIGINT) AS v_milli
  FROM events
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(pos) * 1000 // count(*) AS BIGINT) AS pos_rate_permille,
       CAST(sum(v_milli) // count(*) AS BIGINT) AS mean_score_milli
FROM b GROUP BY bucket
""",
    doc="calibration/reliability table: fixed-width score deciles with "
    "observed positive rate and mean score in exact integer units — "
    "one bucket-keyed aggregate, no quantile machinery",
    tags=("events", "audit", "aggregate"),
)
def q203_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    b = ev.select(
        F.least(
            F.greatest(F.floor(F.col("value") / 10).cast("bigint"), F.lit(0)),
            F.lit(9),
        ).alias("bucket"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
        F.round(F.col("value") * 1000).cast("bigint").alias("v_milli"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.expr("sum(pos) * 1000 div count(*)")
        .cast("bigint")
        .alias("pos_rate_permille"),
        F.expr("sum(v_milli) div count(*)")
        .cast("bigint")
        .alias("mean_score_milli"),
    )


# --------------------------------------------------------------------------
# q204 — A/B experiment readout with an EXACT-integer chi-square test:
# users dealt to variants by md5 hash (reproducible assignment), outcome
# = did the user ever make a high-value (>= 90) purchase — rare enough
# on the fixture that both converted and unconverted cells populate. The 2x2 chi-square statistic
# N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) is compared against the
# alpha=0.05 critical value 3.841 by cross-multiplication in
# DECIMAL(38,0) — no floats anywhere, so the significance verdict is
# engine- and partitioning-exact. The experimentation-analysis staple.
# DECIMAL(38,0) bounds the exact form to ~3e8 users per cell
# (N·(ad-bc)² ≤ 1e38); beyond that ANSI mode raises rather than
# silently overflowing, and the test is degenerate at that scale anyway
# (any visible difference is significant) — downscale counts first.
# --------------------------------------------------------------------------


@register(
    "q204_ab_test_chisq",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 2 AS variant,
         max(CASE WHEN event_type = 'purchase' AND value >= 90
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
cell AS (
  SELECT CAST(sum(CASE WHEN variant = 0 AND converted = 1 THEN 1 ELSE 0 END)
              AS DECIMAL(38,0)) AS a,
         CAST(sum(CASE WHEN variant = 0 AND converted = 0 THEN 1 ELSE 0 END)
              AS DECIMAL(38,0)) AS b,
         CAST(sum(CASE WHEN variant = 1 AND converted = 1 THEN 1 ELSE 0 END)
              AS DECIMAL(38,0)) AS c,
         CAST(sum(CASE WHEN variant = 1 AND converted = 0 THEN 1 ELSE 0 END)
              AS DECIMAL(38,0)) AS d
  FROM u
)
SELECT CAST(a AS BIGINT) AS control_converted,
       CAST(b AS BIGINT) AS control_not,
       CAST(c AS BIGINT) AS treat_converted,
       CAST(d AS BIGINT) AS treat_not,
       CAST(CAST(a AS BIGINT) * 1000 // CAST(a + b AS BIGINT) AS BIGINT)
         AS control_rate_permille,
       CAST(CAST(c AS BIGINT) * 1000 // CAST(c + d AS BIGINT) AS BIGINT)
         AS treat_rate_permille,
       (a + b + c + d) * (a * d - b * c) * (a * d - b * c) * 1000
         > 3841 * (a + b) * (c + d) * (a + c) * (b + d) AS significant
FROM cell
""",
    doc="A/B readout: md5-hash variant assignment, per-variant conversion "
    "in exact permille, and a 2x2 chi-square significance verdict at "
    "alpha=0.05 computed entirely by DECIMAL(38,0) cross-multiplication "
    "— no floats, engine-exact; one user-keyed aggregate + one scalar "
    "cell table",
    tags=("events", "audit", "aggregate"),
)
def q204_ab_test_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import md5_u60

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 90),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).select(
        (md5_u60(F.col("user_id").cast("string")) % 2).alias("variant"),
        "converted",
    )
    dec38 = "decimal(38,0)"
    cell = u.agg(
        F.sum(F.when((F.col("variant") == 0) & (F.col("converted") == 1), 1).otherwise(0))
        .cast(dec38)
        .alias("a"),
        F.sum(F.when((F.col("variant") == 0) & (F.col("converted") == 0), 1).otherwise(0))
        .cast(dec38)
        .alias("b"),
        F.sum(F.when((F.col("variant") == 1) & (F.col("converted") == 1), 1).otherwise(0))
        .cast(dec38)
        .alias("c"),
        F.sum(F.when((F.col("variant") == 1) & (F.col("converted") == 0), 1).otherwise(0))
        .cast(dec38)
        .alias("d"),
    )
    return cell.select(
        F.col("a").cast("bigint").alias("control_converted"),
        F.col("b").cast("bigint").alias("control_not"),
        F.col("c").cast("bigint").alias("treat_converted"),
        F.col("d").cast("bigint").alias("treat_not"),
        F.expr(
            "cast(cast(a as bigint) * 1000 div cast(a + b as bigint) "
            "as bigint)"
        ).alias("control_rate_permille"),
        F.expr(
            "cast(cast(c as bigint) * 1000 div cast(c + d as bigint) "
            "as bigint)"
        ).alias("treat_rate_permille"),
        F.expr(
            "(a + b + c + d) * (a * d - b * c) * (a * d - b * c) * 1000 "
            "> 3841 * (a + b) * (c + d) * (a + c) * (b + d)"
        ).alias("significant"),
    )


# --------------------------------------------------------------------------
# q206 — per-group MODE without the banned mode() aggregate: the plan
# lint (tests/test_plan_lint.py) rejects exact mode()/median() because
# they buffer whole groups; this query is the sanctioned rewrite —
# count by (group, value) first (map-side combinable), then argmax via
# a window over the AGGREGATED layer, whose partition is bounded by the
# value domain (rounded value: <= 101 rows per group), never the
# corpus. Total-order tiebreak (smallest value wins) keeps it exact.
# --------------------------------------------------------------------------


@register(
    "q206_group_mode",
    oracle="""
WITH c AS (
  SELECT event_type, CAST(round(value) AS BIGINT) AS v, count(*) AS n
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, v, n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n DESC, v ASC) AS rn
  FROM c
)
SELECT event_type, CAST(v AS BIGINT) AS mode_value,
       CAST(n AS BIGINT) AS n_occurrences
FROM r WHERE rn = 1
""",
    doc="per-group mode via count-then-argmax: (group, value) aggregate "
    "with map-side partials, argmax window bounded by the value domain "
    "(<= 101 rows per group), deterministic smallest-value tiebreak — "
    "the scale-safe rewrite of the banned mode() aggregate",
    tags=("events", "aggregate", "scale"),
)
def q206_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.round("value").cast("bigint").alias("v")
    )
    c = ev.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("v").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("v").cast("bigint").alias("mode_value"),
            F.col("n").cast("bigint").alias("n_occurrences"),
        )
    )


# --------------------------------------------------------------------------
# q217 — Poisson bootstrap confidence interval (the resampling idiom
# that actually works at 100 TB: classic bootstrap needs N draws per
# resample — impossible distributed — but each row's multiplicity in a
# resample is ~Poisson(1), drawable independently per row). Every draw
# is DETERMINISTIC: the md5-uniform of (event_id, resample) inverted
# through the exact integer Poisson(1) CDF thresholds (2^60-scaled), so
# any engine reproduces the same 32 resamples bit-for-bit. Per-resample
# means quantize to micro-units before the CI order statistics — the
# whole audit is exact integers.
# --------------------------------------------------------------------------

_Q217_B = 32
# floor(CDF_Poisson(1)(k) * 2^60) for k = 0..4; >= t4 draws weight 5
_Q217_T = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
)


def _q217_weight_sql(u: str) -> str:
    t = _Q217_T
    return (
        f"CASE WHEN {u} < {t[0]} THEN 0 WHEN {u} < {t[1]} THEN 1 "
        f"WHEN {u} < {t[2]} THEN 2 WHEN {u} < {t[3]} THEN 3 "
        f"WHEN {u} < {t[4]} THEN 4 ELSE 5 END"
    )


@register(
    "q217_poisson_bootstrap_ci",
    oracle=f"""
WITH d AS (
  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT d.cents, t.b,
         {_q217_weight_sql("CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#' || CAST(t.b AS VARCHAR)), 1, 15)) AS BIGINT)")}
           AS w
  FROM d, UNNEST(range(0, {_Q217_B})) AS t(b)
),
means AS (
  SELECT b,
         CAST(sum(w * cents) * 10000 // sum(w) AS BIGINT) AS mean_microcents
  FROM r GROUP BY b HAVING sum(w) > 0
),
pt AS (
  SELECT CAST(sum(cents) * 10000 // count(*) AS BIGINT) AS point FROM d
)
SELECT CAST(pt.point AS BIGINT) AS mean_microcents,
       CAST((SELECT count(*) FROM means) AS BIGINT) AS n_resamples,
       CAST((SELECT min(m) FROM (SELECT mean_microcents AS m FROM means
             ORDER BY m LIMIT {_Q217_B} OFFSET 1)) AS BIGINT) AS ci_lo,
       CAST((SELECT max(m) FROM (SELECT mean_microcents AS m FROM means
             ORDER BY m DESC LIMIT {_Q217_B} OFFSET 1)) AS BIGINT) AS ci_hi
FROM pt
""",
    doc=f"Poisson bootstrap CI for the mean purchase value: {_Q217_B} "
    "deterministic resamples (per-row Poisson(1) multiplicity via exact "
    "integer inverse-CDF on the md5-uniform — reproducible in any "
    "engine), per-resample means in exact integer micro-cents, CI = "
    "2nd-smallest..2nd-largest resample mean — the only bootstrap shape "
    "that distributes (no N-draw resampling pass)",
    tags=("events", "audit", "sketch"),
)
def q217_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import md5_u60

    ev = table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    ).select(
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    b = spark.range(_Q217_B).select(F.col("id").cast("int").alias("b"))
    u = md5_u60(
        F.concat(
            F.col("event_id").cast("string"),
            F.lit("#"),
            F.col("b").cast("string"),
        )
    )
    t = _Q217_T
    w = (
        F.when(u < t[0], 0)
        .when(u < t[1], 1)
        .when(u < t[2], 2)
        .when(u < t[3], 3)
        .when(u < t[4], 4)
        .otherwise(5)
    )
    r = ev.crossJoin(F.broadcast(b)).select(
        "cents", "b", w.alias("w")
    )
    # decimal accumulation/scaling: w*cents sums and the *10000 scaling
    # outgrow bigint near ~1e9 purchase rows — same overflow class as the
    # rank-metric fix; the reported micro-cent means stay small bigints
    means = (
        r.groupBy("b")
        .agg(
            F.sum(
                F.col("w").cast("decimal(38,0)") * F.col("cents")
            ).alias("swc"),
            F.sum("w").cast("decimal(38,0)").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select(
            F.expr("swc * 10000 div sw").cast("bigint").alias(
                "mean_microcents"
            )
        )
    )
    pt = ev.agg(
        F.expr(
            "cast(sum(cast(cents as decimal(38,0))) * 10000 "
            "div count(*) as bigint)"
        ).alias("point")
    )
    # CI order statistics over the means table — a BOUNDED collect of at
    # most B=32 rows (scalar-class driver read, like .first()).
    ordered = means.orderBy("mean_microcents").collect()
    vals = [r2["mean_microcents"] for r2 in ordered]
    ci_lo = vals[1] if len(vals) > 1 else vals[0]
    ci_hi = vals[-2] if len(vals) > 1 else vals[-1]
    n = len(vals)
    return pt.select(
        F.col("point").alias("mean_microcents"),
        F.lit(n).cast("bigint").alias("n_resamples"),
        F.lit(ci_lo).cast("bigint").alias("ci_lo"),
        F.lit(ci_hi).cast("bigint").alias("ci_hi"),
    )


# --------------------------------------------------------------------------
# q226 — seasonal hour-of-week forecast audit: train a per-(event_type,
# hour-of-week) mean-value profile on everything before the final 7 days,
# predict the final week with it, and report MAE in exact integer
# micro-units per event type. Hour-of-week is epoch-hour mod 168 (no
# engine-specific weekday conventions); the split point is max(ts) - 7d
# (a 1-row broadcast scalar, so the query adapts to any fixture span);
# test hours absent from the training profile are counted, not silently
# scored. The profile is types x 168 rows — broadcast, never shuffled.
# --------------------------------------------------------------------------


@register(
    "q226_seasonal_forecast_mae",
    oracle="""
WITH e AS (
  SELECT event_type,
         (epoch_us(ts) // 3600000000) % 168 AS how,
         CAST(round(value * 1000000) AS BIGINT) AS v_micro,
         epoch_us(ts) AS us
  FROM events
),
cut AS (SELECT max(us) - 604800000000 AS cutoff FROM e),
train AS (SELECT event_type, how, v_micro FROM e, cut WHERE us < cutoff),
prof AS (
  SELECT event_type, how,
         CAST(sum(v_micro) // count(*) AS BIGINT) AS pred_micro
  FROM train GROUP BY event_type, how
),
trn AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_train
  FROM train GROUP BY event_type
),
test AS (SELECT event_type, how, v_micro FROM e, cut WHERE us >= cutoff),
j AS (
  SELECT t.event_type, t.v_micro, p.pred_micro
  FROM test t LEFT JOIN prof p
    ON p.event_type = t.event_type AND p.how = t.how
),
a AS (
  SELECT event_type,
         CAST(count(pred_micro) AS BIGINT) AS n_test_scored,
         CAST(count(*) - count(pred_micro) AS BIGINT) AS n_test_unmatched,
         CASE WHEN count(pred_micro) > 0 THEN
           CAST(sum(CASE WHEN pred_micro IS NOT NULL
                    THEN abs(v_micro - pred_micro) ELSE 0 END)
                // count(pred_micro) AS BIGINT)
         END AS mae_micro
  FROM j GROUP BY event_type
)
SELECT a.event_type, trn.n_train, a.n_test_scored, a.n_test_unmatched,
       a.mae_micro
FROM a JOIN trn ON trn.event_type = a.event_type
""",
    doc="hour-of-week mean-value profile trained on all but the final 7 "
    "days, scored on the final week: MAE in exact integer micro-units "
    "per event type — epoch-hour mod 168 bucketing, broadcast profile, "
    "unmatched test hours surfaced not silently scored",
    tags=("events", "timeseries", "eval"),
)
def q226_seasonal_forecast_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        (F.expr("ts_us div 3600000000") % 168).alias("how"),
        F.round(F.col("value") * 1000000).cast("bigint").alias("v_micro"),
        "ts_us",
    )
    cut = ev.agg(
        (F.max("ts_us") - F.lit(604800000000)).alias("cutoff")
    )
    train = ev.crossJoin(F.broadcast(cut)).where(
        F.col("ts_us") < F.col("cutoff")
    )
    prof = train.groupBy("event_type", "how").agg(
        F.expr("sum(v_micro) div count(*)")
        .cast("bigint")
        .alias("pred_micro")
    )
    trn = train.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_train")
    )
    test = ev.crossJoin(F.broadcast(cut)).where(
        F.col("ts_us") >= F.col("cutoff")
    )
    j = test.join(F.broadcast(prof), ["event_type", "how"], "left")
    a = j.groupBy("event_type").agg(
        F.count("pred_micro").cast("bigint").alias("n_test_scored"),
        (F.count("*") - F.count("pred_micro"))
        .cast("bigint")
        .alias("n_test_unmatched"),
        F.expr(
            "CASE WHEN count(pred_micro) > 0 THEN "
            "CAST(sum(CASE WHEN pred_micro IS NOT NULL "
            "THEN abs(v_micro - pred_micro) ELSE 0 END) "
            "div count(pred_micro) AS BIGINT) END"
        ).alias("mae_micro"),
    )
    return a.join(F.broadcast(trn), "event_type").select(
        "event_type", "n_train", "n_test_scored", "n_test_unmatched",
        "mae_micro",
    )


# --------------------------------------------------------------------------
# q227 — noisy aggregate release with deterministic seeded noise: per-
# event-type counts and value sums published with bounded integer noise
# derived from md5('q227' || event_type) — the differential-privacy
# release *shape* (noise magnitude column, per-release seed, exact true
# values never in the output) with reproducible noise so both engines
# and any re-run produce the identical release. Swapping the md5-derived
# noise for true Laplace draws is a one-line change; everything else
# (scale, budget accounting, column contract) is what a DP release
# pipeline needs at 100 TB: one hash-partitioned aggregate, no extra
# passes for the noise.
# --------------------------------------------------------------------------

_Q227_NOISE_HALF_WIDTH = 50  # +-50 events / +-50 micro-units of sum


@register(
    "q227_noisy_release",
    oracle=f"""
WITH a AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_true,
         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
           AS sum_micro_true
  FROM events GROUP BY event_type
),
n AS (
  SELECT event_type, n_true, sum_micro_true,
         CAST(('0x' || substr(md5('q227c' || event_type), 1, 15)) AS BIGINT)
           % {2 * _Q227_NOISE_HALF_WIDTH + 1} - {_Q227_NOISE_HALF_WIDTH}
           AS noise_n,
         CAST(('0x' || substr(md5('q227s' || event_type), 1, 15)) AS BIGINT)
           % {2 * _Q227_NOISE_HALF_WIDTH + 1} - {_Q227_NOISE_HALF_WIDTH}
           AS noise_s
  FROM a
)
SELECT event_type,
       CAST(n_true + noise_n AS BIGINT) AS n_released,
       CAST(sum_micro_true + noise_s AS BIGINT) AS sum_micro_released,
       CAST({_Q227_NOISE_HALF_WIDTH} AS BIGINT) AS noise_half_width
FROM n
""",
    doc="noisy per-type count/sum release with deterministic md5-seeded "
    "bounded integer noise — the DP release column contract (noise "
    "magnitude published, true values withheld) with reproducible "
    "noise; single hash aggregate, noise computed post-aggregate",
    tags=("events", "governance"),
)
def q227_noisy_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import md5_u60

    w = _Q227_NOISE_HALF_WIDTH
    a = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_true"),
            F.sum(F.round(F.col("value") * 1000000).cast("bigint"))
            .cast("bigint")
            .alias("sum_micro_true"),
        )
    )
    noise_n = (
        md5_u60(F.concat(F.lit("q227c"), F.col("event_type"))) % (2 * w + 1)
        - w
    )
    noise_s = (
        md5_u60(F.concat(F.lit("q227s"), F.col("event_type"))) % (2 * w + 1)
        - w
    )
    return a.select(
        "event_type",
        (F.col("n_true") + noise_n).cast("bigint").alias("n_released"),
        (F.col("sum_micro_true") + noise_s)
        .cast("bigint")
        .alias("sum_micro_released"),
        F.lit(w).cast("bigint").alias("noise_half_width"),
    )


# --------------------------------------------------------------------------
# q228 — threshold up-crossing alerts (batch twin of s26): per
# (user, event_type) ordered by (ts, event_id), an alert fires when the
# value crosses from below to at-or-above the type's threshold between
# consecutive events. The lag window partitions on the (user, type) key
# — bounded per-key cells, never a global ordering; the per-type
# threshold is a literal CASE. Output: alerts and alerted-user counts
# per type.
# --------------------------------------------------------------------------

THRESHOLDS_Q228 = {
    "error": 100.0,
    "signup": 150.0,
    "view": 200.0,
    "click": 250.0,
    "purchase": 300.0,
}


@register(
    "q228_threshold_crossings",
    oracle="""
WITH s AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
         CASE WHEN value >= (CASE event_type
              WHEN 'error' THEN 100.0 WHEN 'signup' THEN 150.0
              WHEN 'view' THEN 200.0 WHEN 'click' THEN 250.0
              ELSE 300.0 END) THEN 1 ELSE 0 END AS side
  FROM events
),
l AS (
  SELECT user_id, event_type, side,
         lag(side) OVER (PARTITION BY user_id, event_type
                         ORDER BY us, event_id) AS prev_side
  FROM s
),
a AS (
  SELECT user_id, event_type,
         CAST(count(*) FILTER (WHERE prev_side = 0 AND side = 1)
              AS BIGINT) AS n_up
  FROM l GROUP BY user_id, event_type
)
SELECT event_type, CAST(sum(n_up) AS BIGINT) AS n_alerts,
       CAST(count(*) FILTER (WHERE n_up > 0) AS BIGINT) AS n_users_alerted
FROM a GROUP BY event_type
""",
    doc="per-(user, type) threshold up-crossing alerts between "
    "consecutive events — bounded per-key lag windows, literal per-type "
    "thresholds; batch twin of streaming s26",
    tags=("events", "window", "monitoring"),
)
def q228_threshold_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    thr = F.when(F.col("event_type") == "error", 100.0)
    for t, v in (("signup", 150.0), ("view", 200.0), ("click", 250.0)):
        thr = thr.when(F.col("event_type") == t, v)
    thr = thr.otherwise(300.0)
    s = ev.select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        F.when(F.col("value") >= thr, 1).otherwise(0).alias("side"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    lagged = s.withColumn("prev_side", F.lag("side").over(w))
    a = lagged.groupBy("user_id", "event_type").agg(
        F.sum(
            F.when(
                (F.col("prev_side") == 0) & (F.col("side") == 1), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_up")
    )
    return a.groupBy("event_type").agg(
        F.sum("n_up").cast("bigint").alias("n_alerts"),
        F.sum(F.when(F.col("n_up") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_users_alerted"),
    )


# --------------------------------------------------------------------------
# q230 — exponentially-weighted moving value (alpha = 1/2, 16 terms) at
# each (user, type) key's latest event, summed per type. With alpha a
# power of two every weight 2^-(j+1) is a dyadic rational, so each term
# v_micro * 2^-(j+1) is EXACT in a double (v_micro < 2^29, 16 extra
# mantissa bits needed, 29 + 17 < 53) and the 16-term sum is exact and
# order-independent — the trick that makes an EWMA hash-comparable
# across engines. The recursion unrolls to 16 lag() terms over the
# bounded per-key window; missing history contributes 0 (documented:
# the EWMA of a short history is the truncated series, not a
# renormalized one).
# --------------------------------------------------------------------------

_Q230_TERMS = 16


def _q230_series() -> str:
    """The unrolled dyadic lag series — one text, both engines."""
    return " + ".join(
        f"coalesce(CAST(lag(v_micro, {j}) OVER w AS DOUBLE), 0.0)"
        f" / {float(2 ** (j + 1))!r}"
        for j in range(_Q230_TERMS)
    )


@register(
    "q230_ewma_latest",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
         CAST(round(value * 1000000) AS BIGINT) AS v_micro
  FROM events
),
s AS (
  SELECT user_id, event_type,
         {_q230_series()} AS ewma,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY us DESC, event_id DESC) AS rn_desc
  FROM e
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us, event_id)
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_keys,
       -- ewma * 2^16 is an exact integer (dyadic lsb 2^-16); summing
       -- AS BIGINT keeps the aggregate associative at any parallelism,
       -- then one flooring shift recovers floor(sum(ewma))
       CAST(sum(CAST(ewma * 65536.0 AS BIGINT)) // 65536 AS BIGINT)
         AS total_ewma_micro
FROM s WHERE rn_desc = 1
GROUP BY event_type
""",
    doc="EWMA (alpha=1/2, 16 dyadic terms — bit-exact in doubles) at "
    "each (user, type) key's latest event, summed per type — unrolled "
    "lag series over bounded per-key windows, no recursion, no state",
    tags=("events", "timeseries", "window"),
)
def q230_ewma_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts_us").alias("us"),
        "event_id",
        F.round(F.col("value") * 1000000).cast("bigint").alias("v_micro"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    ewma = None
    for j in range(_Q230_TERMS):
        term = F.coalesce(
            F.lag("v_micro", j).over(w).cast("double"), F.lit(0.0)
        ) / F.lit(float(2 ** (j + 1)))
        ewma = term if ewma is None else ewma + term
    w_desc = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    s = ev.select(
        "event_type",
        ewma.alias("ewma"),
        F.row_number().over(w_desc).alias("rn_desc"),
    )
    return (
        s.where(F.col("rn_desc") == 1)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.expr("sum(CAST(ewma * 65536.0 AS BIGINT)) div 65536")
            .cast("bigint")
            .alias("total_ewma_micro"),
        )
    )


# --------------------------------------------------------------------------
# q231 — exact peak concurrency by distributed sweep-line: sessionize
# (30-min gap), emit +1/-1 boundary points per session interval
# (half-open [start, end+1µs) so simultaneous exit/enter never double-
# counts), and take the running sum over the boundary total order with
# the range-partitioned exclusive-prefix operator (operators/ranking.py)
# — never a single-task global window. Output: the peak, its first
# timestamp, and the session count. The capacity-planning primitive
# (max concurrent sessions/connections/streams) done exactly at scale.
# --------------------------------------------------------------------------


@register(
    "q231_peak_concurrency",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id FROM events
),
x AS (
  SELECT user_id, us, event_id,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
s AS (
  SELECT user_id, us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM x
),
iv AS (
  SELECT user_id, sess_id, min(us) AS start_us, max(us) + 1 AS end_us
  FROM s GROUP BY user_id, sess_id
),
p AS (
  SELECT start_us AS ts, 1 AS delta, user_id, sess_id FROM iv
  UNION ALL
  SELECT end_us AS ts, -1 AS delta, user_id, sess_id FROM iv
),
c AS (
  SELECT ts, delta,
         sum(delta) OVER (ORDER BY ts, delta, user_id, sess_id
                          ROWS UNBOUNDED PRECEDING) AS conc
  FROM p
),
m AS (SELECT max(conc) AS peak FROM c)
SELECT CAST(m.peak AS BIGINT) AS peak_concurrency,
       CAST((SELECT min(ts) FROM c, m WHERE c.conc = m.peak) AS BIGINT)
         AS peak_at_us,
       CAST((SELECT count(*) FROM iv) AS BIGINT) AS n_sessions
FROM m
""",
    doc="exact peak concurrent sessions via sweep-line: 30-min-gap "
    "sessions, half-open +1/-1 boundary points, range-partitioned "
    "exclusive prefix sum (no global single-task window), peak + first "
    "peak timestamp + session count",
    tags=("events", "sessions", "ranking"),
)
def q231_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "ts_us", "event_id"
    )
    sess = sessionize(ev, "user_id", "ts", 1800, "event_id")
    iv = sess.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("start_us"),
        (F.max("ts_us") + 1).alias("end_us"),
    )
    pts = iv.select(
        F.col("start_us").alias("ts"),
        F.lit(1).cast("bigint").alias("delta"),
        "user_id",
        "session_id",
    ).unionByName(
        iv.select(
            F.col("end_us").alias("ts"),
            F.lit(-1).cast("bigint").alias("delta"),
            "user_id",
            "session_id",
        )
    )
    pre = grouped_prefix_sums(
        pts, [], ["ts", "delta", "user_id", "session_id"], ["delta"]
    )
    conc = pre.select(
        "ts", (F.col("delta_before") + F.col("delta")).alias("conc")
    )
    peak = conc.agg(F.max("conc").cast("bigint").alias("peak_concurrency"))
    peak_at = (
        conc.join(F.broadcast(peak), conc.conc == peak.peak_concurrency)
        .agg(F.min("ts").cast("bigint").alias("peak_at_us"))
    )
    n_sess = iv.agg(F.count("*").cast("bigint").alias("n_sessions"))
    return (
        peak.crossJoin(F.broadcast(peak_at))
        .crossJoin(F.broadcast(n_sess))
        .select("peak_concurrency", "peak_at_us", "n_sessions")
    )


