"""Event-analytics queries, `sessions` block — mechanically split from the
former queries/events.py in round 10 (zero behavior change; see events/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.functions.numeric import money_sum
from cassandra_analytics_example_spark.operators.quantiles import (
    group_quantiles_exact,
)
from cassandra_analytics_example_spark.operators.relational import sessionize
from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.queries._tables import table
from cassandra_analytics_example_spark.queries.events.windows import (  # noqa: E402
    GAP_US,
)

# --------------------------------------------------------------------------


@register(
    "q107_batch_session_window",
    oracle=f"""
WITH marked AS (
  SELECT user_id, epoch_us(ts) AS tus,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sessions AS (
  SELECT user_id, tus,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY tus
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, min(tus) AS session_start_us,
       max(tus) + {GAP_US} AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessions
GROUP BY user_id, sid
""",
    doc="F.session_window in BATCH mode (30-min gap): the built-in "
    "gap-merge aggregate the streaming layer uses (s02), value-checked "
    "against the SQL gap-and-islands formulation — session end = last "
    "event + gap, per Spark's session_window semantics",
    tags=("events", "session", "window"),
)
def q107_batch_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# q112 — SCD2 validity intervals: the warehouse "slowly changing
# dimension type 2" history build — collapse each user's event sequence
# into state intervals [valid_from, valid_to) with change-detection
# (consecutive repeats of the same state merge into one interval; the
# open current interval carries a NULL valid_to).
# --------------------------------------------------------------------------


@register(
    "q112_scd2_intervals",
    oracle="""
WITH s AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev
  FROM events
),
c AS (SELECT * FROM s WHERE prev IS NULL OR prev <> event_type)
SELECT user_id, event_type AS state,
       CAST(ts_us AS BIGINT) AS valid_from_us,
       CAST(lead(ts_us) OVER (PARTITION BY user_id
                              ORDER BY ts_us, event_id) AS BIGINT)
         AS valid_to_us
FROM c
""",
    doc="SCD2 history build: change-detection (lag) then interval "
    "construction (lead) over each user's total-ordered sequence — "
    "consecutive same-state events merge, the live state has NULL "
    "valid_to. Both windows share one user_id partitioning, and the "
    "filter between them preserves it, so the whole history build is a "
    "SINGLE shuffle (plan-gated)",
    tags=("events", "window"),
)
def q112_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts_us"), F.col("event_id"))
    s = ev.select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        F.lag("event_type").over(w).alias("__prev"),
    )
    changes = s.filter(
        F.col("__prev").isNull() | (F.col("__prev") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("ts_us"), F.col("event_id")
    )
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts_us").cast("bigint").alias("valid_from_us"),
        F.lead("ts_us").over(w2).cast("bigint").alias("valid_to_us"),
    )


# --------------------------------------------------------------------------
# q113 — winsorized statistics: robust per-group clipping at exact p05/p95
# (the training-data outlier treatment that caps rather than drops). Two
# passes: a group-level percentile table (broadcast back), then clip +
# aggregate. The percentile table comes from the DISTRIBUTED rank-selection
# operator (operators/quantiles.py), not F.percentile — an exact percentile
# aggregate buffers a whole group in one task, and event_type has ~5
# distinct values, so at 100x one executor would hold billions of doubles.
# The clipped mean goes through the fixed-point convention (floor to 1e-6,
# exact integer sum) so it is bit-identical at any parallelism — raw double
# summation is partition-order-dependent.
# --------------------------------------------------------------------------


@register(
    "q113_winsorized_stats",
    oracle="""
WITH p AS (
  SELECT event_type,
         quantile_cont(CAST(value AS DOUBLE), 0.05) AS p05,
         quantile_cont(CAST(value AS DOUBLE), 0.95) AS p95
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       min(p.p05) AS p05,
       min(p.p95) AS p95,
       CAST(count(e.value) AS BIGINT) AS n,
       CAST(sum(CAST(floor(least(greatest(CAST(e.value AS DOUBLE), p.p05),
                                 p.p95) * 1000000) AS BIGINT)) AS DOUBLE)
         / count(e.value) / 1000000 AS clipped_mean,
       CAST(sum(CASE WHEN CAST(e.value AS DOUBLE) < p.p05 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_low,
       CAST(sum(CASE WHEN CAST(e.value AS DOUBLE) > p.p95 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_high
FROM events e JOIN p USING (event_type)
GROUP BY e.event_type
""",
    doc="winsorization: per-event-type clipping at exact interpolated "
    "p05/p95 computed by distributed rank selection (group_quantiles_exact "
    "== DuckDB quantile_cont arithmetic, the q40 equivalence) — no "
    "full-group percentile buffer anywhere (plan-gated); clip counts "
    "surfaced, clipped mean via fixed-point integer summation (floor 1e-6) "
    "for parallelism-independent bit-equality; percentile table broadcasts "
    "— the corpus shuffles only for bounded range cells and its own group "
    "aggregate",
    tags=("events", "aggregate", "quality"),
)
def q113_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    pct = group_quantiles_exact(
        ev, "event_type", "value", {"p05": 0.05, "p95": 0.95}
    )
    joined = ev.join(F.broadcast(pct), "event_type")
    clipped = F.least(F.greatest(v, F.col("p05")), F.col("p95"))
    q = F.floor(clipped * F.lit(1_000_000)).cast("bigint")
    return joined.groupBy("event_type").agg(
        F.min("p05").alias("p05"),
        F.min("p95").alias("p95"),
        F.count(v).cast("bigint").alias("n"),
        (
            F.sum(q).cast("double") / F.count(v) / F.lit(1_000_000)
        ).alias("clipped_mean"),
        F.sum((v < F.col("p05")).cast("bigint")).alias("n_clipped_low"),
        F.sum((v > F.col("p95")).cast("bigint")).alias("n_clipped_high"),
    )


# --------------------------------------------------------------------------
# q114 — the distributed exact-quantile operator surfaced directly: per-
# group interpolated quartiles + p99 by global-rank selection. The scale
# contract is the point: no task ever buffers a group (the window cells
# are range-partition slices), yet the values are quantile_cont-exact.
# --------------------------------------------------------------------------


@register(
    "q114_group_quantiles",
    oracle="""
SELECT event_type,
       quantile_cont(CAST(value AS DOUBLE), 0.25) AS p25,
       quantile_cont(CAST(value AS DOUBLE), 0.50) AS p50,
       quantile_cont(CAST(value AS DOUBLE), 0.75) AS p75,
       quantile_cont(CAST(value AS DOUBLE), 0.99) AS p99
FROM events GROUP BY event_type
""",
    doc="exact interpolated per-group quantiles via distributed rank "
    "selection (operators/quantiles.py): range cells + local row_number + "
    "broadcast offset layer; identical lo*(1-frac) + hi*frac arithmetic "
    "to DuckDB quantile_cont so the hash compare is exact — and no "
    "percentile aggregation buffer anywhere in the plan (plan-gated)",
    tags=("events", "aggregate"),
)
def q114_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return group_quantiles_exact(
        ev,
        "event_type",
        "value",
        {"p25": 0.25, "p50": 0.50, "p75": 0.75, "p99": 0.99},
    )


# --------------------------------------------------------------------------
# q129 — point-in-time SCD2 feature join: each purchase gets the click-band
# attribute version valid AT purchase time (valid_from <= ts < valid_to,
# valid_to capped by a 24h TTL so stale versions EXPIRE into coverage gaps)
# — the leakage-preventing join for training-feature generation. Single
# key shuffle via the union-and-carry as-of composition + expiry postfilter
# (operators/relational.py:scd2_pit_join); no range join.
# --------------------------------------------------------------------------

_TTL_US = 24 * 3600 * 1_000_000
_FAR_US = 1 << 62


@register(
    "q129_scd2_pit_join",
    oracle=f"""
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS vf,
         CAST(floor(value) AS BIGINT) % 4 AS band,
         row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'click'
),
versions AS (
  SELECT user_id, vf, band,
         least(coalesce(lead(vf) OVER (PARTITION BY user_id ORDER BY vf),
                        {_FAR_US}),
               vf + {_TTL_US}) AS vt
  FROM clicks WHERE rn = 1
),
purchases AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts_us,
       v.vf IS NOT NULL AS has_version,
       v.band AS band_pit
FROM purchases p
LEFT JOIN versions v
  ON p.user_id = v.user_id AND v.vf <= p.ts_us AND p.ts_us < v.vt
""",
    doc="point-in-time SCD2 feature join with 24h-TTL expiry: purchases "
    "attach the click-band version valid at purchase time or NULL in "
    "coverage gaps; union-and-carry as-of + expiry postfilter, one key "
    "shuffle, no range join (operators/relational.py:scd2_pit_join)",
    tags=("events", "join", "governance"),
)
def q129_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.relational import (
        scd2_pit_join,
    )

    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts_us").alias("vf"),
        (F.floor("value").cast("bigint") % 4).alias("band"),
        "event_id",
    )
    wl = Window.partitionBy("user_id", "vf").orderBy(F.desc("event_id"))
    lww = clicks.withColumn("rn", F.row_number().over(wl)).where(
        F.col("rn") == 1
    )
    wv = Window.partitionBy("user_id").orderBy("vf")
    versions = lww.select(
        "user_id",
        "vf",
        "band",
        F.least(
            F.coalesce(F.lead("vf").over(wv), F.lit(_FAR_US)),
            F.col("vf") + F.lit(_TTL_US),
        ).alias("vt"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    out = scd2_pit_join(
        purchases,
        versions,
        on=["user_id"],
        fact_ts="ts_us",
        valid_from="vf",
        valid_to="vt",
        attrs=["band"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        "has_version",
        F.col("band_pit").alias("band_pit"),
    )


# --------------------------------------------------------------------------
# q139 — session path mining: per-user 30-min-gap sessions (q16 semantics),
# ordered event-type sequences, global top-10 3-step paths. One user-keyed
# shuffle carries sessionization AND both lead windows; the path count
# layer is vocabulary-sized (|event_type|^3 max).
# --------------------------------------------------------------------------


@register(
    "q139_session_paths",
    oracle=f"""
WITH marked AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
  SELECT user_id, event_id, event_type, ts_us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
paths AS (
  SELECT event_type || '>' || lead(event_type, 1) OVER ws
           || '>' || lead(event_type, 2) OVER ws AS path,
         lead(session_id, 2) OVER ws = session_id AS complete
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts_us, event_id)
),
counted AS (
  SELECT path, count(*) AS n FROM paths
  WHERE complete GROUP BY path
)
SELECT path, CAST(n AS BIGINT) AS n,
       CAST(row_number() OVER (ORDER BY n DESC, path ASC) AS BIGINT) AS rnk
FROM counted
QUALIFY rnk <= 10
""",
    doc="session path mining: 3-step event-type paths within 30-min-gap "
    "sessions (q16 sessionization), global top-10 by frequency — the "
    "funnel-path discovery pass; sessionize + both lead windows share ONE "
    "user-keyed shuffle, the count layer is |event_type|^3-bounded, and "
    "the final top-10 rank runs on that tiny layer",
    tags=("events", "window", "paths"),
)
def q139_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.relational import (
        sessionize,
    )

    ev = table(spark, sf_dir, "events")
    sess = sessionize(
        ev.select("user_id", "event_id", "event_type", "ts_us"),
        user_col="user_id",
        ts_col="ts_us",
        gap_seconds=GAP_US,
        order_tiebreak="event_id",
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts_us", "event_id"
    )
    paths = sess.select(
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(ws),
            F.lead("event_type", 2).over(ws),
        ).alias("path"),
        (F.lead("session_id", 2).over(ws) == F.col("session_id")).alias(
            "complete"
        ),
    )
    counted = (
        paths.where(F.col("complete"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wr = Window.orderBy(F.desc("n"), F.asc("path"))
    return (
        counted.withColumn(
            "rnk", F.row_number().over(wr).cast("bigint")
        ).where(F.col("rnk") <= 10)
    )


# --------------------------------------------------------------------------
# q140 — recency-decayed activity score in EXACT integer arithmetic:
# weight = 2^(30 - age_days) (half-life one day, floor at age >= 30 days
# contributing weight 1), so the per-user sum is an exact bigint under any
# aggregation order — transcendental exp() would differ by ulps between
# engines and break the floor-quantize convention.
# --------------------------------------------------------------------------

_DAY_US = 86_400_000_000


@register(
    "q140_recency_decay_scores",
    oracle=f"""
WITH mx AS (SELECT max(epoch_us(ts)) AS t_max FROM events),
aged AS (
  SELECT e.user_id,
         least((m.t_max - epoch_us(e.ts)) // {_DAY_US}, 30) AS age_d
  FROM events e CROSS JOIN mx m
)
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(1 AS BIGINT) << (30 - CAST(age_d AS INTEGER)))
            AS BIGINT) AS decay_score
FROM aged GROUP BY user_id
""",
    doc="recency-weighted user activity: weight 2^(30 - age_days) with a "
    "one-day half-life, ages >= 30 days clamp to weight 1 — dyadic "
    "weights are EXACT bigints, so the per-user score is "
    "order-independent and engine-identical without quantization; the "
    "global max-ts is a broadcast scalar, events never reshuffle except "
    "the one user-keyed aggregate",
    tags=("events", "feature"),
)
def q140_recency_decay_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts_us").alias("t_max"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.least(
                F.expr(f"(t_max - ts_us) div {_DAY_US}"), F.lit(30)
            ).cast("int").alias("age_d"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("shiftleft(cast(1 as bigint), 30 - age_d)"))
            .cast("bigint")
            .alias("decay_score"),
        )
    )


# --------------------------------------------------------------------------
# q144 — hourly volume anomalies per event type, in EXACT integer algebra:
# an hour is anomalous when |n - mean| > 2*stddev over that type's hourly
# counts.  Rearranged to integers: with H hours, S = sum(n), Q = sum(n^2),
# the population condition (n - S/H)^2 > 4*(Q/H - (S/H)^2) multiplies
# through by H^2 to (n*H - S)^2 > 4*(Q*H - S^2) — no doubles, no sqrt, so
# the flag set is bit-identical across engines and aggregation orders.
# --------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


@register(
    "q144_hourly_anomalies",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {_HOUR_US} AS hr, count(*) AS n
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS h,
         CAST(sum(n) AS BIGINT) AS s,
         CAST(sum(n * n) AS BIGINT) AS q
  FROM hourly GROUP BY 1
)
SELECT hourly.event_type,
       CAST(hr AS BIGINT) AS hr,
       CAST(n AS BIGINT) AS n,
       CASE WHEN n * h > s THEN 'hi' ELSE 'lo' END AS side
FROM hourly JOIN st USING (event_type)
WHERE (n * h - s) * (n * h - s) > 4 * (q * h - s * s)
""",
    doc="hourly volume anomaly flags (|n - mean| > 2 sigma per event "
    "type) computed entirely in integer algebra — (nH - S)^2 > 4(QH - "
    "S^2) — so detection is exact and engine-identical; the hourly "
    "layer is one groupBy, the per-type stats layer is "
    "vocabulary-sized and broadcast back, events never reshuffle twice",
    tags=("events", "anomaly", "monitoring"),
)
def q144_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.profiling import (
        hourly_anomaly_flags,
    )

    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr(f"ts_us div {_HOUR_US}").alias("hr"),
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return hourly_anomaly_flags(hourly)


# --------------------------------------------------------------------------
# q145 — column-profile drift monitor: split the stream at the midpoint of
# its time range and compare per-type profiles (volume, distinct users,
# exact decimal value sum) between halves — the data-quality drift report
# that gates a new ingest vintage onto a 100 TB pipeline.  One pass,
# conditional aggregation (FILTER-clause style), no self-join; the drift
# ratio is exact integer permille with a -1 sentinel instead of a division
# that ANSI mode would raise on.
# --------------------------------------------------------------------------


@register(
    "q145_profile_drift",
    oracle="""
WITH b AS (
  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events
),
h AS (
  SELECT event_type, user_id, value,
         CASE WHEN epoch_us(ts) < mid THEN 0 ELSE 1 END AS half
  FROM events, b
)
SELECT event_type,
       CAST(count(*) FILTER (WHERE half = 0) AS BIGINT) AS n_first,
       CAST(count(*) FILTER (WHERE half = 1) AS BIGINT) AS n_second,
       CAST(count(DISTINCT user_id) FILTER (WHERE half = 0) AS BIGINT)
         AS users_first,
       CAST(count(DISTINCT user_id) FILTER (WHERE half = 1) AS BIGINT)
         AS users_second,
       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2)))
                       FILTER (WHERE half = 0), 0) AS DOUBLE) AS sum_first,
       CAST(coalesce(sum(CAST(value AS DECIMAL(18,2)))
                       FILTER (WHERE half = 1), 0) AS DOUBLE) AS sum_second,
       CASE WHEN count(*) FILTER (WHERE half = 0) > 0
            THEN CAST(count(*) FILTER (WHERE half = 1) * 1000
                      // (count(*) FILTER (WHERE half = 0)) AS BIGINT)
            ELSE CAST(-1 AS BIGINT) END AS vol_drift_permille
FROM h GROUP BY event_type
""",
    doc="per-type profile drift between the first and second halves of "
    "the time range: volume, distinct users, exact decimal value sums, "
    "integer-permille volume ratio (-1 sentinel for empty baselines); "
    "the midpoint is one broadcast scalar and the report is ONE "
    "conditional-aggregation pass over events — no self-join, no second "
    "shuffle",
    tags=("events", "monitoring", "drift"),
)
def q145_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.numeric import dec

    ev = table(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2").cast("bigint").alias("mid")
    )
    h = ev.crossJoin(F.broadcast(mid)).select(
        "event_type",
        "user_id",
        "value",
        F.when(F.col("ts_us") < F.col("mid"), F.lit(0))
        .otherwise(F.lit(1))
        .alias("half"),
    )
    first = F.col("half") == 0
    second = F.col("half") == 1
    out = h.groupBy("event_type").agg(
        F.count(F.when(first, F.lit(1))).cast("bigint").alias("n_first"),
        F.count(F.when(second, F.lit(1))).cast("bigint").alias("n_second"),
        F.countDistinct(F.when(first, F.col("user_id")))
        .cast("bigint")
        .alias("users_first"),
        F.countDistinct(F.when(second, F.col("user_id")))
        .cast("bigint")
        .alias("users_second"),
        F.coalesce(F.sum(F.when(first, dec("value", 18, 2))), F.lit(0))
        .cast("double")
        .alias("sum_first"),
        F.coalesce(F.sum(F.when(second, dec("value", 18, 2))), F.lit(0))
        .cast("double")
        .alias("sum_second"),
    )
    return out.withColumn(
        "vol_drift_permille",
        F.when(
            F.col("n_first") > 0,
            F.expr("n_second * 1000 div n_first"),
        )
        .otherwise(F.lit(-1))
        .cast("bigint"),
    )


# --------------------------------------------------------------------------
# q151 — multi-touch LINEAR attribution in exact integer millis: each
# purchase distributes 1000 credit millis equally over the view/click
# touches earlier in its session (1000 div n each, remainder to the
# EARLIEST touch so every purchase's credit sums to exactly 1000);
# touchless purchases credit a 'direct' bucket.  The upgrade over q45's
# last-touch interval join: per-session pair generation is an equi-join
# on (user, session) — quadratic only within a session, like q125 within
# a basket — and all credit arithmetic is integer, so the report is
# engine-exact with conservation auditable (sum = 1000 * n_purchases).
# --------------------------------------------------------------------------


@register(
    "q151_linear_attribution",
    oracle=f"""
WITH marked AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
  SELECT user_id, event_id, event_type, ts_us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
),
p AS (
  SELECT user_id, session_id, event_id AS p_id, ts_us AS p_ts
  FROM sess WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, session_id, event_id AS t_id, ts_us AS t_ts, event_type
  FROM sess WHERE event_type IN ('view', 'click')
),
pairs AS (
  SELECT p.p_id, t.event_type, t.t_ts, t.t_id,
         count(*) OVER (PARTITION BY p.p_id) AS n,
         row_number() OVER (PARTITION BY p.p_id
                            ORDER BY t.t_ts ASC, t.t_id ASC) AS rn
  FROM p JOIN t ON p.user_id = t.user_id
               AND p.session_id = t.session_id
               AND (t.t_ts < p.p_ts OR (t.t_ts = p.p_ts AND t.t_id < p.p_id))
),
credited AS (
  SELECT event_type, p_id,
         1000 // n + CASE WHEN rn = 1 THEN 1000 % n ELSE 0 END AS credit
  FROM pairs
),
touched AS (
  SELECT event_type AS touch_type,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
         CAST(sum(credit) AS BIGINT) AS credit_millis
  FROM credited GROUP BY event_type
),
direct AS (
  SELECT 'direct' AS touch_type,
         CAST(0 AS BIGINT) AS n_pairs,
         CAST(count(*) AS BIGINT) AS n_purchases,
         CAST(count(*) * 1000 AS BIGINT) AS credit_millis
  FROM p LEFT JOIN (SELECT DISTINCT p_id FROM pairs) x ON x.p_id = p.p_id
  WHERE x.p_id IS NULL
)
SELECT * FROM touched UNION ALL SELECT * FROM direct
""",
    doc="multi-touch linear attribution: each purchase splits 1000 credit "
    "millis equally over its session's earlier view/click touches "
    "(integer div, remainder to the earliest touch — conservation holds "
    "exactly: total credit = 1000 * n_purchases), touchless purchases "
    "fall into a 'direct' bucket; pair generation is an equi-join on "
    "(user, session), quadratic only within a session",
    tags=("events", "attribution", "window"),
)
def q151_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.relational import (
        sessionize,
    )

    ev = table(spark, sf_dir, "events")
    sess = sessionize(
        ev.select("user_id", "event_id", "event_type", "ts_us"),
        user_col="user_id",
        ts_col="ts_us",
        gap_seconds=GAP_US,
        order_tiebreak="event_id",
    )
    p = sess.where(F.col("event_type") == "purchase").select(
        "user_id",
        "session_id",
        F.col("event_id").alias("p_id"),
        F.col("ts_us").alias("p_ts"),
    )
    t = sess.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "session_id",
        F.col("event_id").alias("t_id"),
        F.col("ts_us").alias("t_ts"),
        "event_type",
    )
    pairs = p.join(t, ["user_id", "session_id"]).where(
        (F.col("t_ts") < F.col("p_ts"))
        | ((F.col("t_ts") == F.col("p_ts")) & (F.col("t_id") < F.col("p_id")))
    )
    wp = Window.partitionBy("p_id")
    wr = Window.partitionBy("p_id").orderBy(
        F.asc("t_ts"), F.asc("t_id")
    )
    credited = pairs.select(
        "event_type",
        "p_id",
        F.count(F.lit(1)).over(wp).alias("n"),
        F.row_number().over(wr).alias("rn"),
    ).select(
        "event_type",
        "p_id",
        (
            F.expr("1000 div n")
            + F.when(F.col("rn") == 1, F.expr("1000 % n")).otherwise(F.lit(0))
        ).alias("credit"),
    )
    touched = credited.groupBy(F.col("event_type").alias("touch_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("p_id").cast("bigint").alias("n_purchases"),
        F.sum("credit").cast("bigint").alias("credit_millis"),
    )
    direct = (
        p.join(pairs.select("p_id").distinct(), "p_id", "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_purchases"))
        .select(
            F.lit("direct").alias("touch_type"),
            F.lit(0).cast("bigint").alias("n_pairs"),
            "n_purchases",
            (F.col("n_purchases") * F.lit(1000))
            .cast("bigint")
            .alias("credit_millis"),
        )
    )
    return touched.unionByName(direct)


# --------------------------------------------------------------------------
# q154 — inter-arrival time quantiles per event type: the lag-delta stream
# (seconds between consecutive same-type events of the same user) pushed
# through the distributed exact-quantile selector — P50/P95/P99
# inter-arrival is the time-series capacity/burstiness staple, here
# quantile_cont-exact without any per-group value buffering (q114's
# two-pass rank-selection machinery on a derived column).
# --------------------------------------------------------------------------


@register(
    "q154_interarrival_quantiles",
    oracle="""
WITH d AS (
  SELECT event_type,
         CAST(epoch_us(ts) - lag(epoch_us(ts))
                OVER (PARTITION BY user_id, event_type
                      ORDER BY epoch_us(ts), event_id)
              AS DOUBLE) / 1000000.0 AS gap_s
  FROM events
)
SELECT event_type,
       quantile_cont(gap_s, 0.50) AS p50_s,
       quantile_cont(gap_s, 0.95) AS p95_s,
       quantile_cont(gap_s, 0.99) AS p99_s
FROM d WHERE gap_s IS NOT NULL
GROUP BY event_type
""",
    doc="per-type inter-arrival quantiles (seconds between consecutive "
    "same-user same-type events): one user-keyed lag window derives the "
    "gaps, then the distributed exact-quantile selector (q114 machinery) "
    "returns quantile_cont-identical P50/P95/P99 without buffering any "
    "group — burstiness/capacity profiling at event-stream scale",
    tags=("events", "window", "quantiles"),
)
def q154_interarrival_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    gaps = ev.select(
        "event_type",
        (
            (F.col("ts_us") - F.lag("ts_us").over(w)).cast("double")
            / F.lit(1_000_000.0)
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return group_quantiles_exact(
        gaps,
        "event_type",
        "gap_s",
        {"p50_s": 0.50, "p95_s": 0.95, "p99_s": 0.99},
    )


# --------------------------------------------------------------------------
# q156 — calendar-spine gap fill: the dense hourly spine per event type
# (every hour between the type's first and last event), left-joined with
# observed hourly counts so missing hours surface as explicit zeros, plus
# a per-type continuity summary.  The resampling primitive every
# time-series rollup needs before windowed math is trustworthy: a naive
# groupBy silently skips empty buckets, which corrupts moving averages
# and anomaly baselines downstream.
# --------------------------------------------------------------------------


@register(
    "q156_hourly_gap_fill",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {_HOUR_US} AS hr, count(*) AS n
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(hr) AS h0, max(hr) AS h1 FROM hourly GROUP BY 1
),
spine AS (
  SELECT event_type, CAST(h AS BIGINT) AS hr
  FROM bounds, LATERAL unnest(generate_series(h0, h1)) t(h)
),
filled AS (
  SELECT s.event_type, s.hr, coalesce(hourly.n, 0) AS n
  FROM spine s LEFT JOIN hourly
    ON hourly.event_type = s.event_type AND hourly.hr = s.hr
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(count(*) FILTER (WHERE n = 0) AS BIGINT) AS n_gap_hours,
       CAST(max(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS has_gaps,
       CAST(sum(n) AS BIGINT) AS n_events
FROM filled GROUP BY event_type
""",
    doc="calendar-spine gap fill per event type: the dense hourly spine "
    "between each type's first and last hour (sequence+explode, bounded "
    "by the time range, never a cross join) left-joins observed counts so "
    "empty buckets surface as zeros; the continuity summary (hours, gap "
    "hours, totals) is the audit that keeps moving averages and anomaly "
    "baselines honest",
    tags=("events", "window", "resample"),
)
def q156_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type", F.expr(f"ts_us div {_HOUR_US}").alias("hr")
        )
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hr"),
    ).select("event_type", F.col("hr").cast("bigint").alias("hr"))
    filled = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce("n", F.lit(0)).alias("n")
    )
    return filled.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.count(F.when(F.col("n") == 0, F.lit(1)))
        .cast("bigint")
        .alias("n_gap_hours"),
        F.max(F.when(F.col("n") == 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("has_gaps"),
        F.sum("n").cast("bigint").alias("n_events"),
    )


# --------------------------------------------------------------------------
# q157 — LOCF imputation over the dense spine: the q156 gap-filled hourly
# value series with empty hours imputed by last-observation-carried-
# forward (exact decimal sums, so the imputed series is engine-identical);
# leading gaps (before the first observation) stay NULL and are counted.
# The resample-then-fill primitive feature pipelines need before lag/
# rolling features are well-defined.
# --------------------------------------------------------------------------


@register(
    "q157_locf_imputation",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {_HOUR_US} AS hr,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT event_type, min(hr) AS h0, max(hr) AS h1 FROM hourly GROUP BY 1
),
spine AS (
  SELECT event_type, CAST(h AS BIGINT) AS hr
  FROM bounds, LATERAL unnest(generate_series(h0, h1)) t(h)
),
filled AS (
  SELECT s.event_type, s.hr, hourly.v,
         hourly.v IS NULL AS was_gap
  FROM spine s LEFT JOIN hourly
    ON hourly.event_type = s.event_type AND hourly.hr = s.hr
)
SELECT event_type, hr,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY hr
         ROWS UNBOUNDED PRECEDING) AS v_locf,
       was_gap
FROM filled
""",
    doc="LOCF imputation on the dense hourly spine: per-type hourly value "
    "sums (exact decimal) on the q156 calendar spine, empty hours take "
    "the last observed value via an ignore-nulls running window — one "
    "type-keyed shuffle covers spine join and fill; was_gap keeps "
    "imputed rows auditable",
    tags=("events", "window", "resample"),
)
def q157_locf_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.numeric import money_sum

    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr(f"ts_us div {_HOUR_US}").alias("hr"),
            "value",
        )
        .groupBy("event_type", "hr")
        .agg(money_sum("value", "v"))
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hr"),
    ).select("event_type", F.col("hr").cast("bigint").alias("hr"))
    filled = spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type", "hr", "v", F.col("v").isNull().alias("was_gap")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "hr",
        F.last("v", ignorenulls=True).over(w).alias("v_locf"),
        "was_gap",
    )


# --------------------------------------------------------------------------
# q158 — value-concentration (Lorenz/Pareto) deciles WITHOUT a global
# sort: per-user exact cent totals shard by fixed VALUE RANGES (all of
# shard k's values >= all of shard k+1's), each shard ranks and
# cumulates locally, and a ~20-row shard-summary layer provides count
# and value offsets (the q126 offset trick, here value-ordered).  The
# row whose global rank hits each decile boundary reports the cumulative
# value share in exact integer permille — "the top 10% of users carry
# X% of value" at any scale, one user-keyed aggregate + one shard-local
# window + one broadcast offset join.
# --------------------------------------------------------------------------

_LORENZ_W = 500  # value-range shard width in cents


@register(
    "q158_value_concentration",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS vc
  FROM events GROUP BY user_id
),
sharded AS (SELECT user_id, vc, -(vc // {_LORENZ_W}) AS shard FROM u),
local AS (
  SELECT user_id, vc, shard,
         row_number() OVER (PARTITION BY shard
                            ORDER BY vc DESC, user_id ASC) AS rn_local,
         sum(vc) OVER (PARTITION BY shard
                       ORDER BY vc DESC, user_id ASC
                       ROWS UNBOUNDED PRECEDING) AS cum_local
  FROM sharded
),
sizes AS (SELECT shard, count(*) AS n, sum(vc) AS s FROM sharded GROUP BY 1),
offsets AS (
  SELECT shard,
         sum(n) OVER (ORDER BY shard ROWS UNBOUNDED PRECEDING) - n AS off_n,
         sum(s) OVER (ORDER BY shard ROWS UNBOUNDED PRECEDING) - s AS off_s
  FROM sizes
),
tot AS (SELECT sum(n) AS n_total, CAST(sum(s) AS BIGINT) AS total_cents
        FROM sizes),
ranked AS (
  SELECT l.user_id, o.off_n + l.rn_local AS rn,
         CAST(o.off_s + l.cum_local AS BIGINT) AS cum_cents
  FROM local l JOIN offsets o USING (shard)
),
bounds AS (
  SELECT CAST(k AS BIGINT) AS decile,
         (n_total * k + 9) // 10 AS brank, n_total, total_cents
  FROM tot, LATERAL unnest(generate_series(1, 10)) t(k)
)
SELECT b.decile,
       CAST(b.brank AS BIGINT) AS n_users_cum,
       r.cum_cents,
       CAST(r.cum_cents * 1000 // b.total_cents AS BIGINT)
         AS share_permille
FROM bounds b JOIN ranked r ON r.rn = b.brank
""",
    doc="Lorenz/Pareto value-concentration deciles without a global sort: "
    "fixed value-range shards keep global descending order as (shard, "
    "local rank); a ~20-row shard-summary layer broadcasts count+value "
    "offsets; decile boundary rows report cumulative share in exact "
    "integer permille — concentration analytics at 100 TB with one "
    "user aggregate, one shard-local window, no single-partition pass "
    "over users",
    tags=("events", "analytics", "scale"),
)
def q158_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.numeric import dec

    ev = table(spark, sf_dir, "events")
    u = (
        ev.groupBy("user_id")
        .agg(
            (F.sum(dec("value", 18, 2)) * F.lit(100))
            .cast("bigint")
            .alias("vc")
        )
        .withColumn("shard", -F.expr(f"vc div {_LORENZ_W}"))
    )
    wl = Window.partitionBy("shard").orderBy(
        F.desc("vc"), F.asc("user_id")
    )
    local = u.select(
        "user_id",
        "vc",
        "shard",
        F.row_number().over(wl).alias("rn_local"),
        F.sum("vc")
        .over(wl.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_local"),
    )
    sizes = u.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"), F.sum("vc").alias("s")
    )
    wo = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = sizes.select(
        "shard",
        (F.sum("n").over(wo) - F.col("n")).alias("off_n"),
        (F.sum("s").over(wo) - F.col("s")).alias("off_s"),
    )
    tot = sizes.agg(
        F.sum("n").alias("n_total"),
        F.sum("s").cast("bigint").alias("total_cents"),
    )
    ranked = local.join(F.broadcast(offsets), "shard").select(
        "user_id",
        (F.col("off_n") + F.col("rn_local")).alias("rn"),
        (F.col("off_s") + F.col("cum_local")).cast("bigint").alias(
            "cum_cents"
        ),
    )
    bounds = (
        tot.select(
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("k"),
            "n_total",
            "total_cents",
        )
        .select(
            F.col("k").cast("bigint").alias("decile"),
            F.expr("(n_total * k + 9) div 10").alias("brank"),
            "total_cents",
        )
    )
    return ranked.join(F.broadcast(bounds), ranked.rn == bounds.brank).select(
        "decile",
        F.col("brank").cast("bigint").alias("n_users_cum"),
        "cum_cents",
        F.expr("cum_cents * 1000 div total_cents")
        .cast("bigint")
        .alias("share_permille"),
    )


# --------------------------------------------------------------------------
# q159 — time-to-convert quantiles: per user, the delay from FIRST view to
# the first purchase AT OR AFTER it; the global P50/P90/P99 comes from the
# distributed exact-quantile selector running on ONE group — which is
# precisely what the q114 machinery is for: rank selection over range
# cells, no single aggregation buffer ever holds the population.
# --------------------------------------------------------------------------


@register(
    "q159_time_to_convert",
    oracle="""
WITH v AS (
  SELECT user_id, min(epoch_us(ts)) AS first_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
p AS (
  SELECT v.user_id,
         min(epoch_us(e.ts)) AS first_purchase
  FROM v JOIN events e
    ON e.user_id = v.user_id
   AND e.event_type = 'purchase'
   AND epoch_us(e.ts) >= v.first_view
  GROUP BY v.user_id
),
d AS (
  SELECT 'all' AS grp,
         CAST(p.first_purchase - v.first_view AS DOUBLE) / 1000000.0
           AS delay_s
  FROM v JOIN p USING (user_id)
)
SELECT grp,
       CAST(count(*) AS BIGINT) AS n_converted,
       quantile_cont(delay_s, 0.50) AS p50_s,
       quantile_cont(delay_s, 0.90) AS p90_s,
       quantile_cont(delay_s, 0.99) AS p99_s
FROM d GROUP BY grp
""",
    doc="time-to-convert distribution: per-user delay from first view to "
    "the first purchase at-or-after it, reduced to exact "
    "quantile_cont-identical P50/P90/P99 by the distributed rank "
    "selector over a SINGLE group — the q114 machinery's reason to "
    "exist: population-scale quantiles with no per-group buffering; "
    "conversion joins stay user-keyed equi-joins",
    tags=("events", "funnel", "quantiles"),
)
def q159_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("first_view"))
    )
    p = (
        v.join(
            ev.where(F.col("event_type") == "purchase").select(
                "user_id", "ts_us"
            ),
            "user_id",
        )
        .where(F.col("ts_us") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("first_purchase"))
    )
    d = v.join(p, "user_id").select(
        F.lit("all").alias("grp"),
        (
            (F.col("first_purchase") - F.col("first_view")).cast("double")
            / F.lit(1_000_000.0)
        ).alias("delay_s"),
    )
    n = d.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted")
    )
    q = group_quantiles_exact(
        d, "grp", "delay_s", {"p50_s": 0.50, "p90_s": 0.90, "p99_s": 0.99}
    )
    return n.join(q, "grp").select(
        "grp", "n_converted", "p50_s", "p90_s", "p99_s"
    )


# --------------------------------------------------------------------------
# q160 — EXACT linear interpolation on the dense spine: gap hours take
# ``vp + (vn - vp) * (h - hp) div (hn - hp)`` in integer CENTS between
# the previous (hp, vp) and next (hn, vn) observations — flooring
# division makes the imputed series bit-identical across engines, unlike
# float lerp.  Leading/trailing gaps (no neighbor on one side) stay NULL
# with method 'none'; observed hours pass through as 'obs'.
