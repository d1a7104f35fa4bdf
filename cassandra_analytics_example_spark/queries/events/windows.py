"""Event-analytics queries, `windows` block — mechanically split from the
former queries/events.py in round 10 (zero behavior change; see events/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.functions.numeric import money_sum
from cassandra_analytics_example_spark.operators.checkpoints import truncate_plan
from cassandra_analytics_example_spark.operators.relational import (
    asof_join,
    lww_latest,
)
from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.queries._tables import table
from cassandra_analytics_example_spark.session import temp_root


# --------------------------------------------------------------------------
# q15 — tumbling window aggregate (batch twin of the streaming hourly roll).
# --------------------------------------------------------------------------


@register(
    "q15_hourly_event_windows",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="tumbling 1h window aggregate (F.window batch form)",
    tags=("events", "window"),
)
def q15_hourly_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), money_sum("value", "sum_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# q16 — gap-based sessionization (lag + cumulative session ids).
# --------------------------------------------------------------------------

GAP_US = 30 * 60 * 1_000_000  # 30 minutes in microseconds


@register(
    "q16_user_sessions",
    oracle=f"""
WITH marked AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sessions AS (
  SELECT user_id, ts_us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id,
       count(DISTINCT session_id) AS n_sessions,
       count(*) AS n_events,
       max(ts_us) - min(ts_us) AS active_span_us
FROM sessions
GROUP BY user_id
""",
    doc="30-min-gap session statistics per user via the session_counts "
    "aggregate fast path (one lag window + one plain aggregate; "
    "result-identical to sessionize + countDistinct — the id-assigning "
    "sessionize operator itself is driver-checked by q139/q151/q167/"
    "q231/q254/q266/q271)",
    tags=("events", "session"),
)
def q16_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.relational import (
        session_counts,
    )

    ev = table(spark, sf_dir, "events").select("user_id", "ts_us", "event_id")
    return session_counts(
        ev, user_col="user_id", ts_col="ts_us",
        gap=GAP_US, order_tiebreak="event_id",
    ).withColumnRenamed("active_span", "active_span_us")


# --------------------------------------------------------------------------
# q17 — last-write-wins reconciliation (the Cassandra read semantics).
# --------------------------------------------------------------------------


@register(
    "q17_lww_latest_events",
    oracle="""
SELECT user_id, event_type, epoch_us(ts) AS ts_us, value FROM (
  SELECT user_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
""",
    doc="lww_latest operator: newest version per (user, event_type) — the "
    "last-write-wins reconcile of the reference's bulk read (SURVEY §7)",
    tags=("events", "dedup"),
)
def q17_lww_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    latest = lww_latest(
        ev,
        keys=["user_id", "event_type"],
        version_order=[F.col("ts_ns").desc(), F.col("event_id").desc()],
    )
    return latest.select("user_id", "event_type", "ts_us", "value")


# --------------------------------------------------------------------------
# q18 — as-of join: attach the most recent prior signup per purchase.
# --------------------------------------------------------------------------


@register(
    "q18_asof_purchase_signup",
    oracle="""
WITH tagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value, 1 AS is_left
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value, 0 AS is_left
  FROM events WHERE event_type = 'signup'
),
carried AS (
  SELECT user_id, event_id, ts_us, value, is_left,
         last_value(CASE WHEN is_left = 0 THEN ts_us END IGNORE NULLS) OVER w AS signup_ts_us,
         last_value(CASE WHEN is_left = 0 THEN value END IGNORE NULLS) OVER w AS signup_value
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, is_left
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, ts_us, value, signup_ts_us, signup_value
FROM carried WHERE is_left = 1
""",
    doc="asof_join operator: purchases ← most recent prior signup per user "
    "(single shuffle, no range-join explosion)",
    tags=("events", "asof"),
)
def q18_asof_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts_us").alias("signup_ts"), F.col("value").alias("sv")
    )
    joined = asof_join(
        purchases,
        signups,
        on=["user_id"],
        left_ts="ts_us",
        right_ts="signup_ts",
        right_values=["signup_ts", "sv"],
        suffix="",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts_us",
        "value",
        F.col("signup_ts").alias("signup_ts_us"),
        F.col("sv").alias("signup_value"),
    )


# --------------------------------------------------------------------------
# q38 — sliding windows: each event lands in width/slide overlapping
# windows (F.window with a slide). The DuckDB twin materializes the same
# window set arithmetically: starts = floor(t/slide)*slide - j*slide for
# j in [0, width/slide).
# --------------------------------------------------------------------------

_SLIDE_US = 1_800_000_000  # 30 min


@register(
    "q38_sliding_windows",
    oracle=f"""
WITH e AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events),
wins AS (
  SELECT CAST(make_timestamp((tus // {_SLIDE_US}) * {_SLIDE_US} - j * {_SLIDE_US})
              AS VARCHAR) AS window_start,
         event_type, value
  FROM e, UNNEST([0, 1]) AS t(j)
)
SELECT window_start, event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM wins
GROUP BY 1, 2
""",
    doc="sliding 1h/30min overlapping windows (each event in 2 windows)",
    tags=("events", "window"),
)
def q38_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), money_sum("value", "sum_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# q45 — interval (range) join: purchases attributed to the same user's view
# within 1 hour. Equi-join on user_id + time-range residual — scale-safe
# (the shuffle key is user_id; no cross product). Batch twin of streaming
# s06 (stream-stream join with watermark-bounded state).
# --------------------------------------------------------------------------

ATTRIBUTION_WINDOW_US = 3_600_000_000  # 1 hour


@register(
    "q45_view_purchase_attribution",
    oracle=f"""
WITH v AS (
  SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_ts_us
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, event_id AS purchase_id,
         CAST(value AS DOUBLE) AS purchase_value,
         epoch_us(ts) AS purchase_ts_us
  FROM events WHERE event_type = 'purchase'
)
SELECT v.user_id, view_id, purchase_id, purchase_value,
       view_ts_us, purchase_ts_us
FROM v JOIN p ON v.user_id = p.user_id
 AND purchase_ts_us >= view_ts_us
 AND purchase_ts_us <= view_ts_us + {ATTRIBUTION_WINDOW_US}
""",
    doc="interval join: purchases within 1h after a view by the same user "
    "(equi-join on user_id + time-range residual; batch twin of s06)",
    tags=("events", "join"),
)
def q45_view_purchase_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.unix_micros("ts").alias("view_ts_us"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").cast("double").alias("purchase_value"),
        F.unix_micros("ts").alias("purchase_ts_us"),
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts_us") >= F.col("view_ts_us"))
            & (
                F.col("purchase_ts_us")
                <= F.col("view_ts_us") + F.lit(ATTRIBUTION_WINDOW_US)
            ),
        )
        .select(
            "user_id",
            "view_id",
            "purchase_id",
            "purchase_value",
            "view_ts_us",
            "purchase_ts_us",
        )
    )


# --------------------------------------------------------------------------
# q49 — LWW reconcile WITH tombstones (delete semantics). The fixture has no
# real deletion markers, so 'error' events stand in as tombstones: a user's
# newest event being an error suppresses the user from the reconciled view;
# any later non-error event resurrects them. Same single-shuffle plan as q17
# plus a post-window filter.
# --------------------------------------------------------------------------


@register(
    "q49_lww_with_tombstones",
    oracle="""
SELECT user_id, event_type, epoch_us(ts) AS ts_us, value FROM (
  SELECT user_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1 AND event_type <> 'error'
""",
    doc="lww_latest with tombstone semantics: newest event per user wins; "
    "a tombstone (stand-in: event_type='error') as the newest version "
    "suppresses the key, a newer write resurrects it",
    tags=("events", "dedup"),
)
def q49_lww_with_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    latest = lww_latest(
        ev,
        keys=["user_id"],
        version_order=[F.col("ts_ns").desc(), F.col("event_id").desc()],
        tombstone=F.col("event_type") == "error",
    )
    return latest.select("user_id", "event_type", "ts_us", "value")


# --------------------------------------------------------------------------
# q68 — key-skew diagnosis: the profiling pass you run BEFORE keying a
# 100 TB shuffle on a column. Pairs with q62 (salted_join): diagnose
# here, mitigate there. Both output shapes are one aggregate row /
# top-k rows — never the data.
# --------------------------------------------------------------------------


@register(
    "q68_key_skew_report",
    oracle="""
WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
SELECT CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(max(cnt) AS BIGINT) AS max_cnt,
       CAST(min(cnt) AS BIGINT) AS min_cnt,
       CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS hot_share,
       CAST(max(cnt) * count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
         AS skew_ratio
FROM c
""",
    doc="key-skew diagnosis of events.user_id: cardinality, hottest-key "
    "share, max/mean skew ratio — keyed count + scalar reduce, ratios as "
    "single divisions of exact integers",
    tags=("profiling", "scale"),
)
def q68_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.profiling import (
        key_skew_report,
    )

    return key_skew_report(table(spark, sf_dir, "events"), "user_id")


@register(
    "q69_hot_keys",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY user_id
ORDER BY cnt DESC, user_id ASC
LIMIT 10
""",
    doc="the 10 hottest event keys with exact counts and a total order — "
    "the keys a salting/AQE mitigation would split",
    tags=("profiling", "scale"),
)
def q69_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.profiling import hot_keys

    return hot_keys(table(spark, sf_dir, "events"), "user_id", 10).select(
        "user_id", F.col("cnt").cast("bigint").alias("cnt")
    )


# --------------------------------------------------------------------------
# q74 — ordered funnel: view → click → purchase. Stage k's timestamp is
# the earliest event of that type AFTER the user completed stage k-1;
# all stages are full-frame window mins over ONE user partitioning, so
# the whole funnel is a single shuffle of the event stream.
# --------------------------------------------------------------------------


@register(
    "q74_funnel_view_click_purchase",
    oracle="""
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
s AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts_us END)
           OVER (PARTITION BY user_id) AS t_view
  FROM e),
s2 AS (
  SELECT e.user_id, e.event_type, e.ts_us, s.t_view,
         min(CASE WHEN e.event_type = 'click' AND e.ts_us > s.t_view
                   AND e.ts_us <= s.t_view + 21600000000
                  THEN e.ts_us END)
           OVER (PARTITION BY e.user_id) AS t_click
  FROM e JOIN (SELECT DISTINCT user_id, t_view FROM s) s USING (user_id)),
s3 AS (
  SELECT DISTINCT user_id, t_view, t_click,
         min(CASE WHEN event_type = 'purchase' AND ts_us > t_click
                   AND ts_us <= t_click + 21600000000
                  THEN ts_us END)
           OVER (PARTITION BY user_id) AS t_purchase
  FROM s2)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view,
       CAST(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_click,
       CAST(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchase,
       CAST(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS conversion_rate
FROM s3
""",
    doc="ordered view→click→purchase funnel with a 6h conversion window "
    "per stage: earliest-after-previous-stage times via chained "
    "full-frame windows on ONE user partitioning (single shuffle for "
    "any stage count), then a scalar conversion summary",
    tags=("events", "window"),
)
def q74_funnel_view_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cassandra_analytics_example_spark.operators.relational import (
        funnel_stages,
    )

    ev = table(spark, sf_dir, "events")
    per_user = funnel_stages(
        ev,
        "user_id",
        "ts_us",
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        max_gap=21_600_000_000,  # 6h in µs
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_view"),
        F.sum(F.col("t_click").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_click"),
        F.sum(F.col("t_purchase").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_purchase"),
        (
            F.sum(F.col("t_purchase").isNotNull().cast("bigint")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("conversion_rate"),
    )


# --------------------------------------------------------------------------
# q75 — retention cohorts: users grouped by their first-activity week
# bucket; each later week bucket counts how many are still active.
# Week buckets are integer epoch-microsecond divisions (calendar-free,
# engine-exact); the cohort assignment is a full-frame window min on
# the same user partitioning discipline as the funnel.
# --------------------------------------------------------------------------


@register(
    "q75_retention_cohorts",
    oracle="""
WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week_idx
           FROM events),
c AS (SELECT user_id, week_idx,
             min(week_idx) OVER (PARTITION BY user_id) AS cohort_week
      FROM e),
d AS (SELECT DISTINCT user_id, cohort_week,
             week_idx - cohort_week AS week_offset
      FROM c)
SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
       CAST(week_offset AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_active
FROM d GROUP BY cohort_week, week_offset
""",
    doc="weekly retention cohorts: first-activity week via window min on "
    "the user partition, distinct (user, cohort, offset), grouped active "
    "counts — integer week buckets, no calendar/timezone dependence",
    tags=("events", "window"),
)
def q75_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", (F.col("ts_us") / 604_800_000_000).cast("bigint").alias("week_idx")
    )
    w = Window.partitionBy("user_id")
    d = (
        ev.withColumn("cohort_week", F.min("week_idx").over(w))
        .select(
            "user_id",
            "cohort_week",
            (F.col("week_idx") - F.col("cohort_week")).alias("week_offset"),
        )
        .distinct()
    )
    return d.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active")
    )


# --------------------------------------------------------------------------
# q78 — rolling-frame anomaly detection: an event is anomalous when its
# value exceeds 2x the mean of the user's previous 10 events. The frame
# is ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING over the user's time
# order; values are quantized to integer micro-units FIRST so the
# rolling sums are exact integers and the 2x-mean comparison is the
# integer cross-product value*n > 2*sum — no float accumulation
# anywhere, so the flag is engine- and order-exact.
# --------------------------------------------------------------------------


@register(
    "q78_rolling_anomaly",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 1000000) AS BIGINT) AS v_micro
  FROM events),
r AS (
  SELECT event_id, user_id, ts_us, v_micro,
         sum(v_micro) OVER w AS prev_sum,
         count(*) OVER w AS prev_n
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
SELECT event_id, user_id, ts_us, v_micro,
       CAST(prev_n AS BIGINT) AS prev_n
FROM r
WHERE prev_n >= 5 AND v_micro * prev_n > 2 * prev_sum
""",
    doc="rolling-frame anomaly flag: value > 2x the mean of the user's "
    "previous 10 events (ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING), "
    "values quantized to integer micro-units so the test is the exact "
    "integer cross-product v*n > 2*sum — requires >= 5 prior events",
    tags=("events", "window"),
)
def q78_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts_us",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("v_micro"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_us"), F.col("event_id"))
        .rowsBetween(-10, -1)
    )
    r = ev.select(
        "event_id",
        "user_id",
        "ts_us",
        "v_micro",
        F.sum("v_micro").over(w).alias("prev_sum"),
        F.count(F.lit(1)).over(w).alias("prev_n"),
    )
    return r.filter(
        (F.col("prev_n") >= 5)
        & (F.col("v_micro") * F.col("prev_n") > 2 * F.col("prev_sum"))
    ).select(
        "event_id",
        "user_id",
        "ts_us",
        "v_micro",
        F.col("prev_n").cast("bigint").alias("prev_n"),
    )


# --------------------------------------------------------------------------
# q80 — event-type transition matrix: counts of consecutive (from → to)
# event pairs per user order — the Markov-chain view of user paths.
# lag() over the user's time order needs the SAME single shuffle as
# every other per-user window here; ties in the fixture are broken by
# event_id so the sequence is a total order.
# --------------------------------------------------------------------------


@register(
    "q80_event_transitions",
    oracle="""
WITH s AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events)
SELECT prev_type AS from_type, event_type AS to_type,
       CAST(count(*) AS BIGINT) AS n
FROM s WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
    doc="event-type transition matrix (Markov path view): lag() over each "
    "user's total-ordered event sequence, grouped transition counts — "
    "one user-partition shuffle plus one small aggregate",
    tags=("events", "window"),
)
def q80_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts_us"), F.col("event_id"))
    s = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("from_type"),
    )
    return (
        s.filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# --------------------------------------------------------------------------
# q83 — TTL expiry: Cassandra's per-cell TTL semantics as an explicit
# batch operator — rows older than the TTL relative to the dataset's
# own observation horizon (max ts) are expired. The cutoff is a scalar
# aggregate broadcast back as a literal; expiry itself is a pure
# filter, pushable once the cutoff is resolved.
# --------------------------------------------------------------------------


@register(
    "q83_ttl_expiry",
    oracle="""
WITH h AS (SELECT max(epoch_us(ts)) AS horizon FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_live,
       CAST(min(epoch_us(ts)) AS BIGINT) AS oldest_live_us
FROM events, h
WHERE epoch_us(ts) > horizon - 604800000000
GROUP BY event_type
""",
    doc="TTL expiry (Cassandra cell-TTL semantics, batch form): drop rows "
    "older than 7 days before the dataset's max timestamp — scalar "
    "horizon broadcast, then a pure filter + grouped liveness counts",
    tags=("events", "reference-parity"),
)
def q83_ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts_us").alias("__h"))
    return (
        ev.crossJoin(F.broadcast(horizon))
        .filter(F.col("ts_us") > F.col("__h") - 604_800_000_000)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_live"),
            F.min("ts_us").cast("bigint").alias("oldest_live_us"),
        )
    )


# --------------------------------------------------------------------------
# q84 — per-user event-type value map: grouped aggregation INTO a map
# column (the Cassandra collection-column shape), surfaced as a
# sorted "type:micro_total" packed string so the representation is
# engine-exact (map iteration order is unspecified in every engine).
# --------------------------------------------------------------------------


@register(
    "q84_user_type_value_map",
    oracle="""
WITH agg AS (
  SELECT user_id, event_type,
         CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
           AS v_micro
  FROM events GROUP BY user_id, event_type)
SELECT user_id,
       string_agg(event_type || ':' || CAST(v_micro AS VARCHAR),
                  '|' ORDER BY event_type) AS type_totals
FROM agg GROUP BY user_id
""",
    doc="per-user map<event_type, total>: two-level aggregation into a "
    "collection column (Cassandra map-column shape), packed as a "
    "key-sorted string because map iteration order is unspecified in "
    "every engine; totals in integer micro-units",
    tags=("events", "agg"),
)
def q84_user_type_value_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("v_micro"),
    )
    agg = ev.groupBy("user_id", "event_type").agg(
        F.sum("v_micro").cast("bigint").alias("v_micro")
    )
    packed = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("event_type").alias("t"), F.col("v_micro").alias("v"))
                )
            ),
            lambda s: F.concat_ws(":", s["t"], s["v"].cast("string")),
        ),
        "|",
    )
    return agg.groupBy("user_id").agg(packed.alias("type_totals"))


# --------------------------------------------------------------------------
# q86 — RANGE frame (value-range window): per event, how many of the
# same user's events fall in the PRECEDING HOUR by timestamp value —
# a rows-frame can't express this (event counts per hour vary); the
# range frame is resolved against the ordered ts_us VALUES. Completes
# the frame-spec surface: ROWS (q78), RANGE (here), unbounded (q74),
# growing (q18's as-of form).
# --------------------------------------------------------------------------


@register(
    "q86_range_frame_hourly_load",
    oracle="""
SELECT event_id, user_id,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 3600000000 PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
         AS n_events_last_hour
FROM events
""",
    doc="RANGE frame: same-user event count within the trailing hour BY "
    "TIMESTAMP VALUE (not row count) — the frame type rows-frames can't "
    "express; one user-partition shuffle",
    tags=("events", "window"),
)
def q86_range_frame_hourly_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_us"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_events_last_hour"),
    )


# --------------------------------------------------------------------------
# q93 — band join without an equi key: purchase events of DIFFERENT users
# within 5 minutes of each other. Cell-bucketed candidate generation
# (operators/relational.py:banded_self_join) keeps it an equi-join on the
# cell id — the naive |Δts| predicate would plan as a nested-loop cross
# join.
# --------------------------------------------------------------------------

_BAND_US = 300_000_000  # 5 minutes


@register(
    "q93_purchase_band_join",
    oracle=f"""
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS tus
  FROM events WHERE event_type = 'purchase'
)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       abs(a.tus - b.tus) AS delta
FROM p a JOIN p b
  ON a.event_id < b.event_id
 AND a.user_id <> b.user_id
 AND abs(a.tus - b.tus) <= {_BAND_US}
""",
    doc="band self-join (no equi key): cross-user purchase pairs within "
    "5 min via div-band cell bucketing — equi-join on the cell id, "
    "never a nested-loop cross join",
    tags=("events", "join", "scale"),
)
def q93_purchase_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.relational import (
        banded_self_join,
    )

    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    return banded_self_join(
        p,
        "event_id",
        "ts_us",
        _BAND_US,
        extra_cond=lambda j: F.col("l_user_id") != F.col("r_user_id"),
    )


# --------------------------------------------------------------------------
# q94 — windowed first-event dedup: first event per (user, type) per
# 30-min tumbling window — the SQL-expressible batch twin of streaming
# suppression dedup (s03's semantics restricted to window-aligned
# suppression; total order on (ts, event_id) makes it deterministic).
# --------------------------------------------------------------------------

_W30_US = 1_800_000_000


@register(
    "q94_windowed_first_event",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus,
         (epoch_us(ts) // {_W30_US}) AS w
  FROM events
),
r AS (
  SELECT *, row_number() OVER (
           PARTITION BY user_id, event_type, w
           ORDER BY tus, event_id) AS rn
  FROM e
)
SELECT user_id, event_type,
       CAST(w * {_W30_US} AS BIGINT) AS window_start_us,
       event_id, tus AS ts_us
FROM r WHERE rn = 1
""",
    doc="windowed first-event dedup: one survivor per (user, type, "
    "30-min tumbling window), deterministic (ts, event_id) order — "
    "batch twin of streaming suppression dedup, one shuffle on the "
    "composite key",
    tags=("events", "dedup", "window"),
)
def q94_windowed_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = F.expr(f"ts_us div {_W30_US}")
    win = Window.partitionBy("user_id", "event_type", "__w").orderBy(
        "ts_us", "event_id"
    )
    return (
        ev.select("user_id", "event_type", "event_id", "ts_us", w.alias("__w"))
        .withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_type",
            (F.col("__w") * _W30_US).cast("bigint").alias("window_start_us"),
            "event_id",
            "ts_us",
        )
    )


# --------------------------------------------------------------------------
# q101 — dynamic partition pruning: a fact table PARTITIONED by
# event_type joined to a small filtered dimension must prune fact
# partitions AT RUNTIME from the dim's build side (DPP) — directories
# for non-qualifying types are never listed, let alone read. The scan
# gate lives in tests/test_plans.py (dynamicpruning in the scan's
# PartitionFilters).
# --------------------------------------------------------------------------


# Partitioned fact/dim layout for the DPP demonstration, written ONCE per
# (session, sf_dir) — the query itself must not pay a parquet write per
# invocation (r4 advice: bench paid a tempdir write every run).
_DPP_ROOTS: dict[tuple[str, str], str] = {}


def _dpp_tables(spark: SparkSession, sf_dir: str) -> str:
    import os

    from cassandra_analytics_example_spark.operators.layout import (
        write_partitioned,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    root = _DPP_ROOTS.get(key)
    if root is not None and os.path.isdir(root):
        return root
    ev = table(spark, sf_dir, "events")
    root = temp_root("dpp-")
    write_partitioned(
        ev.select("event_id", "value", "event_type"), root, ["event_type"]
    )
    spark.createDataFrame(
        [("view", "browse"), ("click", "browse"), ("purchase", "conversion"),
         ("signup", "conversion"), ("error", "noise")],
        "event_type string, kind string",
    ).write.mode("overwrite").parquet(f"{root}_dim")
    _DPP_ROOTS[key] = root
    return root


def dpp_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY DPP join. Caller owns the
    ``spark.sql.optimizer.dynamicPartitionPruning.useStats`` scope — the
    pruning decision is made when an action optimizes this plan, not when
    it is built (tests/test_plans.py gates the dynamicpruning expression
    through this builder inside its own conf scope)."""
    # Two conditions the PartitionPruning rule needs that a naive setup
    # misses: (1) the benefit heuristic consults table stats and a
    # fixture-sized fact is below threshold — the ratio-based path must be
    # pinned by the caller via useStats=false (at real scale the stats path
    # inserts the filter on its own);
    # (2) the dim filter must be "likely selective" — a comparison/IN
    # predicate, NOT a bare boolean column (which isLikelySelective
    # rejects), and it must survive as a Filter node, so the dim is
    # parquet-backed rather than a constant-folded literal relation.
    root = _dpp_tables(spark, sf_dir)
    fact = spark.read.parquet(root)
    dim = spark.read.parquet(f"{root}_dim")
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("kind") == "conversion")),
            "event_type",
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "q101_dynamic_partition_pruning",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
WHERE event_type IN ('purchase', 'signup')
GROUP BY event_type
""",
    doc="dynamic partition pruning: event_type-partitioned fact x small "
    "conversion-dimension join — the dim's runtime filter prunes fact "
    "DIRECTORIES before the scan (plan-gated); at 100 TB this is the "
    "difference between reading 2/5 and 5/5 of the table; the useStats "
    "override is scoped to this execution and the result materializes "
    "via an eager lineage cut (no driver collect)",
    tags=("events", "join", "scale"),
)
def q101_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scope the optimizer override to THIS query's execution and restore it
    # (r3 advice: the conf previously leaked into every later query on the
    # shared session). The pruning happens at action time, so the plan is
    # optimized + materialized inside the scope by an EAGER lineage cut
    # (truncate_plan) — the result stays a distributed DataFrame, not a
    # driver-side collect()+re-parallelize (r4 advice).
    key = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        return truncate_plan(dpp_join_plan(spark, sf_dir))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


# --------------------------------------------------------------------------
# q102 — VariantType semi-structured path: parse_json once into a binary
# variant column, then typed variant_get extractions — the modern
# (shredded, vectorizable) alternative to per-field get_json_object
# re-parsing (q14). The variant value itself is engine-internal; the
# query surfaces only extracted SQL types, so the oracle checks values.
# --------------------------------------------------------------------------


@register(
    "q102_variant_json",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS min_k,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS max_k
FROM events
GROUP BY event_type
""",
    doc="VariantType semi-structured ingestion: props parsed ONCE via "
    "parse_json into a variant column, typed variant_get extraction, "
    "grouped aggregate — one parse per row regardless of extracted "
    "field count, vs get_json_object's re-parse per field (q14)",
    tags=("events", "json"),
)
def q102_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
    )


# --------------------------------------------------------------------------
# q106 — cogrouped applyInPandas: the two-sided grouped-map surface
# (events ⋈ orders per customer/user key, aligned inside one Arrow batch
# pair per key). The pandas logic is deliberately SQL-mirrorable so the
# oracle can value-check the Python boundary.
# --------------------------------------------------------------------------


@register(
    "q106_cogroup_user_activity",
    oracle="""
WITH e AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS event_value
  FROM events GROUP BY user_id
),
o AS (
  SELECT o_custkey AS user_id, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS order_value
  FROM orders WHERE o_custkey <= 150 GROUP BY o_custkey
)
SELECT coalesce(e.user_id, o.user_id) AS user_id,
       CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
       coalesce(event_value, 0.0) AS event_value,
       CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
       coalesce(order_value, 0.0) AS order_value
FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
""",
    doc="cogrouped grouped-map (applyInPandas over a cogroup): events and "
    "orders aligned per user key inside one Arrow batch pair — the "
    "two-sided escape hatch for per-key logic joins can't express; "
    "decimal-exact sums keep the Python boundary oracle-checkable",
    tags=("events", "python", "cogroup"),
)
def q106_cogroup_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = table(spark, sf_dir, "events").select("user_id", "value")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 150)
        .select(F.col("o_custkey").alias("user_id"), "o_totalprice")
    )

    def align(key, events_pdf: pd.DataFrame, orders_pdf: pd.DataFrame):
        from decimal import Decimal

        ev_val = sum(
            (Decimal(str(v)).quantize(Decimal("0.0001")) for v in events_pdf["value"]),
            Decimal(0),
        )
        ord_val = sum(
            (Decimal(str(v)).quantize(Decimal("0.01")) for v in orders_pdf["o_totalprice"]),
            Decimal(0),
        )
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [len(events_pdf)],
                "event_value": [float(ev_val)],
                "n_orders": [len(orders_pdf)],
                "order_value": [float(ord_val)],
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInPandas(
            align,
            schema="user_id bigint, n_events bigint, event_value double, "
            "n_orders bigint, order_value double",
        )
    )


# --------------------------------------------------------------------------
# q107 — built-in session_window in BATCH mode: the same gap-merge the
# streaming layer uses (s02), run as a batch aggregate and checked
# against the SQL gap-and-islands formulation — proving the built-in,
# the manual sessionize operator (q16) and the oracle all agree on
# session semantics.
