"""Event-analytics queries, `timeseries` block — mechanically split from the
former queries/events.py in round 10 (zero behavior change; see events/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.checkpoints import truncate_plan
from cassandra_analytics_example_spark.operators.quantiles import (
    group_quantiles_exact,
)
from cassandra_analytics_example_spark.operators.relational import sessionize
from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.queries._tables import table
from cassandra_analytics_example_spark.queries.events.windows import (  # noqa: E402
    GAP_US,
)
from cassandra_analytics_example_spark.queries.events.sessions import (  # noqa: E402
    _HOUR_US,
)

# --------------------------------------------------------------------------


@register(
    "q160_linear_interpolation",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {_HOUR_US} AS hr,
         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS vc
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
  SELECT s.event_type, s.hr, hourly.vc
  FROM spine s LEFT JOIN hourly
    ON hourly.event_type = s.event_type AND hourly.hr = s.hr
),
ctx AS (
  SELECT event_type, hr, vc,
         last_value(vc IGNORE NULLS) OVER wb AS vp,
         last_value(CASE WHEN vc IS NOT NULL THEN hr END IGNORE NULLS)
           OVER wb AS hp,
         first_value(vc IGNORE NULLS) OVER wf AS vn,
         first_value(CASE WHEN vc IS NOT NULL THEN hr END IGNORE NULLS)
           OVER wf AS hn
  FROM filled
  WINDOW wb AS (PARTITION BY event_type ORDER BY hr
                ROWS UNBOUNDED PRECEDING),
         wf AS (PARTITION BY event_type ORDER BY hr
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hr,
       CASE WHEN vc IS NOT NULL THEN vc
            WHEN vp IS NOT NULL AND vn IS NOT NULL
            THEN vp + (vn - vp) * (hr - hp) // (hn - hp)
            ELSE NULL END AS vc_filled,
       CASE WHEN vc IS NOT NULL THEN 'obs'
            WHEN vp IS NOT NULL AND vn IS NOT NULL THEN 'interp'
            ELSE 'none' END AS method
FROM ctx
""",
    doc="exact integer linear interpolation on the dense hourly spine: "
    "gap hours take vp + (vn-vp)*(h-hp) div (hn-hp) in cents between "
    "the LOCF and NOCB neighbors — flooring integer lerp is "
    "engine-identical where float lerp differs by ulps; both neighbor "
    "windows share the one type-keyed shuffle, edges stay NULL and "
    "labeled",
    tags=("events", "window", "resample"),
)
def q160_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.numeric import dec

    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr(f"ts_us div {_HOUR_US}").alias("hr"),
            "value",
        )
        .groupBy("event_type", "hr")
        .agg(
            (F.sum(dec("value", 18, 2)) * F.lit(100))
            .cast("bigint")
            .alias("vc")
        )
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("hr"),
    ).select("event_type", F.col("hr").cast("bigint").alias("hr"))
    filled = spine.join(hourly, ["event_type", "hr"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hr = F.when(F.col("vc").isNotNull(), F.col("hr"))
    ctx = filled.select(
        "event_type",
        "hr",
        "vc",
        F.last("vc", ignorenulls=True).over(wb).alias("vp"),
        F.last(obs_hr, ignorenulls=True).over(wb).alias("hp"),
        F.first("vc", ignorenulls=True).over(wf).alias("vn"),
        F.first(obs_hr, ignorenulls=True).over(wf).alias("hn"),
    )
    return ctx.select(
        "event_type",
        "hr",
        F.when(F.col("vc").isNotNull(), F.col("vc"))
        .when(
            F.col("vp").isNotNull() & F.col("vn").isNotNull(),
            # Both engines TRUNCATE toward zero on integer division
            # (Spark `div`, DuckDB `//` — verified -7//2 = -3), so the
            # lerp is bit-identical on declining segments too.
            F.expr("vp + (vn - vp) * (hr - hp) div (hn - hp)"),
        )
        .otherwise(F.lit(None))
        .cast("bigint")
        .alias("vc_filled"),
        F.when(F.col("vc").isNotNull(), F.lit("obs"))
        .when(
            F.col("vp").isNotNull() & F.col("vn").isNotNull(),
            F.lit("interp"),
        )
        .otherwise(F.lit("none"))
        .alias("method"),
    )


# --------------------------------------------------------------------------
# q161 — equi-depth feature binning: per-type exact quartile thresholds
# (q114 machinery) broadcast back onto the stream; every event lands in a
# bucket 0-3 by strict-greater comparison against p25/p50/p75, and the
# per-bucket occupancy audit shows the near-n/4 balance equi-depth
# promises.  The categorical-feature transform a training pipeline runs
# before crossing/hashing — thresholds computed distributively, applied
# as a vocabulary-sized broadcast, the corpus never reshuffles for it.
# --------------------------------------------------------------------------


@register(
    "q161_equidepth_binning",
    oracle="""
WITH th AS (
  SELECT event_type,
         quantile_cont(CAST(value AS DOUBLE), 0.25) AS p25,
         quantile_cont(CAST(value AS DOUBLE), 0.50) AS p50,
         quantile_cont(CAST(value AS DOUBLE), 0.75) AS p75
  FROM events GROUP BY event_type
),
b AS (
  SELECT e.event_type,
         (CASE WHEN CAST(e.value AS DOUBLE) > th.p25 THEN 1 ELSE 0 END
        + CASE WHEN CAST(e.value AS DOUBLE) > th.p50 THEN 1 ELSE 0 END
        + CASE WHEN CAST(e.value AS DOUBLE) > th.p75 THEN 1 ELSE 0 END)
           AS bucket,
         CAST(e.value AS DOUBLE) AS v
  FROM events e JOIN th USING (event_type)
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       min(v) AS v_min, max(v) AS v_max
FROM b GROUP BY event_type, bucket
""",
    doc="equi-depth quartile binning per event type: exact distributed "
    "thresholds (q114 rank selection, no group buffering) broadcast back "
    "as a vocabulary-sized table; bucket = strict-greater count against "
    "p25/p50/p75, per-bucket occupancy + value ranges audit the ~n/4 "
    "balance — the pre-hash feature transform at stream scale",
    tags=("events", "feature", "quantiles"),
)
def q161_equidepth_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    th = group_quantiles_exact(
        ev, "event_type", "v", {"p25": 0.25, "p50": 0.50, "p75": 0.75}
    )
    b = ev.join(F.broadcast(th), "event_type").select(
        "event_type",
        (
            (F.col("v") > F.col("p25")).cast("int")
            + (F.col("v") > F.col("p50")).cast("int")
            + (F.col("v") > F.col("p75")).cast("int")
        )
        .cast("bigint")
        .alias("bucket"),
        "v",
    )
    return b.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
    )


# --------------------------------------------------------------------------
# q162 — ingest freshness / staleness SLA audit: per event type, the lag
# between its newest event and the stream's global high-water mark, with
# integer-minute lag buckets and an SLA verdict (stale if > 24h behind).
# The monitoring row every scheduled 100 TB ingest publishes: one
# vocabulary-sized aggregate, one broadcast scalar, exact integers.
# --------------------------------------------------------------------------


@register(
    "q162_freshness_sla",
    oracle=f"""
WITH hw AS (SELECT max(epoch_us(ts)) AS hwm FROM events),
t AS (
  SELECT event_type,
         max(epoch_us(ts)) AS newest,
         count(*) AS n
  FROM events GROUP BY event_type
)
SELECT t.event_type,
       CAST(t.n AS BIGINT) AS n_events,
       CAST((hw.hwm - t.newest) // 60000000 AS BIGINT) AS lag_minutes,
       (hw.hwm - t.newest) > 86400000000 AS stale
FROM t, hw
""",
    doc="ingest freshness SLA: per-type lag behind the global high-water "
    "mark in exact integer minutes plus a 24h staleness verdict — one "
    "type-keyed aggregate and one broadcast scalar; the scheduled-ingest "
    "monitoring row",
    tags=("events", "monitoring"),
)
def q162_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hw = ev.agg(F.max("ts_us").alias("hwm"))
    t = ev.groupBy("event_type").agg(
        F.max("ts_us").alias("newest"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    return t.crossJoin(F.broadcast(hw)).select(
        "event_type",
        "n_events",
        F.expr("(hwm - newest) div 60000000").cast("bigint").alias(
            "lag_minutes"
        ),
        (F.col("hwm") - F.col("newest") > F.lit(86_400_000_000)).alias(
            "stale"
        ),
    )


# --------------------------------------------------------------------------
# q163 — robust outlier detection via median/MAD, both through the
# distributed exact-quantile selector (operators/quantiles.py): median in
# pass one, median absolute deviation in pass two, then a broadcast-back
# 3-MAD fence.  The robust twin of q78's mean-based anomaly flag — immune
# to the very outliers it hunts, and no executor ever buffers a group
# (event_type has ~5 distinct values; F.percentile would OOM at 100x).
# --------------------------------------------------------------------------


@register(
    "q163_mad_outliers",
    oracle="""
WITH med AS (
  SELECT event_type,
         quantile_cont(CAST(value AS DOUBLE), 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type,
         CAST(e.value AS DOUBLE) AS v,
         med.med,
         abs(CAST(e.value AS DOUBLE) - med.med) AS d
  FROM events e JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(d, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT dev.event_type,
       any_value(dev.med) AS med,
       any_value(mad.mad) AS mad,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN dev.d > 3.0 * mad.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(sum(CASE WHEN dev.d > 3.0 * mad.mad THEN 1 ELSE 0 END)
            * 1000 // count(*) AS BIGINT) AS outlier_permille
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type
""",
    doc="robust per-type outliers: exact median and exact MAD through the "
    "rank-selection quantile machinery (two bounded passes, zero group "
    "buffering), 3-MAD fence applied via a vocabulary-sized broadcast — "
    "the outlier filter that is not skewed by its own targets",
    tags=("events", "quality", "quantiles"),
)
def q163_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    med = group_quantiles_exact(ev, "event_type", "v", {"med": 0.5})
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("v") - F.col("med"))
    )
    mad = group_quantiles_exact(dev, "event_type", "d", {"mad": 0.5})
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.min("med").alias("med"),
        F.min("mad").alias("mad"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            (F.col("d") > F.lit(3.0) * F.col("mad")).cast("bigint")
        )
        .cast("bigint")
        .alias("n_outliers"),
        F.expr(
            "sum(cast(d > 3.0 * mad as bigint)) * 1000 div count(*)"
        )
        .cast("bigint")
        .alias("outlier_permille"),
    )


# --------------------------------------------------------------------------
# q167 — incident impact via a bucketed interval-overlap join: error-storm
# incidents (consecutive hours whose error count exceeds 1.5x the mean
# hourly rate, merged into intervals) overlap-joined against user session
# intervals to report, per incident, how many sessions it touched and the
# total overlapped session time.  The range-predicate join is decomposed
# into hour buckets (operators/intervals.py) — equi-join on the bucket id,
# never a nested loop — so BOTH sides can be corpus-sized; here the
# incident side is additionally tiny and broadcast.
# --------------------------------------------------------------------------


@register(
    "q167_incident_session_overlap",
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events
),
hourly AS (
  SELECT ts_us // 3600000000 AS hr,
         count(*) FILTER (WHERE event_type = 'error') AS ne
  FROM ev GROUP BY 1
),
tot AS (SELECT count(*) AS nh, sum(ne) AS se FROM hourly),
hot AS (
  SELECT hr FROM hourly CROSS JOIN tot WHERE 2 * ne * nh > 3 * se
),
isl AS (
  SELECT hr, hr - row_number() OVER (ORDER BY hr) AS grp FROM hot
),
inc AS (
  SELECT min(hr) * 3600000000 AS i_start,
         (max(hr) + 1) * 3600000000 - 1 AS i_end,
         count(*) AS n_hours
  FROM isl GROUP BY grp
),
marked AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > {GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sessions AS (
  SELECT user_id, ts_us,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS session_id
  FROM marked
),
sess AS (
  SELECT user_id, session_id,
         min(ts_us) AS s_start, max(ts_us) AS s_end
  FROM sessions GROUP BY 1, 2
),
hits AS (
  SELECT i.i_start, i.i_end, i.n_hours,
         least(s.s_end, i.i_end) - greatest(s.s_start, i.i_start)
           AS overlap_us
  FROM inc i JOIN sess s
    ON s.s_start <= i.i_end AND i.i_start <= s.s_end
)
SELECT i.i_start AS incident_start_us,
       i.i_end AS incident_end_us,
       CAST(i.n_hours AS BIGINT) AS incident_hours,
       CAST(count(h.overlap_us) AS BIGINT) AS n_sessions,
       CAST(coalesce(sum(h.overlap_us), 0) AS BIGINT)
         AS total_overlap_us
FROM inc i
LEFT JOIN hits h
  ON h.i_start = i.i_start AND h.i_end = i.i_end
GROUP BY 1, 2, 3
""",
    doc="error-storm incident impact: hot hours (exact integer 1.5x-mean "
    "test, no division) merge into incident intervals; a bucketed "
    "interval-overlap join (hour-bucket explode + equi-join, "
    "operators/intervals.py) attaches overlapping 30-min-gap sessions — "
    "per incident, sessions touched and exact overlapped microseconds; "
    "the range x range join that stays linear when both sides are huge",
    tags=("events", "intervals", "join"),
)
def q167_incident_session_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    hour_us = 3_600_000_000
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts_us", "event_type"
    )
    hourly = ev.groupBy(
        F.expr(f"ts_us div {hour_us}").alias("hr")
    ).agg(
        F.sum((F.col("event_type") == "error").cast("bigint")).alias("ne")
    )
    tot = hourly.agg(
        F.count(F.lit(1)).alias("nh"), F.sum("ne").alias("se")
    )
    hot = (
        hourly.crossJoin(F.broadcast(tot))
        .where(F.lit(2) * F.col("ne") * F.col("nh") > F.lit(3) * F.col("se"))
        .select("hr")
    )
    # Hot-hour islands: the hot table is vocabulary-sized (one row per hot
    # HOUR of wall-clock time), so the single-partition window is bounded.
    isl = hot.withColumn(
        "grp", F.col("hr") - F.row_number().over(Window.orderBy("hr"))
    )
    inc = isl.groupBy("grp").agg(
        (F.min("hr") * hour_us).alias("i_start"),
        ((F.max("hr") + 1) * hour_us - 1).alias("i_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
    ).drop("grp")

    sess = (
        sessionize(
            ev.select("user_id", "ts_us", "event_id"),
            user_col="user_id",
            ts_col="ts_us",
            gap_seconds=GAP_US,
            order_tiebreak="event_id",
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts_us").alias("s_start"), F.max("ts_us").alias("s_end")
        )
    )

    from cassandra_analytics_example_spark.operators.intervals import (
        bucketed_interval_join,
    )

    hits = bucketed_interval_join(
        sess,
        inc,
        l_start="s_start",
        l_end="s_end",
        r_start="i_start",
        r_end="i_end",
        bucket_us=hour_us,
        broadcast_right=True,
    )
    agg = hits.groupBy("i_start", "i_end", "n_hours").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("overlap_us").cast("bigint").alias("total_overlap_us"),
    )
    return (
        inc.join(agg, ["i_start", "i_end", "n_hours"], "left")
        .select(
            F.col("i_start").alias("incident_start_us"),
            F.col("i_end").alias("incident_end_us"),
            F.col("n_hours").alias("incident_hours"),
            F.coalesce(F.col("n_sessions"), F.lit(0))
            .cast("bigint")
            .alias("n_sessions"),
            F.coalesce(F.col("total_overlap_us"), F.lit(0))
            .cast("bigint")
            .alias("total_overlap_us"),
        )
    )


# --------------------------------------------------------------------------
# q168 — mergeable equi-width histogram sketch with an exact bracketing
# audit: shard-local 256-bin histograms (counts only — mergeable by bin
# addition, the way a 1000-executor cluster summarises a column without
# moving it) merge into one table, and each target quantile is bracketed
# by the bins holding its boundary order statistics.  The audit joins the
# distributed EXACT quantile (rank selector, q114 machinery) and gates
# est_lo <= exact <= est_hi — a hard invariant of a correct histogram,
# checked end-to-end.  Sketch state: 256 rows regardless of corpus size.
# --------------------------------------------------------------------------


@register(
    "q168_histogram_quantile_sketch",
    oracle="""
WITH d AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events
  WHERE value IS NOT NULL
),
mm AS (SELECT min(v) AS mn, max(v) AS mx, count(*) AS n FROM d),
binned AS (
  SELECT CASE WHEN mm.mx = mm.mn THEN 0
              ELSE least(CAST(floor((d.v - mm.mn) * 256.0
                                    / (mm.mx - mm.mn)) AS BIGINT), 255)
         END AS bin
  FROM d CROSS JOIN mm
),
bins AS (SELECT bin, count(*) AS c FROM binned GROUP BY bin),
cum AS (
  SELECT bin, sum(c) OVER (ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum
  FROM bins
),
qs AS (SELECT CAST(q AS DOUBLE) AS q
       FROM (VALUES (0.5), (0.9), (0.99)) t(q)),
k AS (
  SELECT qs.q,
         CAST(floor(qs.q * (mm.n - 1)) + 1 AS BIGINT) AS k_lo,
         CAST(floor(qs.q * (mm.n - 1)) + 1
              + CASE WHEN qs.q * (mm.n - 1)
                          > floor(qs.q * (mm.n - 1))
                     THEN 1 ELSE 0 END AS BIGINT) AS k_hi,
         mm.mn, mm.mx, mm.n
  FROM qs CROSS JOIN mm
),
sel AS (
  SELECT k.q, k.mn, k.mx, k.n,
         min(CASE WHEN cum.cum >= k.k_lo THEN cum.bin END) AS b_lo,
         min(CASE WHEN cum.cum >= k.k_hi THEN cum.bin END) AS b_hi
  FROM k CROSS JOIN cum
  GROUP BY k.q, k.mn, k.mx, k.n
),
ex AS (
  SELECT quantile_cont(v, 0.5) AS p50,
         quantile_cont(v, 0.9) AS p90,
         quantile_cont(v, 0.99) AS p99
  FROM d
)
SELECT sel.q,
       CAST(sel.n AS BIGINT) AS n,
       CAST(sel.b_lo AS BIGINT) AS bin_lo,
       CAST(sel.b_hi AS BIGINT) AS bin_hi,
       sel.mn + sel.b_lo * (sel.mx - sel.mn) / 256.0 AS est_lo,
       sel.mn + (sel.b_hi + 1) * (sel.mx - sel.mn) / 256.0 AS est_hi,
       CASE sel.q WHEN 0.5 THEN ex.p50
                  WHEN 0.9 THEN ex.p90
                  ELSE ex.p99 END AS exact,
       (sel.mn + sel.b_lo * (sel.mx - sel.mn) / 256.0
          <= CASE sel.q WHEN 0.5 THEN ex.p50
                        WHEN 0.9 THEN ex.p90
                        ELSE ex.p99 END)
       AND (CASE sel.q WHEN 0.5 THEN ex.p50
                       WHEN 0.9 THEN ex.p90
                       ELSE ex.p99 END
          <= sel.mn + (sel.b_hi + 1) * (sel.mx - sel.mn) / 256.0)
         AS ok
FROM sel CROSS JOIN ex
""",
    doc="mergeable 256-bin histogram sketch: shard-local counts merged by "
    "bin addition, target quantiles bracketed by boundary-rank bins, and "
    "a hard invariant gate est_lo <= exact <= est_hi against the "
    "distributed exact rank selector — the constant-state column summary "
    "a fleet of executors ships to the driver",
    tags=("events", "sketch", "quantiles"),
)
def q168_histogram_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    nb = 256
    d = (
        table(spark, sf_dir, "events")
        .select(
            "event_id", F.col("value").cast("double").alias("v")
        )
        .where(F.col("v").isNotNull())
    )
    mm = d.agg(
        F.min("v").alias("mn"), F.max("v").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = d.crossJoin(F.broadcast(mm)).select(
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("v") - F.col("mn"))
                    * F.lit(256.0)
                    / (F.col("mx") - F.col("mn"))
                ).cast("bigint"),
                F.lit(nb - 1).cast("bigint"),
            )
        )
        .alias("bin"),
        # shard-local sketches: the per-shard layer is what a real fleet
        # merges; summing it by bin reproduces the global histogram.
        F.expr("event_id % 8").alias("shard"),
    )
    shard_hists = binned.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    bins = shard_hists.groupBy("bin").agg(F.sum("c").alias("c"))
    cum = bins.withColumn(
        "cum",
        F.sum("c").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    qs = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
    k = qs.crossJoin(F.broadcast(mm)).select(
        "q", "mn", "mx", "n",
        (F.floor(F.col("q") * (F.col("n") - 1)) + 1)
        .cast("bigint")
        .alias("k_lo"),
        (
            F.floor(F.col("q") * (F.col("n") - 1))
            + 1
            + F.when(
                F.col("q") * (F.col("n") - 1)
                > F.floor(F.col("q") * (F.col("n") - 1)),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("k_hi"),
    )
    sel = (
        k.crossJoin(F.broadcast(cum))
        .groupBy("q", "mn", "mx", "n")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.col("k_lo"), F.col("bin"))
            ).alias("b_lo"),
            F.min(
                F.when(F.col("cum") >= F.col("k_hi"), F.col("bin"))
            ).alias("b_hi"),
        )
    )
    ex = group_quantiles_exact(
        d.withColumn("g", F.lit(1)), "g", "v",
        {"p50": 0.5, "p90": 0.9, "p99": 0.99},
    ).drop("g")
    est_lo = F.col("mn") + F.col("b_lo") * (F.col("mx") - F.col("mn")) / F.lit(256.0)
    est_hi = F.col("mn") + (F.col("b_hi") + 1) * (F.col("mx") - F.col("mn")) / F.lit(256.0)
    exact = (
        F.when(F.col("q") == 0.5, F.col("p50"))
        .when(F.col("q") == 0.9, F.col("p90"))
        .otherwise(F.col("p99"))
    )
    return sel.crossJoin(F.broadcast(ex)).select(
        "q",
        F.col("n").cast("bigint").alias("n"),
        F.col("b_lo").cast("bigint").alias("bin_lo"),
        F.col("b_hi").cast("bigint").alias("bin_hi"),
        est_lo.alias("est_lo"),
        est_hi.alias("est_hi"),
        exact.alias("exact"),
        ((est_lo <= exact) & (exact <= est_hi)).alias("ok"),
    )


# --------------------------------------------------------------------------
# q173 — time-weighted average of the held value per event type: each
# (user, type) signal is a LOCF step function; the integral is
# sum(value x holding-duration) over consecutive-event segments, and the
# TWA is the exact integer division of the cent-microsecond integral by
# the observed span.  The irregular-sampling average a metrics store
# (TimescaleDB's time_weight) computes — here with EXACT decimal/bigint
# algebra, so a 1000-way partial aggregation is bit-stable.  The lead
# window partitions by (user, type): millions of small groups, never a
# whole-type ordering.
# --------------------------------------------------------------------------


@register(
    "q173_time_weighted_avg",
    oracle="""
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
),
seg AS (
  SELECT event_type, cents,
         lead(ts_us) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts_us, event_id) - ts_us AS dur
  FROM ev
),
g AS (
  SELECT event_type,
         count(*) AS n_segments,
         sum(CAST(cents AS HUGEINT) * dur) AS num,
         sum(dur) AS span_us
  FROM seg WHERE dur IS NOT NULL
  GROUP BY event_type
  HAVING sum(dur) > 0
)
SELECT event_type,
       CAST(n_segments AS BIGINT) AS n_segments,
       CAST(span_us AS BIGINT) AS span_us,
       CAST(num // span_us AS BIGINT) AS twa_cents
FROM g
""",
    doc="time-weighted average held value per type: LOCF step integral "
    "over consecutive-event segments in exact cent-microsecond decimals "
    "(order-independent partials), TWA = integral div span in integer "
    "cents; lead windows ride (user, type) groups — bounded everywhere, "
    "never a whole-type sort",
    tags=("events", "timeseries", "quantiles"),
)
def q173_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        "ts_us",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    seg = ev.select(
        "event_type",
        "cents",
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dur"),
    ).where(F.col("dur").isNotNull())
    g = (
        seg.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum(
                F.col("cents").cast("decimal(38,0)") * F.col("dur")
            ).alias("num"),
            F.sum("dur").cast("bigint").alias("span_us"),
        )
        .where(F.col("span_us") > 0)
    )
    return g.select(
        "event_type",
        "n_segments",
        "span_us",
        F.expr("CAST(num div span_us AS BIGINT)").alias("twa_cents"),
    )


# --------------------------------------------------------------------------
# q175 — zone-map pruning effectiveness audit: per-day partition stats
# (row count, min/max value-cents, day bounds) priced against candidate
# scan predicates — how many partitions could file-skipping eliminate,
# and how many rows would never be read.  The data-layout feedback loop
# behind partitioned parquet at 100 TB: stats are ONE corpus aggregate
# on the partition key; every predicate evaluation afterwards touches
# only the vocabulary-sized stats table.  Exact integers throughout.
# --------------------------------------------------------------------------


@register(
    "q175_zonemap_pruning",
    oracle="""
WITH ev AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         epoch_us(ts) AS ts_us
  FROM events
),
stats AS (
  SELECT day, count(*) AS n, max(cents) AS max_c,
         max(ts_us) AS day_max_ts
  FROM ev GROUP BY day
),
hw AS (SELECT max(day_max_ts) AS hwm FROM stats),
per AS (
  SELECT 'cents>=20000' AS predicate, day, n,
         max_c < 20000 AS prunable FROM stats
  UNION ALL
  SELECT 'cents>=10000', day, n, max_c < 10000 FROM stats
  UNION ALL
  SELECT 'last7days', s.day, s.n,
         s.day_max_ts < hw.hwm - 604800000000
  FROM stats s CROSS JOIN hw
)
SELECT predicate,
       CAST(count(*) AS BIGINT) AS n_partitions,
       CAST(sum(CASE WHEN prunable THEN 1 ELSE 0 END) AS BIGINT)
         AS n_prunable,
       CAST(sum(n) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN prunable THEN n ELSE 0 END) AS BIGINT)
         AS rows_skipped,
       CAST(sum(CASE WHEN prunable THEN n ELSE 0 END) * 1000
            // sum(n) AS BIGINT) AS skip_permille
FROM per GROUP BY predicate
""",
    doc="zone-map pruning audit: per-day (count, max-cents, max-ts) stats "
    "from ONE partition-key aggregate, then candidate predicates priced "
    "on the stats table alone — prunable partitions, rows skipped, exact "
    "permille; the layout feedback a 100 TB partitioned table runs to "
    "validate its file-skipping story",
    tags=("events", "layout", "audit"),
)
def q175_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_us = 86_400_000_000
    ev = table(spark, sf_dir, "events").select(
        F.expr(f"ts_us div {day_us}").alias("day"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        "ts_us",
    )
    stats = ev.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("cents").alias("max_c"),
        F.max("ts_us").alias("day_max_ts"),
    )
    stats = truncate_plan(stats)
    hw = stats.agg(F.max("day_max_ts").alias("hwm"))
    p1 = stats.select(
        F.lit("cents>=20000").alias("predicate"), "day", "n",
        (F.col("max_c") < 20000).alias("prunable"),
    )
    p2 = stats.select(
        F.lit("cents>=10000").alias("predicate"), "day", "n",
        (F.col("max_c") < 10000).alias("prunable"),
    )
    p3 = stats.crossJoin(F.broadcast(hw)).select(
        F.lit("last7days").alias("predicate"), "day", "n",
        (F.col("day_max_ts") < F.col("hwm") - F.lit(604_800_000_000)).alias(
            "prunable"
        ),
    )
    per = p1.unionByName(p2).unionByName(p3)
    return per.groupBy("predicate").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
        F.sum(F.col("prunable").cast("bigint"))
        .cast("bigint")
        .alias("n_prunable"),
        F.sum("n").cast("bigint").alias("rows_total"),
        F.sum(F.when(F.col("prunable"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("rows_skipped"),
        F.expr(
            "sum(CASE WHEN prunable THEN n ELSE 0 END) * 1000 div sum(n)"
        )
        .cast("bigint")
        .alias("skip_permille"),
    )


# --------------------------------------------------------------------------
# q178 — robust quantile drift between time halves: P50/P95 of the value
# signal per (event_type, half), both through the distributed exact rank
# selector on composite groups, compared in exact integer permille.  The
# robust companion to q145's mean/ratio drift — medians move only when
# the distribution actually shifts, not when a tail burst lands.  Two
# bounded corpus passes, a vocabulary-sized compare layer.
# --------------------------------------------------------------------------


@register(
    "q178_quantile_drift",
    oracle="""
WITH b AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
           FROM events),
h AS (
  SELECT e.event_type,
         CASE WHEN epoch_us(e.ts) * 2 < b.mn + b.mx THEN 1 ELSE 2 END
           AS half,
         CAST(e.value AS DOUBLE) AS v
  FROM events e CROSS JOIN b
),
q AS (
  SELECT event_type, half,
         quantile_cont(v, 0.5) AS p50,
         quantile_cont(v, 0.95) AS p95,
         count(*) AS n
  FROM h GROUP BY event_type, half
)
SELECT a.event_type,
       CAST(a.n AS BIGINT) AS n_h1,
       CAST(c.n AS BIGINT) AS n_h2,
       a.p50 AS p50_h1, c.p50 AS p50_h2,
       a.p95 AS p95_h1, c.p95 AS p95_h2,
       CASE WHEN a.p50 = 0 THEN NULL
            ELSE CAST(floor(c.p50 * 1000 / a.p50) - 1000 AS BIGINT)
       END AS p50_drift_permille,
       CASE WHEN a.p95 = 0 THEN NULL
            ELSE CAST(floor(c.p95 * 1000 / a.p95) - 1000 AS BIGINT)
       END AS p95_drift_permille
FROM q a JOIN q c ON a.event_type = c.event_type
WHERE a.half = 1 AND c.half = 2
""",
    doc="robust drift monitor: exact P50/P95 per (type, time-half) via "
    "the rank selector on composite groups (no group buffering), halves "
    "compared in floor-permille — medians ignore the tail bursts that "
    "whipsaw mean-based drift (q145); two bounded passes",
    tags=("events", "monitoring", "quantiles"),
)
def q178_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type", "ts_us", F.col("value").cast("double").alias("v")
    )
    b = ev.agg(F.min("ts_us").alias("mn"), F.max("ts_us").alias("mx"))
    h = ev.crossJoin(F.broadcast(b)).select(
        F.concat(
            "event_type",
            F.lit("#"),
            F.when(
                F.col("ts_us") * 2 < F.col("mn") + F.col("mx"), F.lit("1")
            ).otherwise(F.lit("2")),
        ).alias("g"),
        "event_type",
        F.when(
            F.col("ts_us") * 2 < F.col("mn") + F.col("mx"), F.lit(1)
        )
        .otherwise(F.lit(2))
        .alias("half"),
        "v",
    )
    qs = group_quantiles_exact(
        h.select(F.col("g"), "v"), "g", "v", {"p50": 0.5, "p95": 0.95}
    )
    n = h.groupBy("g", "event_type", "half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    q = n.join(F.broadcast(qs), "g")
    a = q.where(F.col("half") == 1).select(
        "event_type",
        F.col("n").alias("n_h1"),
        F.col("p50").alias("p50_h1"),
        F.col("p95").alias("p95_h1"),
    )
    c = q.where(F.col("half") == 2).select(
        "event_type",
        F.col("n").alias("n_h2"),
        F.col("p50").alias("p50_h2"),
        F.col("p95").alias("p95_h2"),
    )
    out = a.join(c, "event_type")
    return out.select(
        "event_type",
        "n_h1",
        "n_h2",
        "p50_h1",
        "p50_h2",
        "p95_h1",
        "p95_h2",
        F.when(F.col("p50_h1") == 0, F.lit(None))
        .otherwise(
            F.floor(F.col("p50_h2") * 1000 / F.col("p50_h1")) - 1000
        )
        .cast("bigint")
        .alias("p50_drift_permille"),
        F.when(F.col("p95_h1") == 0, F.lit(None))
        .otherwise(
            F.floor(F.col("p95_h2") * 1000 / F.col("p95_h1")) - 1000
        )
        .cast("bigint")
        .alias("p95_drift_permille"),
    )


# --------------------------------------------------------------------------
# q187 — strict ordered funnel (view → click → purchase): a user counts
# for step k only with an event at step k strictly AFTER their first
# qualifying time at step k-1. Three user-keyed min-aggregates chained by
# equi-joins on user_id — every shuffle shares the user_id key (AQE
# reuses the partitioning), counts are exact integers. The classic
# product-analytics operator the reference's surface lacks entirely.
# --------------------------------------------------------------------------


@register(
    "q187_funnel_conversion",
    oracle="""
WITH v AS (
  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
  GROUP BY e.user_id
),
n AS (
  SELECT CAST(1 AS INT) AS step_no, 'view' AS step,
         (SELECT count(*) FROM v) AS n_users
  UNION ALL
  SELECT 2, 'click', (SELECT count(*) FROM c)
  UNION ALL
  SELECT 3, 'purchase', (SELECT count(*) FROM p)
)
SELECT step_no, step, CAST(n_users AS BIGINT) AS n_users,
       CAST(n_users * 1000
            // lag(n_users, 1, n_users) OVER (ORDER BY step_no)
            AS BIGINT) AS conv_from_prev_permille
FROM n
""",
    doc="strict ordered funnel view->click->purchase: per-step user counts "
    "and step-over-step conversion in exact integer permille; each step "
    "requires an event strictly after the user's first qualifying time "
    "at the previous step (user-keyed min-aggregates chained on one "
    "join key)",
    tags=("events", "funnel"),
)
def q187_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_us"
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts_us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts_us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    steps = (
        v.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(1).alias("step_no"), F.lit("view").alias("step"), "n_users")
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("step_no"), F.lit("click").alias("step"), "n_users"
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("step_no"),
                F.lit("purchase").alias("step"),
                "n_users",
            )
        )
    )
    # The lag window runs over the 3-row step table, never the corpus.
    w = Window.orderBy("step_no")
    return steps.select(
        F.col("step_no").cast("int").alias("step_no"),
        "step",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.expr(
            "n_users * 1000 div lag(n_users, 1, n_users) "
            "over (order by step_no)"
        )
        .cast("bigint")
        .alias("conv_from_prev_permille"),
    )


# --------------------------------------------------------------------------
# q188 — audience-overlap sketch gate (the q99/q37 discipline applied to
# set intersection): pairwise |users(A) ∩ users(B)| across event types,
# exact via a distinct-pair self-join, estimated via HLL inclusion-
# exclusion (est(A) + est(B) - est(A∪B), union by sketch merge — the only
# way set overlap is computable at 100 TB without reshuffling raw keys
# twice). The sketch estimate is engine-native (DataSketches), so the
# CONTRACT is what's oracle-checked: the exact overlap plus a boolean
# that the sketch lands within 5% relative + 50 absolute of it.
# --------------------------------------------------------------------------


@register(
    "q188_audience_overlap_sketch",
    oracle="""
WITH d AS (SELECT DISTINCT event_type, user_id FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS exact_overlap,
       TRUE AS within_bound
FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
""",
    doc="pairwise audience overlap across event types: exact distinct-user "
    "intersection plus an HLL inclusion-exclusion estimate gated at 5% "
    "relative + 50 absolute error — mergeable-sketch set algebra, the "
    "scale path for cross-source overlap (exact leg shuffles distinct "
    "pairs once)",
    tags=("events", "sketch", "audit"),
)
def q188_audience_overlap_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    d = ev.distinct()
    exact = (
        d.alias("a")
        .join(d.alias("b"), "user_id")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_overlap"))
    )
    sk = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("est"),
    )
    sa = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("est").alias("est_a"),
    )
    sb = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("est").alias("est_b"),
    )
    pairs = (
        sa.crossJoin(F.broadcast(sb))
        .where(F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "est_a",
            "est_b",
            F.expr(
                "hll_sketch_estimate(hll_union(sk_a, sk_b))"
            ).alias("est_union"),
        )
        .select(
            "type_a",
            "type_b",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_inter"
            ),
        )
    )
    return exact.join(pairs, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_overlap",
        (
            F.abs(F.col("est_inter") - F.col("exact_overlap"))
            <= F.col("exact_overlap") * 0.05 + F.lit(50)
        ).alias("within_bound"),
    )


# --------------------------------------------------------------------------
# q190 — retention cohort matrix: users grouped by first-activity day
# (their cohort), then for each day offset the share of the cohort still
# active. The canonical growth-analytics triangle. Two passes over
# events: one user-keyed min (cohort assignment, broadcast back is a
# user-keyed JOIN, not a broadcast — user cardinality scales with the
# corpus), one (cohort, offset) distinct-user count. Exact integers
# throughout.
