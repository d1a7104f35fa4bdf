"""Event-analytics queries, `encodings` block — mechanically split from the
former queries/events.py in round 10 (zero behavior change; see events/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.quantiles import (
    group_quantiles_exact,
)
from cassandra_analytics_example_spark.operators.relational import sessionize
from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.queries._tables import table

# --------------------------------------------------------------------------
# q255 — out-of-fold target encoding of event_type against purchase
# cents: the leakage-safe categorical encoder. Rows hash-split into 5
# folds (md5 on event_id); the encoding a fold-k row would receive is
# the mean target over the OTHER four folds, computed leave-one-fold-
# out from the (type, fold) partial-sum table — sums and counts fold
# once, the totals broadcast back, and each cell's encoding is one
# exact integer floor division to micro-cents. Output is the bounded
# (event_type, fold) encoding table itself: |types|×5 rows at any
# corpus size, with no per-row re-aggregation anywhere.
# --------------------------------------------------------------------------


@register(
    "q255_oof_target_encoding",
    oracle="""
WITH e AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
              % 5 AS BIGINT) AS fold,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
pf AS (
  SELECT event_type, fold,
         CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
  FROM e GROUP BY event_type, fold
),
t AS (
  SELECT event_type, CAST(sum(s) AS BIGINT) AS st, CAST(sum(c) AS BIGINT) AS ct
  FROM pf GROUP BY event_type
)
SELECT pf.event_type, pf.fold,
       CAST(pf.c AS BIGINT) AS n_rows,
       CAST((t.st - pf.s) * 1000000 // (t.ct - pf.c) AS BIGINT)
         AS encoding_micro_cents
FROM pf JOIN t USING (event_type)
WHERE t.ct > pf.c
""",
    doc="out-of-fold target encoding (event_type -> mean purchase cents "
    "over the other 4 md5 folds): one (type, fold) partial-sum fold, "
    "broadcast totals, leave-one-fold-out by exact subtraction and one "
    "integer floor division to micro-cents — the leakage-safe encoder "
    "as a bounded encoding table",
    tags=("events", "aggregate", "eval", "sampling"),
)
def q255_oof_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 5
        ).alias("fold"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    pf = e.groupBy("event_type", "fold").agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("c"),
    )
    t = pf.groupBy("event_type").agg(
        F.sum("s").cast("bigint").alias("st"),
        F.sum("c").cast("bigint").alias("ct"),
    )
    return (
        pf.join(F.broadcast(t), "event_type")
        .where(F.col("ct") > F.col("c"))
        .select(
            "event_type",
            "fold",
            F.col("c").alias("n_rows"),
            F.expr(
                "cast((st - s) * 1000000 div (ct - c) as bigint)"
            ).alias("encoding_micro_cents"),
        )
    )


# --------------------------------------------------------------------------
# q258 — spatial radius join via geo-cell bucketing: users get
# deterministic md5-derived positions (integer micro-degrees in a ~±0.5°
# box around 45°N), and the join finds ALL user pairs within the radius
# WITHOUT an all-pairs pass.  Longitudes scale to the local metric FIRST
# (slon = lon·707 div 1000, cos 45° ≈ 0.707 — per-point, exact integer,
# no trig at runtime), so the distance Δlat² + Δslon² is isotropic in
# (lat, slon) space; each point then lands in one grid cell of the
# radius size in THAT space, which is what makes the 3×3 neighbor-cell
# equi-join (a 9-row broadcast offset table) provably complete — any
# in-radius pair differs by ≤ 1 cell on each axis.  (Bucketing raw lon
# would under-cover: the radius spans 1/0.707 ≈ 1.41 lon cells.)  The
# standard scale-safe spatial-join shape: cell partitioning bounds
# candidates exactly like the band/LSH joins.
# --------------------------------------------------------------------------

_GEO_CELL = 18000  # micro-degrees ≈ 2 km at 45°N (the radius)
_GEO_R2 = 18000 * 18000  # squared radius threshold in micro-deg²


@register(
    "q258_spatial_radius_join",
    oracle=f"""
WITH u AS (
  SELECT user_id,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
              % 1000000 - 500000 AS BIGINT) AS lat,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 7, 6))::BIGINT
              % 1000000 - 500000 AS BIGINT) AS lon
  FROM (SELECT DISTINCT user_id FROM events)
),
c AS (
  SELECT user_id, lat, lon * 707 // 1000 AS slon,
         CAST(floor(lat / {_GEO_CELL}.0) AS BIGINT) AS cx,
         CAST(floor((lon * 707 // 1000) / {_GEO_CELL}.0) AS BIGINT) AS cy
  FROM u
),
off(dx, dy) AS (
  VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)
),
cand AS (
  SELECT a.user_id AS ua, b.user_id AS ub,
         a.lat - b.lat AS dlat, a.slon - b.slon AS dslon
  FROM c a
  JOIN off o ON TRUE
  JOIN c b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
  WHERE a.user_id < b.user_id
),
pairs AS (
  SELECT ua, ub
  FROM cand
  WHERE dlat * dlat + dslon * dslon <= {_GEO_R2}
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT ua) AS BIGINT) AS n_left_users,
       CAST(coalesce(min(ua), -1) AS BIGINT) AS min_user
FROM pairs
""",
    doc="spatial radius join (~2 km) over md5-derived user positions: "
    "one grid cell per point at radius size, 3x3 neighbor-cell equi-"
    "join from a 9-row broadcast offset table, exact integer "
    "equirectangular distance verify (no runtime trig) — the cell-"
    "bucketed spatial-join shape, candidates bounded like band/LSH",
    tags=("events", "join", "spatial", "dedup"),
)
def q258_spatial_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct().select(
        "user_id",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 6),
                16,
                10,
            ).cast("bigint")
            % 1_000_000
            - 500_000
        ).alias("lat"),
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 7, 6),
                16,
                10,
            ).cast("bigint")
            % 1_000_000
            - 500_000
        ).alias("lon"),
    )
    # scale lon to the local metric BEFORE bucketing (integer truncating
    # division — DuckDB's integer // and Spark's div agree, verified),
    # so cells are radius-sized in the same space the verifier measures
    c = u.select(
        "user_id",
        "lat",
        F.expr("lon * 707 div 1000").alias("slon"),
        F.floor(F.col("lat") / _GEO_CELL).cast("bigint").alias("cx"),
        F.floor(F.expr("lon * 707 div 1000") / _GEO_CELL)
        .cast("bigint")
        .alias("cy"),
    )
    off = F.broadcast(
        ev.sparkSession.createDataFrame(
            [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
            "dx bigint, dy bigint",
        )
    )
    a = c.select(
        F.col("user_id").alias("ua"),
        F.col("lat").alias("la"),
        F.col("slon").alias("sla"),
        "cx",
        "cy",
    ).crossJoin(off)
    b = c.select(
        F.col("user_id").alias("ub"),
        F.col("lat").alias("lb"),
        F.col("slon").alias("slb"),
        F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
    )
    cand = a.join(
        b,
        (b.bx == a.cx + a.dx) & (b.by == a.cy + a.dy) & (a.ua < b.ub),
    ).select(
        "ua",
        "ub",
        (F.col("la") - F.col("lb")).alias("dlat"),
        (F.col("sla") - F.col("slb")).alias("dslon"),
    )
    pairs = cand.where(
        F.col("dlat") * F.col("dlat") + F.col("dslon") * F.col("dslon")
        <= F.lit(_GEO_R2)
    )
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.count_distinct("ua").cast("bigint").alias("n_left_users"),
        F.coalesce(F.min("ua"), F.lit(-1)).cast("bigint").alias("min_user"),
    )


# --------------------------------------------------------------------------
# q259 — MRR and hit-rate@10 of per-user event feeds against purchase
# relevance: the retrieval-eval pair NDCG (q237) doesn't cover. Each
# user's feed ranks by time (event-id tie-break); the first purchase
# position gives the reciprocal rank — quantized per user to exact
# integer micro-units (10⁶ div rank) BEFORE the mean, so the corpus
# aggregate is one integer fold. Hit@10 is a windowed min-position
# threshold. Per-user windows ride bounded groups; no global ordering.
# --------------------------------------------------------------------------


@register(
    "q259_mrr_hit_rate",
    oracle="""
WITH f AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS pos
  FROM events
),
fp AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'purchase' THEN pos END) AS first_p
  FROM f GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN first_p IS NOT NULL
                     THEN 1000000 // first_p ELSE 0 END)
            // count(*) AS BIGINT) AS mrr_micro,
       CAST(sum(CASE WHEN first_p <= 10 THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS hit10_permille
FROM fp
""",
    doc="MRR and hit-rate@10 of per-user feeds vs purchase relevance: "
    "per-user reciprocal rank quantized to integer micro-units before "
    "the mean (one integer fold), hit@10 from the min purchase "
    "position — bounded per-user windows, no global ordering",
    tags=("events", "eval", "ranking"),
)
def q259_mrr_hit_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    f = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("pos")
    )
    fp = f.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("pos"))
        ).alias("first_p")
    )
    return fp.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.expr(
            "cast(sum(case when first_p is not null "
            "then 1000000 div first_p else 0 end) div count(*) as bigint)"
        ).alias("mrr_micro"),
        F.expr(
            "cast(sum(case when first_p <= 10 then 1 else 0 end) * 1000 "
            "div count(*) as bigint)"
        ).alias("hit10_permille"),
    )


# --------------------------------------------------------------------------
# q265 — cross-correlation between the hourly purchase-count and
# error-count series at lags 0, ±1, ±3, ±6: the lead–lag detector
# ("do errors precede purchase dips?"). Both series ride ONE corpus
# fold to a (hour, purchases, errors) table densified over the shared
# spine; each lag is an equi-self-join of that bounded table (purchase
# at h vs error at h+lag), and each CCF value is Pearson from five
# exact DECIMAL(38,0) moments (the q214/q248 discipline). Negative
# lags mean errors lead.
# --------------------------------------------------------------------------


@register(
    "q265_purchase_error_ccf",
    oracle="""
WITH e AS (
  SELECT epoch_us(ts) // 3600000000 AS h,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS p,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events GROUP BY 1
),
r AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
spine AS (
  SELECT CAST(t.h AS BIGINT) AS h
  FROM r, LATERAL unnest(generate_series(r.h0, r.h1)) t(h)
),
d AS (
  SELECT spine.h, CAST(coalesce(e.p, 0) AS BIGINT) AS p,
         CAST(coalesce(e.x, 0) AS BIGINT) AS x
  FROM spine LEFT JOIN e ON e.h = spine.h
),
lags(lag) AS (VALUES (-6), (-3), (-1), (0), (1), (3), (6)),
pr AS (
  SELECT l.lag, a.p AS pv, b.x AS xv
  FROM lags l
  JOIN d a ON TRUE
  JOIN d b ON b.h = a.h + l.lag
),
m AS (
  SELECT lag,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(pv) AS DECIMAL(38,0)) AS sx,
         CAST(sum(xv) AS DECIMAL(38,0)) AS sy,
         CAST(sum(pv * xv) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(pv * pv) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(xv * xv) AS DECIMAL(38,0)) AS syy
  FROM pr GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS ccf
FROM m
""",
    doc="cross-correlation of hourly purchase vs error counts at lags "
    "0/±1/±3/±6 (negative lag = errors lead): one fold to the densified "
    "(hour, purchases, errors) table, per-lag bounded self-joins, "
    "Pearson from exact DECIMAL(38,0) moments",
    tags=("events", "timeseries", "aggregate"),
)
def q265_purchase_error_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    e = ev.groupBy(F.expr("ts_us div 3600000000").alias("h")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("p"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    r = e.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = r.select(
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h")
    )
    d = spine.join(e, "h", "left").select(
        "h",
        F.coalesce(F.col("p"), F.lit(0)).cast("bigint").alias("p"),
        F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
    )
    lags = F.broadcast(
        ev.sparkSession.createDataFrame(
            [(-6,), (-3,), (-1,), (0,), (1,), (3,), (6,)], "lag bigint"
        )
    )
    a = d.select(F.col("h").alias("ha"), F.col("p").alias("pv"))
    b = d.select(F.col("h").alias("hb"), F.col("x").alias("xv"))
    pr = a.crossJoin(lags).join(b, F.col("hb") == F.col("ha") + F.col("lag"))
    dec38 = "decimal(38,0)"
    m = pr.groupBy("lag").agg(
        F.count(F.lit(1)).cast(dec38).alias("n"),
        F.sum("pv").cast(dec38).alias("sx"),
        F.sum("xv").cast(dec38).alias("sy"),
        F.sum(F.col("pv") * F.col("xv")).cast(dec38).alias("sxy"),
        F.sum(F.col("pv") * F.col("pv")).cast(dec38).alias("sxx"),
        F.sum(F.col("xv") * F.col("xv")).cast(dec38).alias("syy"),
    )
    return m.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        (
            F.expr("cast(n * sxy - sx * sy as double)")
            / (
                F.sqrt(F.expr("cast(n * sxx - sx * sx as double)"))
                * F.sqrt(F.expr("cast(n * syy - sy * sy as double)"))
            )
        ).alias("ccf"),
    )


# --------------------------------------------------------------------------
# q266 — session entry/exit analysis with bounce rate: per event type,
# how often it opens a session, how often it closes one, and the
# corpus-level bounce share (single-event sessions) — the web-analytics
# landing/exit readout over the standard 30-min sessionization. First/
# last flags come from one row_number pair under the (user, session)
# windows (bounded groups, one shuffle); the rollup is vocabulary-sized.
# --------------------------------------------------------------------------


@register(
    "q266_session_entry_exit",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
),
x AS (
  SELECT *, CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
s AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
  FROM x
),
rr AS (
  SELECT user_id, sess, event_type,
         row_number() OVER ws AS rn,
         count(*) OVER (PARTITION BY user_id, sess) AS slen
  FROM s WINDOW ws AS (PARTITION BY user_id, sess ORDER BY us, event_id)
),
agg AS (
  SELECT event_type,
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_entries,
         CAST(sum(CASE WHEN rn = slen THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exits,
         CAST(sum(CASE WHEN rn = 1 AND slen = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_bounces
  FROM rr GROUP BY event_type
)
SELECT event_type, n_entries, n_exits, n_bounces,
       CAST(CASE WHEN n_entries > 0
                 THEN n_bounces * 1000 // n_entries ELSE 0 END AS BIGINT)
         AS bounce_permille
FROM agg
""",
    doc="session entry/exit/bounce analysis per event type over 30-min "
    "sessions: first/last flags from one row_number + count pair under "
    "bounded (user, session) windows, vocabulary-sized rollup with "
    "bounce rate in integer permille",
    tags=("events", "sessions", "analytics", "aggregate"),
)
def q266_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    sess = sessionize(ev, "user_id", "ts_us", 1_800_000_000, "event_id")
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts_us", "event_id"
    )
    wc = Window.partitionBy("user_id", "session_id")
    rr = sess.select(
        "event_type",
        F.row_number().over(ws).alias("rn"),
        F.count("*").over(wc).alias("slen"),
    )
    agg = rr.groupBy("event_type").agg(
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_entries"),
        F.sum(F.when(F.col("rn") == F.col("slen"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exits"),
        F.sum(
            F.when((F.col("rn") == 1) & (F.col("slen") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_bounces"),
    )
    return agg.select(
        "event_type",
        "n_entries",
        "n_exits",
        "n_bounces",
        F.expr(
            "cast(case when n_entries > 0 "
            "then n_bounces * 1000 div n_entries else 0 end as bigint)"
        ).alias("bounce_permille"),
    )


# --------------------------------------------------------------------------
# q269 — ML lag-feature generation: per (user, event) row, the previous
# two purchase values and the trailing 3-event mean — the standard
# supervised-learning feature prep — all from ONE window partitioning
# (user, ordered by time with the event-id tie-break), values in exact
# integer cents so the features are engine-portable. Output is the
# bounded per-user-tail sample: each user's LAST feature row (the row
# that would feed a serving-time prediction), so the result stays
# |users|-sized while every window computation still runs corpus-wide.
# --------------------------------------------------------------------------


@register(
    "q269_lag_features",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
f AS (
  SELECT user_id, us, event_id, cents,
         lag(cents, 1) OVER w AS lag1,
         lag(cents, 2) OVER w AS lag2,
         CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
              AS BIGINT) AS sum3,
         CAST(count(*) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cnt3,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY us DESC, event_id DESC) AS rdesc
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT user_id, cents,
       CAST(coalesce(lag1, -1) AS BIGINT) AS lag1_cents,
       CAST(coalesce(lag2, -1) AS BIGINT) AS lag2_cents,
       CAST(sum3 * 100 // cnt3 AS BIGINT) AS mean3_centicents
FROM f WHERE rdesc = 1
""",
    doc="ML lag-feature prep per purchase row (prev two purchase cents, "
    "trailing 3-event mean in exact centi-cents) from one (user, time) "
    "window partitioning; publishes each user's latest feature row "
    "(serving-time shape, |users|-sized output)",
    tags=("events", "windows", "analytics", "eval"),
)
def q269_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        "ts_us",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w3 = w.rowsBetween(-2, 0)
    wd = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    f = ev.select(
        "user_id",
        "cents",
        F.lag("cents", 1).over(w).alias("lag1"),
        F.lag("cents", 2).over(w).alias("lag2"),
        F.sum("cents").over(w3).cast("bigint").alias("sum3"),
        F.count("*").over(w3).cast("bigint").alias("cnt3"),
        F.row_number().over(wd).alias("rdesc"),
    )
    return f.where(F.col("rdesc") == 1).select(
        "user_id",
        "cents",
        F.coalesce(F.col("lag1"), F.lit(-1))
        .cast("bigint")
        .alias("lag1_cents"),
        F.coalesce(F.col("lag2"), F.lit(-1))
        .cast("bigint")
        .alias("lag2_cents"),
        F.expr("cast(sum3 * 100 div cnt3 as bigint)").alias(
            "mean3_centicents"
        ),
    )


# --------------------------------------------------------------------------
# q271 — exact per-day activity coverage (interval-union length): the
# seconds of each UTC day covered by at least one active session,
# counting overlaps once — the SLA/uptime primitive, and the classic
# hard-SQL interval-union problem. Sessions (30-min gap) clip to day
# boundaries (a bounded per-interval day explode), so every day's
# boundary deltas sum to zero and ONE global range-partitioned prefix
# sum gives the running concurrency with per-day resets for free; each
# boundary's segment to the next same-day boundary (rank self-join on
# the same prefix layer — no global window) contributes its length
# exactly when concurrency stays positive.
# --------------------------------------------------------------------------


@register(
    "q271_daily_uptime_union",
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
                           ROWS UNBOUNDED PRECEDING) AS sess
  FROM x
),
iv AS (
  SELECT user_id, sess, min(us) AS a, max(us) + 1 AS b
  FROM s GROUP BY user_id, sess
),
clipped AS (
  SELECT greatest(iv.a, d.day * 86400000000) AS a,
         least(iv.b, (d.day + 1) * 86400000000) AS b,
         d.day, iv.user_id, iv.sess
  FROM iv, LATERAL unnest(generate_series(iv.a // 86400000000,
                                          (iv.b - 1) // 86400000000))
           d(day)
),
p AS (
  SELECT day, a AS ts, 1 AS delta, user_id, sess FROM clipped
  UNION ALL
  SELECT day, b AS ts, -1 AS delta, user_id, sess FROM clipped
),
c AS (
  SELECT day, ts,
         sum(delta) OVER (PARTITION BY day
                          ORDER BY ts, delta, user_id, sess
                          ROWS UNBOUNDED PRECEDING) AS conc,
         lead(ts) OVER (PARTITION BY day
                        ORDER BY ts, delta, user_id, sess) AS nxt
  FROM p
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(coalesce(sum(CASE WHEN conc > 0 THEN nxt - ts END), 0)
            // 1000000 AS BIGINT) AS covered_seconds
FROM c GROUP BY day ORDER BY day
""",
    doc="exact per-day session-union coverage (seconds of each UTC day "
    "with >=1 active session, overlaps counted once): day-clipped "
    "sweep-line — one global range-partitioned prefix sum (per-day "
    "deltas net to zero so days reset for free) + a rank self-join for "
    "segment lengths, no single-task global window",
    tags=("events", "sessions", "timeseries", "ranking"),
)
def q271_daily_uptime_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts_us", "event_id"
    )
    sess = sessionize(ev, "user_id", "ts_us", 1_800_000_000, "event_id")
    iv = sess.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("a"), (F.max("ts_us") + 1).alias("b")
    )
    day_us = 86_400_000_000
    clipped = iv.select(
        "user_id",
        "session_id",
        "a",
        "b",
        F.explode(
            F.sequence(
                F.expr(f"a div {day_us}"), F.expr(f"(b - 1) div {day_us}")
            )
        ).alias("day"),
    ).select(
        "user_id",
        "session_id",
        "day",
        F.greatest(F.col("a"), F.col("day") * day_us).alias("ca"),
        F.least(F.col("b"), (F.col("day") + 1) * day_us).alias("cb"),
    )
    pts = clipped.select(
        "day",
        F.col("ca").alias("ts"),
        F.lit(1).cast("bigint").alias("delta"),
        "user_id",
        "session_id",
    ).unionByName(
        clipped.select(
            "day",
            F.col("cb").alias("ts"),
            F.lit(-1).cast("bigint").alias("delta"),
            "user_id",
            "session_id",
        )
    ).withColumn("one", F.lit(1).cast("bigint"))
    pre = grouped_prefix_sums(
        pts,
        [],
        ["day", "ts", "delta", "user_id", "session_id"],
        ["delta", "one"],
    ).select(
        "day",
        "ts",
        (F.col("delta_before") + F.col("delta")).alias("conc"),
        (F.col("one_before") + F.col("one")).alias("rk"),
    )
    nxt = pre.select(
        F.col("day").alias("nday"),
        F.col("ts").alias("nts"),
        (F.col("rk") - 1).alias("prk"),
    )
    seg = pre.join(
        nxt, (pre.rk == nxt.prk) & (pre.day == nxt.nday)
    ).select(
        "day",
        F.when(F.col("conc") > 0, F.col("nts") - F.col("ts"))
        .otherwise(F.lit(0))
        .alias("len"),
    )
    days = pts.select("day").distinct()
    return (
        days.join(
            seg.groupBy("day").agg(
                F.expr("cast(sum(len) div 1000000 as bigint)").alias(
                    "covered_seconds"
                )
            ),
            "day",
            "left",
        )
        .select(
            F.col("day").cast("bigint").alias("day"),
            F.coalesce(F.col("covered_seconds"), F.lit(0))
            .cast("bigint")
            .alias("covered_seconds"),
        )
    )


# --------------------------------------------------------------------------
# q272 — metrics-layer materialization: the (event_type × UTC day)
# metrics table a semantic layer would publish — count, exact money
# sum, min/max, AND the exact p50 — in two bounded passes: one
# conditional-aggregate fold for the additive metrics, one composite-
# group rank-selection pass (operators/quantiles.py on the type⊗day
# key) for the median, joined on the composite key. Medians per group
# without any per-group buffer, additive metrics map-side combinable —
# the dashboard-backing rollup shape at any scale.
# --------------------------------------------------------------------------


@register(
    "q272_metrics_layer",
    oracle="""
WITH e AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('purchase', 'click')
),
add_m AS (
  SELECT event_type, day,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS total_cents,
         CAST(min(cents) AS BIGINT) AS min_cents,
         CAST(max(cents) AS BIGINT) AS max_cents
  FROM e GROUP BY event_type, day
),
med AS (
  SELECT event_type, day,
         quantile_cont(cents, 0.5) AS p50_cents
  FROM e GROUP BY event_type, day
)
SELECT a.event_type, CAST(a.day AS BIGINT) AS day,
       a.n, a.total_cents, a.min_cents, a.max_cents,
       m.p50_cents
FROM add_m a JOIN med m USING (event_type, day)
""",
    doc="metrics-layer rollup per (event_type, UTC day): additive "
    "metrics from one map-side-combinable fold, exact p50 from one "
    "composite-group rank selection (no per-group buffer), joined on "
    "the composite key — the dashboard-backing shape",
    tags=("events", "aggregate", "ranking", "analytics"),
)
def q272_metrics_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.quantiles import (
        group_quantiles_exact,
    )

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    e = ev.select(
        "event_type",
        F.expr("ts_us div 86400000000").alias("day"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    ).withColumn(
        "gkey", F.concat_ws("|", "event_type", F.col("day").cast("string"))
    )
    add_m = e.groupBy("event_type", "day").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
    )
    med = group_quantiles_exact(e, "gkey", "cents", {"p50_cents": 0.5})
    med = med.select(
        F.split("gkey", "\\|").getItem(0).alias("event_type"),
        F.split("gkey", "\\|").getItem(1).cast("bigint").alias("day"),
        "p50_cents",
    )
    return add_m.join(med, ["event_type", "day"]).select(
        "event_type",
        F.col("day").cast("bigint").alias("day"),
        "n",
        "total_cents",
        "min_cents",
        "max_cents",
        "p50_cents",
    )


# --------------------------------------------------------------------------
# q273 — quantile treatment effect: the p25/p50/p75 of purchase value
# per md5 A/B arm and the per-quantile differences — where an average
# treatment effect hides heterogeneity, the QTE shows which part of
# the distribution moved. Both arms' quantiles come from ONE composite-
# group rank selection (arm is the group key, no per-group buffer);
# the effect row is a self-join of the two-arm table. quantile_cont-
# identical interpolation makes the float differences engine-portable.
# --------------------------------------------------------------------------


@register(
    "q273_quantile_treatment_effect",
    oracle="""
WITH u AS (
  SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
q AS (
  SELECT arm,
         quantile_cont(cents, 0.25) AS p25,
         quantile_cont(cents, 0.5) AS p50,
         quantile_cont(cents, 0.75) AS p75
  FROM u GROUP BY arm
)
SELECT a.p25 AS a_p25, a.p50 AS a_p50, a.p75 AS a_p75,
       b.p25 AS b_p25, b.p50 AS b_p50, b.p75 AS b_p75,
       b.p25 - a.p25 AS qte_p25,
       b.p50 - a.p50 AS qte_p50,
       b.p75 - a.p75 AS qte_p75
FROM q a JOIN q b ON a.arm = 'A' AND b.arm = 'B'
""",
    doc="quantile treatment effect across the md5 A/B split: p25/p50/p75 "
    "of purchase cents per arm from one composite-group rank selection "
    "(quantile_cont-identical interpolation), per-quantile differences "
    "— distributional effect where the mean hides heterogeneity",
    tags=("events", "eval", "ranking", "aggregate"),
)
def q273_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cassandra_analytics_example_spark.operators.quantiles import (
        group_quantiles_exact,
    )

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    u = ev.select(
        F.when(
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 2
            == 0,
            F.lit("A"),
        )
        .otherwise(F.lit("B"))
        .alias("arm"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    q = group_quantiles_exact(
        u, "arm", "cents", {"p25": 0.25, "p50": 0.5, "p75": 0.75}
    )
    a = q.where(F.col("arm") == "A").select(
        F.col("p25").alias("a_p25"),
        F.col("p50").alias("a_p50"),
        F.col("p75").alias("a_p75"),
    )
    b = q.where(F.col("arm") == "B").select(
        F.col("p25").alias("b_p25"),
        F.col("p50").alias("b_p50"),
        F.col("p75").alias("b_p75"),
    )
    return a.crossJoin(F.broadcast(b)).select(
        "a_p25",
        "a_p50",
        "a_p75",
        "b_p25",
        "b_p50",
        "b_p75",
        (F.col("b_p25") - F.col("a_p25")).alias("qte_p25"),
        (F.col("b_p50") - F.col("a_p50")).alias("qte_p50"),
        (F.col("b_p75") - F.col("a_p75")).alias("qte_p75"),
    )


# --------------------------------------------------------------------------
# q275 — per-slice distribution drift: the exact two-sample KS distance
# between the first and second time-half value distributions, PER EVENT
# TYPE — the "which slice drifted" monitoring table the global q246
# can't give. Grouped KS rides the grouped prefix operator (group key
# in the range partitioning and both window layers), so any number of
# slices of any size runs without a per-slice buffer; the gap algebra
# stays pure integer cross-multiplication.
# --------------------------------------------------------------------------


@register(
    "q275_ks_drift_by_type",
    oracle="""
WITH b AS (
  SELECT event_type, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
mp AS (SELECT (min(us) + max(us)) // 2 AS mid FROM b),
e AS (SELECT event_type, v,
             CASE WHEN us >= mp.mid THEN 1 ELSE 0 END AS grp
      FROM b, mp WHERE v IS NOT NULL),
g AS (
  SELECT event_type, v,
         CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(grp) AS BIGINT) AS nb
  FROM e GROUP BY event_type, v
),
c AS (
  SELECT event_type, v,
         sum(na) OVER (PARTITION BY event_type ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS ca,
         sum(nb) OVER (PARTITION BY event_type ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS cb
  FROM g
),
t AS (
  SELECT event_type, CAST(sum(na) AS BIGINT) AS n_a,
         CAST(sum(nb) AS BIGINT) AS n_b
  FROM g GROUP BY event_type
),
gap AS (
  SELECT c.event_type, t.n_a, t.n_b,
         abs(CAST(c.ca AS HUGEINT) * t.n_b
             - CAST(c.cb AS HUGEINT) * t.n_a) AS gp
  FROM c JOIN t USING (event_type)
)
SELECT event_type, n_a, n_b,
       CAST(max(gp) * 1000000 // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT)
         AS d_ppm
FROM gap WHERE n_a > 0 AND n_b > 0
GROUP BY event_type, n_a, n_b
""",
    doc="per-event-type two-sample KS drift (ppm) between time halves: "
    "grouped prefix cumulative layer (no per-slice buffer), integer "
    "cross-multiplied ECDF gaps — the which-slice-drifted monitor",
    tags=("events", "aggregate", "ranking", "audit"),
)
def q275_ks_drift_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        ks_grouped,
    )

    ev = table(spark, sf_dir, "events")
    mp = ev.agg(F.expr("(min(ts_us) + max(ts_us)) div 2").alias("mid"))
    sample = ev.crossJoin(F.broadcast(mp)).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.when(F.col("ts_us") >= F.col("mid"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("grp"),
    )
    return ks_grouped(sample, "event_type", "v", "grp")


# --------------------------------------------------------------------------
# q277 — cohort survival curves: Kaplan–Meier lifetime tables per
# signup-week cohort (first-event week), the retention analysis that
# shows WHICH cohort's users churn faster. Same estimator and
# quantize-then-integer-sum discipline as q236, with both prefix
# layers on the grouped prefix operator so any number of cohorts of
# any size runs without a per-cohort buffer (operators/rankstats.py:
# kaplan_meier_grouped). Churn horizon 12 h (the fixture cadence).
# --------------------------------------------------------------------------


@register(
    "q277_cohort_survival",
    oracle="""
WITH u AS (
  SELECT user_id, epoch_us(min(ts)) AS f, epoch_us(max(ts)) AS l
  FROM events GROUP BY user_id
),
mx AS (SELECT max(l) AS m FROM u),
d AS (
  SELECT f // 604800000000 AS cohort_week,
         (l - f) // 86400000000 AS t,
         CASE WHEN l <= mx.m - 43200000000 THEN 1 ELSE 0 END AS ev
  FROM u, mx WHERE l IS NOT NULL
),
g AS (
  SELECT cohort_week, t, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ev) AS BIGINT) AS n_events
  FROM d GROUP BY cohort_week, t
),
p AS (
  SELECT cohort_week, t, n, n_events, n - n_events AS n_censored,
         sum(n) OVER (PARTITION BY cohort_week) -
           coalesce(sum(n) OVER (PARTITION BY cohort_week ORDER BY t
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS n_risk
  FROM g
),
s AS (
  SELECT cohort_week, t, n_risk, n_events, n_censored,
         CASE WHEN n_events > 0 AND n_events < n_risk
              THEN CAST(floor(1000000000.0
                              * ln(CAST(n_risk - n_events AS DOUBLE)
                                   / CAST(n_risk AS DOUBLE))) AS BIGINT)
              ELSE 0 END AS step,
         CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END AS dead
  FROM p
)
SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
       CAST(t AS BIGINT) AS t,
       CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
       CAST(CASE WHEN max(dead) OVER (PARTITION BY cohort_week ORDER BY t
                                      ROWS UNBOUNDED PRECEDING) = 1
                 THEN NULL
                 ELSE sum(step) OVER (PARTITION BY cohort_week ORDER BY t
                                      ROWS UNBOUNDED PRECEDING)
            END AS BIGINT) AS log_s_nano
FROM s WHERE n_events > 0
""",
    doc="Kaplan-Meier survival tables per signup-week cohort (12h churn "
    "horizon): both at-risk and cumulative log-survival layers on the "
    "grouped prefix operator - any number of cohorts without a "
    "per-cohort buffer; NULL log-S after cohort extinction",
    tags=("events", "aggregate", "ranking", "audit", "analytics"),
)
def q277_cohort_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        kaplan_meier_grouped,
    )

    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("f"), F.max("ts_us").alias("l")
    )
    mx = u.agg(F.max("l").alias("m"))
    d = u.crossJoin(F.broadcast(mx)).select(
        F.expr("f div 604800000000").cast("bigint").alias("cohort_week"),
        F.expr("(l - f) div 86400000000").cast("bigint").alias("t"),
        F.when(F.col("l") <= F.col("m") - F.lit(43_200_000_000), F.lit(1))
        .otherwise(F.lit(0))
        .alias("ev"),
    )
    return kaplan_meier_grouped(d, "cohort_week", "t", "ev")


# --------------------------------------------------------------------------
# q278 — per-slice CUSUM changepoints: the hour each EVENT TYPE's
# volume regime shifted most, with the peak deviation — the which-
# slice-changed companion to the global q249. Every type shares one
# dense hour spine (from the global bounds, so slices are comparable),
# and the per-type running sums ride the grouped prefix operator with
# the same exact scaled-integer algebra — any number of slices without
# a per-slice buffer.
# --------------------------------------------------------------------------


@register(
    "q278_cusum_by_type",
    oracle="""
WITH e AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS c
  FROM events GROUP BY 1, 2
),
r AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
types AS (SELECT DISTINCT event_type FROM e),
spine AS (
  SELECT types.event_type, CAST(t.h AS BIGINT) AS h
  FROM types, r, LATERAL unnest(generate_series(r.h0, r.h1)) t(h)
),
d AS (
  SELECT spine.event_type, spine.h,
         CAST(coalesce(e.c, 0) AS BIGINT) AS c
  FROM spine LEFT JOIN e
    ON e.event_type = spine.event_type AND e.h = spine.h
),
t AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS total
  FROM d GROUP BY event_type
),
cu AS (
  SELECT d.event_type, d.h, t.n, t.total,
         sum(t.n * d.c - t.total)
           OVER (PARTITION BY d.event_type ORDER BY d.h
                 ROWS UNBOUNDED PRECEDING) AS s
  FROM d JOIN t USING (event_type)
),
m AS (SELECT event_type, max(abs(s)) AS peak FROM cu GROUP BY event_type)
SELECT cu.event_type,
       t.n AS n_hours, t.total AS n_events,
       CAST(min(cu.h) AS BIGINT) AS change_at_hour,
       CAST(m.peak * 1000000 // t.n AS BIGINT) AS peak_micro_events
FROM cu JOIN m USING (event_type) JOIN t USING (event_type)
WHERE abs(cu.s) = m.peak
GROUP BY cu.event_type, t.n, t.total, m.peak
""",
    doc="per-event-type CUSUM changepoint over a shared dense hour "
    "spine: grouped prefix running sums (no per-slice buffer), exact "
    "scaled-integer deviations, earliest argmax hour and micro-event "
    "peak per type",
    tags=("events", "timeseries", "ranking", "audit"),
)
def q278_cusum_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        cusum_grouped_from_counts,
    )

    ev = table(spark, sf_dir, "events")
    e = ev.groupBy(
        "event_type", F.expr("ts_us div 3600000000").alias("h")
    ).agg(F.count("*").cast("bigint").alias("c"))
    r = e.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = e.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(r)).select(
        "event_type",
        F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
    )
    d = spine.join(e, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c"),
    )
    return cusum_grouped_from_counts(d, "event_type")
