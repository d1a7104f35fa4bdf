"""Event-analytics queries, `rankdrift` block — mechanically split from the
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
# q234 — exact Gini coefficient of per-user purchase spend: the
# inequality statistic behind "how concentrated is revenue", computed
# WITHOUT a global sort of the rows — the per-user spend table collapses
# to distinct-value groups, one range-partitioned prefix layer lays them
# on the value order, and the classic rank formula runs in exact
# DECIMAL(38,0) algebra (operators/rankstats.py:gini_exact). Ties make
# the within-group rank choice irrelevant, so the ppm output is exact.
# --------------------------------------------------------------------------


@register(
    "q234_gini_user_spend",
    oracle="""
WITH u AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
g AS (SELECT cents AS v, CAST(count(*) AS BIGINT) AS n FROM u
      WHERE cents IS NOT NULL GROUP BY cents),
p AS (
  SELECT v, n,
         coalesce(sum(n) OVER (ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS b
  FROM g
),
m AS (
  SELECT CAST(sum(n) AS HUGEINT) AS n,
         CAST(sum(CAST(v AS HUGEINT) * n) AS HUGEINT) AS sx,
         CAST(sum(CAST(v AS HUGEINT)
                  * (n * b + (n * (n + 1)) // 2)) AS HUGEINT) AS srx
  FROM p
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(sx AS BIGINT) AS total,
       CAST((2 * srx - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT)
         AS gini_ppm
FROM m
""",
    doc="exact Gini coefficient of per-user purchase spend in ppm: "
    "distinct-value groups + range-partitioned prefix layer + the rank "
    "formula in exact DECIMAL(38,0) — no global row sort, no float "
    "accumulation",
    tags=("events", "aggregate", "ranking"),
)
def q234_gini_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        gini_exact,
    )

    ev = table(spark, sf_dir, "events")
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    return gini_exact(spend, "cents")


# --------------------------------------------------------------------------
# q235 — two-sample Kolmogorov–Smirnov distance between the purchase and
# click value distributions, exact in integer cross-multiplication: the
# ECDF gap only moves at observed values, so distinct-cents groups + one
# prefix layer give every cumulative pair, and |A·n_b − B·n_a| avoids
# per-sample division entirely (operators/rankstats.py:ks_two_sample).
# The drift gate for "did this slice's distribution move" at any scale.
# --------------------------------------------------------------------------


@register(
    "q235_ks_purchase_click",
    oracle="""
WITH e AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS b
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
),
g AS (
  SELECT v,
         CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(b) AS BIGINT) AS nb
  FROM e GROUP BY v
),
c AS (
  SELECT v,
         sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
         sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
  FROM g
),
t AS (SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
      FROM g),
gap AS (
  SELECT v, abs(CAST(ca AS HUGEINT) * t.n_b - CAST(cb AS HUGEINT) * t.n_a)
           AS gp
  FROM c, t
),
m AS (SELECT max(gp) AS mg FROM gap)
SELECT t.n_a, t.n_b,
       CAST(m.mg * 1000000 // (CAST(t.n_a AS HUGEINT) * t.n_b) AS BIGINT)
         AS d_ppm,
       CAST((SELECT min(v) FROM gap, m WHERE gap.gp = m.mg) AS BIGINT)
         AS d_at
FROM t, m
""",
    doc="exact two-sample Kolmogorov-Smirnov distance (ppm) between "
    "purchase and click value distributions: distinct-value ECDF steps, "
    "range-partitioned prefix layer, integer cross-multiplied gap — "
    "plus the smallest value attaining the supremum",
    tags=("events", "aggregate", "ranking", "audit"),
)
def q235_ks_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        ks_two_sample,
    )

    ev = table(spark, sf_dir, "events")
    sample = ev.filter(
        F.col("event_type").isin("purchase", "click")
    ).select(
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.when(F.col("event_type") == "purchase", F.lit(0))
        .otherwise(F.lit(1))
        .alias("b"),
    )
    return ks_two_sample(sample, "v", "b")


# --------------------------------------------------------------------------
# q236 — Kaplan–Meier survival of user lifetimes: per user, lifetime =
# days between first and last event; the lifetime is an observed
# "churn" event only when the user has been silent for ≥ 12 hours before
# the corpus end (the fixture corpus spans ~30 days with near-daily
# activity, so half-day silence is the churn signal at this cadence), else right-censored. The product estimator runs in
# log space with each step's ln(1 − d/n) floor-quantized to integer
# nano-nats BEFORE the cumulative sum (the repo's quantize-then-
# integer-sum discipline), both the at-risk and the cumulative layers
# being range-partitioned prefix passes over the bounded distinct-
# duration table (operators/rankstats.py:kaplan_meier).
# --------------------------------------------------------------------------


@register(
    "q236_kaplan_meier_lifetimes",
    oracle="""
WITH u AS (
  SELECT user_id, epoch_us(min(ts)) AS f, epoch_us(max(ts)) AS l
  FROM events GROUP BY user_id
),
mx AS (SELECT max(l) AS m FROM u),
d AS (
  SELECT (l - f) // 86400000000 AS t,
         CASE WHEN l <= mx.m - 43200000000 THEN 1 ELSE 0 END AS ev
  FROM u, mx WHERE l IS NOT NULL
),
g AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ev) AS BIGINT) AS n_events
  FROM d GROUP BY t
),
p AS (
  SELECT t, n, n_events, n - n_events AS n_censored,
         (SELECT sum(n) FROM g)
           - coalesce(sum(n) OVER (ORDER BY t
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS n_risk
  FROM g
),
s AS (
  SELECT t, n_risk, n_events, n_censored,
         CASE WHEN n_events > 0 AND n_events < n_risk
              THEN CAST(floor(1000000000.0
                              * ln(CAST(n_risk - n_events AS DOUBLE)
                                   / CAST(n_risk AS DOUBLE))) AS BIGINT)
              ELSE 0 END AS step,
         CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END AS dead
  FROM p
)
SELECT CAST(t AS BIGINT) AS t,
       CAST(n_risk AS BIGINT) AS n_risk, n_events, n_censored,
       CAST(CASE WHEN max(dead) OVER (ORDER BY t
                                      ROWS UNBOUNDED PRECEDING) = 1
                 THEN NULL
                 ELSE sum(step) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
            END AS BIGINT) AS log_s_nano
FROM s
WHERE n_events > 0
ORDER BY t
""",
    doc="Kaplan-Meier survival table of user lifetimes (days first->last "
    "event, churn observed iff silent >= 12 hours before corpus end): "
    "at-risk counts and cumulative log-survival both via range-"
    "partitioned prefix passes, per-step ln quantized to integer "
    "nano-nats before summation; NULL survival after S hits 0",
    tags=("events", "aggregate", "ranking", "audit"),
)
def q236_kaplan_meier_lifetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        kaplan_meier,
    )

    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("f"), F.max("ts_us").alias("l")
    )
    mx = u.agg(F.max("l").alias("m"))
    d = u.crossJoin(F.broadcast(mx)).select(
        F.expr("(l - f) div 86400000000").cast("bigint").alias("t"),
        F.when(F.col("l") <= F.col("m") - F.lit(43_200_000_000), F.lit(1))
        .otherwise(F.lit(0))
        .alias("ev"),
    )
    # the operator itself NULLs log-S at and after any step where S hits
    # exactly 0, matching the oracle's CASE
    return kaplan_meier(d, "t", "ev").select(
        "t", "n_risk", "n_events", "n_censored", "log_s_nano"
    )


# --------------------------------------------------------------------------
# q237 — mean NDCG@10 of each user's event feed against value-graded
# relevance, in pure integer arithmetic: position discounts 1/log₂(i+1)
# for the fixed i = 1..10 are pre-quantized micro-unit constants (a
# 10-row broadcast literal table — no runtime libm anywhere), relevance
# grades purchases 3 / clicks 1 / rest 0, per-user DCG and ideal-DCG
# are integer dot products under per-user windows (small bounded
# groups), and the corpus mean is an exact integer floor division.
# Ranking-quality eval ("are the high-value actions early in the
# feed?") with no float anywhere — hash-portable by construction.
# --------------------------------------------------------------------------

_NDCG_DISC = (
    (1, 1000000), (2, 630930), (3, 500000), (4, 430677), (5, 386853),
    (6, 356207), (7, 333333), (8, 315465), (9, 301030), (10, 289065),
)


@register(
    "q237_ndcg_user_feeds",
    oracle=f"""
WITH disc(i, dm) AS (VALUES {', '.join(f'({i}, {d})' for i, d in _NDCG_DISC)}),
e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE event_type WHEN 'purchase' THEN 3
                         WHEN 'click' THEN 1 ELSE 0 END AS rel
  FROM events
),
feed AS (
  SELECT user_id, rel,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY us, event_id) AS pos
  FROM e
),
ideal AS (
  SELECT user_id, rel,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY rel DESC, us, event_id) AS pos
  FROM e
),
dcg AS (
  SELECT f.user_id,
         CAST(sum(f.rel * d.dm) AS BIGINT) AS dcg_micro
  FROM feed f JOIN disc d ON d.i = f.pos
  GROUP BY f.user_id
),
idcg AS (
  SELECT i.user_id,
         CAST(sum(i.rel * d.dm) AS BIGINT) AS idcg_micro
  FROM ideal i JOIN disc d ON d.i = i.pos
  GROUP BY i.user_id
),
per_user AS (
  SELECT dcg.user_id,
         CAST(dcg.dcg_micro * 1000 // idcg.idcg_micro AS BIGINT)
           AS ndcg_permille
  FROM dcg JOIN idcg ON dcg.user_id = idcg.user_id
  WHERE idcg.idcg_micro > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(ndcg_permille) // count(*) AS BIGINT)
         AS mean_ndcg_permille,
       CAST(min(ndcg_permille) AS BIGINT) AS min_ndcg_permille
FROM per_user
""",
    doc="mean NDCG@10 of per-user event feeds (relevance: purchase 3, "
    "click 1, else 0; feed order = timestamp): fixed 10-row integer "
    "micro-discount table (no runtime libm), per-user integer dot "
    "products under bounded windows, exact integer corpus mean",
    tags=("events", "ranking", "eval"),
)
def q237_ndcg_user_feeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts_us",
        F.when(F.col("event_type") == "purchase", F.lit(3))
        .when(F.col("event_type") == "click", F.lit(1))
        .otherwise(F.lit(0))
        .alias("rel"),
    )
    disc = F.broadcast(
        ev.sparkSession.createDataFrame(list(_NDCG_DISC), "i int, dm bigint")
    )
    w_feed = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_ideal = Window.partitionBy("user_id").orderBy(
        F.col("rel").desc(), "ts_us", "event_id"
    )
    ranked = ev.withColumn("pos_f", F.row_number().over(w_feed)).withColumn(
        "pos_i", F.row_number().over(w_ideal)
    )
    dcg = (
        ranked.join(disc, ranked.pos_f == disc.i)
        .groupBy("user_id")
        .agg(F.sum(F.col("rel") * F.col("dm")).cast("bigint").alias("dcg"))
    )
    idcg = (
        ranked.join(disc, ranked.pos_i == disc.i)
        .groupBy("user_id")
        .agg(F.sum(F.col("rel") * F.col("dm")).cast("bigint").alias("idcg"))
    )
    per_user = (
        dcg.join(idcg, "user_id")
        .filter(F.col("idcg") > 0)
        .select(
            F.expr("cast(dcg * 1000 div idcg as bigint)").alias(
                "ndcg_permille"
            )
        )
    )
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.expr(
            "cast(sum(ndcg_permille) div count(*) as bigint)"
        ).alias("mean_ndcg_permille"),
        F.min("ndcg_permille").cast("bigint").alias("min_ndcg_permille"),
    )


# --------------------------------------------------------------------------
# q246 — temporal distribution drift: the exact two-sample KS distance
# between the first and second time-half of the purchase value stream
# (split at the midpoint of the observed time range — no driver
# scalars; the midpoint is a broadcast one-row aggregate). The batch
# value-twin of the s27 streaming monitor: both funnel through the
# same count-level KS algebra (operators/rankstats.py:ks_from_counts),
# whose per-value count partials sum-merge exactly, so stream and
# batch agree bit-for-bit.
# --------------------------------------------------------------------------


@register(
    "q246_ks_time_drift",
    oracle="""
WITH b AS (
  SELECT epoch_us(ts) AS us, CAST(round(value * 100) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase'
),
mp AS (SELECT (min(us) + max(us)) // 2 AS mid FROM b),
e AS (SELECT v, CASE WHEN us >= mp.mid THEN 1 ELSE 0 END AS grp
      FROM b, mp WHERE v IS NOT NULL),
g AS (
  SELECT v,
         CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(grp) AS BIGINT) AS nb
  FROM e GROUP BY v
),
c AS (
  SELECT v,
         sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
         sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
  FROM g
),
t AS (SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b
      FROM g),
gap AS (
  SELECT v, abs(CAST(ca AS HUGEINT) * t.n_b - CAST(cb AS HUGEINT) * t.n_a)
           AS gp
  FROM c, t
),
m AS (SELECT max(gp) AS mg FROM gap)
SELECT t.n_a, t.n_b,
       CAST(m.mg * 1000000 // (CAST(t.n_a AS HUGEINT) * t.n_b) AS BIGINT)
         AS d_ppm,
       CAST((SELECT min(v) FROM gap, m WHERE gap.gp = m.mg) AS BIGINT)
         AS d_at
FROM t, m
""",
    doc="exact KS distance (ppm) between first- and second-time-half "
    "purchase values, split at the broadcast time midpoint — the batch "
    "value-twin of the s27 streaming KS monitor (same count-level "
    "integer algebra, sum-mergeable partials)",
    tags=("events", "aggregate", "ranking", "audit", "streaming-twin"),
)
def q246_ks_time_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        ks_two_sample,
    )

    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    mp = ev.agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2").alias("mid")
    )
    sample = ev.crossJoin(F.broadcast(mp)).select(
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
        F.when(F.col("ts_us") >= F.col("mid"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("grp"),
    )
    return ks_two_sample(sample, "v", "grp")


# --------------------------------------------------------------------------
# q247 — purchase odds ratio across a user split with an exact-integer
# Katz confidence interval: users hash-split A/B (md5, the q42/q58
# discipline), the 2×2 contingency table (purchased-or-not × arm) folds
# in ONE conditional-aggregate pass, and the odds ratio plus its 95% CI
# come out in quantized micro-units — ln(OR) and its standard error are
# each ONE deterministic float expression over the four exact cells
# (the q214 stance), floor-quantized before the ± fold, never a float
# accumulation. Haldane +0.5 correction keeps zero cells finite.
# --------------------------------------------------------------------------


@register(
    "q247_purchase_odds_ratio",
    oracle="""
WITH u AS (
  SELECT user_id,
         CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   % 2 = 0 THEN 0 ELSE 1 END AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
  FROM events GROUP BY user_id
),
c AS (
  SELECT CAST(sum(CASE WHEN arm = 0 AND bought = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(sum(CASE WHEN arm = 0 AND bought = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(sum(CASE WHEN arm = 1 AND bought = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(sum(CASE WHEN arm = 1 AND bought = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS d
  FROM u
)
SELECT a, b, c, d,
       CAST(floor(1000000.0
                  * ln(((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5))))
            AS BIGINT) AS log_or_micro,
       CAST(floor(1000000.0
                  * 1.959964
                  * sqrt(1.0/(a + 0.5) + 1.0/(b + 0.5)
                         + 1.0/(c + 0.5) + 1.0/(d + 0.5))) AS BIGINT)
         AS half_ci_micro
FROM c
""",
    doc="purchase odds ratio across an md5 user split with exact-integer "
    "2x2 cells from one conditional-aggregate pass; ln(OR) and the 95% "
    "Katz half-interval each one deterministic float expression over "
    "the exact cells, floor-quantized to micro-units (Haldane +0.5)",
    tags=("events", "aggregate", "eval", "audit"),
)
def q247_purchase_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("bought")
    ).select(
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("arm"),
        "bought",
    )
    cells = u.agg(
        F.sum(
            F.when((F.col("arm") == 0) & (F.col("bought") == 1), 1).otherwise(0)
        ).cast("bigint").alias("a"),
        F.sum(
            F.when((F.col("arm") == 0) & (F.col("bought") == 0), 1).otherwise(0)
        ).cast("bigint").alias("b"),
        F.sum(
            F.when((F.col("arm") == 1) & (F.col("bought") == 1), 1).otherwise(0)
        ).cast("bigint").alias("c"),
        F.sum(
            F.when((F.col("arm") == 1) & (F.col("bought") == 0), 1).otherwise(0)
        ).cast("bigint").alias("d"),
    )
    return cells.select(
        "a", "b", "c", "d",
        F.floor(
            F.lit(1_000_000.0)
            * F.log(
                ((F.col("a") + 0.5) * (F.col("d") + 0.5))
                / ((F.col("b") + 0.5) * (F.col("c") + 0.5))
            )
        ).cast("bigint").alias("log_or_micro"),
        F.floor(
            F.lit(1_000_000.0)
            * F.lit(1.959964)
            * F.sqrt(
                1.0 / (F.col("a") + 0.5)
                + 1.0 / (F.col("b") + 0.5)
                + 1.0 / (F.col("c") + 0.5)
                + 1.0 / (F.col("d") + 0.5)
            )
        ).cast("bigint").alias("half_ci_micro"),
    )


# --------------------------------------------------------------------------
# q248 — autocorrelation of the hourly event-count series at lags 1, 2,
# 3, 6, 12, 24: the seasonality detector. The corpus folds ONCE to the
# bounded hourly table; each lag is an equi-self-join on hour+lag of
# that table (never the event stream), and each lag's ACF is Pearson
# over the exact integer (count, lagged-count) pairs — five exact
# DECIMAL(38,0) moments per lag, one deterministic float expression
# (the q214 discipline). Missing hours count as zero activity via a
# dense hour spine derived from the observed range.
# --------------------------------------------------------------------------


@register(
    "q248_hourly_autocorrelation",
    oracle="""
WITH e AS (
  SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS c
  FROM events GROUP BY 1
),
r AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
spine AS (
  SELECT CAST(t.h AS BIGINT) AS h
  FROM r, LATERAL unnest(generate_series(r.h0, r.h1)) t(h)
),
d AS (
  SELECT spine.h, CAST(coalesce(e.c, 0) AS BIGINT) AS c
  FROM spine LEFT JOIN e ON e.h = spine.h
),
lags(lag) AS (VALUES (1), (2), (3), (6), (12), (24)),
p AS (
  SELECT l.lag, a.c AS x, b.c AS y
  FROM lags l
  JOIN d a ON TRUE
  JOIN d b ON b.h = a.h + l.lag
),
m AS (
  SELECT lag,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(y * y) AS DECIMAL(38,0)) AS syy
  FROM p GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS acf
FROM m
""",
    doc="hourly-count autocorrelation at lags 1/2/3/6/12/24 over a dense "
    "hour spine (missing hours = 0): one corpus fold to the bounded "
    "hourly table, per-lag equi-self-joins of that table, Pearson from "
    "five exact DECIMAL(38,0) moments per lag",
    tags=("events", "timeseries", "aggregate"),
)
def q248_hourly_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        densify_counts,
    )

    ev = table(spark, sf_dir, "events")
    e = ev.groupBy(
        F.expr("ts_us div 3600000000").alias("h")
    ).agg(F.count("*").cast("bigint").alias("c"))
    d = densify_counts(e)
    lags = F.broadcast(
        ev.sparkSession.createDataFrame(
            [(1,), (2,), (3,), (6,), (12,), (24,)], "lag bigint"
        )
    )
    a = d.select(F.col("h").alias("ha"), F.col("c").alias("x"))
    b = d.select(F.col("h").alias("hb"), F.col("c").alias("y"))
    p = a.crossJoin(lags).join(b, F.col("hb") == F.col("ha") + F.col("lag"))
    dec38 = "decimal(38,0)"
    m = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast(dec38).alias("n"),
        F.sum("x").cast(dec38).alias("sx"),
        F.sum("y").cast(dec38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(dec38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(dec38).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast(dec38).alias("syy"),
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
        ).alias("acf"),
    )


# --------------------------------------------------------------------------
# q249 — CUSUM changepoint scan over the hourly event-count series, in
# EXACT integer arithmetic: scaling deviations by n turns the classic
# cumulative sum of (c_i − mean) into Σ (n·c_i − total) — an integer
# prefix sum with no division anywhere. The corpus folds once to the
# dense hourly table (missing hours = 0); the running sum rides the
# range-partitioned prefix operator, and the report is the argmax hour
# of |CUSUM| (tie-broken to the earliest hour) with the peak scaled
# back to micro-events via one exact integer division at the end.
# --------------------------------------------------------------------------


@register(
    "q249_cusum_changepoint",
    oracle="""
WITH e AS (
  SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS c
  FROM events GROUP BY 1
),
r AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
spine AS (
  SELECT CAST(t.h AS BIGINT) AS h
  FROM r, LATERAL unnest(generate_series(r.h0, r.h1)) t(h)
),
d AS (
  SELECT spine.h, CAST(coalesce(e.c, 0) AS BIGINT) AS c
  FROM spine LEFT JOIN e ON e.h = spine.h
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS total
      FROM d),
cu AS (
  SELECT d.h,
         sum(t.n * d.c - t.total)
           OVER (ORDER BY d.h ROWS UNBOUNDED PRECEDING) AS s
  FROM d, t
),
m AS (SELECT max(abs(s)) AS peak FROM cu)
SELECT t.n AS n_hours, t.total AS n_events,
       CAST((SELECT min(h) FROM cu, m WHERE abs(cu.s) = m.peak) AS BIGINT)
         AS change_at_hour,
       CAST(m.peak * 1000000 // t.n AS BIGINT) AS peak_micro_events
FROM t, m
""",
    doc="CUSUM changepoint over the dense hourly count series in exact "
    "integer arithmetic (deviations scaled by n: sum of n*c - total), "
    "range-partitioned prefix sum, earliest argmax hour of |CUSUM|, "
    "peak scaled to micro-events by one exact division",
    tags=("events", "timeseries", "ranking", "audit"),
)
def q249_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        cusum_changepoint_from_counts,
        densify_counts,
    )

    ev = table(spark, sf_dir, "events")
    e = ev.groupBy(
        F.expr("ts_us div 3600000000").alias("h")
    ).agg(F.count("*").cast("bigint").alias("c"))
    d = densify_counts(e)
    return cusum_changepoint_from_counts(d)


# --------------------------------------------------------------------------
# q250 — conditional entropy of the session transition matrix H(next |
# current) in integer micro-nats: how predictable the next action is.
# Transitions come from ONE lead window per user (ordered by time with
# the event-id tie-break); the transition matrix is vocabulary-sized
# (|event_type|²), marginals broadcast back, and each cell's
# n_xy·ln(n_x/n_xy) floor-quantizes BEFORE the integer sum (the repo's
# quantize-then-sum discipline), normalized by one exact division.
# --------------------------------------------------------------------------


@register(
    "q250_transition_entropy",
    oracle="""
WITH s AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS nxt
  FROM events
),
c AS (
  SELECT event_type AS x, nxt AS y, CAST(count(*) AS BIGINT) AS nxy
  FROM s WHERE nxt IS NOT NULL GROUP BY 1, 2
),
mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM c GROUP BY x),
t AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM c),
cells AS (
  SELECT CAST(floor(1000000.0 * c.nxy
                    * ln(CAST(mx.nx AS DOUBLE) / c.nxy)) AS BIGINT)
           AS contrib
  FROM c JOIN mx USING (x)
)
SELECT t.n AS n_transitions,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_cells,
       CAST((SELECT sum(contrib) FROM cells) // t.n AS BIGINT)
         AS cond_entropy_micro_nats
FROM t
""",
    doc="conditional entropy H(next|current) of the per-user event "
    "transition matrix in integer micro-nats: one lead window per user, "
    "vocabulary-sized transition counts, broadcast marginals, per-cell "
    "floor-quantized n_xy*ln(n_x/n_xy) summed as integers",
    tags=("events", "sessions", "aggregate", "audit"),
)
def q250_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).where(F.col("nxt").isNotNull())
    c = s.groupBy(
        F.col("event_type").alias("x"), F.col("nxt").alias("y")
    ).agg(F.count("*").cast("bigint").alias("nxy"))
    mx = c.groupBy("x").agg(F.sum("nxy").cast("bigint").alias("nx"))
    t = c.agg(F.sum("nxy").cast("bigint").alias("n"))
    cells = c.join(F.broadcast(mx), "x").select(
        F.floor(
            F.lit(1_000_000.0)
            * F.col("nxy")
            * F.log(F.col("nx").cast("double") / F.col("nxy"))
        )
        .cast("bigint")
        .alias("contrib")
    )
    n_cells = c.agg(F.count("*").cast("bigint").alias("n_cells"))
    sc = cells.agg(F.sum("contrib").alias("s"))
    return (
        t.crossJoin(F.broadcast(n_cells))
        .crossJoin(F.broadcast(sc))
        .select(
            F.col("n").alias("n_transitions"),
            "n_cells",
            F.expr("cast(s div n as bigint)").alias(
                "cond_entropy_micro_nats"
            ),
        )
    )


# --------------------------------------------------------------------------
# q251 — inter-rater agreement (Cohen's kappa) between two independent
# rule-based document labelers — the label-quality audit for weak
# supervision: observed agreement corrected for chance, EXACT in parts-
# per-million with no float anywhere (kappa = (N·agree − Σ_k r1_k·r2_k)
# / (N² − Σ_k r1_k·r2_k) — both numerator and denominator exact
# integers from one conditional-aggregate pass). Rater 1 labels by
# character length, rater 2 by whitespace token count.
# --------------------------------------------------------------------------


@register(
    "q251_cohens_kappa_labelers",
    oracle="""
WITH l AS (
  SELECT CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS r1,
         CASE WHEN len(string_split(text, ' ')) >= 40 THEN 1 ELSE 0 END
           AS r2
  FROM documents
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS BIGINT)
           AS agree,
         CAST(sum(r1) AS BIGINT) AS n1,
         CAST(sum(r2) AS BIGINT) AS n2
  FROM l
)
SELECT n, agree,
       CAST((CAST(n AS HUGEINT) * agree - (n1 * n2 + (n - n1) * (n - n2)))
            * 1000000
            // (CAST(n AS HUGEINT) * n - (n1 * n2 + (n - n1) * (n - n2)))
            AS BIGINT) AS kappa_ppm
FROM c
""",
    doc="Cohen's kappa between two rule-based labelers (length vs token "
    "count) exact in ppm: one conditional-aggregate pass for the "
    "agreement and marginal products, pure integer division — the "
    "weak-supervision label-quality audit",
    tags=("llm", "eval", "aggregate", "audit"),
)
def q251_cohens_kappa_labelers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    l = docs.select(
        F.when(F.col("n_chars") >= 250, 1).otherwise(0).alias("r1"),
        F.when(
            F.size(F.split(F.col("text"), " ")) >= 40, 1
        ).otherwise(0).alias("r2"),
    )
    c = l.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("r1") == F.col("r2"), 1).otherwise(0))
        .cast("bigint")
        .alias("agree"),
        F.sum("r1").cast("bigint").alias("n1"),
        F.sum("r2").cast("bigint").alias("n2"),
    )
    return c.select(
        "n",
        "agree",
        F.expr(
            "cast((cast(n as decimal(38,0)) * agree "
            "- (n1 * n2 + (n - n1) * (n - n2))) * 1000000 "
            "div (cast(n as decimal(38,0)) * n "
            "- (n1 * n2 + (n - n1) * (n - n2))) as bigint)"
        ).alias("kappa_ppm"),
    )


# --------------------------------------------------------------------------
# q253 — RFM segmentation at scale: per-user recency (µs since last
# event), frequency (event count), monetary (purchase cents) quintile-
# scored 1–5 and rolled up to segment counts. The quintile thresholds
# come from the exact rank-selection quantile operator on a CONSTANT
# group (operators/quantiles.py — no value buffer, quantile_cont-
# identical doubles), broadcast back for the bucket CASE; the user
# table is never globally sorted or ntile'd through one task. Higher
# scores are better: frequency/monetary score by value above
# thresholds, recency by value below.
# --------------------------------------------------------------------------


@register(
    "q253_rfm_segments",
    oracle="""
WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
u AS (
  SELECT user_id,
         CAST(mx.m - max(epoch_us(ts)) AS BIGINT) AS recency,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                                THEN CAST(round(value * 100) AS BIGINT)
                                ELSE 0 END), 0) AS BIGINT) AS monetary
  FROM events, mx GROUP BY user_id, mx.m
),
q AS (
  SELECT quantile_cont(recency, [0.2, 0.4, 0.6, 0.8]) AS rq,
         quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fq,
         quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mq
  FROM u
),
s AS (
  SELECT CAST(1 + (CASE WHEN u.recency < q.rq[1] THEN 1 ELSE 0 END)
                + (CASE WHEN u.recency < q.rq[2] THEN 1 ELSE 0 END)
                + (CASE WHEN u.recency < q.rq[3] THEN 1 ELSE 0 END)
                + (CASE WHEN u.recency < q.rq[4] THEN 1 ELSE 0 END)
              AS BIGINT) AS r_score,
         CAST(1 + (CASE WHEN u.frequency > q.fq[1] THEN 1 ELSE 0 END)
                + (CASE WHEN u.frequency > q.fq[2] THEN 1 ELSE 0 END)
                + (CASE WHEN u.frequency > q.fq[3] THEN 1 ELSE 0 END)
                + (CASE WHEN u.frequency > q.fq[4] THEN 1 ELSE 0 END)
              AS BIGINT) AS f_score,
         CAST(1 + (CASE WHEN u.monetary > q.mq[1] THEN 1 ELSE 0 END)
                + (CASE WHEN u.monetary > q.mq[2] THEN 1 ELSE 0 END)
                + (CASE WHEN u.monetary > q.mq[3] THEN 1 ELSE 0 END)
                + (CASE WHEN u.monetary > q.mq[4] THEN 1 ELSE 0 END)
              AS BIGINT) AS m_score
  FROM u, q
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_users
FROM s GROUP BY r_score, f_score, m_score
""",
    doc="RFM segmentation: per-user recency/frequency/monetary quintile "
    "scores 1-5 from exact rank-selection quantile thresholds "
    "(constant-group, broadcast back — no ntile through one task), "
    "rolled up to (r,f,m) segment counts",
    tags=("events", "aggregate", "ranking", "analytics"),
)
def q253_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.quantiles import (
        group_quantiles_exact,
    )

    ev = table(spark, sf_dir, "events")
    # ONE events fold (r14, guide §2.4 / PROBE_R14_TEXT_SCORERS.json):
    # the global max-timestamp used to be its own full events scan
    # crossJoined in BEFORE the per-user fold; max over all events equals
    # max over the per-user maxes, so derive it from the fold instead —
    # recency = m - last_ts is the same bigint either way, and the
    # persisted frame no longer embeds a broadcast whose build raced the
    # cache materialization (two full folds observed at sf0.1)
    u0 = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts_us").cast("bigint").alias("__last_ts"),
            F.count("*").cast("bigint").alias("frequency"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.round(F.col("value") * 100).cast("bigint"),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("monetary"),
        )
        .persist()
    )
    mx = u0.agg(F.max("__last_ts").alias("m"))
    u = u0.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (F.col("m") - F.col("__last_ts")).cast("bigint").alias("recency"),
        "frequency",
        "monetary",
    )
    # the per-user fold feeds the quantile selection plus the scoring
    # pass — persist it once instead of re-folding events (the dedup.py/
    # windows.py persist discipline), and melt the three metrics into
    # ONE group-quantile selection (group = metric) so all 12 thresholds
    # come from a single multi-pass instead of three serial ones
    qs = {"q20": 0.2, "q40": 0.4, "q60": 0.6, "q80": 0.8}
    melted = u.selectExpr(
        "stack(3, 'r', recency, 'f', frequency, 'm', monetary) "
        "as (metric, v)"
    )
    th = group_quantiles_exact(melted, "metric", "v", qs)
    thresholds = th.agg(
        *[
            F.max(F.when(F.col("metric") == pfx, F.col(k))).alias(
                f"{pfx}_{k}"
            )
            for pfx in ("r", "f", "m")
            for k in qs
        ]
    )
    score = lambda v, pfx, op: sum(  # noqa: E731
        (
            F.when(op(F.col(v), F.col(f"{pfx}_{k}")), 1).otherwise(0)
            for k in ("q40", "q60", "q80")
        ),
        start=F.lit(1)
        + F.when(op(F.col(v), F.col(f"{pfx}_q20")), 1).otherwise(0),
    )
    s = u.crossJoin(F.broadcast(thresholds)).select(
        score("recency", "r", lambda a, b: a < b)
        .cast("bigint")
        .alias("r_score"),
        score("frequency", "f", lambda a, b: a > b)
        .cast("bigint")
        .alias("f_score"),
        score("monetary", "m", lambda a, b: a > b)
        .cast("bigint")
        .alias("m_score"),
    )
    return s.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("bigint").alias("n_users")
    )


# --------------------------------------------------------------------------
# q254 — first-touch vs last-touch revenue attribution: sessions (30-min
# gap, the q231 sessionization) containing a purchase attribute their
# total purchase revenue to (a) the session's first event type and (b)
# the event type immediately preceding the session's FIRST purchase
# ('direct' when the purchase opens the session). All windows ride the
# (user, session) partitioning — bounded groups, one shuffle — and the
# two models publish as one long-format channel table. Revenue in exact
# integer cents.
# --------------------------------------------------------------------------


@register(
    "q254_revenue_attribution",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
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
r AS (
  SELECT *,
         row_number() OVER ws AS rn,
         first_value(event_type) OVER ws AS first_type,
         lag(event_type) OVER ws AS prev_type
  FROM s WINDOW ws AS (PARTITION BY user_id, sess ORDER BY us, event_id)
),
agg AS (
  SELECT user_id, sess,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
              AS BIGINT) AS rev,
         min(CASE WHEN event_type = 'purchase' THEN rn END) AS first_p
  FROM r GROUP BY user_id, sess
),
conv AS (
  SELECT r.first_type,
         coalesce(r.prev_type, 'direct') AS last_touch,
         a.rev
  FROM r JOIN agg a ON a.user_id = r.user_id AND a.sess = r.sess
                    AND a.first_p = r.rn
  WHERE a.rev > 0
),
lng AS (
  SELECT 'first_touch' AS model, first_type AS channel, rev FROM conv
  UNION ALL
  SELECT 'last_touch' AS model, last_touch AS channel, rev FROM conv
)
SELECT model, channel,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(rev) AS BIGINT) AS rev_cents
FROM lng GROUP BY model, channel
""",
    doc="first-touch vs last-touch revenue attribution over 30-min-gap "
    "sessions: per-session first event type and pre-first-purchase "
    "event type ('direct' when the purchase opens the session), total "
    "purchase cents per channel under both models — all windows on the "
    "bounded (user, session) partitioning",
    tags=("events", "sessions", "analytics", "aggregate"),
)
def q254_revenue_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts_us",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    sess = sessionize(ev, "user_id", "ts_us", 1_800_000_000, "event_id")
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts_us", "event_id"
    )
    r = sess.select(
        "user_id",
        "session_id",
        "event_type",
        "cents",
        F.row_number().over(ws).alias("rn"),
        F.first("event_type").over(ws).alias("first_type"),
        F.lag("event_type").over(ws).alias("prev_type"),
    )
    agg = r.groupBy("user_id", "session_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("cents"))
            .otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("rev"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rn"))
        ).alias("first_p"),
    )
    conv = (
        r.join(
            agg,
            (r.user_id == agg.user_id)
            & (r.session_id == agg.session_id)
            & (agg.first_p == r.rn),
        )
        .where(F.col("rev") > 0)
        .select(
            "first_type",
            F.coalesce(F.col("prev_type"), F.lit("direct")).alias(
                "last_touch"
            ),
            "rev",
        )
    )
    lng = conv.select(
        F.lit("first_touch").alias("model"),
        F.col("first_type").alias("channel"),
        "rev",
    ).unionByName(
        conv.select(
            F.lit("last_touch").alias("model"),
            F.col("last_touch").alias("channel"),
            "rev",
        )
    )
    return lng.groupBy("model", "channel").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum("rev").cast("bigint").alias("rev_cents"),
    )


