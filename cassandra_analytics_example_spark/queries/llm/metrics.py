"""LLM-pipeline queries, `metrics` block — mechanically split from the
former queries/llm.py in round 10 (zero behavior change; see llm/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.queries._tables import table

from cassandra_analytics_example_spark.queries.llm.evals import (  # noqa: E402
    _Q223_SCORE_SQL,
    _q223_score,
)

# --------------------------------------------------------------------------

_Q224_THRESHOLDS = (-1500000, -500000, 0, 500000, 1500000)


@register(
    "q224_threshold_sweep",
    oracle=f"""
WITH s AS (
  SELECT {_Q223_SCORE_SQL} AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
t(threshold) AS (VALUES {", ".join(f"({t})" for t in _Q224_THRESHOLDS)}),
m AS (
  SELECT t.threshold,
         CAST(sum(CASE WHEN s.score >= t.threshold AND s.pos = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN s.score >= t.threshold AND s.pos = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN s.score < t.threshold AND s.pos = 1
                  THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN s.score < t.threshold AND s.pos = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM s, t GROUP BY t.threshold
)
SELECT CAST(threshold AS BIGINT) AS threshold, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0 THEN CAST(tp * 1000 // (tp + fp) AS BIGINT)
       END AS precision_permille,
       CASE WHEN tp + fn > 0 THEN CAST(tp * 1000 // (tp + fn) AS BIGINT)
       END AS recall_permille
FROM m
""",
    doc="confusion matrix + precision/recall permille at five thresholds "
    "in one unrolled conditional-aggregate pass over the corpus, "
    "stack()-unpivoted; NULL ratios on degenerate cells",
    tags=("llm", "eval"),
)
def q224_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    score = _q223_score()
    s = emb.select(
        score.alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("pos"),
    )
    aggs = []
    for i, t in enumerate(_Q224_THRESHOLDS):
        ge = F.col("score") >= F.lit(t)
        pos = F.col("pos") == 1
        aggs += [
            F.sum(F.when(ge & pos, 1).otherwise(0)).cast("bigint").alias(f"tp{i}"),
            F.sum(F.when(ge & ~pos, 1).otherwise(0)).cast("bigint").alias(f"fp{i}"),
            F.sum(F.when(~ge & pos, 1).otherwise(0)).cast("bigint").alias(f"fn{i}"),
            F.sum(F.when(~ge & ~pos, 1).otherwise(0)).cast("bigint").alias(f"tn{i}"),
        ]
    wide = s.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t} AS BIGINT), tp{i}, fp{i}, fn{i}, tn{i}"
        for i, t in enumerate(_Q224_THRESHOLDS)
    )
    tall = wide.select(
        F.expr(
            f"stack({len(_Q224_THRESHOLDS)}, {stack_args}) "
            "AS (threshold, tp, fp, fn, tn)"
        )
    )
    return tall.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("tp * 1000 div (tp + fp)"),
        )
        .cast("bigint")
        .alias("precision_permille"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("tp * 1000 div (tp + fn)"),
        )
        .cast("bigint")
        .alias("recall_permille"),
    )


# --------------------------------------------------------------------------
# q232 — corpus rank normalization: each document's quality proxy
# (n_chars) mapped to its exact corpus-wide rank permille (ties share
# the permille of their group's lower boundary), then the per-source
# decile histogram — the "is this source's quality distribution shifted
# vs the corpus" drift view, and the feature transform that makes raw
# scores comparable across corpus versions. The rank layer is per-score
# groups + the range-partitioned exclusive prefix (operators/ranking.py)
# over DISTINCT scores — never a corpus-sized global window; docs get
# their permille back via an equi-join on score.
# --------------------------------------------------------------------------


@register(
    "q232_rank_normalized_quality",
    oracle="""
WITH g AS (
  SELECT n_chars AS score, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY n_chars
),
c AS (
  SELECT score, n,
         coalesce(sum(n) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_below,
         (SELECT sum(n) FROM g) AS n_total
  FROM g
),
r AS (
  SELECT score, CAST(n_below * 1000 // n_total AS BIGINT) AS permille
  FROM c
)
SELECT d.source,
       CAST(r.permille // 100 AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents d JOIN r ON r.score = d.n_chars
GROUP BY d.source, CAST(r.permille // 100 AS BIGINT)
""",
    doc="corpus-wide rank-permille normalization of the n_chars quality "
    "proxy (ties share their group boundary permille) rolled into a "
    "per-source decile histogram — per-score groups + range-partitioned "
    "exclusive prefix, permille joined back on the score key",
    tags=("llm", "quality", "ranking"),
)
def q232_rank_normalized_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    docs = table(spark, sf_dir, "documents").select("source", "n_chars")
    g = docs.groupBy(F.col("n_chars").alias("score")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    pre = grouped_prefix_sums(g, [], ["score"], ["n"])
    tot = g.agg(F.sum("n").alias("n_total"))
    r = pre.crossJoin(F.broadcast(tot)).select(
        "score",
        F.expr("n_before * 1000 div n_total").cast("bigint").alias(
            "permille"
        ),
    )
    return (
        docs.join(r, docs.n_chars == r.score)
        .groupBy(
            "source",
            F.expr("permille div 100").cast("bigint").alias("decile"),
        )
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


# --------------------------------------------------------------------------
# q233 — exact tie-corrected Spearman rank correlation between document
# character count and token count: the monotonicity check Pearson (q214)
# can't give. Tie-averaged ranks are carried DOUBLED so they stay exact
# integers (2r = 2·below + n + 1 per distinct-value group), each rank
# table is a distinct-value groupBy + range-partitioned prefix layer
# (never a global row sort), and rho is Pearson over the doubled ranks —
# five exact DECIMAL(38,0) moments, one closed-form float expression
# (operators/rankstats.py:spearman_rho, the q214 determinism discipline).
# --------------------------------------------------------------------------


@register(
    "q233_spearman_chars_tokens",
    oracle="""
WITH v AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS y
  FROM documents
  WHERE n_chars IS NOT NULL AND text IS NOT NULL
),
gx AS (SELECT x, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY x),
rx AS (
  SELECT x,
         2 * coalesce(sum(n) OVER (ORDER BY x
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) + n + 1 AS r2
  FROM gx
),
gy AS (SELECT y, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY y),
ry AS (
  SELECT y,
         2 * coalesce(sum(n) OVER (ORDER BY y
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) + n + 1 AS r2
  FROM gy
),
r AS (
  SELECT CAST(rx.r2 AS BIGINT) AS a, CAST(ry.r2 AS BIGINT) AS b
  FROM v JOIN rx ON v.x = rx.x JOIN ry ON v.y = ry.y
),
m AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(a * b) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(a * a) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(b * b) AS DECIMAL(38,0)) AS syy
  FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(sxy - n * (n + 1) * (n + 1) AS DOUBLE)
         / (sqrt(CAST(sxx - n * (n + 1) * (n + 1) AS DOUBLE))
            * sqrt(CAST(syy - n * (n + 1) * (n + 1) AS DOUBLE))) AS rho
FROM m
""",
    doc="exact tie-corrected Spearman rank correlation of chars vs "
    "tokens: doubled tie-averaged ranks (exact integers) from distinct-"
    "value groups + range-partitioned prefix layers, rho from four "
    "exact DECIMAL(38,0) moments via the centered identity (doubled "
    "ranks sum to exactly n(n+1)) in one deterministic float "
    "expression, exact to ~2.9e12 rows",
    tags=("llm", "aggregate", "ranking"),
)
def q233_spearman_chars_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.rankstats import (
        spearman_rho,
    )

    docs = table(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("bigint").alias("x"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("y"),
    )
    return spearman_rho(docs, "x", "y")


# --------------------------------------------------------------------------
# q238 — mutual information between document language and source, in
# integer micro-nats: how much knowing the source tells you about the
# language (the dataset-mixing diagnostic — high MI means sources are
# language-siloed, near-zero means well mixed). The contingency table is
# one groupBy (bounded by |langs|×|sources|), marginals broadcast back,
# and each cell's n_xy·ln(n_xy·N / (n_x·n_y)) is floor-quantized to an
# integer BEFORE the sum (the repo's quantize-then-integer-sum pattern),
# so the result is engine-portable with no float accumulation.
# --------------------------------------------------------------------------


@register(
    "q238_mutual_info_lang_source",
    oracle="""
WITH c AS (
  SELECT lang, source, CAST(count(*) AS BIGINT) AS nxy
  FROM documents GROUP BY lang, source
),
mt AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM c),
mlg AS (SELECT lang, CAST(sum(nxy) AS BIGINT) AS nx FROM c GROUP BY lang),
msr AS (SELECT source, CAST(sum(nxy) AS BIGINT) AS ny FROM c GROUP BY source),
cells AS (
  SELECT c.nxy,
         CAST(floor(1000000.0 * c.nxy
                    * ln((CAST(c.nxy AS DOUBLE) * mt.n)
                         / (CAST(mlg.nx AS DOUBLE) * msr.ny))) AS BIGINT)
           AS contrib
  FROM c JOIN mlg USING (lang) JOIN msr USING (source), mt
)
SELECT CAST(mt.n AS BIGINT) AS n,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_cells,
       CAST((SELECT sum(contrib) FROM cells) // mt.n AS BIGINT)
         AS mi_micro_nats
FROM mt
""",
    doc="mutual information between lang and source in integer micro-"
    "nats: bounded contingency groupBy, broadcast marginals, per-cell "
    "floor-quantized n_xy*ln(n_xy*N/(n_x*n_y)) summed as integers, "
    "exact integer normalization by N",
    tags=("llm", "aggregate", "audit"),
)
def q238_mutual_info_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("nxy")
    )
    mt = c.agg(F.sum("nxy").cast("bigint").alias("n"))
    mlg = c.groupBy("lang").agg(F.sum("nxy").cast("bigint").alias("nx"))
    msr = c.groupBy("source").agg(F.sum("nxy").cast("bigint").alias("ny"))
    cells = (
        c.join(F.broadcast(mlg), "lang")
        .join(F.broadcast(msr), "source")
        .crossJoin(F.broadcast(mt))
        .select(
            F.floor(
                F.lit(1_000_000.0)
                * F.col("nxy")
                * F.log(
                    (F.col("nxy").cast("double") * F.col("n"))
                    / (F.col("nx").cast("double") * F.col("ny"))
                )
            )
            .cast("bigint")
            .alias("contrib")
        )
    )
    n_cells = c.agg(F.count("*").cast("bigint").alias("n_cells"))
    tot = cells.agg(F.sum("contrib").alias("s"))
    return (
        mt.crossJoin(F.broadcast(n_cells))
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "n_cells",
            F.expr("cast(s div n as bigint)").alias("mi_micro_nats"),
        )
    )


# --------------------------------------------------------------------------
# q244 — exact average precision (area under the step PR curve) for the
# q223 embedding-derived score against the same high-label positives:
# the eval that matters when positives are rare and ROC AUC flatters.
# Thresholds sweep distinct scores descending; each threshold's recall
# gain times its precision accumulates as an exact integer floor
# (10⁹·np·tp div n per score cell — no float, no libm), with the
# ≥-cumulative counts from ascending range-partitioned prefix sums plus
# broadcast totals (operators/ranking.py:average_precision_exact).
# --------------------------------------------------------------------------


@register(
    "q244_average_precision_exact",
    oracle=f"""
WITH s AS (
  SELECT {_Q223_SCORE_SQL} AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
g AS (
  SELECT score, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS np
  FROM s GROUP BY score
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(np) AS BIGINT) AS pt
      FROM g),
c AS (
  SELECT np,
         t.nt - coalesce(sum(n) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_ge,
         t.pt - coalesce(sum(np) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tp_ge,
         t.pt, t.nt
  FROM g, t
)
SELECT CAST(pt AS BIGINT) AS n_pos,
       CAST(nt AS BIGINT) AS n_total,
       CAST(sum(CAST(1000000000 AS HUGEINT) * np * tp_ge // n_ge)
            // (1000 * pt) AS BIGINT) AS ap_ppm
FROM c WHERE np > 0
GROUP BY pt, nt
""",
    doc="exact average precision (step PR-curve area) in ppm for the "
    "embedding-derived score vs high-label positives: per-score-cell "
    "integer floors (no float, no libm), >=-cumulative counts from "
    "range-partitioned prefix sums + broadcast totals",
    tags=("llm", "eval", "ranking"),
)
def q244_average_precision_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.ranking import (
        average_precision_exact,
    )

    emb = table(spark, sf_dir, "embeddings")
    score = _q223_score()
    scored = emb.select(
        score.alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("is_pos"),
    )
    return average_precision_exact(scored, "score", "is_pos")


# --------------------------------------------------------------------------
# q245 — Zipf-law fit of the corpus vocabulary: OLS slope of ln(freq)
# against ln(rank) over terms with frequency ≥ 2 (the Zipf exponent is
# −slope; natural text sits near 1). Ranks come from the descending
# frequency order with a deterministic term tie-break, assigned via the
# range-partitioned prefix layer over the VOCABULARY table (never the
# token stream); both logs are floor-quantized to integer micro-units
# per term before the five exact DECIMAL(38,0) moments, so the slope is
# one exact integer division (the q214 discipline). The corpus-health
# audit ("is this text distribution natural?") at any scale.
# --------------------------------------------------------------------------


@register(
    "q245_zipf_fit",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
v AS (
  SELECT term, CAST(count(*) AS BIGINT) AS freq
  FROM tok WHERE term <> '' GROUP BY term
),
f AS (SELECT term, freq FROM v WHERE freq >= 2),
r AS (
  SELECT freq,
         row_number() OVER (ORDER BY freq DESC, term) AS rnk
  FROM f
),
q AS (
  SELECT CAST(floor(1000000.0 * ln(CAST(rnk AS DOUBLE))) AS BIGINT) AS x,
         CAST(floor(1000000.0 * ln(CAST(freq AS DOUBLE))) AS BIGINT) AS y
  FROM r
),
m AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx
  FROM q
)
SELECT CAST(n AS BIGINT) AS n_terms,
       CAST(CAST((n * sxy - sx * sy) * 1000000 AS HUGEINT)
            // CAST(n * sxx - sx * sx AS HUGEINT) AS BIGINT)
         AS slope_micro
FROM m
""",
    doc="Zipf-law fit: OLS slope (exact integer micro-units) of "
    "ln(freq) vs ln(rank) over the frequency->=2 vocabulary — ranks from "
    "the range-partitioned prefix layer on (freq desc, term), logs "
    "floor-quantized per term before exact DECIMAL(38,0) moments",
    tags=("llm", "aggregate", "audit", "ranking"),
)
def q245_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    docs = table(spark, sf_dir, "documents")
    v = (
        docs.select(
            F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .where(F.col("freq") >= 2)
    )
    ranked = grouped_prefix_sums(
        v.select(
            (-F.col("freq")).alias("negf"),
            "term",
            "freq",
            F.lit(1).cast("bigint").alias("one"),
        ),
        [],
        ["negf", "term"],
        ["one"],
    ).select(
        "freq", (F.col("one_before") + 1).alias("rnk")
    )
    q = ranked.select(
        F.floor(F.lit(1_000_000.0) * F.log(F.col("rnk").cast("double")))
        .cast("bigint")
        .alias("x"),
        F.floor(F.lit(1_000_000.0) * F.log(F.col("freq").cast("double")))
        .cast("bigint")
        .alias("y"),
    )
    dec38 = "decimal(38,0)"
    m = q.agg(
        F.count(F.lit(1)).cast(dec38).alias("n"),
        F.sum("x").cast(dec38).alias("sx"),
        F.sum("y").cast(dec38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(dec38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(dec38).alias("sxx"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.expr(
            "cast((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) "
            "as bigint)"
        ).alias("slope_micro"),
    )


# --------------------------------------------------------------------------
# q252 — template-prefix audit: the top shared 16-character document
# prefixes with doc counts and floor-permille corpus share — the cheap
# detector for boilerplate templates and scraped-page chrome that
# near-dup passes at higher shingle sizes can miss. One groupBy on the
# prefix (vocabulary-sized output), top-10 via Spark's per-partition
# TakeOrdered merge (never a global sort of the prefix table),
# deterministic (count desc, prefix) tie-break.
# --------------------------------------------------------------------------


@register(
    "q252_template_prefixes",
    oracle="""
WITH p AS (
  SELECT substr(text, 1, 16) AS prefix, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents WHERE len(text) >= 16
  GROUP BY 1
),
t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents
      WHERE len(text) >= 16)
SELECT p.prefix, p.n_docs,
       CAST(p.n_docs * 1000 // t.total AS BIGINT) AS share_permille
FROM p, t
ORDER BY p.n_docs DESC, p.prefix
LIMIT 10
""",
    doc="top-10 shared 16-char document prefixes with counts and floor-"
    "permille share: vocabulary-sized prefix groupBy, TakeOrdered top-k "
    "(no global sort), deterministic tie-break — the boilerplate/"
    "template detector",
    tags=("llm", "dedup", "audit", "topk"),
)
def q252_template_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").where(
        F.length("text") >= 16
    )
    p = docs.groupBy(
        F.substring("text", 1, 16).alias("prefix")
    ).agg(F.count("*").cast("bigint").alias("n_docs"))
    t = docs.agg(F.count("*").cast("bigint").alias("total"))
    return (
        p.crossJoin(F.broadcast(t))
        .select(
            "prefix",
            "n_docs",
            F.expr("cast(n_docs * 1000 div total as bigint)").alias(
                "share_permille"
            ),
        )
        .orderBy(F.col("n_docs").desc(), "prefix")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q256 — KMV (k-minimum-values) sketches of per-source vocabularies and
# the sketch-estimated Jaccard between the two largest sources: the
# mergeable-alternative to HLL that also supports set-resemblance. Each
# source keeps its k=128 smallest md5 token hashes (per-source window
# rank on the bounded vocabulary table — deterministic, no RNG);
# distinct-count estimate (k−1)·2¹²⁸-free: hashes map to the integer
# line via the first 15 hex digits, estimate = (k−1)·M div h_k. The
# Jaccard estimate is |KMV_k(A∪B) ∩ A ∩ B| / k on the union's k
# smallest — all exact integer arithmetic over md5 values, so the
# sketch is reproducible on any engine.
# --------------------------------------------------------------------------

_KMV_K = 128
_KMV_M = 16**15  # hash domain size for the 15-hex-digit prefix


@register(
    "q256_kmv_source_jaccard",
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS term
  FROM documents
),
h AS (
  SELECT source, term,
         ('0x' || substr(md5(term), 1, 15))::BIGINT AS hv
  FROM tok WHERE term <> ''
),
top2 AS (
  SELECT source FROM h GROUP BY source
  ORDER BY count(*) DESC, source LIMIT 2
),
r AS (
  SELECT h.source, h.hv,
         row_number() OVER (PARTITION BY h.source ORDER BY h.hv) AS rk
  FROM h JOIN top2 USING (source)
),
kmv AS (SELECT source, hv, rk FROM r WHERE rk <= {_KMV_K}),
est AS (
  SELECT source,
         CASE WHEN count(*) < {_KMV_K} THEN CAST(count(*) AS BIGINT)
              ELSE CAST(({_KMV_K} - 1) * CAST({_KMV_M} AS HUGEINT)
                        // max(CASE WHEN rk = {_KMV_K} THEN hv END)
                        AS BIGINT)
         END AS est_distinct
  FROM kmv GROUP BY source
),
u AS (
  SELECT hv, count(*) AS nsrc FROM kmv GROUP BY hv
),
uk AS (
  SELECT hv, nsrc, row_number() OVER (ORDER BY hv) AS rk FROM u
),
j AS (
  -- denominator = |union sketch| = min(k, |A ∪ B sketch hashes|): a
  -- small vocabulary fills fewer than k union slots and dividing by
  -- the constant k would understate Jaccard (small-set degeneration,
  -- same as est_distinct's)
  SELECT CASE WHEN count(*) > 0
              THEN CAST(sum(CASE WHEN nsrc = 2 THEN 1 ELSE 0 END) * 1000
                        // count(*) AS BIGINT)
         END AS jaccard_permille
  FROM uk WHERE rk <= {_KMV_K}
)
SELECT (SELECT min(source) FROM top2) AS source_a,
       (SELECT max(source) FROM top2) AS source_b,
       (SELECT min(est_distinct) FROM est) AS est_distinct_min,
       (SELECT max(est_distinct) FROM est) AS est_distinct_max,
       j.jaccard_permille
FROM j
""",
    doc="KMV k=128 sketches of the two largest sources' vocabularies "
    "(smallest md5 hashes, deterministic): distinct-count estimates "
    "(k-1)*M div h_k and the union-sketch Jaccard estimate in exact "
    "integer arithmetic — the mergeable set-resemblance sketch",
    tags=("llm", "sketch", "dedup", "aggregate"),
)
def q256_kmv_source_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .where(F.col("term") != "")
        .distinct()
    )
    h = tok.select(
        "source",
        F.conv(F.substring(F.md5("term"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    top2 = F.broadcast(
        h.groupBy("source")
        .agg(F.count("*").alias("nv"))
        .orderBy(F.col("nv").desc(), "source")
        .limit(2)
        .select("source")
    )
    hs = h.join(top2, "source")
    wr = Window.partitionBy("source").orderBy("hv")
    kmv = hs.withColumn("rk", F.row_number().over(wr)).where(
        F.col("rk") <= _KMV_K
    )
    # a source whose whole vocabulary fits under k has an EXACT count —
    # the standard KMV small-set degeneration (estimator needs the k-th
    # minimum, which does not exist)
    est = kmv.groupBy("source").agg(
        F.expr(
            f"case when count(*) < {_KMV_K} then cast(count(*) as bigint) "
            f"else cast(({_KMV_K} - 1) * cast({_KMV_M} as decimal(38,0)) "
            f"div max(case when rk = {_KMV_K} then hv end) as bigint) end"
        ).alias("est_distinct")
    )
    u = kmv.groupBy("hv").agg(F.count("*").alias("nsrc"))
    uk = u.withColumn(
        "rk", F.row_number().over(Window.orderBy("hv"))
    ).where(F.col("rk") <= _KMV_K)
    # denominator = |union sketch| (min(k, distinct union hashes)), not
    # the constant k: mirrors est_distinct's small-set degeneration so
    # tiny vocabularies don't understate Jaccard
    j = uk.agg(
        F.expr(
            "case when count(*) > 0 then "
            "cast(sum(case when nsrc = 2 then 1 else 0 end) * 1000 "
            "div count(*) as bigint) end"
        ).alias("jaccard_permille")
    )
    names = top2.agg(
        F.min("source").alias("source_a"), F.max("source").alias("source_b")
    )
    ests = est.agg(
        F.min("est_distinct").alias("est_distinct_min"),
        F.max("est_distinct").alias("est_distinct_max"),
    )
    return (
        names.crossJoin(F.broadcast(ests))
        .crossJoin(F.broadcast(j))
        .select(
            "source_a",
            "source_b",
            "est_distinct_min",
            "est_distinct_max",
            "jaccard_permille",
        )
    )


# --------------------------------------------------------------------------
# q257 — per-dimension embedding statistics: mean and variance of every
# embedding coordinate in quantized micro-units from exact integer
# moments (values quantized to 1e-6 BEFORE summation — never a float
# accumulation), plus each dimension's share of total variance in
# permille. The anisotropy audit behind whitening/matryoshka decisions:
# posexplode fans the corpus to (dim, value) pairs once, the moment
# table is |dims| rows, and everything downstream rides it.
# --------------------------------------------------------------------------


@register(
    "q257_embedding_dim_stats",
    oracle="""
WITH v AS (
  SELECT g.dim,
         CAST(round(CAST(g.val AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (
    SELECT unnest(embedding) AS val,
           generate_subscripts(embedding, 1) - 1 AS dim
    FROM embeddings g
  ) g
),
m AS (
  SELECT dim,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS s,
         CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS ss
  FROM v GROUP BY dim
),
st AS (
  SELECT CAST(dim AS BIGINT) AS dim,
         CAST(s // n AS BIGINT) AS mean_micro,
         CAST((ss - CAST(s AS HUGEINT) * s // n) // n // 1000000 AS BIGINT)
           AS var_micro
  FROM m
),
t AS (SELECT CAST(sum(var_micro) AS BIGINT) AS tv FROM st)
SELECT st.dim, st.mean_micro, st.var_micro,
       CAST(st.var_micro * 1000 // t.tv AS BIGINT) AS var_share_permille
FROM st, t
""",
    doc="per-dimension embedding mean/variance in micro-units from exact "
    "integer moments (1e-6 quantization before summation) with each "
    "dim's variance share in permille — the anisotropy audit; one "
    "posexplode fan-out, |dims|-row moment table",
    tags=("llm", "similarity", "aggregate", "audit"),
)
def q257_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        F.posexplode("embedding").alias("dim", "val")
    ).select(
        "dim",
        F.round(F.col("val").cast("double") * 1_000_000)
        .cast("bigint")
        .alias("q"),
    )
    m = v.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("ss"),
    )
    st = m.select(
        F.col("dim").cast("bigint").alias("dim"),
        F.expr("cast(s div n as bigint)").alias("mean_micro"),
        F.expr(
            "cast((ss - cast(s as decimal(38,0)) * s div n) div n "
            "div 1000000 as bigint)"
        ).alias("var_micro"),
    )
    t = st.agg(F.sum("var_micro").cast("bigint").alias("tv"))
    return st.crossJoin(F.broadcast(t)).select(
        "dim",
        "mean_micro",
        "var_micro",
        F.expr("cast(var_micro * 1000 div tv as bigint)").alias(
            "var_share_permille"
        ),
    )


# --------------------------------------------------------------------------
# q260 — Brier score of the rank-calibrated classifier: the q223 score
# maps to an empirical probability via its corpus rank permille (the
# q232 normalization — distinct-score groups + prefix layer, never a
# global row sort), and the Brier score against the high-label outcome
# is Σ (perm − 1000·y)² in EXACT integer arithmetic, reported in
# micro-units by one final division. The proper-scoring-rule companion
# to AUC (q223) and AP (q244): rank calibration makes it measure pure
# discrimination loss, engine-portable with no float anywhere.
# --------------------------------------------------------------------------


@register(
    "q260_brier_rank_calibrated",
    oracle=f"""
WITH s AS (
  SELECT {_Q223_SCORE_SQL} AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
g AS (
  SELECT score, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS np
  FROM s GROUP BY score
),
c AS (
  SELECT score, n, np,
         coalesce(sum(n) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM g
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g),
p AS (
  SELECT np, n - np AS nn,
         CAST(below * 1000 // t.nt AS BIGINT) AS perm
  FROM c, t
)
SELECT t.nt AS n_total,
       CAST((SELECT sum(np * (perm - 1000) * (perm - 1000)
                        + (nn) * perm * perm) FROM p)
            // t.nt AS BIGINT) AS brier_micro
FROM t
""",
    doc="Brier score (micro-units) of the rank-calibrated q223 score: "
    "probability = corpus rank permille from distinct-score groups + "
    "prefix layer, score = sum (perm - 1000y)^2 in exact integers, one "
    "final division — proper-scoring-rule companion to AUC/AP",
    tags=("llm", "eval", "ranking"),
)
def q260_brier_rank_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    emb = table(spark, sf_dir, "embeddings")
    score = _q223_score()
    s = emb.select(
        score.alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("pos"),
    )
    g = s.groupBy("score").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("np"),
    )
    pre = grouped_prefix_sums(g, [], ["score"], ["n"])
    t = g.agg(F.sum("n").cast("bigint").alias("nt"))
    p = pre.crossJoin(F.broadcast(t)).select(
        "np",
        (F.col("n") - F.col("np")).alias("nn"),
        F.expr("cast(n_before * 1000 div nt as bigint)").alias("perm"),
        "nt",
    )
    return p.groupBy("nt").agg(
        F.expr(
            "cast(sum(np * (perm - 1000) * (perm - 1000) "
            "+ nn * perm * perm) div nt as bigint)"
        ).alias("brier_micro")
    ).select(F.col("nt").alias("n_total"), "brier_micro")


# --------------------------------------------------------------------------
# q261 — decile gains table for the q223 score: rows bucket into score
# deciles by GLOBAL RANK (distinct-score groups + prefix layer — tie
# groups share a decile, never a single-task ntile), and each decile
# reports its positive count, rate in permille, and the cumulative
# lift over the base rate in permille scanning from the top decile
# down. The classic model-targeting readout ("mail the top 2 deciles"),
# exact integers end to end.
# --------------------------------------------------------------------------


@register(
    "q261_decile_gains",
    oracle=f"""
WITH s AS (
  SELECT {_Q223_SCORE_SQL} AS score,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
g AS (
  SELECT score, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS np
  FROM s GROUP BY score
),
c AS (
  SELECT score, n, np,
         coalesce(sum(n) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS above
  FROM g
),
t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(np) AS BIGINT) AS pt
      FROM g),
d AS (
  SELECT CAST(above * 10 // t.nt AS BIGINT) AS decile, n, np
  FROM c, t
),
dd AS (
  SELECT decile, CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(sum(np) AS BIGINT) AS n_pos
  FROM d GROUP BY decile
),
cum AS (
  SELECT decile, n_rows, n_pos,
         sum(n_rows) OVER (ORDER BY decile
                           ROWS UNBOUNDED PRECEDING) AS cn,
         sum(n_pos) OVER (ORDER BY decile
                          ROWS UNBOUNDED PRECEDING) AS cp
  FROM dd
)
SELECT cum.decile, cum.n_rows, cum.n_pos,
       CAST(cum.n_pos * 1000 // cum.n_rows AS BIGINT) AS rate_permille,
       CAST(CAST(cum.cp AS HUGEINT) * t.nt * 1000
            // (CAST(cum.cn AS HUGEINT) * t.pt) AS BIGINT)
         AS cum_lift_permille
FROM cum, t
""",
    doc="decile gains table for the q223 score: deciles by global rank "
    "from distinct-score groups + prefix layer (tie groups share a "
    "decile, no single-task ntile), per-decile positive rate and "
    "cumulative lift over base rate in exact integer permille, top "
    "decile first",
    tags=("llm", "eval", "ranking", "aggregate"),
)
def q261_decile_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    emb = table(spark, sf_dir, "embeddings")
    score = _q223_score()
    s = emb.select(
        score.alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("pos"),
    )
    g = s.groupBy("score").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("np"),
    )
    # rank from the TOP: prefix over descending score via negated key
    pre = grouped_prefix_sums(
        g.select((-F.col("score")).alias("negs"), "n", "np"),
        [],
        ["negs"],
        ["n"],
    )
    t = g.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("np").cast("bigint").alias("pt"),
    )
    d = pre.crossJoin(F.broadcast(t)).select(
        F.expr("cast(n_before * 10 div nt as bigint)").alias("decile"),
        "n",
        "np",
    )
    dd = d.groupBy("decile").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.sum("np").cast("bigint").alias("n_pos"),
    )
    cum = grouped_prefix_sums(
        dd, [], ["decile"], ["n_rows", "n_pos"]
    ).select(
        "decile",
        "n_rows",
        "n_pos",
        (F.col("n_rows_before") + F.col("n_rows")).alias("cn"),
        (F.col("n_pos_before") + F.col("n_pos")).alias("cp"),
    )
    return cum.crossJoin(F.broadcast(t)).select(
        "decile",
        "n_rows",
        "n_pos",
        F.expr("cast(n_pos * 1000 div n_rows as bigint)").alias(
            "rate_permille"
        ),
        F.expr(
            "cast(cast(cp as decimal(38,0)) * nt * 1000 "
            "div (cast(cn as decimal(38,0)) * pt) as bigint)"
        ).alias("cum_lift_permille"),
    )


# --------------------------------------------------------------------------
# q267 — split-free conformal prediction interval for the q214 linear
# fit (tokens ~ chars): the 90% conformal radius is the ⌈(n+1)·0.9⌉-th
# smallest absolute residual — an EXACT order statistic, selected by
# the distinct-value + prefix-layer rank machinery (never a global row
# sort) over integer micro-unit residuals from the exact-moment OLS
# line (slope_micro/intercept_milli are exact integers, so residuals
# are too). The coverage audit closes the loop: the share of rows
# inside ±q̂ in integer permille. The "calibrated error bars at scale"
# primitive for any regression-backed budget estimate.
# --------------------------------------------------------------------------


@register(
    "q267_conformal_interval",
    oracle="""
WITH v AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS y
  FROM documents
),
m AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx
  FROM v
),
fit AS (
  SELECT CAST(n AS BIGINT) AS n,
         CAST(CAST((n * sxy - sx * sy) * 1000000 AS HUGEINT)
              // CAST(n * sxx - sx * sx AS HUGEINT) AS BIGINT) AS slope_u,
         CAST(CAST((sy * (n * sxx - sx * sx)
                    - sx * (n * sxy - sx * sy)) * 1000 AS HUGEINT)
              // CAST(n * (n * sxx - sx * sx) AS HUGEINT) AS BIGINT)
           AS icept_m
  FROM m
),
res AS (
  SELECT abs(v.y * 1000000 - (fit.slope_u * v.x + fit.icept_m * 1000))
           AS r, fit.n
  FROM v, fit
),
k AS (SELECT n, (n + 1) * 9 // 10 + CASE WHEN (n + 1) * 9 % 10 > 0
                                         THEN 1 ELSE 0 END AS kk
      FROM fit),
g AS (SELECT r, CAST(count(*) AS BIGINT) AS c FROM res GROUP BY r),
cum AS (
  SELECT r, sum(c) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING) AS cw
  FROM g
),
qhat AS (
  SELECT CAST(min(r) AS BIGINT) AS qhat_micro
  FROM cum, k WHERE cw >= least(k.kk, k.n)
)
SELECT k.n, qhat.qhat_micro,
       CAST((SELECT count(*) FROM res, qhat
             WHERE res.r <= qhat.qhat_micro) * 1000 // k.n AS BIGINT)
         AS coverage_permille
FROM k, qhat
""",
    doc="90% conformal prediction radius for the exact-moment OLS fit: "
    "ceil((n+1)*0.9)-th smallest integer micro-residual by distinct-"
    "value + prefix-layer rank selection (no global row sort), with "
    "the coverage share in integer permille",
    tags=("llm", "eval", "ranking", "aggregate"),
)
def q267_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    docs = table(spark, sf_dir, "documents")
    v = docs.select(
        F.col("n_chars").cast("bigint").alias("x"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("y"),
    )
    dec38 = "decimal(38,0)"
    m = v.agg(
        F.count(F.lit(1)).cast(dec38).alias("n"),
        F.sum("x").cast(dec38).alias("sx"),
        F.sum("y").cast(dec38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(dec38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(dec38).alias("sxx"),
    )
    fit = m.select(
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "cast((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) "
            "as bigint)"
        ).alias("slope_u"),
        F.expr(
            "cast((sy * (n * sxx - sx * sx) - sx * (n * sxy - sx * sy)) "
            "* 1000 div (n * (n * sxx - sx * sx)) as bigint)"
        ).alias("icept_m"),
    )
    # fit (one row, from a full corpus fold) feeds three branches and
    # res feeds two — persist both so the corpus folds run once
    fit = fit.persist()
    res = v.crossJoin(F.broadcast(fit)).select(
        F.abs(
            F.col("y") * 1_000_000
            - (F.col("slope_u") * F.col("x") + F.col("icept_m") * 1000)
        ).alias("r"),
        "n",
    ).persist()
    k = fit.select(
        "n",
        F.expr(
            "(n + 1) * 9 div 10 "
            "+ case when (n + 1) * 9 % 10 > 0 then 1 else 0 end"
        ).alias("kk"),
    )
    g = res.groupBy("r").agg(F.count("*").cast("bigint").alias("c"))
    cum = grouped_prefix_sums(g, [], ["r"], ["c"]).select(
        "r", (F.col("c_before") + F.col("c")).alias("cw")
    )
    qhat = (
        cum.crossJoin(F.broadcast(k))
        .where(F.col("cw") >= F.least(F.col("kk"), F.col("n")))
        .agg(F.min("r").cast("bigint").alias("qhat_micro"))
    )
    cov = (
        res.crossJoin(F.broadcast(qhat))
        .where(F.col("r") <= F.col("qhat_micro"))
        .agg(F.count("*").alias("nc"))
    )
    return (
        k.crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(cov))
        .select(
            "n",
            "qhat_micro",
            F.expr("cast(nc * 1000 div n as bigint)").alias(
                "coverage_permille"
            ),
        )
    )


# --------------------------------------------------------------------------
# q268 — exact covariance matrix of the leading 8 embedding dimensions:
# the PCA/whitening precursor q257's per-dim variance doesn't give.
# All 8 coordinates quantize to integer micro-units as COLUMNS of one
# projection (no explode), and the 8 first moments + 36 upper-triangle
# second moments fold in ONE corpus pass of exact DECIMAL(38,0) sums;
# covariance comes out long-format (dim_i ≤ dim_j, cov_micro) by exact
# integer algebra n·Σxy − Σx·Σy over n². Output is the fixed 36-row
# triangle at any corpus size.
# --------------------------------------------------------------------------

_COV_DIMS = 8


@register(
    "q268_embedding_covariance",
    oracle=f"""
WITH v AS (
  SELECT {', '.join(
      f"CAST(round(CAST(embedding[{i}] AS DOUBLE) * 1000000) AS BIGINT)"
      f" AS q{i}" for i in range(1, _COV_DIMS + 1))}
  FROM embeddings
),
m AS (
  SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         {', '.join(
      f"CAST(sum(q{i}) AS DECIMAL(38,0)) AS s{i}"
      for i in range(1, _COV_DIMS + 1))},
         {', '.join(
      f"CAST(sum(CAST(q{i} AS HUGEINT) * q{j}) AS DECIMAL(38,0))"
      f" AS p{i}_{j}"
      for i in range(1, _COV_DIMS + 1)
      for j in range(i, _COV_DIMS + 1))}
  FROM v
)
SELECT CAST(dim_i AS BIGINT) AS dim_i, CAST(dim_j AS BIGINT) AS dim_j,
       CAST(cov AS BIGINT) AS cov_micro
FROM (
  {' UNION ALL '.join(
      f"SELECT {i} AS dim_i, {j} AS dim_j, "
      f"CAST((n * p{i}_{j} - s{i} * s{j}) AS HUGEINT)"
      f" // CAST(n * n AS HUGEINT) // 1000000 AS cov FROM m"
      for i in range(1, _COV_DIMS + 1)
      for j in range(i, _COV_DIMS + 1))}
)
""",
    doc="exact covariance matrix (upper triangle, micro-units) of the "
    "leading 8 embedding dims: one corpus pass of 8 first + 36 second "
    "DECIMAL(38,0) moments over micro-quantized coordinates, integer "
    "algebra (n*Sxy - Sx*Sy) div n^2 — the PCA/whitening precursor, "
    "fixed 36-row output",
    tags=("llm", "similarity", "aggregate"),
)
def q268_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    v = emb.select(
        *[
            F.round(
                F.element_at("embedding", i).cast("double") * 1_000_000
            )
            .cast("bigint")
            .alias(f"q{i}")
            for i in range(1, _COV_DIMS + 1)
        ]
    )
    dec38 = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).cast(dec38).alias("n")]
    aggs += [
        F.sum(f"q{i}").cast(dec38).alias(f"s{i}")
        for i in range(1, _COV_DIMS + 1)
    ]
    aggs += [
        F.sum(F.col(f"q{i}").cast(dec38) * F.col(f"q{j}")).alias(f"p{i}_{j}")
        for i in range(1, _COV_DIMS + 1)
        for j in range(i, _COV_DIMS + 1)
    ]
    m = v.agg(*aggs)
    # one stack() projection over the single moment row — the 36 cells
    # share ONE aggregation pass (a 36-way union would recompute it)
    pairs = [
        (i, j)
        for i in range(1, _COV_DIMS + 1)
        for j in range(i, _COV_DIMS + 1)
    ]
    stack_args = ", ".join(
        f"cast({i} as bigint), cast({j} as bigint), "
        f"cast((n * p{i}_{j} - s{i} * s{j}) div (n * n) div 1000000 "
        f"as bigint)"
        for i, j in pairs
    )
    return m.selectExpr(
        f"stack({len(pairs)}, {stack_args}) "
        "as (dim_i, dim_j, cov_micro)"
    )


# --------------------------------------------------------------------------
# q279 — per-language conformal prediction radii: each language gets its
# OWN exact-moment OLS fit (tokens ~ chars) and its own 90% conformal
# radius — the calibrated-error-bars-per-slice readout (a single global
# radius over-covers easy languages and under-covers hard ones). Group
# moments fold in one pass; per-group residual rank selection rides the
# grouped prefix operator (k = ⌈(n_g+1)·0.9⌉ per group, no per-group
# buffer); per-group coverage closes the loop in integer permille.
# --------------------------------------------------------------------------


@register(
    "q279_conformal_by_lang",
    oracle="""
WITH v AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS x,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS y
  FROM documents
),
m AS (
  SELECT lang,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx
  FROM v GROUP BY lang
),
fit AS (
  SELECT lang, CAST(n AS BIGINT) AS n,
         CAST(CAST((n * sxy - sx * sy) * 1000000 AS HUGEINT)
              // CAST(n * sxx - sx * sx AS HUGEINT) AS BIGINT) AS slope_u,
         CAST(CAST((sy * (n * sxx - sx * sx)
                    - sx * (n * sxy - sx * sy)) * 1000 AS HUGEINT)
              // CAST(n * (n * sxx - sx * sx) AS HUGEINT) AS BIGINT)
           AS icept_m
  FROM m
  WHERE CAST(n * sxx - sx * sx AS HUGEINT) > 0
),
res AS (
  SELECT v.lang,
         abs(v.y * 1000000 - (fit.slope_u * v.x + fit.icept_m * 1000))
           AS r, fit.n
  FROM v JOIN fit ON fit.lang = v.lang
),
k AS (
  SELECT lang, n,
         (n + 1) * 9 // 10
           + CASE WHEN (n + 1) * 9 % 10 > 0 THEN 1 ELSE 0 END AS kk
  FROM fit
),
g AS (SELECT lang, r, CAST(count(*) AS BIGINT) AS c
      FROM res GROUP BY lang, r),
cum AS (
  SELECT lang, r,
         sum(c) OVER (PARTITION BY lang ORDER BY r
                      ROWS UNBOUNDED PRECEDING) AS cw
  FROM g
),
qhat AS (
  SELECT cum.lang, CAST(min(cum.r) AS BIGINT) AS qhat_micro
  FROM cum JOIN k USING (lang)
  WHERE cum.cw >= least(k.kk, k.n)
  GROUP BY cum.lang
)
SELECT k.lang, k.n, qhat.qhat_micro,
       CAST((SELECT count(*) FROM res
             WHERE res.lang = k.lang AND res.r <= qhat.qhat_micro) * 1000
            // k.n AS BIGINT) AS coverage_permille
FROM k JOIN qhat USING (lang)
""",
    doc="per-language conformal prediction radii: per-group exact-moment "
    "OLS fits, ceil((n_g+1)*0.9)-th smallest integer micro-residual per "
    "group via the grouped prefix rank layer (no per-group buffer), "
    "per-group coverage in integer permille",
    tags=("llm", "eval", "ranking", "aggregate"),
)
def q279_conformal_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    docs = table(spark, sf_dir, "documents")
    v = docs.select(
        "lang",
        F.col("n_chars").cast("bigint").alias("x"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("y"),
    )
    dec38 = "decimal(38,0)"
    m = v.groupBy("lang").agg(
        F.count(F.lit(1)).cast(dec38).alias("n"),
        F.sum("x").cast(dec38).alias("sx"),
        F.sum("y").cast(dec38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(dec38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(dec38).alias("sxx"),
    )
    fit = m.where(F.expr("n * sxx - sx * sx") > 0).select(
        "lang",
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "cast((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) "
            "as bigint)"
        ).alias("slope_u"),
        F.expr(
            "cast((sy * (n * sxx - sx * sx) - sx * (n * sxy - sx * sy)) "
            "* 1000 div (n * (n * sxx - sx * sx)) as bigint)"
        ).alias("icept_m"),
    ).persist()
    res = v.join(F.broadcast(fit), "lang").select(
        "lang",
        F.abs(
            F.col("y") * 1_000_000
            - (F.col("slope_u") * F.col("x") + F.col("icept_m") * 1000)
        ).alias("r"),
    ).persist()
    k = fit.select(
        "lang",
        "n",
        F.expr(
            "(n + 1) * 9 div 10 "
            "+ case when (n + 1) * 9 % 10 > 0 then 1 else 0 end"
        ).alias("kk"),
    )
    g = res.groupBy("lang", "r").agg(
        F.count("*").cast("bigint").alias("c")
    )
    cum = grouped_prefix_sums(g, ["lang"], ["r"], ["c"]).select(
        "lang", "r", (F.col("c_before") + F.col("c")).alias("cw")
    )
    qhat = (
        cum.join(F.broadcast(k), "lang")
        .where(F.col("cw") >= F.least(F.col("kk"), F.col("n")))
        .groupBy("lang")
        .agg(F.min("r").cast("bigint").alias("qhat_micro"))
    )
    cov = (
        res.join(F.broadcast(qhat), "lang")
        .where(F.col("r") <= F.col("qhat_micro"))
        .groupBy("lang")
        .agg(F.count("*").alias("nc"))
    )
    return (
        k.join(qhat, "lang")
        .join(cov, "lang")
        .select(
            "lang",
            "n",
            "qhat_micro",
            F.expr("cast(nc * 1000 div n as bigint)").alias(
                "coverage_permille"
            ),
        )
    )
