"""LLM-pipeline queries, `evals` block — mechanically split from the
former queries/llm.py in round 10 (zero behavior change; see llm/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.checkpoints import truncate_plan
from cassandra_analytics_example_spark.operators.dedup import (
    simhash_near_dup_pairs_auto,
    connected_components,
    minhash_lsh_dedup,
    token_jaccard_pairs,
)
from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.queries._tables import table
from cassandra_analytics_example_spark.session import temp_root

from cassandra_analytics_example_spark.queries.llm.corpus import (  # noqa: E402
    _MINHASH_BANDS,
    _MINHASH_SEEDS,
    _Q21_ORACLE,
    _SHINGLE_K,
    _SIMHASH_BANDED_SQL,
    _SIMHASH_BITS,
    _SIMHASH_PARAMS_SQL,
    _simhash_hv,
    _simhash_votes,
)

# --------------------------------------------------------------------------


@register(
    "q180_rendezvous_shard_map",
    oracle="""
WITH w AS (
  SELECT [CAST(('0x' || substr(md5('0' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
          CAST(('0x' || substr(md5('1' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
          CAST(('0x' || substr(md5('2' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
          CAST(('0x' || substr(md5('3' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
          CAST(('0x' || substr(md5('4' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
          CAST(('0x' || substr(md5('5' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
          CAST(('0x' || substr(md5('6' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
          CAST(('0x' || substr(md5('7' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
          CAST(('0x' || substr(md5('8' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)]
           AS a
  FROM documents
),
k AS (
  SELECT list_position(a[1:8], list_aggregate(a[1:8], 'max')) AS winner8,
         a[9] > list_aggregate(a[1:8], 'max') AS mover
  FROM w
),
loads AS (SELECT winner8, count(*) AS n FROM k GROUP BY winner8),
bal AS (
  SELECT max(n) AS max_n, min(n) AS min_n, sum(n) AS n_keys FROM loads
)
SELECT CAST(bal.n_keys AS BIGINT) AS n_keys,
       CAST(8 AS BIGINT) AS n_shards,
       CAST(bal.max_n * 1000 // bal.n_keys AS BIGINT)
         AS max_load_permille,
       CAST(bal.min_n * 1000 // bal.n_keys AS BIGINT)
         AS min_load_permille,
       CAST((SELECT sum(CASE WHEN mover THEN 1 ELSE 0 END) FROM k)
            AS BIGINT) AS movers,
       CAST((SELECT sum(CASE WHEN mover THEN 1 ELSE 0 END) FROM k)
            * 1000 // bal.n_keys AS BIGINT) AS movers_permille,
       CAST(1000 // 9 AS BIGINT) AS expected_movers_permille
FROM bal
""",
    doc="rendezvous-hash shard map: per-doc argmax of 8 md5 weights, "
    "balance in exact permille, and the 8->9 expansion mover fraction "
    "(exactly the keys shard 9 wins) vs the 1/9 expectation — the "
    "consistent-hashing audit behind reshuffle-free shard growth; one "
    "scan, vocabulary-sized aggregates",
    tags=("llm", "layout", "sharding"),
)
def q180_rendezvous_shard_map(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import md5_u60

    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("key")
    )
    arr = F.array(*[md5_u60(F.col("key"), seed=j) for j in range(9)])
    k = docs.select(
        F.array_position(
            F.slice(arr, 1, 8), F.array_max(F.slice(arr, 1, 8))
        ).alias("winner8"),
        (
            F.element_at(arr, 9) > F.array_max(F.slice(arr, 1, 8))
        ).alias("mover"),
    )
    k = truncate_plan(k)
    loads = k.groupBy("winner8").agg(F.count(F.lit(1)).alias("n"))
    bal = loads.agg(
        F.max("n").alias("max_n"),
        F.min("n").alias("min_n"),
        F.sum("n").alias("n_keys"),
    )
    mv = k.agg(F.sum(F.col("mover").cast("bigint")).alias("movers"))
    return bal.crossJoin(F.broadcast(mv)).select(
        F.col("n_keys").cast("bigint").alias("n_keys"),
        F.lit(8).cast("bigint").alias("n_shards"),
        F.expr("max_n * 1000 div n_keys")
        .cast("bigint")
        .alias("max_load_permille"),
        F.expr("min_n * 1000 div n_keys")
        .cast("bigint")
        .alias("min_load_permille"),
        F.col("movers").cast("bigint").alias("movers"),
        F.expr("movers * 1000 div n_keys")
        .cast("bigint")
        .alias("movers_permille"),
        F.lit(111).cast("bigint").alias("expected_movers_permille"),
    )


# --------------------------------------------------------------------------
# q183 — intra-document repetition (the Gopher/MassiveText "repetitive
# text" quality signals, Rae et al. 2021 §A1.1): per document, the
# fraction of word-bigram occurrences that are repeats of an
# already-seen bigram, and the share of the single most frequent bigram.
# Both are exact integer permille (counts and integer division), so the
# signal is engine- and partitioning-invariant. One tokenize lineage,
# one (doc_id, bigram) hash aggregate, one doc_id aggregate — all
# map-side-combining, linear in corpus tokens.
# --------------------------------------------------------------------------


@register(
    "q183_intradoc_repetition",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                               i -> array_to_string(w[i:i+1], ' '))) AS bg
  FROM w WHERE len(w) >= 2
),
per AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       CAST((sum(c) - count(*)) * 1000 // sum(c) AS BIGINT)
         AS dup_bigram_permille,
       CAST(max(c) * 1000 // sum(c) AS BIGINT) AS top_bigram_permille
FROM per GROUP BY doc_id
""",
    doc="Gopher-style intra-document repetition: per-doc duplicate-bigram "
    "and top-bigram occurrence shares in exact integer permille — the "
    "templated/looping-text quality filter; docs with <2 tokens have no "
    "bigrams and are absent by definition",
    tags=("llm", "text", "quality"),
)
def q183_intradoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import word_ngrams

    docs = table(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), 2)).alias("bg")
    )
    per = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.expr("(sum(c) - count(*)) * 1000 div sum(c)")
        .cast("bigint")
        .alias("dup_bigram_permille"),
        F.expr("max(c) * 1000 div sum(c)")
        .cast("bigint")
        .alias("top_bigram_permille"),
    )


# --------------------------------------------------------------------------
# q184 — per-document word-entropy in quantized integer algebra. True
# Shannon entropy of the word distribution is H = ln(n) - (Σ c·ln c)/n;
# a float Σ over a group is summation-order-dependent, so each term is
# floored to integer millinats FIRST (the q130 bigram-LM discipline:
# floor(1000·c·ln c) per vocabulary row), making the per-doc sum an
# exact bigint and the final score engine- and partitioning-invariant.
# Low entropy flags repetitive/templated text; the score is monotone in
# true entropy up to the 1e-3 quantization.
# --------------------------------------------------------------------------


@register(
    "q184_word_entropy",
    oracle="""
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
c AS (SELECT doc_id, w, count(*) AS cnt FROM t GROUP BY 1, 2),
a AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(CAST(floor(1000.0 * cnt * ln(cnt)) AS BIGINT)) AS BIGINT)
           AS rep_milli
  FROM c GROUP BY 1
)
SELECT doc_id, n_tokens, vocab,
       CAST(CAST(floor(1000.0 * ln(n_tokens)) AS BIGINT)
            - rep_milli // n_tokens AS BIGINT) AS entropy_milli
FROM a
""",
    doc="per-document word entropy in quantized millinats: "
    "floor(1000 ln n) - (sum of floor(1000 c ln c)) div n — per-term "
    "integer flooring before the group sum keeps the score exact and "
    "order-invariant (no float fold); low values flag repetitive text",
    tags=("llm", "text", "quality"),
)
def q184_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import tokens

    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    c = t.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    a = c.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.floor(F.lit(1000.0) * F.col("cnt") * F.log(F.col("cnt"))))
        .cast("bigint")
        .alias("rep_milli"),
    )
    return a.select(
        "doc_id",
        "n_tokens",
        "vocab",
        (
            F.floor(F.lit(1000.0) * F.log(F.col("n_tokens"))).cast("bigint")
            - F.expr("rep_milli div n_tokens")
        )
        .cast("bigint")
        .alias("entropy_milli"),
    )


# --------------------------------------------------------------------------
# q185 — weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006):
# each row draws u ~ U(0,1] and competes with key ln(u)/w (equivalent to
# ranking by u^(1/w)); the global top-k IS a weighted sample without
# replacement. u is the repo's deterministic md5-uniform (md5_u60 / 2^60),
# so the "random" draw is reproducible across engines, partitionings and
# reruns — the property a training pipeline needs for resumable sampling.
# The top-k is a distributed TakeOrdered (no global sort materialization);
# the rank window runs on the already-limited k rows only.
# --------------------------------------------------------------------------

_Q185_K = 50
_Q185_DEN = float(1 << 60)


@register(
    "q185_weighted_sample",
    oracle=f"""
WITH k AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) + 1) / {_Q185_DEN!r}) / n_chars AS es_key
  FROM documents
)
SELECT doc_id, w, CAST(rnk AS INT) AS rnk FROM (
  SELECT doc_id, w,
         row_number() OVER (ORDER BY es_key DESC, doc_id ASC) AS rnk
  FROM k
) WHERE rnk <= {_Q185_K}
""",
    doc="deterministic weighted sampling without replacement "
    "(Efraimidis-Spirakis keys ln(u)/w on the md5-uniform), weight = "
    "n_chars, top-50 — reproducible across engines/partitionings; "
    "distributed TakeOrdered, rank window only over the k winners",
    tags=("llm", "sampling"),
)
def q185_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import md5_u60

    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("w"),
        (
            F.log(
                (md5_u60(F.col("doc_id").cast("string")) + F.lit(1))
                / F.lit(_Q185_DEN)
            )
            / F.col("n_chars")
        ).alias("es_key"),
    )
    top = keyed.orderBy(F.col("es_key").desc(), F.col("doc_id").asc()).limit(
        _Q185_K
    )
    # The unpartitioned window is bounded: it ranks the k surviving rows
    # only (post-limit), never the corpus.
    w = Window.orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", "w", F.row_number().over(w).cast("int").alias("rnk")
    )


# --------------------------------------------------------------------------
# q186 — label confusability: pairwise cosine between label centroids.
# Cosine is scale-invariant, so the centroid (mean) direction equals the
# direction of the per-label SUM vector — no division, and with each
# component quantized to fixed-point (round(x·1e5), the q47 discipline)
# the sums are exact bigints: order- and engine-invariant. Dot products
# run in DECIMAL(38,0) (bigint·bigint would overflow at ~1e19; decimal
# holds to 1e38, covering ~1e9 vectors/label at this quantization), and
# only the final cosine touches floats (sqrt/div of fixed scalars —
# deterministic). The sums table is n_labels × dim rows (tiny,
# broadcast); the corpus is touched once by the posexplode aggregate.
# --------------------------------------------------------------------------

_Q186_Q = 100_000  # fixed-point quantization


@register(
    "q186_label_centroid_separation",
    oracle=f"""
WITH ex AS (
  SELECT label, CAST(t.i AS BIGINT) AS dim,
         CAST(round(CAST(embedding[t.i + 1] AS DOUBLE) * {_Q186_Q}) AS BIGINT)
           AS q
  FROM embeddings, UNNEST(range(0, len(embedding))) AS t(i)
),
s AS (
  SELECT label, dim, CAST(sum(q) AS DECIMAL(19,0)) AS sv
  FROM ex GROUP BY label, dim
),
norms AS (
  SELECT label, sum(CAST(sv AS DECIMAL(38,0)) * sv) AS nrm
  FROM s GROUP BY label
),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(CAST(a.sv AS DECIMAL(38,0)) * b.sv) AS dot
  FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
)
SELECT d.label_a, d.label_b,
       CAST(d.dot AS DOUBLE)
         / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
         AS centroid_cosine,
       CAST(d.dot AS DOUBLE)
         / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
         >= 0.8 AS confusable
FROM dots d
JOIN norms na ON na.label = d.label_a
JOIN norms nb ON nb.label = d.label_b
""",
    doc="label-confusability audit: pairwise cosine between label centroid "
    "directions via exact fixed-point sum vectors (scale-invariance of "
    "cosine removes the order-dependent float mean); pairs with cosine "
    ">= 0.8 are flagged confusable — the label-quality signal for a "
    "classification corpus",
    tags=("llm", "similarity", "audit"),
)
def q186_label_centroid_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("x").cast("double") * _Q186_Q)
        .cast("bigint")
        .alias("q"),
    )
    s = ex.groupBy("label", "dim").agg(
        F.sum("q").cast("decimal(19,0)").alias("sv")
    )
    norms = s.groupBy("label").agg(
        F.sum(F.col("sv").cast("decimal(38,0)") * F.col("sv")).alias("nrm")
    )
    a = s.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("sv").alias("sv_a"),
    )
    b = s.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("sv").alias("sv_b"),
    )
    dots = (
        a.join(F.broadcast(b), "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.col("sv_a").cast("decimal(38,0)") * F.col("sv_b")
            ).alias("dot")
        )
    )
    na = norms.select(
        F.col("label").alias("label_a"), F.col("nrm").alias("nrm_a")
    )
    nb = norms.select(
        F.col("label").alias("label_b"), F.col("nrm").alias("nrm_b")
    )
    cos = (
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("nrm_a").cast("double"))
            * F.sqrt(F.col("nrm_b").cast("double"))
        )
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            cos.alias("centroid_cosine"),
            (cos >= 0.8).alias("confusable"),
        )
    )


# --------------------------------------------------------------------------
# q189 — n-gram novelty against a reference corpus: for each held-out
# document (odd doc_id), the share of its DISTINCT word-3-grams that
# never occur in the reference half (even doc_id) — the curriculum/
# freshness signal dual to q43's contamination overlap (which measures
# how much eval text the train set contains; novelty measures how much
# NEW text a candidate document adds). The reference vocabulary is a
# distinct-gram aggregate joined per candidate gram (left join on the
# gram key — at corpus scale the vocabulary is bucketed, never broadcast
# wholesale); all shares are exact integer permille.
# --------------------------------------------------------------------------


@register(
    "q189_ngram_novelty",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
         i -> array_to_string(w[i:i+2], ' ')))) AS gram
  FROM w WHERE len(w) >= 3
),
ref AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
ev AS (SELECT doc_id, gram FROM g WHERE doc_id % 2 = 1)
SELECT ev.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(sum(CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS novelty_permille
FROM ev LEFT JOIN ref ON ev.gram = ref.gram
GROUP BY ev.doc_id
""",
    doc="per-document 3-gram novelty vs the even-doc_id reference half: "
    "distinct grams unseen in the reference vocabulary, exact integer "
    "permille — the data-freshness/curriculum signal (gram-keyed left "
    "join, single tokenize lineage)",
    tags=("llm", "text", "governance"),
)
def q189_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import word_ngrams

    docs = table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("text"), 3))).alias(
            "gram"
        ),
    )
    ref = (
        g.where(F.col("doc_id") % 2 == 0).select("gram").distinct()
        .withColumn("__seen", F.lit(1))
    )
    ev = g.where(F.col("doc_id") % 2 == 1)
    return (
        ev.join(ref, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
            F.expr(
                "sum(case when __seen is null then 1 else 0 end) * 1000 "
                "div count(*)"
            )
            .cast("bigint")
            .alias("novelty_permille"),
        )
    )


# --------------------------------------------------------------------------
# q191 — quality-aware canonical selection: inside each near-dup cluster,
# keep the HIGHEST-QUALITY member (longest text, doc_id tiebreak), not
# the arbitrary min-id — the decision a real curation pipeline makes
# after clustering (q46 keeps min-id; this operator upgrades the policy
# and reports what each cluster kept/dropped). Clusters come from the
# same MinHash-LSH pairs + connected-components lineage as q21/q46; the
# representative is a per-cluster argmax via one small-partition window
# (clusters are bounded by the LSH bucket cap, never corpus-sized).
# --------------------------------------------------------------------------


@register(
    "q191_canonical_selection",
    oracle=f"""
WITH RECURSIVE pairs AS (
{_Q21_ORACLE}
),
e AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT a, a FROM e
  UNION
  SELECT e.a, reach.r FROM e JOIN reach ON reach.id = e.b
),
clusters AS (
  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
),
m AS (
  SELECT c.cluster_id, c.id, d.n_chars
  FROM clusters c JOIN documents d ON d.doc_id = c.id
),
ranked AS (
  SELECT cluster_id, id, n_chars,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, id ASC) AS rn
  FROM m
)
SELECT cluster_id,
       CAST(max(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS rep_doc_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS kept_chars
FROM ranked GROUP BY cluster_id
""",
    doc="quality-aware canonical selection per near-dup cluster: keep the "
    "longest member (doc_id tiebreak) instead of min-id, with per-cluster "
    "kept/dropped accounting — MinHash-LSH pairs -> connected components "
    "-> bounded per-cluster argmax window",
    tags=("llm", "dedup", "governance"),
)
def q191_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(
        docs,
        "doc_id",
        "text",
        num_hashes=_MINHASH_SEEDS,
        shingle_k=_SHINGLE_K,
        num_bands=_MINHASH_BANDS,
        jaccard_threshold=0.5,
    )
    cc = connected_components(pairs)
    m = cc.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("id").asc()
    )
    ranked = m.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("id")))
        .cast("bigint")
        .alias("rep_doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.max(F.when(F.col("rn") == 1, F.col("n_chars")))
        .cast("bigint")
        .alias("kept_chars"),
    )


# --------------------------------------------------------------------------
# q193 — dataset card: the one-table-per-source summary a data release
# ships with (docs, tokens, language share, exact-dup rate, mean length).
# Pure integer algebra over two source-keyed aggregates (token counts ride
# the same lineage as the doc stats; the dup rate reuses the md5 exact-dup
# definition of q20 scoped within source). The "report" capstone over the
# corpus-quality signal family.
# --------------------------------------------------------------------------


@register(
    "q193_dataset_card",
    oracle="""
WITH d AS (
  SELECT source, lang, n_chars,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         md5(text) AS h
  FROM documents
),
dup AS (
  SELECT source, h, count(*) AS c FROM d GROUP BY 1, 2
),
dupn AS (
  SELECT source, sum(c - 1) AS n_dup FROM dup GROUP BY 1
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(d.toks) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS en_permille,
       CAST(max(dupn.n_dup) * 1000 // count(*) AS BIGINT)
         AS exact_dup_permille,
       CAST(sum(d.n_chars) // count(*) AS BIGINT) AS mean_chars
FROM d JOIN dupn ON d.source = dupn.source
GROUP BY d.source
""",
    doc="per-source dataset card: docs, tokens, English share, exact-dup "
    "rate (md5 within source), mean chars — all exact integer permille; "
    "the release-notes summary table over two source-keyed aggregates",
    tags=("llm", "governance", "audit"),
)
def q193_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("toks"),
        F.md5(F.col("text")).alias("h"),
    )
    dupn = (
        d.groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(F.sum(F.col("c") - 1).alias("n_dup"))
    )
    return (
        d.join(dupn, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("total_tokens"),
            F.expr(
                "sum(case when lang = 'en' then 1 else 0 end) * 1000 "
                "div count(*)"
            )
            .cast("bigint")
            .alias("en_permille"),
            F.expr("max(n_dup) * 1000 div count(*)")
            .cast("bigint")
            .alias("exact_dup_permille"),
            F.expr("sum(n_chars) div count(*)")
            .cast("bigint")
            .alias("mean_chars"),
        )
    )


# --------------------------------------------------------------------------
# q194 — temperature-scaled mixture weights (the multilingual/multi-source
# rebalancing rule p_i ∝ n_i^α with α = 0.5): boosts small sources, damps
# the head. sqrt is IEEE-correctly-rounded (unlike pow), and each source's
# sqrt is quantized to integer micro-units BEFORE the total, so the
# allocation is exact-integer arithmetic end-to-end — order- and
# engine-invariant (the q184/q192 discipline; α beyond 0.5 would need
# exp/ln quantization the same way).
# --------------------------------------------------------------------------


@register(
    "q194_temperature_mixture",
    oracle="""
WITH s AS (
  SELECT source, count(*) AS n,
         CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS sqrt_micro
  FROM documents GROUP BY source
),
t AS (SELECT sum(sqrt_micro) AS tot_sqrt, sum(n) AS tot_n FROM s)
SELECT s.source, CAST(s.n AS BIGINT) AS n_docs,
       CAST(s.sqrt_micro * 1000 // t.tot_sqrt AS BIGINT) AS alloc_permille,
       CAST(s.n * 1000 // t.tot_n AS BIGINT) AS natural_permille,
       s.sqrt_micro * 1000 // t.tot_sqrt > s.n * 1000 // t.tot_n
         AS upsampled
FROM s CROSS JOIN t
""",
    doc="temperature-scaled source mixture (p ~ n^0.5): per-source "
    "allocation vs natural share in exact integer permille, small "
    "sources flagged upsampled — sqrt quantized to integer micro-units "
    "per source before totalling, so the weights are order-invariant",
    tags=("llm", "sampling", "audit"),
)
def q194_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.sqrt(F.count(F.lit(1))) * 1000000)
        .cast("bigint")
        .alias("sqrt_micro"),
    )
    t = s.agg(
        F.sum("sqrt_micro").alias("tot_sqrt"), F.sum("n").alias("tot_n")
    )
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.expr("sqrt_micro * 1000 div tot_sqrt")
        .cast("bigint")
        .alias("alloc_permille"),
        F.expr("n * 1000 div tot_n").cast("bigint").alias("natural_permille"),
        F.expr(
            "sqrt_micro * 1000 div tot_sqrt > n * 1000 div tot_n"
        ).alias("upsampled"),
    )


# --------------------------------------------------------------------------
# q195 — activity segmentation over decoded frames (VAD-shaped): maximal
# runs of above-threshold-energy frames per document, extracted with the
# gaps-and-islands pattern (frame_no - row_number is constant within a
# run) over the q97 frame-energy features. Container decode is REAL
# (operators/multimodal.py decode_audio parses RIFF/WAVE PCM); this
# query rides the byte-level path so its oracle stays SQL-expressible.
# The segmentation is integer-exact and keyed per document (windows
# never span documents).
# --------------------------------------------------------------------------

_Q195_THRESHOLD = 10_000


@register(
    "q195_activity_segments",
    oracle=f"""
WITH ascii_docs AS (
  SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS t
  FROM documents
),
chars AS (
  SELECT doc_id, unnest(range(1, length(t)+1)) AS i, t
  FROM ascii_docs
),
frames AS (
  SELECT doc_id, CAST((i-1) // 64 AS INT) AS frame_no,
         CAST(sum((ord(substr(t, i, 1)) - 96)
                  * (ord(substr(t, i, 1)) - 96)) AS BIGINT) AS energy
  FROM chars GROUP BY 1, 2
),
active AS (
  SELECT doc_id, frame_no, energy,
         frame_no - row_number() OVER (PARTITION BY doc_id
                                       ORDER BY frame_no) AS grp
  FROM frames WHERE energy > {_Q195_THRESHOLD}
)
SELECT doc_id,
       CAST(min(frame_no) AS INT) AS seg_start,
       CAST(max(frame_no) AS INT) AS seg_end,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(energy) AS BIGINT) AS seg_energy
FROM active GROUP BY doc_id, grp
""",
    doc="VAD-shaped activity segmentation: maximal runs of frames with "
    "energy > 10000 per document via gaps-and-islands (frame_no minus "
    "doc-keyed row_number), over the deterministic q97 frame energies — "
    "integer-exact segment spans/energies; the RIFF/WAVE container "
    "decode path (decode_audio) is real and separately twinned",
    tags=("llm", "multimodal"),
)
def q195_activity_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.multimodal import (
        attach_audio_payload,
        frame_energies,
    )

    docs = table(spark, sf_dir, "documents")
    frames = frame_energies(attach_audio_payload(docs), frame_size=64)
    active = frames.where(F.col("energy") > _Q195_THRESHOLD)
    w = Window.partitionBy("doc_id").orderBy("frame_no")
    grp = active.withColumn(
        "grp", F.col("frame_no") - F.row_number().over(w)
    )
    return grp.groupBy("doc_id", "grp").agg(
        F.min("frame_no").cast("int").alias("seg_start"),
        F.max("frame_no").cast("int").alias("seg_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("energy").cast("bigint").alias("seg_energy"),
    ).drop("grp")


# --------------------------------------------------------------------------
# q196 — schema evolution across file generations: an old generation
# written WITHOUT a column, a new generation WITH it, read back together
# under mergeSchema — the steady-state of any long-lived 100 TB table
# (columns get added; historical files are never rewritten). The audit
# proves union semantics: per generation, row counts and the new
# column's null backfill vs populated counts. Generations split the
# documents corpus by doc_id parity so the oracle recomputes the same
# report from the source table alone.
# --------------------------------------------------------------------------


@register(
    "q196_schema_evolution",
    oracle="""
SELECT CAST(doc_id % 2 AS INT) AS generation,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null_quality,
       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END)
            AS BIGINT) AS quality_sum
FROM documents
GROUP BY 1
""",
    doc="schema-evolution read: old-generation files lack the new "
    "'quality' column, new-generation files carry it; a mergeSchema scan "
    "unions the schemas with null backfill, audited per generation "
    "(rows, nulls, populated sum) — historical files never rewritten",
    tags=("llm", "sources", "governance"),
)
def q196_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = table(spark, sf_dir, "documents")
    out = temp_root("schema_evo_")
    old = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    new = (
        docs.where(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text", F.col("n_chars").alias("quality"))
    )
    old.write.mode("overwrite").parquet(f"{out}/gen=0")
    new.write.mode("overwrite").parquet(f"{out}/gen=1")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/gen=0", f"{out}/gen=1"
    )
    return merged.groupBy(
        (F.col("doc_id") % 2).cast("int").alias("generation")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("quality").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null_quality"),
        F.sum(F.coalesce(F.col("quality"), F.lit(0)))
        .cast("bigint")
        .alias("quality_sum"),
    )


# --------------------------------------------------------------------------
# q201 — group-aware k-fold cross-validation assignment: folds are dealt
# by hashing the SOURCE (not the document), so near-duplicates within a
# source can never straddle folds (the q134 leakage rule, extended from
# one split to k). The audit reports per-fold population and balance;
# the md5 hash makes assignment reproducible across engines and stable
# under corpus growth (a new doc never moves an existing source).
# --------------------------------------------------------------------------

_Q201_K = 5


@register(
    "q201_grouped_kfold",
    oracle=f"""
WITH a AS (
  SELECT source,
         CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT) % {_Q201_K}
           AS fold,
         count(*) AS n_docs,
         sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS toks
  FROM documents GROUP BY source
),
t AS (SELECT sum(n_docs) AS tot FROM a)
SELECT fold,
       CAST(count(*) AS BIGINT) AS n_sources,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS n_tokens,
       CAST(sum(n_docs) * 1000 // t.tot AS BIGINT) AS share_permille
FROM a CROSS JOIN t
GROUP BY fold, t.tot
""",
    doc=f"group-aware {_Q201_K}-fold CV assignment: folds dealt by "
    "md5(source) so within-source near-dups never straddle folds; "
    "per-fold sources/docs/tokens and share in exact integer permille "
    "— reproducible and growth-stable",
    tags=("llm", "sampling", "governance"),
)
def q201_grouped_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import md5_u60

    docs = table(spark, sf_dir, "documents")
    a = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " ")).cast("bigint")).alias(
            "toks"
        ),
    ).select(
        (md5_u60(F.col("source")) % _Q201_K).alias("fold"),
        "n_docs",
        "toks",
    )
    t = a.agg(F.sum("n_docs").alias("tot"))
    return (
        a.crossJoin(F.broadcast(t))
        .groupBy("fold", "tot")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
            F.expr("sum(n_docs) * 1000 div tot")
            .cast("bigint")
            .alias("share_permille"),
        )
        .drop("tot")
    )


# --------------------------------------------------------------------------
# q205 — dedup-detector evaluation: SimHash's predicted near-dup pairs
# (q23: hamming <= 3) scored against the blocked-Jaccard ground truth
# (q22: 3-gram Jaccard >= 0.3) — precision/recall in exact integer
# permille. The eval harness the dedup family needs before anyone tunes
# thresholds at 100 TB: both pair sets come from their production
# blocking paths (never all-pairs), the comparison is one equi-join on
# the (id_a, id_b) key, and the verdict is a single bounded summary row.
# --------------------------------------------------------------------------


@register(
    "q205_simhash_eval",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
toks AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                                      i -> array_to_string(w[i:i+2], ' '))) AS toks
  FROM w
),
tok AS (
  SELECT doc_id, unnest(toks) AS tok FROM toks
),
dfreq AS (
  SELECT tok, count(*) AS dfreq FROM tok GROUP BY tok
),
blocked AS (
  SELECT doc_id, tok AS block_tok FROM (
    SELECT t.doc_id, t.tok,
           row_number() OVER (PARTITION BY t.doc_id ORDER BY d.dfreq, t.tok) AS rn
    FROM tok t JOIN dfreq d USING (tok)) WHERE rn <= 3
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM blocked a JOIN blocked b
    ON a.block_tok = b.block_tok AND a.doc_id < b.doc_id
),
truth AS (
  SELECT id_a, id_b FROM (
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (len(a.toks) + len(b.toks)
                - len(list_intersect(a.toks, b.toks))) AS j
    FROM cands c JOIN toks a ON c.id_a = a.doc_id
                 JOIN toks b ON c.id_b = b.doc_id
  ) WHERE j >= 0.3
),
hvals AS (
  SELECT doc_id, {_simhash_hv} AS hv FROM w
),
fp AS (
  SELECT doc_id, CAST({_simhash_votes} AS BIGINT) AS simhash
  FROM hvals WHERE len(hv) > 0
),
{_SIMHASH_PARAMS_SQL},
{_SIMHASH_BANDED_SQL},
pred AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bb = b.bb AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
j AS (
  SELECT (SELECT count(*) FROM pred) AS n_pred,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM pred JOIN truth USING (id_a, id_b)) AS n_both
)
SELECT CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(n_both * 1000 // n_pred AS BIGINT) AS precision_permille,
       CAST(n_both * 1000 // n_truth AS BIGINT) AS recall_permille
FROM j
""",
    doc="dedup-detector eval: SimHash hamming<=3 pairs scored against the "
    "blocked 3-gram Jaccard>=0.3 ground truth — precision/recall in "
    "exact integer permille, both sides from their production blocking "
    "paths (no all-pairs anywhere), one pair-keyed equi-join",
    tags=("llm", "dedup", "audit"),
)
def q205_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    truth = token_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.3, n_blocks=3
    ).select("id_a", "id_b")
    pred = simhash_near_dup_pairs_auto(
        docs, "doc_id", "text", n_bits=_SIMHASH_BITS, n_bands=4,
        max_hamming=3,
    ).select("id_a", "id_b")
    both = pred.join(truth, ["id_a", "id_b"])
    counts = (
        pred.agg(F.count(F.lit(1)).alias("n_pred"))
        .crossJoin(
            F.broadcast(truth.agg(F.count(F.lit(1)).alias("n_truth")))
        )
        .crossJoin(
            F.broadcast(both.agg(F.count(F.lit(1)).alias("n_both")))
        )
    )
    return counts.select(
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.col("n_both").cast("bigint").alias("n_both"),
        F.expr("n_both * 1000 div n_pred")
        .cast("bigint")
        .alias("precision_permille"),
        F.expr("n_both * 1000 div n_truth")
        .cast("bigint")
        .alias("recall_permille"),
    )


# --------------------------------------------------------------------------
# q214 — OLS fit + Pearson correlation in exact integer algebra: both
# reduce to five exact sums (Σx, Σy, Σxy, Σx², Σy² — map-side
# combinable, order-invariant bigints), so the slope can be an exact
# integer division (micro-units) and the correlation a single
# deterministic float expression over exact DECIMAL(38,0) moments —
# never a float accumulation. The corr()/regr_slope() built-ins sum
# doubles in partition order and cannot hash-match across engines; this
# is the engine's sanctioned rewrite, here fitting token count against
# character count over the corpus (a near-linear relation).
# --------------------------------------------------------------------------


@register(
    "q214_ols_corr_exact",
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
         CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(y * y) AS DECIMAL(38,0)) AS syy
  FROM v
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(CAST((n * sxy - sx * sy) * 1000000 AS HUGEINT)
            // CAST(n * sxx - sx * sx AS HUGEINT) AS BIGINT)
         AS slope_micro,
       CAST(CAST((sy * (n * sxx - sx * sx)
                  - sx * (n * sxy - sx * sy)) * 1000 AS HUGEINT)
            // CAST(n * (n * sxx - sx * sx) AS HUGEINT) AS BIGINT)
         AS intercept_milli,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS pearson_r
FROM m
""",
    doc="OLS slope/intercept and Pearson r from five exact integer "
    "moments (order-invariant, map-side combinable): slope in exact "
    "integer micro-units, intercept in milli-units, r as one "
    "deterministic float expression over exact moments — the sanctioned "
    "rewrite of the float-accumulating corr()/regr_slope() built-ins; "
    "fits tokens ~ chars over the corpus",
    tags=("llm", "aggregate", "audit"),
)
def q214_ols_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        # cast BEFORE multiply: value-product sums accumulate in
        # decimal, not bigint (bigint overflows at corpus scale)
        F.sum(F.col("x").cast(dec38) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec38) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec38) * F.col("y")).alias("syy"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "cast((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) "
            "as bigint)"
        ).alias("slope_micro"),
        F.expr(
            "cast((sy * (n * sxx - sx * sx) - sx * (n * sxy - sx * sy)) "
            "* 1000 div (n * (n * sxx - sx * sx)) as bigint)"
        ).alias("intercept_milli"),
        (
            F.expr("cast(n * sxy - sx * sy as double)")
            / (
                F.sqrt(F.expr("cast(n * sxx - sx * sx as double)"))
                * F.sqrt(F.expr("cast(n * syy - sy * sy as double)"))
            )
        ).alias("pearson_r"),
    )


# --------------------------------------------------------------------------
# q216 — token-weighted median document length: the median character
# count where each document counts with its TOKEN weight (half the
# corpus's tokens live in docs at least this long — the length
# statistic that matters for packing/batching, where doc-count medians
# mislead). Exact weighted quantile by distributed rank selection
# (operators/quantiles.py:weighted_quantile_exact): integer ceil
# threshold, range cells + broadcast offset layer, no group buffer.
# --------------------------------------------------------------------------


@register(
    "q216_weighted_median_length",
    oracle="""
WITH t AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS v,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS w
  FROM documents
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS W FROM t),
cum AS (
  SELECT v, sum(w) OVER (ORDER BY v, doc_id
                         ROWS UNBOUNDED PRECEDING) AS cw
  FROM t
)
SELECT CAST(min(v) AS BIGINT) AS quantile_value,
       CAST(tot.W AS BIGINT) AS total_weight,
       CAST((tot.W + 1) // 2 AS BIGINT) AS threshold
FROM cum, tot
WHERE cw >= (tot.W + 1) // 2
GROUP BY tot.W
""",
    doc="token-weighted median document length (smallest length whose "
    "cumulative token weight reaches ceil(W/2)) — exact integer "
    "threshold, distributed rank selection with range cells and a "
    "broadcast offset layer, no value buffer",
    tags=("llm", "aggregate", "scale"),
)
def q216_weighted_median_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.quantiles import (
        weighted_quantile_exact,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("v"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("w"),
    )
    out = weighted_quantile_exact(docs, "v", "w", 1, 2, "doc_id")
    return out.select(
        F.col("quantile_value").cast("bigint").alias("quantile_value"),
        "total_weight",
        "threshold",
    )


# --------------------------------------------------------------------------
# q223 — exact ROC AUC of an embedding-derived score against the fixture
# labels, via the distributed Mann-Whitney U rank statistic
# (operators/ranking.py): per-score tie groups, a range-partitioned
# exclusive prefix sum of negatives (never a global single-task window),
# and pure integer algebra to parts-per-million. The "classifier" score
# is a deterministic ordered fold of the first 8 embedding dims — the
# point is the exact rank machinery, which any real model score plugs
# into unchanged.
# --------------------------------------------------------------------------

def _q223_score():
    """Spark twin of _Q223_SCORE_SQL — the deterministic ordered fold of
    the first 8 embedding dims used by every eval query (q223/q232-era
    normalization, q244 AP, q260 Brier, q261 gains). One definition so
    the Spark side can never de-synchronize from the SQL oracle."""
    return F.round(
        sum(
            (F.element_at("embedding", i).cast("double") for i in range(2, 9)),
            start=F.element_at("embedding", 1).cast("double"),
        )
        * F.lit(1000000.0)
    ).cast("bigint")


_Q223_SCORE_SQL = (
    "CAST(round(("
    + " + ".join(f"CAST(embedding[{i}] AS DOUBLE)" for i in range(1, 9))
    + ") * 1000000) AS BIGINT)"
)


@register(
    "q223_roc_auc_exact",
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
  SELECT np, n - np AS nn,
         coalesce(sum(n - np) OVER (ORDER BY score
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS neg_below
  FROM g
)
SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       CAST(sum(nn) AS BIGINT) AS n_neg,
       CAST(2 * sum(np * neg_below) + sum(np * nn) AS BIGINT) AS u2,
       CAST((2 * sum(np * neg_below) + sum(np * nn)) * 500000
            // (sum(np) * sum(nn)) AS BIGINT) AS auc_ppm
FROM c
""",
    doc="exact tie-corrected ROC AUC via the distributed Mann-Whitney U "
    "rank statistic — per-score tie groups, range-partitioned exclusive "
    "prefix sum (no single-task global window), integer ppm output",
    tags=("llm", "eval", "ranking"),
)
def q223_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.ranking import (
        roc_auc_exact,
    )

    emb = table(spark, sf_dir, "embeddings")
    score = _q223_score()
    scored = emb.select(
        score.alias("score"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("is_pos"),
    )
    return roc_auc_exact(scored, "score", "is_pos")


# --------------------------------------------------------------------------
# q224 — confusion-matrix threshold sweep for the same embedding-derived
# score: TP/FP/FN/TN plus precision/recall in integer permille at five
# fixed thresholds, computed in ONE conditional-aggregate corpus pass
# (4 x 5 unrolled CASE sums — never a thresholds x corpus explode) and
# unpivoted with stack(). Degenerate cells (no predicted / no actual
# positives) surface NULL ratios instead of tripping ANSI div-by-zero.
