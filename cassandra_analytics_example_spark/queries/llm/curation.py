"""LLM-pipeline queries, `curation` block — mechanically split from the
former queries/llm.py in round 10 (zero behavior change; see llm/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.dedup import exact_dedup
from cassandra_analytics_example_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from cassandra_analytics_example_spark.operators.text import quality_features
from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.queries._tables import table


# ----------------------------------------------------- balancing / caps ---


@register(
    "q64_language_upsample",
    oracle="""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
m AS (SELECT max(n) AS mx FROM c),
r AS (SELECT lang, least(30000, mx * 10000 // n) AS tk FROM c, m),
d AS (SELECT doc_id, d.lang,
             tk // 10000 +
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                       AS BIGINT) % 10000 < tk % 10000
                  THEN 1 ELSE 0 END AS nc
      FROM documents d JOIN r USING (lang))
SELECT doc_id, lang, CAST(unnest(range(1, nc + 1)) AS BIGINT) AS copy_idx
FROM d
""",
    doc="temperature-style language rebalancing: every language upsampled "
    "toward the largest one by deterministic row replication, capped at "
    "3x — exact integer rates, hash-selected fractional copies, "
    "explode(sequence) fan-out with zero corpus shuffle",
    tags=("llm", "sampling"),
)
def q64_language_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.sampling import (
        weighted_upsample,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    up = weighted_upsample(docs, "lang", "doc_id", cap=3.0)
    return up.select(
        "doc_id", "lang", F.col("copy_idx").cast("bigint").alias("copy_idx")
    )


@register(
    "q65_domain_caps",
    oracle="""
WITH u AS (
  SELECT doc_id,
         'http://site' || CAST(doc_id % 7 AS VARCHAR) ||
         '.example.com/page/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id % 2 = 0),
d AS (SELECT doc_id, regexp_extract(url, 'https?://([^/]+)', 1) AS domain
      FROM u),
rk AS (SELECT doc_id, domain,
              row_number() OVER (
                PARTITION BY domain
                ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                              AS BIGINT), doc_id) AS rnk
       FROM d)
SELECT doc_id, domain, CAST(rnk AS BIGINT) AS rnk
FROM rk WHERE rnk <= 20
""",
    doc="per-domain document caps (web-pipeline boilerplate defense): "
    "extract the registrable host, keep a deterministic hash-ordered "
    "sample of at most 20 docs per domain — one shuffle on the domain "
    "key, md5 order makes the kept set reproducible",
    tags=("llm", "sampling"),
)
def q65_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import md5_u60
    from cassandra_analytics_example_spark.operators.relational import (
        top_k_per_group,
    )

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    with_url = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    domains = with_url.select(
        "doc_id",
        F.regexp_extract("url", r"https?://([^/]+)", 1).alias("domain"),
    )
    capped = top_k_per_group(
        domains,
        ["domain"],
        [md5_u60(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()],
        20,
    )
    return capped.select(
        "doc_id", "domain", F.col("rnk").cast("bigint").alias("rnk")
    )


# ------------------------------------------------------- snapshot diff ---


@register(
    "q66_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT doc_id, md5(concat_ws(chr(31), text, lang)) AS h
  FROM documents WHERE doc_id % 7 != 0),
new AS (
  SELECT doc_id,
         md5(concat_ws(chr(31),
             CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]' ELSE text END,
             lang)) AS h
  FROM documents WHERE doc_id % 11 != 0)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            WHEN o.h != n.h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
WHERE NOT (o.h IS NOT NULL AND n.h IS NOT NULL AND o.h = n.h)
""",
    doc="snapshot diff for incremental corpus refreshes: full-outer join "
    "of two snapshot hash inventories (32 bytes/doc, never the payload) "
    "classifying added/removed/changed — old drops doc_id%7, new drops "
    "doc_id%11 and revises doc_id%5",
    tags=("llm", "versioning"),
)
def q66_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.versioning import (
        snapshot_diff,
    )

    docs = table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "text", "lang")
    new = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
    )
    return snapshot_diff(old, new, "doc_id", ["text", "lang"])


# --------------------------------------------------- unigram LM scoring ---


@register(
    "q67_unigram_logprob",
    oracle="""
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
pd AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
v AS (SELECT term, sum(tf) AS cnt FROM pd GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM v),
sv AS (SELECT term,
              CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))
                         * 10000) AS BIGINT) AS logp_q
       FROM v, tot)
SELECT pd.doc_id,
       CAST(sum(pd.tf * sv.logp_q) AS BIGINT) AS score_qnats,
       CAST(sum(pd.tf) AS BIGINT) AS n_tokens
FROM pd JOIN sv USING (term)
GROUP BY pd.doc_id
""",
    doc="unigram LM quality score: per-token ln(count/total) quantized to "
    "integer deci-millinats so per-doc sums are order-independent and "
    "engine-exact — vocabulary broadcast, corpus shuffled only on "
    "(doc, term) then doc id",
    tags=("llm", "quality"),
)
def q67_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.text import (
        unigram_logprob_scores,
    )

    docs = table(spark, sf_dir, "documents")
    return unigram_logprob_scores(docs, "doc_id")


# -------------------------------------------------- vector quantization ---


@register(
    "q71_int8_quantization",
    oracle="""
WITH b AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS mx
  FROM embeddings)
SELECT vec_id,
       CASE WHEN mx = 0 THEN array_to_string(list_transform(x, v -> 0), ',')
            ELSE array_to_string(list_transform(x,
                   v -> CAST(floor(v * 127 / mx + 0.5) AS BIGINT)), ',')
       END AS q_csv,
       CASE WHEN mx = 0 THEN 0.0 ELSE mx / 127 END AS scale,
       CASE WHEN mx = 0 THEN 0.0
            ELSE list_max(list_transform(
                   list_zip(x, list_transform(x,
                     v -> CAST(floor(v * 127 / mx + 0.5) AS BIGINT))),
                   p -> abs(CAST(p[2] AS DOUBLE) * (mx / 127) - p[1])))
       END AS max_abs_err
FROM b
""",
    doc="symmetric per-vector int8 quantization (4x ANN memory reduction): "
    "round-half-up via floor arithmetic so tie-breaking is engine-exact; "
    "per-vector scale + order-independent max reconstruction error",
    tags=("llm", "similarity", "scale"),
)
def q71_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.similarity import (
        quantize_int8,
    )

    return quantize_int8(table(spark, sf_dir, "embeddings"), "vec_id")


# --------------------------------------------- duplicated-span coverage ---


@register(
    "q73_duplicate_ngram_coverage",
    oracle="""
WITH g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 3),
         i -> array_to_string(w[i:i+4], ' ')))) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
f AS (SELECT doc_id, gram,
             count(*) OVER (PARTITION BY gram) AS dfreq
      FROM g)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       CAST(sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / count(*) AS dup_coverage
FROM f GROUP BY doc_id
""",
    doc="duplicated-span coverage: fraction of each doc's distinct word "
    "5-grams occurring in another document (Lee-et-al-style substring-"
    "dedup signal) — dfreq as a window over the single gram lineage, "
    "ratio as one exact-integer division",
    tags=("llm", "dedup"),
)
def q73_duplicate_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.dedup import (
        duplicate_ngram_coverage,
    )

    docs = table(spark, sf_dir, "documents")
    return duplicate_ngram_coverage(docs, "doc_id", "text", 5)


# ------------------------------------------------ deletion propagation ---


@register(
    "q76_forget_propagation",
    oracle="""
WITH forget AS (SELECT doc_id FROM documents WHERE doc_id % 13 = 0),
chunks AS (
  SELECT doc_id, (start - 1) // 56 AS chunk_index
  FROM (SELECT doc_id, unnest(range(1, greatest(len(string_split(text,' ')) - 7, 1), 56)) AS start
        FROM documents)),
kept_docs AS (
  SELECT d.doc_id FROM documents d
  WHERE NOT EXISTS (SELECT 1 FROM forget f WHERE f.doc_id = d.doc_id)),
kept_chunks AS (
  SELECT c.doc_id FROM chunks c
  WHERE NOT EXISTS (SELECT 1 FROM forget f WHERE f.doc_id = c.doc_id)),
kept_vecs AS (
  SELECT e.vec_id FROM embeddings e
  WHERE NOT EXISTS (SELECT 1 FROM forget f WHERE f.doc_id = e.vec_id))
SELECT 'documents' AS table_name,
       CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_before,
       CAST((SELECT count(*) FROM kept_docs) AS BIGINT) AS n_after
UNION ALL
SELECT 'chunks',
       CAST((SELECT count(*) FROM chunks) AS BIGINT),
       CAST((SELECT count(*) FROM kept_chunks) AS BIGINT)
UNION ALL
SELECT 'embeddings',
       CAST((SELECT count(*) FROM embeddings) AS BIGINT),
       CAST((SELECT count(*) FROM kept_vecs) AS BIGINT)
""",
    doc="right-to-be-forgotten propagation: a forget list (doc_id % 13) "
    "anti-joined through every derived table — raw documents, their "
    "64-token chunks, and doc-keyed embeddings — emitting per-table "
    "before/after counts; the forget list broadcasts, each table is "
    "scanned once, nothing shuffles",
    tags=("llm", "governance"),
)
def q76_forget_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.chunking import (
        chunk_documents,
    )

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    chunks = chunk_documents(docs, "doc_id", "text", 64, 8).select("doc_id")
    forget = docs.filter(F.col("doc_id") % 13 == 0).select("doc_id")

    def purge(df: DataFrame, key: str, name: str) -> DataFrame:
        before = df.agg(F.count(F.lit(1)).alias("n_before"))
        after = df.join(
            F.broadcast(forget),
            df[key] == forget["doc_id"],
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_after"))
        return (
            before.crossJoin(after)
            .select(
                F.lit(name).alias("table_name"),
                F.col("n_before").cast("bigint"),
                F.col("n_after").cast("bigint"),
            )
        )

    return (
        purge(docs.select("doc_id"), "doc_id", "documents")
        .unionByName(purge(chunks, "doc_id", "chunks"))
        .unionByName(
            purge(emb.select("vec_id"), "vec_id", "embeddings")
        )
    )


# ------------------------------------------- two-stage quantized ANN ---


@register(
    "q77_knn_quantized",
    oracle="""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS mx
  FROM embeddings),
z AS (
  SELECT vec_id, v,
         CASE WHEN mx = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v,
                     x -> CAST(floor(x * 127 / mx + 0.5) AS BIGINT)) END AS q,
         CASE WHEN mx = 0 THEN 0.0 ELSE mx / 127 END AS s
  FROM base),
qs AS (SELECT vec_id AS query_id, v AS qv, q AS qq, s AS qsc
       FROM z WHERE vec_id < 10),
cs AS (SELECT vec_id AS neighbor_id, v AS cv, q AS cq, s AS csc FROM z),
coarse AS (
  SELECT query_id, neighbor_id, qv, cv,
         CAST(list_sum(list_transform(list_zip(qq, cq),
                                      p -> p[1] * p[2])) AS DOUBLE)
           * qsc * csc AS approx
  FROM qs JOIN cs ON query_id <> neighbor_id),
cand AS (
  SELECT query_id, neighbor_id, qv, cv FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY approx DESC, neighbor_id ASC)
                AS crnk
    FROM coarse) WHERE crnk <= 20)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(qv, cv) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY list_cosine_similarity(qv, cv) DESC,
                                     neighbor_id ASC) AS rnk
  FROM cand) WHERE rnk <= 5
""",
    doc="two-stage quantized retrieval: int8 integer dot products (exact "
    "bigint arithmetic, 1/4 the scan bytes) pick 20 coarse candidates "
    "per query, exact float cosine rescores only those — the "
    "memory-bandwidth shape of production vector search",
    tags=("llm", "similarity", "scale"),
)
def q77_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.similarity import (
        knn_quantized,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return knn_quantized(emb, queries, k=5, coarse_k=20)


# ------------------------------------------------------- batch MERGE ---


@register(
    "q81_merge_upsert",
    oracle="""
WITH target AS (
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM documents),
updates AS (
  SELECT doc_id, lang, CAST(n_chars + 1000 AS BIGINT) AS n_chars,
         FALSE AS is_delete
  FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, lang, CAST(n_chars AS BIGINT), TRUE
  FROM documents WHERE doc_id % 4 = 1
  UNION ALL
  SELECT doc_id + 100000, lang, CAST(n_chars AS BIGINT), FALSE
  FROM documents WHERE doc_id % 10 = 0)
SELECT COALESCE(u.doc_id, t.doc_id) AS doc_id,
       CASE WHEN u.doc_id IS NOT NULL THEN u.lang ELSE t.lang END AS lang,
       CASE WHEN u.doc_id IS NOT NULL THEN u.n_chars
            ELSE t.n_chars END AS n_chars
FROM target t FULL OUTER JOIN updates u ON t.doc_id = u.doc_id
WHERE NOT COALESCE(u.is_delete, FALSE)
""",
    doc="batch MERGE onto a snapshot: updates overwrite matched keys, "
    "inserts add new keys, delete flags drop keys, untouched target "
    "rows survive — one full-outer equi-join on the uniform key, the "
    "write surface the reference's append-only bulk writer lacks",
    tags=("llm", "versioning"),
)
def q81_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.versioning import (
        merge_upsert,
    )

    docs = table(spark, sf_dir, "documents")
    target = docs.select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    updates = (
        docs.filter(F.col("doc_id") % 4 == 0)
        .select(
            "doc_id",
            "lang",
            (F.col("n_chars") + 1000).cast("bigint").alias("n_chars"),
            F.lit(False).alias("is_delete"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 4 == 1).select(
                "doc_id",
                "lang",
                F.col("n_chars").cast("bigint").alias("n_chars"),
                F.lit(True).alias("is_delete"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                "lang",
                F.col("n_chars").cast("bigint").alias("n_chars"),
                F.lit(False).alias("is_delete"),
            )
        )
    )
    return merge_upsert(target, updates, "doc_id", delete_col="is_delete")


# ------------------------------------- end-to-end training pipeline ---


@register(
    "q85_training_pipeline_e2e",
    oracle="""
WITH kept AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      len(string_split(text, ' ')) AS n_tokens,
      CAST(len(list_filter(string_split(text, ' '),
               t -> list_contains(['the','and','of','to','a'], t))) AS DOUBLE)
        / len(string_split(text, ' ')) AS stop_ratio,
      (CAST(length(text) AS DOUBLE)
        - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
        / length(text) AS punct_ratio
    FROM documents)
  WHERE NOT (n_tokens < 15) AND NOT (punct_ratio > 0.2)
    AND NOT (stop_ratio = 0)),
deduped AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept) WHERE rn = 1),
train AS (
  SELECT doc_id, text FROM deduped
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
             AS BIGINT) % 10000 < 9000),
w AS (SELECT doc_id, string_split(text, ' ') AS w FROM train),
off AS (
  SELECT doc_id, w, CAST(t.o AS BIGINT) AS start
  FROM w, UNNEST(range(1, greatest(len(w) - 8, 1) + 1, 56)) AS t(o))
SELECT doc_id, (start - 1) // 56 AS chunk_index,
       md5(array_to_string(w[start : start + 63], ' ')) AS chunk_hash,
       CAST(len(w[start : start + 63]) AS BIGINT) AS n_chunk_tokens
FROM off
""",
    doc="the end-to-end training-data pipeline as ONE composed lineage: "
    "quality gate (C4/Gopher rules) → exact dedup (min-id per md5) → "
    "90% train hash-split → 64/8 token chunking, emitting chunk hashes "
    "— each stage is the already-verified operator, composed; Catalyst "
    "fuses the gate+split projections into the scan side of the single "
    "dedup shuffle",
    tags=("llm", "pipeline"),
)
def q85_training_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.chunking import (
        chunk_documents,
    )
    from cassandra_analytics_example_spark.operators.dedup import exact_dedup
    from cassandra_analytics_example_spark.operators.sampling import hash_split
    from cassandra_analytics_example_spark.operators.text import (
        quality_features,
    )

    docs = table(spark, sf_dir, "documents")
    feats = quality_features(docs, "text")
    kept = (
        docs.join(
            feats.select("doc_id", "n_tokens", "stop_ratio", "punct_ratio"),
            "doc_id",
        )
        .filter(
            ~(F.col("n_tokens") < 15)
            & ~(F.col("punct_ratio") > 0.2)
            & ~(F.col("stop_ratio") == 0)
        )
        .select("doc_id", "text")
    )
    deduped = exact_dedup(kept, "doc_id", "text").select("doc_id", "text")
    train = (
        hash_split(deduped, "doc_id")
        .filter(F.col("split") == "train")
        .select("doc_id", "text")
    )
    chunks = chunk_documents(train, "doc_id", "text", 64, 8)
    return chunks.select(
        "doc_id",
        "chunk_index",
        F.md5("chunk_text").alias("chunk_hash"),
        "n_chunk_tokens",
    )


# ------------------------------------------------- edit-distance near-dup ---


@register(
    "q87_edit_distance_neardup",
    oracle="""
WITH d AS (
  SELECT doc_id, lang,
         substring(text, 1, 32) AS p32,
         substring(text, 1, 4)  AS blk
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS lang,
       levenshtein(a.p32, b.p32) AS lev
FROM d a JOIN d b
  ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.p32, b.p32) <= 8
""",
    doc="edit-distance near-dup (typo-grade mutations token-set methods "
    "miss): (lang, 4-char prefix) equi-join blocking, threshold "
    "levenshtein <= 8 over 32-char prefixes — exact integer distances, "
    "Spark's 3-arg levenshtein early-exits above the bound "
    "(operators/dedup.py:edit_distance_neardup)",
    tags=("llm", "dedup"),
)
def q87_edit_distance_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.dedup import (
        edit_distance_neardup,
    )

    docs = table(spark, sf_dir, "documents")
    return edit_distance_neardup(
        docs.select("doc_id", "lang", "text"),
        "doc_id",
        "text",
        block_cols=["lang"],
        prefix_len=32,
        block_prefix=4,
        max_dist=8,
    )


# --------------------------------------------------- vocabulary coverage ---


@register(
    "q89_vocab_coverage",
    oracle="""
WITH counts AS (
  SELECT term, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rnk
  FROM counts
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts)
SELECT CASE WHEN rnk <= 100 THEN 'top_100'
            WHEN rnk <= 1000 THEN 'top_101_1000'
            ELSE 'rest' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(cnt) AS BIGINT) AS sum_freq,
       CAST(sum(cnt) AS DOUBLE) / CAST(max(total) AS DOUBLE) AS coverage
FROM ranked, tot
GROUP BY 1
""",
    doc="tokenizer-vocabulary sizing: global term ranks (cnt desc, term "
    "asc total order), coverage of top-100 / top-1000 / rest as single "
    "divisions of exact integer sums — the rank window orders a "
    "VOCABULARY-sized layer, never the corpus "
    "(operators/text.py:vocab_coverage)",
    tags=("llm", "text"),
)
def q89_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.text import vocab_coverage

    docs = table(spark, sf_dir, "documents")
    return vocab_coverage(docs, "text")


# ------------------------------------------------------------------ BM25 ---

_BM25_TERMS = ("spark", "query", "window", "hash", "merge")


@register(
    "q95_bm25_retrieval",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf_all AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf_all GROUP BY 1),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS total_tokens
  FROM dl
),
tf_q AS (
  SELECT * FROM tf_all
  WHERE term IN ('spark', 'query', 'window', 'hash', 'merge')
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf_q GROUP BY 1
)
SELECT t.doc_id,
       CAST(sum(CAST(floor(
         ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
            / (CAST(df AS DOUBLE) + 0.5) + 1.0)
         * (CAST(tf AS DOUBLE) * 2.2)
         / (CAST(tf AS DOUBLE)
            + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
                     / (CAST(total_tokens AS DOUBLE)
                        / CAST(n_docs AS DOUBLE))))
         * 10000) AS BIGINT)) AS BIGINT) AS score_q,
       CAST(count(*) AS BIGINT) AS n_hit_terms
FROM tf_q t JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
GROUP BY t.doc_id
""",
    doc="BM25 sparse retrieval (k1=1.2, b=0.75) against a fixed 5-term "
    "query: per-(doc,term) contributions quantized to integer 1e-4 nats "
    "before the per-doc sum (q67 discipline, order-independent and "
    "engine-exact) — df/score table broadcast, corpus shuffles once on "
    "doc id (operators/text.py:bm25_scores)",
    tags=("llm", "text", "retrieval"),
)
def q95_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.text import bm25_scores

    docs = table(spark, sf_dir, "documents")
    return bm25_scores(docs, "doc_id", "text", list(_BM25_TERMS))


# ------------------------------------------------------ ANN recall audit ---


@register(
    "q96_ann_recall_audit",
    oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                       c.vec_id ASC) AS rnk
    FROM v q JOIN v c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10
  ) WHERE rnk <= 5
),
b AS (
  SELECT vec_id, v,
         (CASE WHEN v[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN v[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN v[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN v[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM v
),
lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                       c.vec_id ASC) AS rnk
    FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    WHERE q.vec_id < 10
  ) WHERE rnk <= 5
),
probes AS (
  SELECT vec_id, v, unnest([bucket,
                            xor(bucket, 1), xor(bucket, 2),
                            xor(bucket, 4), xor(bucket, 8)]) AS bucket
  FROM b WHERE vec_id < 10
),
mp AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                       c.vec_id ASC) AS rnk
    FROM probes q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  ) WHERE rnk <= 5
),
cents AS (
  SELECT vec_id AS cent_id, v AS centv FROM v WHERE vec_id < 8
),
cells AS (
  SELECT vec_id, v, cent_id AS cell FROM (
    SELECT x.vec_id, x.v, c.cent_id,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY list_cosine_similarity(x.v, c.centv) DESC,
                                       c.cent_id ASC) AS rn
    FROM v x, cents c) WHERE rn = 1
),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                       c.vec_id ASC) AS rnk
    FROM cells q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
    WHERE q.vec_id < 10
  ) WHERE rnk <= 5
),
qs AS (SELECT DISTINCT query_id FROM bf),
methods AS (
  SELECT 'lsh' AS method, * FROM lsh
  UNION ALL SELECT 'multiprobe', * FROM mp
  UNION ALL SELECT 'ivf', * FROM ivf
),
h AS (
  SELECT m.method, bf.query_id, CAST(count(*) AS BIGINT) AS n
  FROM bf JOIN methods m USING (query_id, neighbor_id)
  GROUP BY m.method, bf.query_id
)
SELECT qs.query_id, mm.method,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
       CAST(5 AS BIGINT) AS k,
       CAST(coalesce(h.n, 0) AS DOUBLE) / 5.0 AS recall
FROM qs CROSS JOIN (SELECT 'lsh' AS method UNION ALL SELECT 'multiprobe'
                    UNION ALL SELECT 'ivf') mm
LEFT JOIN h ON h.query_id = qs.query_id AND h.method = mm.method
""",
    doc="recall@5 audit of ALL THREE approximate ANN paths (single-probe "
    "sign-LSH, hamming-1 multi-probe, IVF 1-probe) against the exact "
    "brute-force baseline — the measured quality gate for the "
    "approximate family; multi-probe recall strictly dominates "
    "single-probe at (n_bits+1)x scoring cost "
    "(operators/similarity.py:ann_recall)",
    tags=("llm", "similarity", "quality"),
)
def q96_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        ivf_topk,
        lsh_topk,
        multiprobe_lsh_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    lsh = lsh_topk(emb, queries, k=5, n_bits=4).select(
        "query_id", "neighbor_id"
    )
    mp = multiprobe_lsh_topk(emb, queries, k=5, n_bits=4).select(
        "query_id", "neighbor_id"
    )
    ivf = ivf_topk(emb, queries, k=5, n_cells=8).select(
        "query_id", "neighbor_id"
    )
    return (
        ann_recall(exact, lsh, k=5, method="lsh")
        .unionByName(ann_recall(exact, mp, k=5, method="multiprobe"))
        .unionByName(ann_recall(exact, ivf, k=5, method="ivf"))
    )


# ------------------------------------------------------ audio multimodal ---


@register(
    "q97_audio_frame_energy",
    oracle="""
WITH ascii_docs AS (
  SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS t
  FROM documents
),
chars AS (
  SELECT doc_id, unnest(range(1, length(t)+1)) AS i, t
  FROM ascii_docs
)
SELECT doc_id,
       CAST((i-1) // 64 AS INT) AS frame_no,
       CAST(count(*) AS INT) AS n_samples,
       CAST(sum((ord(substr(t, i, 1)) - 96)
                * (ord(substr(t, i, 1)) - 96)) AS BIGINT) AS energy,
       CAST(max(abs(ord(substr(t, i, 1)) - 96)) AS INT) AS peak
FROM chars
GROUP BY 1, 2
""",
    doc="audio-shaped multimodal plumbing: deterministic 8-bit-PCM "
    "interpretation of the payload bytes, framed into 64-sample windows "
    "inside Arrow-batched mapInPandas (numpy per batch, never per-row "
    "UDF) — integer energy/peak features, engine-exact; the REAL "
    "RIFF/WAVE container path is frame_energies_wav via decode_audio "
    "(operators/multimodal.py), twinned in test_multimodal_decode",
    tags=("llm", "multimodal"),
)
def q97_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.multimodal import (
        attach_audio_payload,
        frame_energies,
    )

    docs = table(spark, sf_dir, "documents")
    return frame_energies(attach_audio_payload(docs), frame_size=64)


# --------------------------------------------------- curriculum binning ---


@register(
    "q98_curriculum_binning",
    oracle="""
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         ntile(4) OVER (PARTITION BY lang
                        ORDER BY n_chars DESC, doc_id ASC) AS shard
  FROM documents
)
SELECT lang, CAST(shard AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM scored
GROUP BY 1, 2
""",
    doc="curriculum binning: per-language quartile shards over a quality "
    "proxy (n_chars desc, doc_id tiebreak = total order) via ntile — "
    "training-order construction as one keyed window + aggregate; the "
    "window sorts per language partition, never globally",
    tags=("llm", "sampling"),
)
def q98_curriculum_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "lang", "n_chars")
        .withColumn("shard", F.ntile(4).over(w).cast("int"))
        .groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


# ------------------------------------------- prefix-filter overlap join ---


@register(
    "q104_overlap_prefix_join",
    oracle="""
WITH arr AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts
  FROM documents
),
tok AS (SELECT doc_id, unnest(ts) AS t FROM arr),
freq AS (SELECT t, count(*) AS df FROM tok GROUP BY t),
ranked AS (
  SELECT doc_id, t,
         row_number() OVER (PARTITION BY doc_id ORDER BY df ASC, t ASC)
           AS rn,
         count(*) OVER (PARTITION BY doc_id) AS sz
  FROM tok JOIN freq USING (t)
),
pref AS (SELECT doc_id, t FROM ranked WHERE rn <= sz - 30 + 1),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.t = b.t AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(x.ts, y.ts)) AS BIGINT) AS overlap
FROM cand c
JOIN arr x ON x.doc_id = c.id_a
JOIN arr y ON y.doc_id = c.id_b
WHERE len(list_intersect(x.ts, y.ts)) >= 30
""",
    doc="set-overlap join with PPJoin-style prefix filtering: pairs "
    "sharing >= 30 distinct tokens, candidates restricted to documents "
    "agreeing on a RAREST-(sz-T+1)-prefix token (pigeonhole-complete, "
    "shortest postings) — the absolute-overlap complement of the "
    "Jaccard family (operators/dedup.py:overlap_join)",
    tags=("llm", "dedup"),
)
def q104_overlap_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.dedup import overlap_join

    docs = table(spark, sf_dir, "documents")
    return overlap_join(docs, "doc_id", "text", min_overlap=30)


# ------------------------------------------------- weighted sampling ---


@register(
    "q105_weighted_sample",
    oracle="""
WITH tot AS (
  SELECT CAST(sum(CAST(n_chars AS BIGINT)) AS DECIMAL(38,0)) AS tw
  FROM documents
)
SELECT doc_id, lang, n_chars
FROM documents, tot
WHERE CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
            AS BIGINT) % 1073741824 AS DECIMAL(38,0)) * tw
    < CAST(n_chars AS DECIMAL(38,0)) * CAST(100 AS DECIMAL(38,0))
      * CAST(1073741824 AS DECIMAL(38,0))
""",
    doc="deterministic weighted sampling (expected 100 docs, probability "
    "proportional to n_chars): integer cross-multiplied keep-decision in "
    "DECIMAL(38,0) — no division, no floats, bit-identical across "
    "engines, zero corpus shuffle "
    "(operators/sampling.py:weighted_sample)",
    tags=("llm", "sampling"),
)
def q105_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.sampling import (
        weighted_sample,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return weighted_sample(docs, "doc_id", "n_chars", target=100)


# ------------------------------------------------ dedup drop accounting ---


@register(
    "q108_dedup_drop_audit",
    oracle="""
SELECT 'lsh_reps_audited' AS check_name, true AS ok,
       CAST(count(DISTINCT text) AS BIGINT) AS n FROM documents
UNION ALL SELECT 'embedding_vectors_audited', true,
       CAST(count(*) AS BIGINT) FROM embeddings
UNION ALL SELECT 'caps_respected', true, 0
UNION ALL SELECT 'candidates_bounded_by_kept_pairs', true, 0
""",
    doc="capped candidate-generation accounting made driver-visible: the "
    "lsh_bucket_stats / embedding_bucket_stats twins reduced to "
    "conservation invariants (bucket membership bounds, dropped-flag "
    "consistency, emitted-pairs <= kept-pair budget) the oracle asserts "
    "uniformly true — dropped recall stays auditable, never silent "
    "(operators/dedup.py:dedup_drop_audit)",
    tags=("llm", "dedup", "quality"),
)
def q108_dedup_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.dedup import (
        dedup_drop_audit,
    )

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    return dedup_drop_audit(docs, emb, max_bucket_size=50)


# ------------------------------------------------- count-min sketch -------


@register(
    "q109_countmin_heavy_hitters",
    oracle="""
WITH t AS (
  SELECT tok FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
true_counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_n FROM t GROUP BY tok),
top AS (SELECT tok, true_n FROM true_counts ORDER BY true_n DESC, tok ASC LIMIT 20),
ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
cells AS (
  SELECT d,
         CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || tok), 1, 15)) AS BIGINT)
           % 256 AS cell,
         count(*) AS c
  FROM t CROSS JOIN ds
  GROUP BY 1, 2
),
est AS (
  SELECT top.tok, top.true_n, CAST(min(cells.c) AS BIGINT) AS est_n
  FROM top CROSS JOIN ds
  JOIN cells ON cells.d = ds.d
   AND cells.cell =
       CAST(('0x' || substr(md5(CAST(ds.d AS VARCHAR) || top.tok), 1, 15))
            AS BIGINT) % 256
  GROUP BY 1, 2
)
SELECT tok, true_n, est_n, est_n >= true_n AS no_underestimate FROM est
""",
    doc="count-min sketch heavy hitters: a DETERMINISTIC mergeable "
    "frequency sketch (md5-derived hash rows, 4x256 cells — the "
    "complement of q37's approximate HLL) built in one partial-aggregated "
    "shuffle; top-20 true-frequency tokens point-estimated from the cell "
    "table, never underestimated by construction. Cell table is "
    "depth*width rows whatever the corpus size; shards merge by cell "
    "addition (operators/sketches.py)",
    tags=("llm", "text", "sketch"),
)
def q109_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.sketches import (
        countmin_cells,
        countmin_estimate,
    )

    docs = table(spark, sf_dir, "documents")
    # two scans of the token stream (true counts + sketch cells) — at scale
    # the sketch pass is the cheap one (depth*width partials); caching the
    # exploded occurrence stream would cost more than the rescan.
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    true_counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    top = true_counts.orderBy(F.desc("true_n"), F.asc("tok")).limit(20)
    cells = countmin_cells(toks, "tok", depth=4, width=256)
    est = countmin_estimate(cells, top.select("tok"), "tok", depth=4, width=256)
    return top.join(est, "tok").select(
        "tok",
        "true_n",
        "est_n",
        (F.col("est_n") >= F.col("true_n")).alias("no_underestimate"),
    )


# --------------------------------------------------- mixture planning -----


@register(
    "q110_mixture_plan",
    oracle="""
WITH avail AS (
  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS available
  FROM documents GROUP BY lang
),
w AS (
  SELECT lang, available,
         CAST(floor(sqrt(available)) AS BIGINT) AS weight
  FROM avail
),
tot AS (
  SELECT CAST(sum(available) AS HUGEINT) AS ta,
         CAST(sum(weight) AS HUGEINT) AS tw
  FROM w
),
planned AS (
  SELECT w.lang, w.available, w.weight,
         CASE WHEN tw = 0 THEN CAST(0 AS HUGEINT)
              ELSE least(CAST(w.available AS HUGEINT),
                         CAST(w.weight AS HUGEINT) * ((ta * 1) // 2) // tw)
         END AS q
  FROM w, tot
)
SELECT lang, available, weight,
       CAST(q AS BIGINT) AS quota,
       CASE WHEN available = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(q * 1000000 // available AS BIGINT) END AS rate_ppm
FROM planned
""",
    doc="temperature-style data-mixture planning (T=2: budget shares "
    "proportional to sqrt of per-language volume, upweighting low-resource "
    "languages) with an all-integer quota/rate pipeline — integral DIV on "
    "DECIMAL cross-products, no fractional division, bit-identical across "
    "engines; the plan is a broadcast-sized table the sampling pass "
    "consumes (operators/sampling.py:mixture_plan)",
    tags=("llm", "sampling"),
)
def q110_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.sampling import (
        mixture_plan,
    )

    docs = table(spark, sf_dir, "documents")
    return mixture_plan(docs, "lang", "n_chars", budget_num=1, budget_den=2)


# ----------------------------------------------------- shard packing ------


@register(
    "q111_shard_packing",
    oracle="""
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST((row_number() OVER (
               ORDER BY n_chars DESC,
                        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                             1, 15)) AS BIGINT) % 16 ASC,
                        doc_id ASC) - 1) % 8
            AS INT) AS shard
FROM documents
""",
    doc="size-balanced export sharding: round-robin over the size-"
    "descending rank (deterministic first-fit-decreasing variant) so "
    "training-shard totals differ by at most one doc per round — the "
    "layout step before writing epoch shards; rank computed WITHOUT a "
    "single-partition window (value-banded local ranks + broadcast "
    "cumulative offsets), assignment oracle-checked per document "
    "(operators/chunking.py:shard_packing)",
    tags=("llm", "layout"),
)
def q111_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.chunking import (
        shard_packing,
    )

    docs = table(spark, sf_dir, "documents")
    return shard_packing(docs, "doc_id", "n_chars", n_shards=8)


# ----------------------------------------------- tokenizer / contrastive ---


@register(
    "q115_bpe_pair_merges",
    oracle="""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]'))
           AS word
  FROM documents
),
vocab AS (
  SELECT word, count(*) AS wfreq FROM words
  WHERE length(word) >= 2 GROUP BY word
),
pairs AS (
  SELECT substr(word, i, 1) AS left_sym, substr(word, i + 1, 1) AS right_sym,
         wfreq
  FROM vocab, UNNEST(range(1, length(word))) AS t(i)
),
agg AS (
  SELECT left_sym, right_sym, CAST(sum(wfreq) AS BIGINT) AS pair_count
  FROM pairs GROUP BY 1, 2
)
SELECT left_sym, right_sym, pair_count,
       CAST(row_number() OVER (ORDER BY pair_count DESC, left_sym, right_sym)
            AS INT) AS rnk
FROM agg
ORDER BY pair_count DESC, left_sym, right_sym
LIMIT 20
""",
    doc="BPE merge-candidate statistics (first merge iteration): adjacent "
    "character-pair counts over the distinct word vocabulary weighted by "
    "word frequency — pair counting shuffles |vocab| rows, not corpus "
    "tokens (operators/text.py:bpe_pair_counts)",
    tags=("llm", "text", "tokenizer"),
)
def q115_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.text import (
        bpe_pair_counts,
    )

    docs = table(spark, sf_dir, "documents")
    return bpe_pair_counts(docs, "text", top_n=20)


@register(
    "q116_semdedup",
    oracle="""
WITH nk AS (
  SELECT greatest(8, (count(*) + 63) // 64) AS k FROM embeddings
),
mm AS (
  SELECT k, greatest(0, CAST(floor(log2(k)) AS BIGINT) - 3) AS m FROM nk
),
cents AS (
  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS centv,
         coalesce(list_sum(list_transform(range(1, m + 1),
                    i -> CASE WHEN embedding[CAST(i AS INT)] >= 0
                              THEN (1 << (i - 1)) ELSE 0 END)), 0) AS cbucket
  FROM embeddings, mm WHERE vec_id < k
),
v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         coalesce(list_sum(list_transform(range(1, m + 1),
                    i -> CASE WHEN embedding[CAST(i AS INT)] >= 0
                              THEN (1 << (i - 1)) ELSE 0 END)), 0) AS bucket
  FROM embeddings, mm
),
cand AS (
  SELECT v.vec_id, v.v, c.cent_id,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY list_cosine_similarity(v.v, c.centv) DESC,
                                     c.cent_id ASC) AS rn
  FROM v JOIN cents c ON v.bucket = c.cbucket
),
fb AS (
  SELECT v.vec_id, v.v, c.cent_id,
         row_number() OVER (PARTITION BY v.vec_id
                            ORDER BY list_cosine_similarity(v.v, c.centv) DESC,
                                     c.cent_id ASC) AS rn
  FROM v, cents c
  WHERE v.vec_id NOT IN (SELECT vec_id FROM cand)
),
cells AS (
  SELECT vec_id, v, cent_id AS cell FROM cand WHERE rn = 1
  UNION ALL
  SELECT vec_id, v, cent_id FROM fb WHERE rn = 1
),
drops AS (
  SELECT DISTINCT a.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.35
)
SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS kept
FROM cells c LEFT JOIN drops d ON c.vec_id = d.vec_id
""",
    doc="semantic dedup (SemDeDup): corpus-sized cell count "
    "(k = ceil(N/64)) with sign-bucket-filtered centroid assignment "
    "(constant per-row cost, empty-bucket fallback), then within-cell "
    "cosine prune as an equi-self-join on the cell id — both halves "
    "linear in N (operators/similarity.py:semdedup_prune)",
    tags=("llm", "dedup", "similarity"),
)
def q116_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.similarity import (
        semdedup_prune,
    )

    emb = table(spark, sf_dir, "embeddings")
    return semdedup_prune(emb, target_cell_size=64, min_cells=8,
                          threshold=0.35)


@register(
    "q117_ring_negatives",
    oracle="""
WITH ring AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('neg:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h
  FROM documents
),
b AS (SELECT doc_id, h, h % 16 AS bucket FROM ring),
ranked AS (
  SELECT doc_id, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS r
  FROM b
),
counts AS (SELECT bucket, count(*) AS n FROM ranked GROUP BY bucket),
cand AS (
  SELECT a.doc_id AS anchor_id, a.bucket, t.i AS neg_rank,
         ((a.r - 1 + t.i) % c.n) + 1 AS tr
  FROM ranked a JOIN counts c USING (bucket), UNNEST(range(1, 4)) AS t(i)
)
SELECT cand.anchor_id, CAST(cand.neg_rank AS INT) AS neg_rank,
       r2.doc_id AS neg_id
FROM cand JOIN ranked r2 ON cand.bucket = r2.bucket AND cand.tr = r2.r
WHERE r2.doc_id <> cand.anchor_id
""",
    doc="deterministic contrastive negative sampling: md5 hash ring split "
    "into 16 arcs, each anchor takes its 3 arc-local ring successors "
    "(wrapping) as negatives — reproducible across runs/engines, "
    "bucket-local windows only (operators/sampling.py:hash_ring_negatives)",
    tags=("llm", "sampling"),
)
def q117_ring_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.sampling import (
        hash_ring_negatives,
    )

    docs = table(spark, sf_dir, "documents")
    return hash_ring_negatives(docs, "doc_id", k=3, n_buckets=16)


@register(
    "q118_containment_neardup",
    oracle="""
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
)
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / least(len(a.toks), len(b.toks)) AS containment
FROM cands c JOIN toks a ON c.id_a = a.doc_id JOIN toks b ON c.id_b = b.doc_id
WHERE least(len(a.toks), len(b.toks)) > 0
  AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / least(len(a.toks), len(b.toks)) >= 0.6
""",
    doc="asymmetric containment near-dup (overlap coefficient >= 0.6 over "
    "word 3-grams): catches short-doc-inside-long-doc duplication that "
    "Jaccard misses; same rarest-gram blocking as q22 "
    "(operators/dedup.py:token_containment_pairs)",
    tags=("llm", "dedup"),
)
def q118_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.dedup import (
        token_containment_pairs,
    )

    docs = table(spark, sf_dir, "documents")
    return token_containment_pairs(docs, "doc_id", "text", threshold=0.6,
                                   n_blocks=3)


