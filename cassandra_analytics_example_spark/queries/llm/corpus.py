"""LLM-pipeline queries, `corpus` block — mechanically split from the
former queries/llm.py in round 10 (zero behavior change; see llm/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.dedup import (
    simhash_near_dup_pairs_auto,
    connected_components,
    embedding_near_dup_pairs,
    exact_dedup,
    minhash_lsh_dedup,
    token_jaccard_pairs,
)
from cassandra_analytics_example_spark.operators.multimodal import (
    attach_payload,
    extract_features,
    frame_sample,
)
from cassandra_analytics_example_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from cassandra_analytics_example_spark.operators.text import (
    detect_language,
    fingerprint,
    quality_features,
    rolling_fingerprint,
    token_stats,
)
from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.queries._tables import table


# ---------------------------------------------------------------- dedup ---


@register(
    "q20_exact_dedup",
    oracle="""
SELECT doc_id, content_hash FROM (
  SELECT doc_id, md5(text) AS content_hash,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents) WHERE rn = 1
""",
    doc="exact dedup by content hash (one survivor per md5)",
    tags=("llm", "dedup"),
)
def q20_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text").select("doc_id", "content_hash")


# DuckDB twin of functions.text.md5_u60
_U60 = "CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"

_MINHASH_SEEDS = 16
_MINHASH_BANDS = 4
_SHINGLE_K = 5

# DuckDB twin of operators.dedup.minhash_signatures: md5 once per shingle,
# then the (a,b) universal-hash family over the reduced hash values.
from cassandra_analytics_example_spark.operators.dedup import (  # noqa: E402
    MINHASH_P,
    minhash_seeds,
)

_AB = minhash_seeds(_MINHASH_SEEDS)
_hv_expr = (
    "list_transform(range(1, length(text) - %d), i -> %s %% %d)"
    % (_SHINGLE_K - 2, _U60.format(expr=f"substr(text, i, {_SHINGLE_K})"), MINHASH_P)
)
_sig_cols = ",\n         ".join(
    f"list_min(list_transform(hv, h -> ({a} * h + {b}) % {MINHASH_P})) AS h{i}"
    for i, (a, b) in enumerate(_AB)
)
_band_structs = ", ".join(
    "{band: %d, bhash: md5(concat_ws(',', %s))}"
    % (b, ", ".join(f"CAST(h{b * 4 + r} AS VARCHAR)" for r in range(4)))
    for b in range(_MINHASH_BANDS)
)


# shared by q21 (pairs) and q41 (clusters over those pairs)
_Q21_ORACLE = f"""
WITH reps AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
),
hvals AS (
  SELECT doc_id, {_hv_expr} AS hv
  FROM reps
),
sig AS (
  SELECT doc_id,
         {_sig_cols}
  FROM hvals
),
bands AS (
  SELECT doc_id, b.band AS band, b.bhash AS bhash
  FROM sig, UNNEST([{_band_structs}]) AS t(b)
),
bsize AS (
  SELECT band, bhash, count(*) AS n FROM bands GROUP BY 1, 2
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
  JOIN bsize s ON s.band = a.band AND s.bhash = a.bhash AND s.n <= 1000
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, length(text) - {_SHINGLE_K - 2}),
                                      i -> substr(text, i, {_SHINGLE_K}))) AS sh
  FROM reps
)
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
FROM cands c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
"""


@register(
    "q21_minhash_lsh_neardup",
    oracle=_Q21_ORACLE,
    doc="MinHash(16)+LSH(4 bands) near-dup: exact-dedup pre-pass, bucket "
    "cap 1000, exact Jaccard ≥ 0.5 verification on 5-gram shingle sets",
    tags=("llm", "dedup"),
)
def q21_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return minhash_lsh_dedup(
        docs,
        "doc_id",
        "text",
        num_hashes=_MINHASH_SEEDS,
        shingle_k=_SHINGLE_K,
        num_bands=_MINHASH_BANDS,
        jaccard_threshold=0.5,
    )


@register(
    "q41_dedup_clusters",
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
)
SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
""",
    doc="dedup clustering: connected components (min-label propagation) "
    "over the q21 MinHash-LSH near-dup pairs — (doc_id, cluster_id) where "
    "cluster_id is the min doc_id in the component; oracle is a recursive "
    "transitive closure",
    tags=("llm", "dedup"),
)
def q41_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    return cc.select(F.col("id").alias("doc_id"), F.col("cluster_id"))


# shared CTE prefix: q22's blocking pipeline up to the per-doc rarest-gram
# block keys (kept in one literal so q289/q290 cannot drift from q22)
_RAREST_BLOCK_CTES = """
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
)"""

_CAP_BLOCK = 4


@register(
    "q22_token_jaccard_neardup",
    # built from _RAREST_BLOCK_CTES (round 11): q22, its capped variant
    # q289, and the audit twin q290 share ONE blocking-CTE literal, so
    # the three oracles cannot drift apart.
    oracle=_RAREST_BLOCK_CTES + """,
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM blocked a JOIN blocked b
    ON a.block_tok = b.block_tok AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
FROM cands c JOIN toks a ON c.id_a = a.doc_id JOIN toks b ON c.id_b = b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.3
""",
    doc="word-3-gram Jaccard near-dup with 3-rarest-gram (min document "
    "frequency) blocking + exact Jaccard verification",
    tags=("llm", "dedup"),
)
def q22_token_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return token_jaccard_pairs(docs, "doc_id", "text", threshold=0.3, n_blocks=3)



@register(
    "q289_capped_rarest_gram_neardup",
    oracle=_RAREST_BLOCK_CTES + f""",
bsize AS (
  SELECT block_tok, count(*) AS n FROM blocked GROUP BY block_tok
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM blocked a
  JOIN blocked b ON a.block_tok = b.block_tok AND a.doc_id < b.doc_id
  JOIN bsize s ON s.block_tok = a.block_tok
  WHERE s.n <= {_CAP_BLOCK}
)
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
FROM cands c JOIN toks a ON c.id_a = a.doc_id JOIN toks b ON c.id_b = b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.3
""",
    doc="q22's rarest-gram near-dup under an ACTIVE max_block_size valve "
    f"(cap {_CAP_BLOCK}): oversized collision blocks are dropped from "
    "candidate generation — recall sacrificed explicitly, never silently "
    "(all-blocks-dropped raises BlockingSaturationError; the armed guard "
    "rides this registered plan through the driver) — and the oracle "
    "mirrors the cap as a block-size filter. At sf0.1 the fixture drops "
    "334 of ~4k blocks; at sf0.001/sf0.01 the valve is armed but nothing "
    "exceeds the cap, so all three parity scales exercise distinct valve "
    "states (r10 verdict task 4: the rarest-gram key is not structurally "
    "bounded, so the capped path needs driver evidence, not just pytest)",
    tags=("llm", "dedup"),
)
def q289_capped_rarest_gram_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return token_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.3, n_blocks=3,
        max_block_size=_CAP_BLOCK,
    )


@register(
    "q290_rarest_gram_block_audit",
    oracle=_RAREST_BLOCK_CTES + f"""
SELECT block_tok,
       CAST(count(*) AS BIGINT) AS n_ids,
       CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n_pairs,
       count(*) > {_CAP_BLOCK} AS dropped
FROM blocked GROUP BY block_tok HAVING count(*) > 1
""",
    doc="accounting twin of q289 (the lsh_bucket_stats pattern for the "
    "rarest-gram family): one row per collision block with member count, "
    "quadratic pair budget, and the cap's drop verdict — at scale this is "
    "written next to the dedup output so dropped recall is auditable "
    "instead of silent",
    tags=("llm", "dedup", "audit"),
)
def q290_rarest_gram_block_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cassandra_analytics_example_spark.operators.dedup import (
        rarest_gram_block_stats,
    )

    docs = table(spark, sf_dir, "documents")
    stats = rarest_gram_block_stats(
        docs, "doc_id", "text", max_block_size=_CAP_BLOCK
    )
    return stats.select(
        "block_tok",
        F.col("n_ids").cast("bigint").alias("n_ids"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        "dropped",
    )


_SIMHASH_BITS = 60
# votes over a precomputed per-feature hash list `hv` (md5 once per 3-gram)
_simhash_votes = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hv, "
    f"h -> ((h >> {b}) & 1) * 2 - 1)) > 0 "
    f"THEN {1 << b} ELSE 0 END)"
    for b in range(_SIMHASH_BITS)
)
_simhash_hv = (
    "list_transform(list_distinct(list_transform(range(1, len(w) - 1), "
    "i -> array_to_string(w[i:i+2], ' '))), g -> %s)"
    % _U60.format(expr="g")
)
# corpus-scaled band width: smallest w in [8, 15] with 2^w >= 4*N (else 15)
# — the oracle twin of operators/dedup.py:auto_band_width (margin=2,
# min_width=8, 60-bit fingerprint / 4 bands). pow(2, w) is float but exact
# for w <= 15, and the comparison against integer 4*N is exact far past any
# fixture. Hamming verifies over the FULL 60 bits, so the pair set is
# band-width-invariant; the width only sets the random-collision floor.
_SIMHASH_PARAMS_SQL = """params AS (
  SELECT w FROM range(8, 16) t(w),
              (SELECT count(*) AS n FROM documents) c
  WHERE pow(2, w) >= 4 * c.n OR w = 15
  ORDER BY w LIMIT 1
)"""
_SIMHASH_BANDED_SQL = """banded AS (
  SELECT doc_id, simhash, band,
         ((simhash >> (band * w)) & ((1::BIGINT << w) - 1)) AS bb
  FROM fp, params, UNNEST([0, 1, 2, 3]) AS t(band)
)"""


@register(
    "q23_simhash_hamming",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
hvals AS (
  SELECT doc_id, {_simhash_hv} AS hv FROM w
),
fp AS (
  -- empty feature set (< 3 tokens) => no fingerprint, excluded from banding
  -- (mirrors simhash() returning NULL instead of an all-zero "fingerprint")
  SELECT doc_id, CAST({_simhash_votes} AS BIGINT) AS simhash
  FROM hvals WHERE len(hv) > 0
),
{_SIMHASH_PARAMS_SQL},
{_SIMHASH_BANDED_SQL}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bb = b.bb AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
    doc="SimHash(60-bit) near-dup pairs, hamming <= 3, via pigeonhole "
    "4-band blocking with corpus-scaled band width (w ~ log2(4N), "
    "auto_band_width — full recall at any width, random-collision floor "
    "linear in N) + exact hamming verify",
    tags=("llm", "dedup"),
)
def q23_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs_auto(
        docs, "doc_id", "text", n_bits=_SIMHASH_BITS, n_bands=4, max_hamming=3
    )


@register(
    "q24_embedding_neardup",
    oracle="""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
       + (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END)
       + (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END)
       + (CASE WHEN embedding[7] >= 0 THEN 64 ELSE 0 END)
       + (CASE WHEN embedding[8] >= 0 THEN 128 ELSE 0 END) AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       list_cosine_similarity(a.v, b2.v) AS cosine
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE list_cosine_similarity(a.v, b2.v) >= 0.4
""",
    doc="embedding-cosine near-dup: 8-bit sign-LSH blocking + exact verify",
    tags=("llm", "dedup"),
)
def q24_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4, n_bits=8)


# --------------------------------------------------------------------------
# q287 — SimHash near-dup pairs through the round-10 COMBINATION-blocking
# escalation path (operators/dedup.py:simhash_near_dup_pairs_combi,
# Manku et al. WWW'07 SS3): the fingerprint is tiled into 5 pieces and each
# doc is keyed once per C(5,2)=10 two-piece combination, so block keys
# carry 24 bits instead of the 15-bit single-band cap — the blocking the
# auto entry point escalates to when the corpus outgrows the band space.
# The oracle is the BRUTE-FORCE all-pairs hamming scan over the same
# 60-bit fingerprints: it certifies full pigeonhole recall independently
# of any blocking structure (result must equal q23's set exactly).
# --------------------------------------------------------------------------


@register(
    "q287_simhash_combi_blocking",
    oracle=f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
hvals AS (
  SELECT doc_id, {_simhash_hv} AS hv FROM w
),
fp AS (
  SELECT doc_id, CAST({_simhash_votes} AS BIGINT) AS simhash
  FROM hvals WHERE len(hv) > 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
    doc="SimHash(60-bit) near-dup pairs via Manku piece-combination "
    "blocking (5 pieces, C(5,2)=10 block tables of 24-bit keys) — the "
    "saturated-regime escalation path, verified against the brute-force "
    "all-pairs hamming oracle (full pigeonhole recall, exact hamming)",
    tags=("llm", "dedup"),
)
def q287_simhash_combi_blocking(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from cassandra_analytics_example_spark.operators.dedup import (
        simhash_near_dup_pairs_combi,
    )

    docs = table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs_combi(
        docs, "doc_id", "text", n_bits=_SIMHASH_BITS, n_pieces=5,
        max_hamming=3,
    )


# ----------------------------------------------------------- similarity ---


@register(
    "q25_knn_bruteforce",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT q.query_id, c.neighbor_id,
         list_cosine_similarity(q.qv, c.cv) AS cosine,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                                     c.neighbor_id ASC) AS rnk
  FROM q JOIN c ON q.query_id <> c.neighbor_id
) WHERE rnk <= 5
""",
    doc="exact ANN baseline: brute-force cosine top-5 for 10 query vectors",
    tags=("llm", "similarity"),
)
def q25_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries, k=5)


@register(
    "q26_knn_lsh",
    oracle="""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cosine,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                     c.vec_id ASC) AS rnk
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
) WHERE rnk <= 5
""",
    doc="LSH-bucketed approximate ANN (4 sign bits) — the scale path",
    tags=("llm", "similarity"),
)
def q26_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_topk(emb, queries, k=5, n_bits=4)


@register(
    "q32_knn_ivf",
    oracle="""
WITH cents AS (
  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS centv
  FROM embeddings WHERE vec_id < 8
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cells AS (
  SELECT vec_id, v, cent_id AS cell FROM (
    SELECT v.vec_id, v.v, c.cent_id,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_cosine_similarity(v.v, c.centv) DESC,
                                       c.cent_id ASC) AS rn
    FROM v, cents c) WHERE rn = 1
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cosine,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                     c.vec_id ASC) AS rnk
  FROM cells q JOIN cells c ON q.cell = c.cell AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
) WHERE rnk <= 5
""",
    doc="IVF(1-probe) approximate ANN: 8 Voronoi cells around deterministic "
    "centroids, search within the query's cell only",
    tags=("llm", "similarity"),
)
def q32_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries, k=5, n_cells=8)


# ------------------------------------------------------------- text ------


@register(
    "q27_text_quality",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS DOUBLE) AS n_chars_calc,
       len(string_split(text, ' ')) AS n_tokens,
       (CAST(length(text) AS DOUBLE) - (len(string_split(text, ' ')) - 1))
         / len(string_split(text, ' ')) AS mean_tok_len,
       (CAST(length(text) AS DOUBLE)
         - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
         / length(text) AS punct_ratio,
       CAST(len(list_filter(string_split(text, ' '),
                t -> list_contains(['the','and','of','to','a'], t))) AS DOUBLE)
         / len(string_split(text, ' ')) AS stop_ratio,
       least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4
         + (1.0 - (CAST(length(text) AS DOUBLE)
              - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
              / length(text)) * 0.3
         + CAST(len(list_filter(string_split(text, ' '),
                  t -> list_contains(['the','and','of','to','a'], t))) AS DOUBLE)
              / len(string_split(text, ' ')) * 0.3 AS quality_score
FROM documents
""",
    doc="quality-filter features: length/token/punct/stopword signals",
    tags=("llm", "text"),
)
def q27_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return quality_features(docs, "text").select(
        "doc_id",
        "n_chars_calc",
        "n_tokens",
        "mean_tok_len",
        "punct_ratio",
        "stop_ratio",
        "quality_score",
    )


_LANG_CASES = """
SELECT doc_id, lang,
  len(list_intersect(toks, ['the','and','of','to','a'])) AS s_en,
  len(list_intersect(toks, ['der','die','und','das','ist'])) AS s_de,
  len(list_intersect(toks, ['le','la','et','les','des'])) AS s_fr,
  len(list_intersect(toks, ['el','la','de','y','que'])) AS s_es,
  len(list_intersect(toks, ['de5','shi4','le5','zai4','he2'])) AS s_zh
FROM (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks FROM documents)
"""


@register(
    "q28_langid_confusion",
    oracle=f"""
WITH scored AS ({_LANG_CASES}),
pred AS (
  SELECT doc_id, lang,
    CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
         WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
         WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
         WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
         ELSE 'zh' END AS pred_lang
  FROM scored
)
SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2
""",
    doc="heuristic language-ID (stopword-marker voting) confusion matrix",
    tags=("llm", "text"),
)
def q28_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        detect_language(docs, "text")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q29_fingerprint_groups",
    oracle="""
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g'))) AS fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS min_doc_id
FROM documents
GROUP BY 1
""",
    doc="canonical-form fingerprint groups (case/punct-insensitive dedup)",
    tags=("llm", "text"),
)
def q29_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        fingerprint(docs, "doc_id", "text")
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


@register(
    "q33_token_stats",
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT)
         AS n_re_tokens,
       CAST(length(text) AS DOUBLE)
         / len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]'))
         AS chars_per_tok
FROM documents
""",
    doc="token accounting: whitespace vs BPE-ish regex tokenization + "
    "chars-per-token, per document",
    tags=("llm", "text"),
)
def q33_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return token_stats(docs, "doc_id", "text")


@register(
    "q34_rolling_fingerprint",
    oracle="""
WITH fp AS (
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
                                  list_transform(string_split(substr(text, 1, 64), ''),
                                                 c -> CAST(ascii(c) AS BIGINT))),
                     (acc, x) -> (acc * 31 + x) % 2147483647) AS rhash
  FROM documents
)
SELECT rhash, count(*) AS n_docs, min(doc_id) AS first_doc
FROM fp GROUP BY rhash HAVING count(*) > 1
""",
    doc="Rabin-Karp rolling-hash fingerprint of the leading 64-char chunk "
    "(shared-boilerplate detection); duplicate groups (n>1) with first doc",
    tags=("llm", "text"),
)
def q34_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        rolling_fingerprint(docs, "doc_id", "text", prefix_len=64)
        .groupBy("rhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------- multimodal ---


@register(
    "q30_multimodal_features",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS payload_md5,
       CAST(length(text) % 640 + 1 AS DOUBLE)
         / CAST(length(text) % 480 + 1 AS DOUBLE) AS aspect
FROM documents
""",
    doc="multimodal plumbing: binary payload + metadata → mapInPandas "
    "feature extraction (Arrow-batched); container decode is REAL for "
    "netpbm via decode_image — this query exercises the byte-level "
    "fake-feature path whose oracle is SQL-expressible",
    tags=("llm", "multimodal"),
)
def q30_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    feats = extract_features(attach_payload(docs))
    return feats.select("doc_id", "n_bytes", "payload_md5", "aspect")


@register(
    "q31_frame_sampling",
    oracle="""
SELECT doc_id,
       CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames,
       octet_length(encode(text)) AS total_bytes
FROM documents
""",
    doc="frame-sampling plumbing: payload → byte-stride samples via "
    "mapInPandas, re-aggregated",
    tags=("llm", "multimodal"),
)
def q31_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    frames = frame_sample(attach_payload(docs), every_n_bytes=64)
    return frames.groupBy("doc_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.length("frame_bytes")).alias("total_bytes"),
    )


# ------------------------------------------------- pipeline operations ---
# split / decontamination / filter: the steps between "corpus" and
# "training set" that every pre-training pipeline runs after dedup.


@register(
    "q42_hash_split",
    oracle="""
SELECT doc_id,
       CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 10000 < 9000 THEN 'train'
            WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 10000 < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
    doc="deterministic train/val/test split (90/5/5) by md5 hash-bucket of "
    "doc_id — no RNG, stable under repartitioning and corpus growth, pure "
    "projection (no shuffle)",
    tags=("llm", "sampling"),
)
def q42_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.sampling import hash_split

    docs = table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id").select("doc_id", "split")


_CONTAM_N = 4


@register(
    "q43_eval_contamination",
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - {_CONTAM_N - 2}),
             i -> array_to_string(w[i:i+{_CONTAM_N - 1}], ' '))) AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
ev AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
),
cg AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram
  FROM g WHERE doc_id % 97 <> 0
)
SELECT cg.doc_id, cg.n_grams, count(*) AS n_hit_grams,
       CAST(count(*) AS DOUBLE) / cg.n_grams AS contamination
FROM cg JOIN ev USING (gram)
GROUP BY cg.doc_id, cg.n_grams
""",
    doc=f"benchmark decontamination: corpus docs sharing any word "
    f"{_CONTAM_N}-gram with the eval slice (doc_id % 97 = 0) — broadcast "
    f"eval-gram join, corpus never shuffled by the join",
    tags=("llm", "contamination"),
)
def q43_eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.contamination import (
        ngram_contamination,
    )

    docs = table(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    out = ngram_contamination(corpus, eval_set, "doc_id", "text", _CONTAM_N)
    return out.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        "n_hit_grams",
        "contamination",
    )


@register(
    "q44_quality_filter",
    oracle="""
WITH f AS (
  SELECT doc_id,
    len(string_split(text, ' ')) AS n_tokens,
    CAST(len(list_filter(string_split(text, ' '),
             t -> list_contains(['the','and','of','to','a'], t))) AS DOUBLE)
      / len(string_split(text, ' ')) AS stop_ratio,
    (CAST(length(text) AS DOUBLE)
      - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
      / length(text) AS punct_ratio
  FROM documents)
SELECT doc_id, n_tokens, stop_ratio,
       CASE WHEN n_tokens < 15 THEN 'too_short'
            WHEN punct_ratio > 0.2 THEN 'too_much_punct'
            WHEN stop_ratio = 0 THEN 'no_stopwords'
            ELSE 'keep' END AS verdict
FROM f
""",
    doc="C4/Gopher-style quality filter verdicts: first failing rule wins "
    "(too_short < 15 tokens, punct > 0.2, zero stopwords), else keep — "
    "composition of quality_features, pure codegen projection",
    tags=("llm", "text"),
)
def q44_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    f = quality_features(docs, "text")
    verdict = (
        F.when(F.col("n_tokens") < 15, F.lit("too_short"))
        .when(F.col("punct_ratio") > 0.2, F.lit("too_much_punct"))
        .when(F.col("stop_ratio") == 0, F.lit("no_stopwords"))
        .otherwise(F.lit("keep"))
    )
    return f.select("doc_id", "n_tokens", "stop_ratio", verdict.alias("verdict"))


@register(
    "q46_dedup_keep_list",
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
reps AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
)
SELECT doc_id FROM reps
WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id <> cluster_id)
""",
    doc="end-to-end dedup keep-list: exact-dedup representatives minus "
    "non-representative near-dup cluster members — the surviving training "
    "set (exact_dedup -> MinHash-LSH pairs -> connected components -> "
    "anti-join)",
    tags=("llm", "dedup"),
)
def q46_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.dedup import dedup_keep_list

    docs = table(spark, sf_dir, "documents")
    return dedup_keep_list(
        docs,
        "doc_id",
        "text",
        num_hashes=_MINHASH_SEEDS,
        shingle_k=_SHINGLE_K,
        num_bands=_MINHASH_BANDS,
        jaccard_threshold=0.5,
    )


@register(
    "q47_embedding_dim_stats",
    oracle="""
WITH ex AS (
  SELECT label, CAST(t.i AS BIGINT) AS dim,
         CAST(embedding[t.i + 1] AS DOUBLE) AS x
  FROM embeddings, UNNEST(range(0, len(embedding))) AS t(i)
)
SELECT label, dim,
       (CAST(sum(CAST(round(x * 1e9) AS BIGINT)) AS DOUBLE) / count(*)) / 1e9
         AS centroid,
       min(x) AS dmin, max(x) AS dmax, count(*) AS n
FROM ex GROUP BY label, dim
""",
    doc="per-label per-dimension embedding stats (centroid/min/max/count) — "
    "posexplode + map-side partial aggregation; fixed-point (1e-9) integer "
    "accumulation makes the mean parallelism- and engine-invariant",
    tags=("llm", "similarity"),
)
def q47_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.similarity import (
        embedding_dim_stats,
    )

    emb = table(spark, sf_dir, "embeddings")
    return embedding_dim_stats(emb, "label", "embedding")


@register(
    "q48_top_ngrams_per_lang",
    oracle="""
WITH g AS (
  SELECT lang, unnest(list_distinct(list_transform(range(1, len(w) - 1),
         i -> array_to_string(w[i:i+2], ' ')))) AS gram
  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)
),
df AS (
  SELECT lang, gram, count(*) AS dfreq FROM g GROUP BY lang, gram
)
SELECT lang, gram, dfreq, CAST(rnk AS INT) AS rnk FROM (
  SELECT lang, gram, dfreq,
         row_number() OVER (PARTITION BY lang
                            ORDER BY dfreq DESC, gram ASC) AS rnk
  FROM df) WHERE rnk <= 5
""",
    doc="corpus vocabulary profile: top-5 word-3-grams per language by "
    "document frequency (deterministic tiebreak), explode + count + "
    "windowed top-k",
    tags=("llm", "text"),
)
def q48_top_ngrams_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import word_ngrams
    from cassandra_analytics_example_spark.operators.relational import (
        top_k_per_group,
    )

    docs = table(spark, sf_dir, "documents")
    g = docs.select(
        "lang", F.explode(F.array_distinct(word_ngrams("text", 3))).alias("gram")
    )
    dfreq = g.groupBy("lang", "gram").agg(F.count("*").alias("dfreq"))
    top = top_k_per_group(
        dfreq, ["lang"], [F.desc("dfreq"), F.asc("gram")], 5, rank_col="rnk"
    )
    return top.select("lang", "gram", "dfreq", F.col("rnk").cast("int").alias("rnk"))


@register(
    "q52_kmeans_cells",
    oracle="""
SELECT 'all_assigned' AS check_name, true AS ok,
       CAST(count(*) AS BIGINT) AS n FROM embeddings
UNION ALL SELECT 'assignment_is_argmax', true, 0
UNION ALL SELECT 'objective_non_decreasing', true, 0
UNION ALL SELECT 'cells_within_k', true, 0
""",
    doc="Lloyd's KMeans (3 fixed iterations, fixed-point means) over the "
    "embeddings, value-gated via its INVARIANTS (learned floats aren't "
    "SQL-matchable; booleans the math guarantees are): every vector "
    "assigned, assignment == an independently-computed argmax, spherical "
    "objective non-decreasing across iterations, cell count <= k "
    "(operators/similarity.py:kmeans_invariants); per-cell profile stays "
    "available via kmeans_cell_profile + pytest determinism gates",
    tags=("llm", "similarity", "iterative"),
)
def q52_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.similarity import (
        kmeans_invariants,
    )

    emb = table(spark, sf_dir, "embeddings")
    return kmeans_invariants(emb, k=8, n_iter=3)


@register(
    "q54_knn_multiprobe",
    oracle="""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings
),
probes AS (
  SELECT vec_id, v, unnest([bucket,
                            xor(bucket, 1), xor(bucket, 2),
                            xor(bucket, 4), xor(bucket, 8)]) AS bucket
  FROM b WHERE vec_id < 10
)
SELECT query_id, neighbor_id, cosine, rnk FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS cosine,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                     c.vec_id ASC) AS rnk
  FROM probes q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
) WHERE rnk <= 5
""",
    doc="multi-probe sign-LSH ANN (own bucket + all hamming-1 buckets): "
    "the recall fix for near-hyperplane vectors, at (n_bits+1)x scoring "
    "cost — corpus still lives in exactly one bucket (no dedup needed)",
    tags=("llm", "similarity"),
)
def q54_knn_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.similarity import (
        multiprobe_lsh_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return multiprobe_lsh_topk(emb, queries, k=5, n_bits=4)


@register(
    "q55_document_chunking",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
off AS (
  SELECT doc_id, w, CAST(t.o AS BIGINT) AS start
  FROM w, UNNEST(range(1, greatest(len(w) - 8, 1) + 1, 56)) AS t(o)
)
SELECT doc_id, (start - 1) // 56 AS chunk_index,
       array_to_string(w[start : start + 63], ' ') AS chunk_text,
       CAST(len(w[start : start + 63]) AS BIGINT) AS n_chunk_tokens
FROM off
""",
    doc="context-window chunking: 64-token windows, 8-token overlap "
    "(stride 56) — turns the cleaned corpus into model-ready sequences; "
    "pure projection + explode, zero shuffle",
    tags=("llm", "text"),
)
def q55_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.chunking import (
        chunk_documents,
    )

    docs = table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", 64, 8)


# ------------------------------------------------- privacy / repetition ---


@register(
    "q56_pii_redaction",
    oracle="""
WITH p AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 2 = 0
         THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
         ELSE '' END ||
    CASE WHEN doc_id % 3 = 0
         THEN ' from 10.' || CAST(doc_id % 250 AS VARCHAR) || '.0.1'
         ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN ' call +1 555-000-1234' ELSE '' END AS t
  FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
    AS n_email,
  CAST(len(regexp_extract_all(t,
      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ip,
  CAST(len(regexp_extract_all(t,
      '\\+\\d{1,3} \\d{3}-\\d{3}-\\d{4}')) AS BIGINT) AS n_phone,
  regexp_replace(regexp_replace(regexp_replace(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g'),
      '\\+\\d{1,3} \\d{3}-\\d{3}-\\d{4}', '[PHONE]', 'g') AS redacted
FROM p
""",
    doc="PII redaction pass: per-class match counts + placeholder-redacted "
    "text (emails, IPv4, phone numbers; deterministic synthetic PII "
    "planted per doc_id residue so the scrub is exercised non-trivially) — "
    "pure regexp projection, zero shuffle, RE2-safe patterns",
    tags=("llm", "privacy"),
)
def q56_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.text import redact_pii

    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            d % 2 == 0,
            F.concat(F.lit(" contact u"), d.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" from 10."), (d % 250).cast("string"), F.lit(".0.1")),
        ).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit(" call +1 555-000-1234")).otherwise(F.lit("")),
    )
    return redact_pii(docs.select("doc_id", planted.alias("text"))).select(
        "doc_id", "n_email", "n_ip", "n_phone", "redacted"
    )


@register(
    "q57_repetition_signals",
    oracle="""
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
c AS (SELECT doc_id, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct, max(cnt) AS top_cnt
      FROM c GROUP BY 1),
g AS (SELECT doc_id, len(grams) AS ng, len(list_distinct(grams)) AS ndg
      FROM (SELECT doc_id,
                   list_transform(range(1, len(w)),
                                  i -> array_to_string(w[i:i+1], ' ')) AS grams
            FROM (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents)))
SELECT a.doc_id, a.n_tokens,
       1.0 - CAST(n_distinct AS DOUBLE) / n_tokens AS dup_token_ratio,
       CAST(top_cnt AS DOUBLE) / n_tokens AS top_token_share,
       CASE WHEN ng > 0 THEN 1.0 - CAST(ndg AS DOUBLE) / ng END
         AS dup_2gram_ratio
FROM a JOIN g USING (doc_id)
""",
    doc="Gopher-style repetition filters: duplicate-token fraction, "
    "top-token share, duplicate word-2-gram fraction — all three as a "
    "zero-shuffle projection (sorted-array run-length fold per doc); "
    "the oracle recomputes them via explode + groupBy",
    tags=("llm", "quality"),
)
def q57_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.text import (
        repetition_signals,
    )

    docs = table(spark, sf_dir, "documents")
    return repetition_signals(docs, "doc_id")


@register(
    "q58_stratified_sample",
    oracle="""
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
m AS (SELECT min(cnt) AS mn FROM c)
SELECT d.doc_id, d.lang
FROM documents d JOIN c USING (lang), m
WHERE (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
       % 10000) * cnt < mn * 10000
""",
    doc="class-balancing stratified downsample: every language stratum "
    "kept at the smallest stratum's rate via exact integer cross-product "
    "compare (bucket*count < min*10000) — tiny groupBy broadcast back, "
    "keep decision is a pure hash projection, corpus never shuffled",
    tags=("llm", "sampling"),
)
def q58_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.sampling import (
        stratified_downsample,
    )

    docs = table(spark, sf_dir, "documents")
    return stratified_downsample(docs, "lang", "doc_id").select(
        "doc_id", "lang"
    )


@register(
    "q59_tfidf_top_terms",
    oracle="""
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
pd AS (SELECT doc_id, term, count(*) AS tf_cnt FROM t GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf_cnt) AS BIGINT) AS len FROM pd GROUP BY 1),
f AS (SELECT term, count(*) AS dfreq FROM pd GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
s AS (SELECT pd.doc_id, pd.term,
             (CAST(tf_cnt AS DOUBLE) / len) * (CAST(n AS DOUBLE) / dfreq)
               AS tfidf
      FROM pd JOIN dl USING (doc_id) JOIN f USING (term), n)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank
  FROM s) WHERE rank <= 3
""",
    doc="top-3 characteristic terms per document by tf-idf (rarity as the "
    "exact rational N/df — same ranking as log idf, bit-reproducible "
    "across engines); document-frequency table broadcast back, top-k "
    "window over the uniform doc id",
    tags=("llm", "text"),
)
def q59_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.text import (
        tf_idf_top_terms,
    )

    docs = table(spark, sf_dir, "documents")
    return tf_idf_top_terms(docs, "doc_id", "text", 3)


@register(
    "q60_sequence_packing",
    oracle="""
WITH s AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS h,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
o AS (
  SELECT doc_id, h % 64 AS bucket, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY h % 64 ORDER BY h, doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok
  FROM s)
SELECT doc_id, bucket, n_tokens, start_tok,
       start_tok // 256 AS first_seq,
       (start_tok + n_tokens - 1) // 256 AS last_seq
FROM o
""",
    doc="concat-and-chop sequence packing layout: documents hash-bucketed "
    "(64 buckets) then laid end to end per bucket, 256-token training "
    "sequences — cumulative-sum window partitioned by bucket so no global "
    "sort; reports each doc's stream offset and straddled sequence ids",
    tags=("llm", "chunking"),
)
def q60_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.chunking import (
        pack_sequences,
    )

    docs = table(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", 256, 64)


@register(
    "q61_incremental_dedup",
    oracle="""
WITH seen AS (SELECT md5(text) AS content_hash FROM documents
              WHERE doc_id % 7 = 0),
batch AS (SELECT doc_id, md5(text) AS content_hash FROM documents
          WHERE doc_id % 3 = 0)
SELECT b.doc_id, b.content_hash FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM seen s
                  WHERE s.content_hash = b.content_hash)
""",
    doc="incremental exact dedup of a new batch (doc_id % 3) against a "
    "prior corpus hash inventory (doc_id % 7) — models a partially "
    "overlapping recrawl; LEFT ANTI join on the uniform md5 key, "
    "inventory is 32 bytes/doc so it broadcasts",
    tags=("llm", "dedup"),
)
def q61_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.dedup import dedup_against

    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    seen = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.md5("text").alias("content_hash")
    )
    return dedup_against(batch, seen, "doc_id").select("doc_id", "content_hash")


