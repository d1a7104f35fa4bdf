"""LLM-pipeline queries, `stores` block — mechanically split from the
former queries/llm.py in round 10 (zero behavior change; see llm/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.similarity import (
    brute_force_topk,
)
from cassandra_analytics_example_spark.operators.checkpoints import truncate_plan
from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.queries._tables import table

from cassandra_analytics_example_spark.queries.llm.corpus import (  # noqa: E402
    _MINHASH_BANDS,
    _MINHASH_SEEDS,
    _Q21_ORACLE,
    _SHINGLE_K,
)

# ------------------------------------------------- substring dedup --------
# q142 — exact duplicated-substring spans (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better": the ExactSubstr pass): every
# 32-char window shared by >= 2 distinct docs is duplicated; overlapping
# windows merge into per-doc spans via gaps-and-islands; each doc reports
# its duplicated-character budget.  Distinct from q73 (which counts
# DISTINCT grams corpus-wide): this is positional — it localizes WHERE the
# duplication sits and how many characters a substring-dedup rewrite would
# cut from each document.
# --------------------------------------------------------------------------

_SPAN_K = 32


@register(
    "q142_substring_dup_spans",
    oracle=f"""
WITH pos AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i,
         md5(substr(text, CAST(i AS INTEGER), {_SPAN_K})) AS h
  FROM documents,
       LATERAL unnest(generate_series(1, length(text) - {_SPAN_K} + 1)) t(i)
  WHERE length(text) >= {_SPAN_K}
),
dup AS (
  SELECT h FROM pos GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
dwin AS (SELECT doc_id, i FROM pos JOIN dup USING (h)),
marked AS (
  SELECT doc_id, i,
         CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > {_SPAN_K}
              THEN 1 ELSE 0 END AS new_span
  FROM dwin WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
isl AS (
  SELECT doc_id, i,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
),
spans AS (
  SELECT doc_id, island, min(i) AS s, max(i) AS e, count(*) AS nw
  FROM isl GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(nw) AS BIGINT) AS n_dup_windows,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e + {_SPAN_K} - s) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(p.dup_chars, 0) AS BIGINT) AS dup_chars,
       CAST(coalesce(p.dup_chars, 0) * 1000 // length(d.text) AS BIGINT)
         AS dup_permille
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
    doc="exact duplicated-substring spans (ExactSubstr dedup audit): "
    "32-char windows shared across >= 2 docs, merged into per-doc spans, "
    "per-doc duplicated-char budget in exact integer permille; window "
    "table is linear in corpus chars, duplicate detection is one "
    "md5-keyed groupBy + same-key join-back, span merge is one doc-keyed "
    "window — no all-pairs anywhere",
    tags=("llm", "dedup", "substring"),
)
def q142_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.text import (
        duplicated_substring_spans,
    )

    docs = table(spark, sf_dir, "documents")
    # dup_detection="aggregate" (the fast single-lineage form, 2.2x over
    # the streamed default) is safe HERE: the fixture corpus has no
    # degenerate boilerplate (q120's audit bounds shared-window
    # multiplicity), so no window hash's (doc, pos) buffer can approach
    # corpus size. The operator default is the streamed "join" form.
    return duplicated_substring_spans(
        docs, id_col="doc_id", text_col="text", k=_SPAN_K, min_docs=2,
        dup_detection="aggregate",
    )


# ------------------------------------------------- product quantization ---
# q146 — PQ code assignment + distortion audit: 64-dim vectors split into
# 4x16-dim subspaces, each subvector quantized to the nearest of 16
# deterministic codewords (the lowest-id vectors' slices), distortion
# floor-quantized to integer nanos.  The memory-compression tier under
# IVF (q32/q138): 64 floats -> 4 bytes per vector at search time.
# --------------------------------------------------------------------------


def _pq_oracle(n_sub: int = 4, sub_dim: int = 16, n_codes: int = 16) -> str:
    parts = []
    for s in range(n_sub):
        lo, hi = s * sub_dim + 1, (s + 1) * sub_dim
        parts.append(
            f"SELECT vec_id, {s} AS sub,"
            f" (CAST(embedding AS DOUBLE[]))[{lo}:{hi}] AS sv"
            f" FROM embeddings"
        )
    subs = " UNION ALL ".join(parts)
    return f"""
WITH subs AS ({subs}),
cents AS (
  SELECT sub, CAST(vec_id AS INTEGER) AS code, sv AS cv
  FROM subs WHERE vec_id < {n_codes}
),
scored AS (
  SELECT s.vec_id, s.sub, c.code,
         list_sum(list_transform(generate_series(1, {sub_dim}),
                  i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))) AS d2
  FROM subs s JOIN cents c USING (sub)
)
SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(code AS BIGINT) AS code,
       CAST(floor(d2 * 1000000000) AS BIGINT) AS d2_q
FROM scored
QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                           ORDER BY d2 ASC, code ASC) = 1
"""


@register(
    "q146_pq_codes",
    oracle=_pq_oracle(),
    doc="product-quantization assignment: 4x16-dim subspaces, 16 "
    "deterministic codewords each (lowest-id vector slices), squared-L2 "
    "argmin with code-id tie-break, distortion floor-quantized to "
    "integer nanos; the codebook (64 rows) broadcasts, the corpus is "
    "never reshuffled, and the fold order matches the oracle "
    "bit-for-bit (functions/vector.py discipline)",
    tags=("llm", "ann", "compression"),
)
def q146_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.similarity import (
        pq_assign,
    )

    emb = table(spark, sf_dir, "embeddings")
    return pq_assign(emb)


# ------------------------------------------- join-size estimation audit ---
# q148 — sketch-based join-cardinality estimation, audited against the
# exact answer: the self-join size of lineitem on l_partkey (the dedup /
# candidate-pair blowup number: sum_k c(k)^2) next to the count-min
# inner-product estimate computed ONLY from the depth*width cell table.
# The estimate a planner (or a dedup pre-flight) uses to refuse a
# quadratic bucket before paying for it.
# --------------------------------------------------------------------------


@register(
    "q148_join_size_estimate",
    oracle="""
WITH k AS (SELECT CAST(l_partkey AS VARCHAR) AS key FROM lineitem),
cnt AS (SELECT key, count(*) AS n FROM k GROUP BY key),
exact_t AS (SELECT CAST(sum(n * n) AS BIGINT) AS exact_size FROM cnt),
ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
cells AS (
  SELECT d,
         CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || key), 1, 15))
              AS BIGINT) % 256 AS cell,
         count(*) AS c
  FROM k, ds GROUP BY 1, 2
),
ip AS (SELECT d, CAST(sum(c * c) AS BIGINT) AS ip FROM cells GROUP BY d),
est_t AS (SELECT CAST(min(ip) AS BIGINT) AS est_size FROM ip)
SELECT exact_size, est_size,
       CAST(est_size * 1000 // exact_size AS BIGINT) AS over_permille
FROM exact_t, est_t
""",
    doc="join-cardinality estimation audit: exact self-join size on "
    "l_partkey (sum of squared key counts — the candidate-pair blowup "
    "metric) vs the count-min inner-product estimate computed from the "
    "depth*width cell table alone; the estimate never underestimates, "
    "and over_permille quantifies its slack in exact integers — the "
    "pre-flight a planner runs before risking a skewed join "
    "(operators/sketches.py:countmin_inner_product)",
    tags=("llm", "sketch", "planning"),
)
def q148_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.sketches import (
        countmin_cells,
        countmin_inner_product,
    )

    from cassandra_analytics_example_spark.session import spread

    # the sketch explodes each key x depth and md5-hashes every row: spread
    # first so a single-split parquet doesn't serialize the hash pipeline
    keys = spread(
        table(spark, sf_dir, "lineitem").select(
            F.col("l_partkey").cast("string").alias("key")
        )
    )
    exact = (
        keys.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * F.col("n")).cast("bigint").alias("exact_size"))
    )
    cells = countmin_cells(keys, "key")
    est = countmin_inner_product(cells, cells)
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            "exact_size",
            "est_size",
            F.expr("est_size * 1000 div exact_size")
            .cast("bigint")
            .alias("over_permille"),
        )
    )


# --------------------------------------- incremental cluster maintenance --
# q152 — fold a delta batch (doc_id % 5 == 0) into the base MinHash-LSH
# clustering via rep-graph CONTRACTION (operators/dedup.py:
# incremental_lsh_clusters): base pairs come from the base-only band
# index, the delta pass joins only delta band rows against the full
# index, and components re-run only over delta docs + touched base reps.
# The oracle is a FULL recompute (recursive transitive closure over the
# q21 pair SQL) — the incremental result must hash-match it exactly.
# --------------------------------------------------------------------------


@register(
    "q152_incremental_clusters",
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
cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
fl AS (
  SELECT doc_id, cluster_id, doc_id % 5 = 0 AS is_delta FROM cc
)
SELECT doc_id, cluster_id, is_delta,
       (sum(CASE WHEN is_delta THEN 1 ELSE 0 END)
          OVER (PARTITION BY cluster_id) > 0
        AND sum(CASE WHEN is_delta THEN 0 ELSE 1 END)
          OVER (PARTITION BY cluster_id) > 0) AS bridged
FROM fl
""",
    doc="incremental near-dup cluster maintenance: delta docs (id % 5 == "
    "0) fold into the base clustering by joining only delta band rows "
    "against the band index and re-running components on the CONTRACTED "
    "graph (delta docs + touched base reps — never base x base); "
    "contraction preserves min-labels exactly, so the result hash-matches "
    "the oracle's full recursive-closure recompute; bridged flags the "
    "merge events",
    tags=("llm", "dedup", "incremental"),
)
def q152_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.dedup import (
        incremental_lsh_clusters,
    )

    docs = table(spark, sf_dir, "documents")
    return incremental_lsh_clusters(
        docs,
        "doc_id",
        "text",
        delta_pred=(F.col("doc_id") % 5 == 0),
        num_hashes=_MINHASH_SEEDS,
        shingle_k=_SHINGLE_K,
        num_bands=_MINHASH_BANDS,
        jaccard_threshold=0.5,
    )


# --------------------------------------------- matryoshka truncation ------
# q153 — dimension-truncation quality audit (the matryoshka-embedding
# question): for the exact top-5 neighbors of each query (q25's pairs),
# recompute cosine over only the FIRST d components (d = 16, 32, 64) and
# re-rank — how much of the neighborhood structure survives a cheaper
# truncated index.  Per-pair nano-quantized cosines (the ordered-fold
# doubles are engine-identical, so floor-quantization is exact); the
# re-rank inversions against the full-dim order are the quality signal.
# --------------------------------------------------------------------------

_MATRYOSHKA_DIMS = (16, 32, 64)


def _q153_oracle() -> str:
    dims_sql = []
    for d in _MATRYOSHKA_DIMS:
        dims_sql.append(f"""
SELECT query_id, neighbor_id, rnk AS rnk_full, {d} AS dim,
       list_cosine_similarity(qv[1:{d}], cv[1:{d}]) AS tc
FROM pairs""")
    body = " UNION ALL ".join(dims_sql)
    return f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
pairs AS (
  SELECT query_id, neighbor_id, qv, cv, rnk FROM (
    SELECT q.query_id, c.neighbor_id, q.qv, c.cv,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                                       c.neighbor_id ASC) AS rnk
    FROM q JOIN c ON q.query_id <> c.neighbor_id
  ) WHERE rnk <= 5
),
truncd AS ({body})
SELECT query_id, neighbor_id,
       CAST(rnk_full AS BIGINT) AS rnk_full,
       CAST(dim AS BIGINT) AS dim,
       CAST(floor(tc * 1000000000) AS BIGINT) AS cos_q,
       CAST(row_number() OVER (PARTITION BY query_id, dim
                               ORDER BY tc DESC, neighbor_id ASC)
            AS BIGINT) AS rnk_trunc
FROM truncd
"""


@register(
    "q153_matryoshka_truncation",
    oracle=_q153_oracle(),
    doc="matryoshka dimension-truncation audit: the exact top-5 cosine "
    "neighbors per query re-scored and re-ranked at dims 16/32/64 — "
    "per-pair nano-quantized truncated cosines plus the truncated rank "
    "next to the full-dim rank; the 50-pair layer is tiny, so every "
    "truncation re-rank is a window over 5 rows — the index-cheapening "
    "decision (shorter vectors = smaller IVF/PQ index) made measurable",
    tags=("llm", "similarity", "audit"),
)
def q153_matryoshka_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.vector import (
        cosine_similarity,
    )
    from cassandra_analytics_example_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    top = brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", F.col("rnk").alias("rnk_full")
    )
    qv = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    pairs = top.join(F.broadcast(qv), "query_id").join(
        F.broadcast(cv), "neighbor_id"
    )
    parts = []
    for d in _MATRYOSHKA_DIMS:
        parts.append(
            pairs.select(
                "query_id",
                "neighbor_id",
                F.col("rnk_full").cast("bigint").alias("rnk_full"),
                F.lit(d).cast("bigint").alias("dim"),
                cosine_similarity(
                    F.slice("qv", 1, d), F.slice("cv", 1, d)
                ).alias("tc"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    w = Window.partitionBy("query_id", "dim").orderBy(
        F.desc("tc"), F.asc("neighbor_id")
    )
    return out.select(
        "query_id",
        "neighbor_id",
        "rnk_full",
        "dim",
        F.expr("cast(floor(tc * 1000000000) as bigint)").alias("cos_q"),
        F.row_number().over(w).cast("bigint").alias("rnk_trunc"),
    )


# ------------------------------------------------ chunk-store dedup -------
# q155 — binary chunk-store dedup accounting: payloads split into 64-byte
# chunks, content-addressed by digest; the refcount histogram with exact
# logical-vs-unique byte totals is what a content-addressable blob store
# saves at 100 TB.  Payloads are ASCII-stripped before encoding (the q97
# convention) so the SQL oracle's character arithmetic equals the Spark
# side's byte arithmetic on any fixture.
# --------------------------------------------------------------------------

_CHUNK_B = 64


@register(
    "q155_chunk_store_dedup",
    oracle=f"""
WITH a AS (
  SELECT regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS t FROM documents
),
c AS (
  SELECT md5(substr(t, CAST(1 + {_CHUNK_B} * i AS INTEGER), {_CHUNK_B})) AS h,
         length(substr(t, CAST(1 + {_CHUNK_B} * i AS INTEGER), {_CHUNK_B})) AS b
  FROM a, LATERAL unnest(generate_series(
       0, CAST(ceil(length(t) / {_CHUNK_B}.0) AS INTEGER) - 1)) s(i)
  WHERE length(t) > 0
),
store AS (
  SELECT h, count(*) AS refcount, max(b) AS b FROM c GROUP BY h
)
SELECT CAST(refcount AS BIGINT) AS refcount,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(b) AS BIGINT) AS unique_bytes,
       CAST(sum(b) * refcount AS BIGINT) AS logical_bytes
FROM store GROUP BY refcount
""",
    doc="content-addressable chunk-store accounting: 64-byte payload "
    "chunks digested and refcounted, histogram of refcounts with exact "
    "logical/unique byte totals — logical minus unique is the dedup "
    "saving a blob store realizes; one bounded explode, one digest-keyed "
    "groupBy, one vocabulary-sized histogram "
    "(operators/multimodal.py:chunk_dedup_stats)",
    tags=("llm", "multimodal", "dedup", "storage"),
)
def q155_chunk_store_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.operators.multimodal import (
        attach_audio_payload,
        chunk_dedup_stats,
    )

    docs = table(spark, sf_dir, "documents")
    payloads = attach_audio_payload(docs).select("doc_id", "payload")
    return chunk_dedup_stats(payloads, "payload", chunk_bytes=_CHUNK_B)


# --------------------------------------------------------------------------
# q166 — lang x source contingency lift: for every (lang, source) cell,
# observed count vs the independence expectation, with lift reported in
# exact integer permille (obs * N * 1000 div (row_total * col_total)).
# The corpus-composition independence audit: which sources are secretly
# single-language, which languages cluster in one crawl.  Marginals are
# two vocabulary-sized aggregates broadcast back onto the cell table —
# the corpus is scanned once and shuffled once on the cell key.
# --------------------------------------------------------------------------


@register(
    "q166_contingency_lift",
    oracle="""
WITH cells AS (
  SELECT lang, source, count(*) AS n_obs
  FROM documents GROUP BY lang, source
),
r AS (SELECT lang, sum(n_obs) AS n_lang FROM cells GROUP BY lang),
c AS (SELECT source, sum(n_obs) AS n_source FROM cells GROUP BY source),
t AS (SELECT sum(n_obs) AS n_total FROM cells)
SELECT cells.lang, cells.source,
       CAST(cells.n_obs AS BIGINT) AS n_obs,
       CAST(r.n_lang AS BIGINT) AS n_lang,
       CAST(c.n_source AS BIGINT) AS n_source,
       CAST(cells.n_obs * t.n_total * 1000 // (r.n_lang * c.n_source)
            AS BIGINT) AS lift_permille,
       cells.n_obs * t.n_total * 1000 // (r.n_lang * c.n_source) > 1500
         AS over_represented
FROM cells JOIN r USING (lang) JOIN c USING (source) CROSS JOIN t
""",
    doc="lang x source contingency lift in exact integer permille: cell "
    "counts vs the independence expectation, over-representation flag at "
    "1.5x — marginals derive from the cell table itself (no second corpus "
    "scan) and broadcast back; the corpus-composition independence audit",
    tags=("llm", "profiling", "audit"),
)
def q166_contingency_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("lang", "source")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    cells = truncate_plan(cells)
    r = cells.groupBy("lang").agg(F.sum("n_obs").alias("n_lang"))
    c = cells.groupBy("source").agg(F.sum("n_obs").alias("n_source"))
    t = cells.agg(F.sum("n_obs").alias("n_total"))
    return (
        cells.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(t))
        .select(
            "lang",
            "source",
            F.col("n_obs").cast("bigint").alias("n_obs"),
            F.col("n_lang").cast("bigint").alias("n_lang"),
            F.col("n_source").cast("bigint").alias("n_source"),
            # decimal: n_obs*n_total is O(corpus^2) — bigint raises at
            # ~3e7 docs, far below scale (same class as the rank fix)
            F.expr(
                "cast(cast(n_obs as decimal(38,0)) * n_total * 1000 "
                "div (cast(n_lang as decimal(38,0)) * n_source) as bigint)"
            ).alias("lift_permille"),
            F.expr(
                "cast(n_obs as decimal(38,0)) * n_total * 1000 "
                "div (cast(n_lang as decimal(38,0)) * n_source) > 1500"
            ).alias("over_represented"),
        )
    )


# --------------------------------------------------------------------------
# q170 — normalization-aware dedup gain: how many extra duplicates does
# exact dedup find AFTER canonical text normalization (lowercase, strip
# non-alphanumerics, collapse whitespace)?  The pre-dedup normalization
# decision quantified: one corpus scan, digests computed inline, two
# distinct-counts sharing it — no second scan, no string shuffle (only
# 16-byte digests move).
# --------------------------------------------------------------------------


@register(
    "q170_normalization_gain",
    oracle="""
WITH d AS (
  SELECT text,
         md5(text) AS h_raw,
         md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g'))) AS h_norm,
         trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) != text AS changed
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       CAST(count(DISTINCT h_raw) AS BIGINT) AS groups_raw,
       CAST(count(DISTINCT h_norm) AS BIGINT) AS groups_norm,
       CAST(count(*) - count(DISTINCT h_raw) AS BIGINT) AS dups_raw,
       CAST(count(*) - count(DISTINCT h_norm) AS BIGINT) AS dups_norm,
       CAST(count(DISTINCT h_raw) - count(DISTINCT h_norm) AS BIGINT)
         AS gain
FROM d
""",
    doc="normalization-aware exact-dedup gain: md5 digests of raw vs "
    "canonicalized text (lower, non-alnum -> space, collapse runs, trim) "
    "in ONE scan; extra duplicate mass surfaced by normalization in "
    "exact counts — only digests shuffle, never text",
    tags=("llm", "dedup", "text"),
)
def q170_normalization_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    d = docs.select(
        F.md5("text").alias("h_raw"),
        F.md5(norm).alias("h_norm"),
        (norm != F.col("text")).alias("changed"),
    )
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("changed").cast("bigint"))
        .cast("bigint")
        .alias("n_changed"),
        F.countDistinct("h_raw").cast("bigint").alias("groups_raw"),
        F.countDistinct("h_norm").cast("bigint").alias("groups_norm"),
        (F.count(F.lit(1)) - F.countDistinct("h_raw"))
        .cast("bigint")
        .alias("dups_raw"),
        (F.count(F.lit(1)) - F.countDistinct("h_norm"))
        .cast("bigint")
        .alias("dups_norm"),
        (F.countDistinct("h_raw") - F.countDistinct("h_norm"))
        .cast("bigint")
        .alias("gain"),
    )


# --------------------------------------------------------------------------
# q171 — sequence-length bucketing / padding-waste audit: documents land
# in the smallest power-of-two token bucket that fits them (capped), and
# the report prices the padding a fixed-shape training batch would burn.
# Bucket assignment is a broadcast join against a constant edge table —
# the corpus never shuffles for it; the per-bucket report is one
# vocabulary-sized aggregate.  Exact integer token counts (whitespace
# tokens, the q33 convention) and exact permille waste.
# --------------------------------------------------------------------------


@register(
    "q171_padding_waste",
    oracle="""
WITH t AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
  FROM documents
),
edges AS (
  SELECT CAST(b AS BIGINT) AS bucket
  FROM (VALUES (16), (32), (64), (128), (256), (512), (1024), (2048),
               (4096), (8192)) e(b)
),
assigned AS (
  SELECT t.toks, min(edges.bucket) AS bucket
  FROM t JOIN edges ON edges.bucket >= least(t.toks, 8192)
  GROUP BY t.toks
),
fat AS (
  SELECT t.toks, a.bucket,
         CASE WHEN t.toks > 8192
              THEN ((t.toks + 8191) // 8192) * 8192
              ELSE a.bucket END AS padded
  FROM t JOIN assigned a ON a.toks = t.toks
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS tokens,
       CAST(sum(padded) AS BIGINT) AS padded_slots,
       CAST((sum(padded) - sum(toks)) * 1000 // sum(padded) AS BIGINT)
         AS waste_permille
FROM fat GROUP BY bucket
""",
    doc="power-of-two sequence-length bucketing with exact padding-waste "
    "accounting: smallest bucket >= token count via a broadcast "
    "constant-edge join (corpus unshuffled), per-bucket docs/tokens/"
    "padded-slots and integer-permille waste — the batch-shape cost "
    "model for fixed-length training. Documents longer than the top "
    "edge land in the top bucket with chunked-slot accounting "
    "(ceil(toks/8192) sequences of 8192 slots) — no doc silently "
    "vanishes from the audit",
    tags=("llm", "packing", "audit"),
)
def q171_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("toks")
    )
    edges = spark.createDataFrame(
        [(16,), (32,), (64,), (128,), (256,), (512,), (1024,), (2048,),
         (4096,), (8192,)],
        "bucket bigint",
    )
    # Distinct token counts first (vocabulary-sized), THEN the edge join:
    # the >= join fans out one row per fitting bucket, so it must run on
    # the distinct-toks table with min(bucket) folding the fan-out back.
    # Token counts are clamped to the top edge for ASSIGNMENT only, so
    # over-long docs fall in the top bucket instead of dropping out of
    # the inner join; their slot cost is the real chunked cost.
    tc = t.groupBy("toks").agg(F.count(F.lit(1)).alias("m"))
    fat = (
        tc.join(
            F.broadcast(edges),
            F.col("bucket") >= F.least(F.col("toks"), F.lit(8192)),
        )
        .groupBy("toks", "m")
        .agg(F.min("bucket").alias("bucket"))
        .withColumn(
            "padded",
            F.when(
                F.col("toks") > 8192,
                F.expr("((toks + 8191) div 8192) * 8192"),
            ).otherwise(F.col("bucket")),
        )
    )
    return fat.groupBy("bucket").agg(
        F.sum("m").cast("bigint").alias("n_docs"),
        F.sum(F.col("toks") * F.col("m")).cast("bigint").alias("tokens"),
        F.sum(F.col("padded") * F.col("m"))
        .cast("bigint")
        .alias("padded_slots"),
        # decimal scaling: the *1000 on a corpus-sized token sum is the
        # same bigint-overflow class as the rank-metric fix
        F.expr(
            "cast((cast(sum(padded * m) as decimal(38,0)) - sum(toks * m))"
            " * 1000 div sum(padded * m) as bigint)"
        ).alias("waste_permille"),
    )


# --------------------------------------------------------------------------
# q172 — label-balance audit with inverse-frequency class weights: per
# label, share of the corpus in exact permille plus the reweighting
# factor (uniform-target inverse frequency, in exact permille) a
# training loop would apply.  One vocabulary-sized aggregate + one
# broadcast scalar; imbalance verdict at 2x over/under uniform.
# --------------------------------------------------------------------------


@register(
    "q172_label_balance",
    oracle="""
WITH l AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
t AS (SELECT sum(n) AS n_total, count(*) AS n_labels FROM l)
SELECT l.label,
       CAST(l.n AS BIGINT) AS n,
       CAST(l.n * 1000 // t.n_total AS BIGINT) AS share_permille,
       CAST(t.n_total * 1000 // (t.n_labels * l.n) AS BIGINT)
         AS weight_permille,
       2 * l.n * t.n_labels > 4 * t.n_total
         OR 2 * l.n * t.n_labels < t.n_total AS imbalanced
FROM l CROSS JOIN t
""",
    doc="label-balance audit: per-label share and uniform-target "
    "inverse-frequency class weight in exact integer permille, 2x "
    "over/under-uniform imbalance verdict — one label-keyed aggregate "
    "and one broadcast total; the class-weight table a trainer consumes",
    tags=("llm", "sampling", "audit"),
)
def q172_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select("label")
    l = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    t = l.agg(
        F.sum("n").alias("n_total"), F.count(F.lit(1)).alias("n_labels")
    )
    return l.crossJoin(F.broadcast(t)).select(
        "label",
        F.col("n").cast("bigint").alias("n"),
        F.expr("n * 1000 div n_total").cast("bigint").alias(
            "share_permille"
        ),
        F.expr("n_total * 1000 div (n_labels * n)")
        .cast("bigint")
        .alias("weight_permille"),
        F.expr(
            "2 * n * n_labels > 4 * n_total OR 2 * n * n_labels < n_total"
        ).alias("imbalanced"),
    )


# --------------------------------------------------------------------------
# q174 — retrieval quality against label ground truth: for 20 probe
# vectors, exact cosine top-10 (the q25 brute baseline), scored against
# the labels a supervised eval would use — per label: probes, hits@10,
# precision in exact permille, probes with at least one relevant hit,
# and the reciprocal-rank mass of the first relevant neighbor in exact
# milli-units (1000 div rank; misses contribute 0).  The eval-harness
# row of an embedding pipeline — corpus broadcast-joined once, label
# attachment is two vocabulary joins, every metric integer-exact.
# --------------------------------------------------------------------------


@register(
    "q174_retrieval_label_eval",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                  label AS q_label
           FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
             label AS n_label
      FROM embeddings),
topk AS (
  SELECT query_id, q_label, n_label, rnk FROM (
    SELECT q.query_id, q.q_label, c.n_label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC,
                      c.neighbor_id ASC) AS rnk
    FROM q JOIN c ON q.query_id <> c.neighbor_id
  ) WHERE rnk <= 10
),
per_q AS (
  SELECT query_id, q_label,
         sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS hits,
         min(CASE WHEN n_label = q_label THEN rnk END) AS first_rel
  FROM topk GROUP BY query_id, q_label
)
SELECT q_label AS label,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(hits) AS BIGINT) AS hits_at_10,
       CAST(sum(hits) * 1000 // (count(*) * 10) AS BIGINT)
         AS prec_permille,
       CAST(sum(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_with_hit,
       CAST(sum(coalesce(1000 // first_rel, 0)) AS BIGINT)
         AS rr_milli_sum
FROM per_q GROUP BY q_label
""",
    doc="retrieval eval vs label ground truth: exact cosine top-10 for 20 "
    "probes (q25 baseline machinery), per-label precision@10 in exact "
    "permille, hit coverage, and first-relevant reciprocal-rank mass in "
    "integer milli-units — the supervised eval row with no floats in "
    "any metric",
    tags=("llm", "similarity", "eval"),
)
def q174_retrieval_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    probes = emb.filter(F.col("vec_id") < 20)
    topk = (
        brute_force_topk(emb, probes, k=10)
        .join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("q_label"),
                )
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
    )
    per_q = topk.groupBy("query_id", "q_label").agg(
        F.sum((F.col("n_label") == F.col("q_label")).cast("bigint")).alias(
            "hits"
        ),
        F.min(
            F.when(F.col("n_label") == F.col("q_label"), F.col("rnk"))
        ).alias("first_rel"),
    )
    return per_q.groupBy(F.col("q_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum("hits").cast("bigint").alias("hits_at_10"),
        F.expr("sum(hits) * 1000 div (count(*) * 10)")
        .cast("bigint")
        .alias("prec_permille"),
        F.sum(F.col("first_rel").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_with_hit"),
        F.sum(F.coalesce(F.expr("1000 div first_rel"), F.lit(0)))
        .cast("bigint")
        .alias("rr_milli_sum"),
    )


# --------------------------------------------------------------------------
# q176 — max-min fair token budget allocation (exact water-filling): a
# training run has a global token budget (here 40% of the corpus);
# languages with small corpora are fully satisfied, the rest share the
# remaining budget at a common integer water level.  The analytic
# water-level solution — sort demands, prefix sums, one feasibility
# count — in exact integer arithmetic; demands are ONE corpus aggregate,
# everything after runs on the vocabulary-sized demand table.  The
# max-min generalization of the capped mixture plans (q65/q110/q121).
# --------------------------------------------------------------------------


@register(
    "q176_fair_share_allocation",
    oracle="""
WITH d AS (
  SELECT lang,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS demand
  FROM documents GROUP BY lang
),
tot AS (
  SELECT count(*) AS n_langs, sum(demand) AS total,
         2 * sum(demand) // 5 AS budget
  FROM d
),
s AS (
  SELECT lang, demand,
         row_number() OVER (ORDER BY demand, lang) AS i,
         sum(demand) OVER (ORDER BY demand, lang
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS prefix
  FROM d
),
f AS (
  SELECT s.*, tot.n_langs, tot.budget,
         (s.prefix - s.demand) + (tot.n_langs - s.i + 1) * s.demand
           <= tot.budget AS feasible
  FROM s CROSS JOIN tot
),
lvl AS (
  SELECT count(CASE WHEN feasible THEN 1 END) AS k,
         coalesce(max(CASE WHEN feasible THEN prefix END), 0) AS prefix_k,
         any_value(n_langs) AS n_langs,
         any_value(budget) AS budget
  FROM f
),
w AS (
  SELECT CASE WHEN k = n_langs THEN NULL
              ELSE (budget - prefix_k) // (n_langs - k) END AS level,
         k
  FROM lvl
)
SELECT f.lang,
       CAST(f.demand AS BIGINT) AS demand_tokens,
       CAST(CASE WHEN f.feasible THEN f.demand ELSE w.level END
            AS BIGINT) AS alloc_tokens,
       f.feasible AS satisfied,
       CAST(w.level AS BIGINT) AS water_level
FROM f CROSS JOIN w
""",
    doc="max-min fair token allocation under a 40%-of-corpus budget: "
    "exact integer water-filling — sorted demands, prefix sums, "
    "feasibility count, common level (budget - prefix_k) div (n - k); "
    "small languages fully satisfied, the rest capped at the level; one "
    "corpus aggregate, then vocabulary-sized algebra only",
    tags=("llm", "sampling", "mixture"),
)
def q176_fair_share_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("bigint")
            .alias("demand")
        )
    )
    d = truncate_plan(d)
    tot = d.agg(
        F.count(F.lit(1)).alias("n_langs"),
        F.sum("demand").alias("total"),
        F.expr("2 * sum(demand) div 5").alias("budget"),
    )
    w_ord = Window.orderBy("demand", "lang")
    s = d.select(
        "lang",
        "demand",
        F.row_number().over(w_ord).alias("i"),
        F.sum("demand")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("prefix"),
    )
    f = s.crossJoin(F.broadcast(tot)).withColumn(
        "feasible",
        (F.col("prefix") - F.col("demand"))
        + (F.col("n_langs") - F.col("i") + 1) * F.col("demand")
        <= F.col("budget"),
    )
    lvl = f.agg(
        F.count(F.when(F.col("feasible"), 1)).alias("k"),
        F.coalesce(
            F.max(F.when(F.col("feasible"), F.col("prefix"))), F.lit(0)
        ).alias("prefix_k"),
        F.min("n_langs").alias("n_langs"),
        F.min("budget").alias("budget"),
    )
    w = lvl.select(
        F.when(F.col("k") == F.col("n_langs"), F.lit(None))
        .otherwise(
            F.expr("(budget - prefix_k) div (n_langs - k)")
        )
        .cast("bigint")
        .alias("level"),
    )
    return f.crossJoin(F.broadcast(w)).select(
        "lang",
        F.col("demand").cast("bigint").alias("demand_tokens"),
        F.when(F.col("feasible"), F.col("demand"))
        .otherwise(F.col("level"))
        .cast("bigint")
        .alias("alloc_tokens"),
        F.col("feasible").alias("satisfied"),
        F.col("level").cast("bigint").alias("water_level"),
    )


# --------------------------------------------------------------------------
# q177 — incremental inverted-index maintenance audit: the stored base
# index (90% of docs) and the new-batch delta index (10%) are built as
# SEPARATE lineages — exactly what an incremental pipeline holds — then
# merged by term-stat addition (full outer join + coalesced sums) and
# gated against a fresh full-corpus recount.  df/cf conservation must be
# exact; the report also prices the delta: terms touched, brand-new
# terms, touch rate.  At 100 TB only the delta lineage and the
# term-keyed merge run per batch — the full recount here is the AUDIT.
# --------------------------------------------------------------------------


@register(
    "q177_index_delta_merge",
    oracle="""
WITH base AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents WHERE doc_id % 10 != 0
  ) GROUP BY term
),
delta AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents WHERE doc_id % 10 = 0
  ) GROUP BY term
),
full_ AS (
  SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term
    FROM documents
  ) GROUP BY term
),
merged AS (
  SELECT coalesce(b.term, d.term) AS term,
         coalesce(b.df, 0) + coalesce(d.df, 0) AS df,
         coalesce(b.cf, 0) + coalesce(d.cf, 0) AS cf,
         d.term IS NOT NULL AS touched,
         b.term IS NULL AND d.term IS NOT NULL AS is_new
  FROM base b FULL OUTER JOIN delta d ON b.term = d.term
)
SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS n_terms_base,
       CAST((SELECT count(*) FROM delta) AS BIGINT) AS n_terms_delta,
       CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new_terms,
       CAST(sum(CASE WHEN touched THEN 1 ELSE 0 END) * 1000
            // count(*) AS BIGINT) AS touched_permille,
       CAST(count(*) AS BIGINT) AS n_terms_merged,
       count(*) = (SELECT count(*) FROM full_)
         AND NOT EXISTS (
           SELECT 1 FROM merged m JOIN full_ f ON m.term = f.term
           WHERE m.df != f.df OR m.cf != f.cf)
         AS conservation_ok
FROM merged
""",
    doc="incremental index maintenance: base (90%) and delta (10%) "
    "term-stat indexes built as separate lineages, merged by term-keyed "
    "stat addition, gated EXACTLY against a full recount (df/cf "
    "conservation); reports new terms and delta touch rate — the "
    "term-keyed merge is all a production batch runs",
    tags=("llm", "retrieval", "incremental"),
)
def q177_index_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")

    def stats(df: DataFrame) -> DataFrame:
        tok = df.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        return tok.groupBy("term").agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("cf"),
        )

    base = truncate_plan(stats(docs.where(F.expr("doc_id % 10 != 0"))))
    delta = truncate_plan(stats(docs.where(F.expr("doc_id % 10 = 0"))))
    full = stats(docs)

    b = base.select(
        F.col("term"), F.col("df").alias("b_df"), F.col("cf").alias("b_cf")
    )
    d = delta.select(
        F.col("term"), F.col("df").alias("d_df"), F.col("cf").alias("d_cf")
    )
    merged = b.join(d, "term", "full_outer").select(
        "term",
        (F.coalesce("b_df", F.lit(0)) + F.coalesce("d_df", F.lit(0))).alias(
            "df"
        ),
        (F.coalesce("b_cf", F.lit(0)) + F.coalesce("d_cf", F.lit(0))).alias(
            "cf"
        ),
        F.col("d_df").isNotNull().alias("touched"),
        (F.col("b_df").isNull() & F.col("d_df").isNotNull()).alias(
            "is_new"
        ),
    )
    mism = (
        merged.join(
            full.select(
                "term",
                F.col("df").alias("f_df"),
                F.col("cf").alias("f_cf"),
            ),
            "term",
            "full_outer",
        )
        .where(
            F.col("df").isNull()
            | F.col("f_df").isNull()
            | (F.col("df") != F.col("f_df"))
            | (F.col("cf") != F.col("f_cf"))
        )
        .agg(F.count(F.lit(1)).alias("n_mismatch"))
    )
    counts = merged.agg(
        F.sum(F.col("is_new").cast("bigint")).alias("n_new_terms"),
        F.expr(
            "sum(CASE WHEN touched THEN 1 ELSE 0 END) * 1000 div count(*)"
        ).alias("touched_permille"),
        F.count(F.lit(1)).alias("n_terms_merged"),
    )
    nb = base.agg(F.count(F.lit(1)).alias("n_terms_base"))
    nd = delta.agg(F.count(F.lit(1)).alias("n_terms_delta"))
    return (
        counts.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(mism))
        .select(
            F.col("n_terms_base").cast("bigint").alias("n_terms_base"),
            F.col("n_terms_delta").cast("bigint").alias("n_terms_delta"),
            F.col("n_new_terms").cast("bigint").alias("n_new_terms"),
            F.col("touched_permille")
            .cast("bigint")
            .alias("touched_permille"),
            F.col("n_terms_merged").cast("bigint").alias("n_terms_merged"),
            (F.col("n_mismatch") == 0).alias("conservation_ok"),
        )
    )


# --------------------------------------------------------------------------
# q180 — rendezvous (highest-random-weight) shard-map audit: every doc
# hashes one md5 weight per shard and lands on the argmax — the
# consistent-hashing scheme whose promise is that growing 8 -> 9 shards
# moves ONLY the keys the new shard wins (~1/9 of them), never a global
# reshuffle.  The audit measures both halves of that promise on the real
# corpus: load balance of the 8-shard map and the exact mover fraction
# under expansion, all md5-deterministic integers.  One scan, zero
# shuffles beyond a 9-row aggregate.
