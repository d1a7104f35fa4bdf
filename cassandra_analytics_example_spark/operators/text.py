"""Text-analysis operators over document corpora (SURVEY.md §7 M4):
language identification, quality scoring, token counting, fingerprinting.

All pure column algebra (JVM codegen; zero Python in the hot path) and all
ANSI-portable, so every operator is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.functions.text import (
    bpe_ish_tokens,
    distinct_tokens,
    normalized_text,
    rolling_hash,
    tokens,
    word_ngrams,
)
from cassandra_analytics_example_spark.session import spread

# Tiny stopword marker sets per language for the n-gram/stopword-voting
# heuristic. On a real corpus these would be the top-N function words per
# language; the shape of the operator (per-language token-overlap score →
# argmax) is what matters.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "de", "y", "que"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),
}


def lang_scores(text_col: str | Column = "text") -> list[Column]:
    """Per-language marker-overlap scores (count of marker tokens present)."""
    toks = distinct_tokens(text_col)
    return [
        F.size(
            F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))
        ).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]


def detect_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language-ID: argmax of marker scores, 'und' when all zero.

    Deterministic argmax: ties resolve by language code ascending."""
    scored = df.select("*", *lang_scores(text_col))
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("und")
    # reverse order so earlier languages win ties via later overwrite
    for l in reversed(langs):
        pred = F.when(
            (best > 0) & (F.col(f"score_{l}") == best), F.lit(l)
        ).otherwise(pred)
    return scored.withColumn("pred_lang", pred).drop(
        *[f"score_{l}" for l in langs]
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document quality features: length, token stats, punctuation/digit
    ratios, stopword share, mean word length — the standard pre-training
    quality-filter signals (C4/Gopher-style rules), as exact arithmetic.

    Adds: n_chars_calc, n_tokens, mean_tok_len, punct_ratio, digit_ratio,
    stop_ratio, quality_score (a fixed linear blend, deterministic)."""
    c = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.length(c).cast("double")
    n_toks = F.size(toks).cast("double")
    # character-class counts by strip-and-diff (identical across engines)
    n_punct = (n_chars - F.length(F.regexp_replace(c, "[^a-zA-Z0-9 ]", ""))).cast(
        "double"
    )
    n_digit = (n_chars - F.length(F.regexp_replace(c, "[0-9]", ""))).cast("double")
    stop = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    n_stop = F.size(
        F.filter(toks, lambda t: F.array_contains(stop, t))
    ).cast("double")
    mean_tok_len = (n_chars - (n_toks - 1)) / n_toks  # chars net of separators
    punct_ratio = n_punct / n_chars
    digit_ratio = n_digit / n_chars
    stop_ratio = n_stop / n_toks
    quality = (
        F.least(n_toks / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - punct_ratio) * 0.3
        + stop_ratio * 0.3
    )
    return df.select(
        "*",
        n_chars.alias("n_chars_calc"),
        n_toks.cast("bigint").alias("n_tokens"),
        mean_tok_len.alias("mean_tok_len"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality_score"),
    )


def token_stats(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Token-count accounting per document: whitespace tokens vs BPE-ish
    regex tokens (alnum runs + punctuation marks), plus chars-per-token —
    the signals a training-data pipeline uses for budget estimates and
    heuristic quality cuts. Pure column algebra."""
    c = F.col(text_col)
    n_ws = F.size(tokens(text_col)).cast("bigint")
    n_re = F.size(bpe_ish_tokens(text_col)).cast("bigint")
    return df.select(
        F.col(id_col),
        F.length(c).cast("bigint").alias("n_chars"),
        n_ws.alias("n_ws_tokens"),
        n_re.alias("n_re_tokens"),
        (F.length(c).cast("double") / n_re.cast("double")).alias("chars_per_tok"),
    )


def rolling_fingerprint(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    prefix_len: int | None = None,
) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint per document (polynomial fold
    over the character stream) — the cheap streaming-friendly fingerprint
    tier: O(len) integer ops, no crypto hash, same value computable
    incrementally by any scanner.

    ``prefix_len`` fingerprints only the leading chunk — boilerplate /
    shared-header detection (whole-document hashes only ever collide for
    byte-identical docs, which exact dedup already catches)."""
    c: Column = F.col(text_col)
    if prefix_len is not None:
        c = F.substring(c, 1, prefix_len)
    return df.select(F.col(id_col), rolling_hash(c).alias("rhash"))


#: PII patterns, ordered — emails first (so their digits can't later be
#: mistaken for phone fragments), then IPv4, then phone numbers. Every
#: pattern is RE2-safe (no backrefs/lookaround) so the same regex runs
#: identically under Spark's Java engine and DuckDB's RE2.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\+\d{1,3} \d{3}-\d{3}-\d{4}", "[PHONE]"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: tuple[tuple[str, str, str], ...] = PII_PATTERNS,
    out_col: str = "redacted",
) -> DataFrame:
    """Scrub PII spans from a text column: per-pattern match counts plus the
    redacted text with each span replaced by its placeholder token — the
    standard pre-training privacy pass.

    Pure projection (regexp_count + chained regexp_replace, all codegen):
    no shuffle, scales linearly, and the patterns are applied in declared
    order so overlapping classes resolve deterministically. Adds one
    ``n_<name>`` count column per pattern and ``out_col``.
    """
    c = F.col(text_col)
    counts = [
        F.regexp_count(c, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, pat, _ in patterns
    ]
    red = c
    for _, pat, repl in patterns:
        red = F.regexp_replace(red, pat, repl)
    return df.select("*", *counts, red.alias(out_col))


def _repetition_stat_batches(batches):
    """Per-document integer repetition stats for ``repetition_signals``,
    one Arrow batch at a time (module-level so executors import it
    instead of re-pickling a closure — guide §4.5 shape).

    Semantics replicate the Spark column algebra EXACTLY so the caller's
    double arithmetic is bit-identical: tokens = literal single-space
    split (``"".split(" ") == [""]`` matches ``F.split``), runs/best =
    distinct-count / max multiplicity (what the sorted run-length fold
    computed), 2-grams joined with one space, and a NULL text yields
    (NULL, NULL, NULL, 0, 0) — matching ``size(null)``/``aggregate(null)``
    NULL propagation and ``word_ngrams``' empty-array otherwise-branch."""
    import pyarrow as pa
    from collections import Counter

    for batch in batches:
        ids = batch.column(0)
        n_tokens, runs, best, ng, ndg = [], [], [], [], []
        for t in batch.column(1).to_pylist():
            if t is None:
                n_tokens.append(None)
                runs.append(None)
                best.append(None)
                ng.append(0)
                ndg.append(0)
                continue
            toks = t.split(" ")
            c = Counter(toks)
            n_tokens.append(len(toks))
            runs.append(len(c))
            best.append(max(c.values()))
            if len(toks) >= 2:
                grams = [
                    toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)
                ]
                ng.append(len(grams))
                ndg.append(len(set(grams)))
            else:
                ng.append(0)
                ndg.append(0)
        yield pa.RecordBatch.from_arrays(
            [
                ids,
                pa.array(n_tokens, pa.int64()),
                pa.array(runs, pa.int64()),
                pa.array(best, pa.int64()),
                pa.array(ng, pa.int64()),
                pa.array(ndg, pa.int64()),
            ],
            names=["__id", "n_tokens", "runs", "best", "ng", "ndg"],
        )


def repetition_signals(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals: duplicate-token
    fraction, top-token share, and duplicate word-2-gram fraction — the
    filters that catch boilerplate and degenerate generations.

    Every signal is PER-DOCUMENT, and a document's token count is bounded
    by its length — zero shuffles, never an explode + groupBy (which
    would shuffle the whole corpus twice on a key that only ever
    re-groups rows back to themselves).

    r15 (guide §4.2, the verdict-mandated Arrow experiment): the per-doc
    INTEGER stats now run in ``mapInArrow`` (only (id, text) crosses the
    boundary — explicit select before the opaque function keeps scan
    pruning) with ``collections.Counter`` doing the token counting in C;
    the previous interpreted-HOF run-length fold walked Catalyst's
    higher-order-function machinery per token. Only integers cross back,
    and the double ratios below are the UNCHANGED Spark expressions, so
    results are bit-identical — proven by the probe's full-row
    struct-packed comparison AND measured faster: 0.441 vs 0.655 s
    best-of-3 same-session at sf0.1 (1.49x, PROBE_R15_ARROW_Q57.json);
    in-suite 0.430 -> 0.344/0.375 across the two after-bench runs.
    """
    from pyspark.sql.types import StructField, StructType, LongType

    stats_schema = StructType(
        [
            StructField("__id", df.schema[id_col].dataType),
            *[
                StructField(c, LongType())
                for c in ("n_tokens", "runs", "best", "ng", "ndg")
            ],
        ]
    )
    base = (
        spread(df)
        .select(F.col(id_col), F.col(text_col))
        .mapInArrow(_repetition_stat_batches, stats_schema)
        .withColumnRenamed("__id", id_col)
    )
    nt = F.col("n_tokens").cast("double")
    return base.select(
        F.col(id_col),
        F.col("n_tokens"),
        (F.lit(1.0) - F.col("runs").cast("double") / nt).alias(
            "dup_token_ratio"
        ),
        (F.col("best").cast("double") / nt).alias("top_token_share"),
        F.when(
            F.col("ng") > 0,
            F.lit(1.0)
            - F.col("ndg").cast("double") / F.col("ng").cast("double"),
        ).alias("dup_2gram_ratio"),
    )


def tf_idf_top_terms(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf.

    Rarity is weighted as the exact rational ``N / df`` (corpus size over
    document frequency) instead of its logarithm: the ranking is identical
    (log is monotone) and single IEEE divisions are bit-reproducible
    across engines, so the scores stay oracle-checkable.

    Plan shape: ONE tokenize pass → (id, term) counts, then document
    length and document frequency attached as WINDOW sums over that same
    compact layer — a diamond of groupBy branches would recompute the
    corpus tokenization once per branch (Catalyst prunes each branch
    differently, so their exchanges are never byte-identical and
    ReusedExchange cannot fire). Windows keep a single lineage: the
    (id, term) layer shuffles on ``term`` then on ``id_col`` — the second
    partitioning is then REUSED by the top-k ranking window, so the whole
    operator is one tokenize + three exchanges of the compact count
    layer. The corpus-size scalar is a column-pruned count broadcast in as
    a literal row, never a driver-side collect.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    per_doc = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf_cnt"))
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    w_term = Window.partitionBy("term")
    w_doc = Window.partitionBy(id_col)
    scored = (
        per_doc.withColumn("__df", F.count(F.lit(1)).over(w_term))
        .withColumn("__len", F.sum("tf_cnt").over(w_doc))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            F.col("term"),
            (
                (F.col("tf_cnt").cast("double") / F.col("__len").cast("double"))
                * (F.col("__n").cast("double") / F.col("__df").cast("double"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Canonical-form document fingerprint: md5 over the normalized text
    (lowercase, alnum+space only, collapsed whitespace) — robust to
    case/punctuation edits, the cheap tier of near-dup detection."""
    return df.select(
        F.col(id_col), F.md5(normalized_text(text_col)).alias("fingerprint")
    )


def unigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str = "text", quantum: int = 10_000
) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    cheap tier of LM-based quality filtering (documents whose tokens are
    collectively improbable under the corpus's own unigram distribution
    are boilerplate, lists, or noise).

    Determinism: floating-point sums are order-dependent, and a grouped
    aggregation never guarantees an order — so each token's
    ``ln(count/total)`` is quantized ONCE to an integer number of
    ``1/quantum`` nats, and per-document totals are INTEGER sums of those
    — exact under any aggregation order, in any engine. The score surfaces
    as ``(score_qnats, n_tokens)`` — the caller divides for an average;
    emitting the ratio would reintroduce a float.

    Plan: one explode→(doc, term) count shuffle; the vocabulary (term →
    quantized logp) is a second small aggregate of that same layer,
    broadcast back; final per-doc integer sum re-groups on the uniform doc
    id. Vocabulary size tracks distinct terms, not corpus size. (r14
    measured and REJECTED a spread() on the input here: the whitespace
    explode is cheap enough that the re-widening shuffle cost 1.6x the
    single-split serialization it saved — isolated-anchor ctrl 1.61 with
    it, sub-1.0 without; PROBE_R14_TEXT_SCORERS.json.)
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    per_doc = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    from cassandra_analytics_example_spark.session import pin_small

    vocab = pin_small(per_doc.groupBy("term").agg(F.sum("tf").alias("cnt")))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored_vocab = vocab.crossJoin(F.broadcast(total)).select(
        "term",
        F.floor(
            F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
            * quantum
        )
        .cast("bigint")
        .alias("logp_q"),
    )
    return (
        per_doc.join(F.broadcast(scored_vocab), "term")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("tf") * F.col("logp_q")).cast("bigint").alias("score_qnats"),
            F.sum("tf").cast("bigint").alias("n_tokens"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    bucket_bounds: tuple[int, ...] = (100, 1000),
) -> DataFrame:
    """Tokenizer-vocabulary sizing report: rank terms by global frequency
    (count desc, term asc — a total order) and report, per rank bucket
    (top-100, 101-1000, rest), the term count, summed frequency and
    corpus coverage ratio. This is the measurement behind "how big must
    the vocab be": coverage(top-V) is the fraction of tokens a V-entry
    vocabulary explains.

    Scale: the corpus collapses to term counts first (one explode +
    count shuffle, output tracks VOCABULARY size); the global rank
    window then runs over that small layer — ordering a vocabulary,
    never a corpus. Coverage ratios are single divisions of exact
    integer sums (engine-identical)."""
    counts = (
        df.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("term").asc())
    ranked = counts.withColumn("rnk", F.row_number().over(w))
    bucket = F.when(F.col("rnk") <= bucket_bounds[0], F.lit("top_100"))
    bucket = bucket.when(
        F.col("rnk") <= bucket_bounds[1], F.lit("top_101_1000")
    ).otherwise(F.lit("rest"))
    total = counts.agg(F.sum("cnt").cast("bigint").alias("total"))
    return (
        ranked.select(bucket.alias("bucket"), "cnt")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("cnt").cast("bigint").alias("sum_freq"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "n_terms",
            "sum_freq",
            (F.col("sum_freq").cast("double") / F.col("total").cast("double")).alias(
                "coverage"
            ),
        )
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    quantum: int = 10_000,
) -> DataFrame:
    """BM25 relevance of every document against a fixed term set — the
    sparse-retrieval baseline next to the dense ANN family.

    Per-(doc, term) contributions are quantized to integer 1e-4 units
    BEFORE the per-doc sum (the q67 discipline), so the reduction is
    order-independent and engine-exact; only ln/division ulps remain,
    below the quantum.

    Plan (r14 rewrite — guide §2.3/§2.4, measured in
    PROBE_R14_TEXT_SCORERS.json): for a FIXED k-term query set, per-doc
    term frequencies are ROW-LOCAL column algebra —
    ``size(filter(tokens, t))`` per term — so the corpus never explodes
    and never shuffles at all. One tokenize pass builds the per-doc stat
    frame (``dl`` + k tf counts, (k+1) ints per doc — pinned, strictly
    smaller than the (doc, term) tf layer the previous plan cached); ONE
    tiny aggregate over it yields n_docs / total_tokens / per-term df
    (each term's df is a conditional sum — no per-term join); the score
    is then a broadcast-crossJoin projection over the same pinned frame.
    The previous plan's explode → (doc, term) groupBy + two joins cost
    41 s of executor time at sf0.1 (its three consumers raced the cached
    tf layer's materialization); this shape is the first-principles
    floor: one corpus pass, zero corpus-sized exchanges. Arithmetic is
    expression-for-expression identical, so results hash-match the old
    plan and the DuckDB oracle."""
    from cassandra_analytics_example_spark.session import pin_small, spread

    # r15 ADVICE fixes, restoring the exact pre-r14 (exploded-plan)
    # semantics on edge inputs:
    # * duplicate query_terms are silently DEDUPLICATED (the old
    #   array_contains plan counted each distinct term once; r14's
    #   ValueError was a breaking change),
    # * an empty term set is a clear error instead of a plan-build crash,
    # * null-text documents are EXCLUDED from n_docs/total_tokens (the
    #   old explode plan dropped them; without the filter, under ANSI
    #   their dl is NULL, so sum(dl) skips them but count() still counts
    #   them: n_docs is inflated, which shrinks avgdl and shifts IDF).
    query_terms = list(dict.fromkeys(query_terms))
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    tf_cols = [f"__tf_{i}" for i in range(len(query_terms))]
    tok = (
        spread(df)
        .where(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens(text_col).alias("__tok"))
    )
    per_doc = tok.select(
        F.col(id_col),
        F.size("__tok").cast("bigint").alias("dl"),
        *[
            F.size(F.filter("__tok", lambda x: x == F.lit(t)))
            .cast("bigint")
            .alias(c)
            for t, c in zip(query_terms, tf_cols)
        ],
    )
    per_doc = pin_small(per_doc)
    totals = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
        *[
            F.sum((F.col(c) > 0).cast("int")).cast("bigint").alias(f"__df_{i}")
            for i, c in enumerate(tf_cols)
        ],
    )

    def contrib(tf_col: str, df_col: str):
        # verbatim the pre-r14 per-(doc, term) expression — operand order
        # and associativity preserved so the floored doubles are
        # bit-identical to the joined plan and the oracle
        return F.floor(
            F.log(
                (
                    F.col("n_docs").cast("double")
                    - F.col(df_col).cast("double")
                    + F.lit(0.5)
                )
                / (F.col(df_col).cast("double") + F.lit(0.5))
                + F.lit(1.0)
            )
            * (F.col(tf_col).cast("double") * F.lit(k1 + 1.0))
            / (
                F.col(tf_col).cast("double")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b)
                    * F.col("dl").cast("double")
                    / (
                        F.col("total_tokens").cast("double")
                        / F.col("n_docs").cast("double")
                    )
                )
            )
            * F.lit(quantum)
        ).cast("bigint")

    score = None
    hits = None
    for i, c in enumerate(tf_cols):
        term_q = F.when(F.col(c) > 0, contrib(c, f"__df_{i}")).otherwise(
            F.lit(0).cast("bigint")
        )
        hit = (F.col(c) > 0).cast("bigint")
        score = term_q if score is None else score + term_q
        hits = hit if hits is None else hits + hit
    return (
        per_doc.crossJoin(F.broadcast(totals))
        .select(
            F.col(id_col),
            score.cast("bigint").alias("score_q"),
            hits.cast("bigint").alias("n_hit_terms"),
        )
        .where(F.col("n_hit_terms") > 0)
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 20,
) -> DataFrame:
    """First BPE merge iteration: corpus-wide adjacent-symbol pair counts
    over character-level word symbolizations, top-``top_n`` merge candidates.

    The classic tokenizer-training trick makes this scale: pair counting
    runs over the DISTINCT word vocabulary weighted by word frequency, not
    over corpus tokens — the word-count groupBy partially aggregates
    map-side so the first shuffle carries |vocab| rows, and the pair
    explosion (chars-1 per word) multiplies vocabulary size, not corpus
    size. At 100 TB of text the vocabulary is millions of rows; both
    shuffles stay tiny relative to the scan. The final top-N is a
    TakeOrdered (per-partition top-N then driver merge of N·partitions
    rows), never a global sort.

    Returns (left_sym, right_sym, pair_count, rnk) with a total order
    (count desc, then symbols asc) so the cut at ``top_n`` is deterministic.
    """
    word = F.explode(bpe_ish_tokens(text_col)).alias("word")
    vocab = (
        spread(df)
        .select(word)
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wfreq"))
    )
    pair = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("word") - 1),
            lambda i: F.struct(
                F.col("word").substr(i, F.lit(1)).alias("left_sym"),
                F.col("word").substr(i + 1, F.lit(1)).alias("right_sym"),
            ),
        )
    ).alias("p")
    agg = (
        vocab.select("wfreq", pair)
        .groupBy(F.col("p.left_sym").alias("left_sym"),
                 F.col("p.right_sym").alias("right_sym"))
        .agg(F.sum("wfreq").cast("bigint").alias("pair_count"))
    )
    order = [F.col("pair_count").desc(), F.col("left_sym").asc(),
             F.col("right_sym").asc()]
    top = agg.orderBy(*order).limit(top_n)
    # rnk window runs on <= top_n rows (post-limit) — single partition by
    # construction and deliberately so; it never sees unbounded data.
    return top.withColumn("rnk", F.row_number().over(Window.orderBy(*order)))


def boilerplate_gram_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    ngram_n: int = 3,
    df_per_100: int = 1,
    min_df: int = 2,
) -> DataFrame:
    """Boilerplate detection: flag word n-grams whose DOCUMENT frequency
    reaches ``df_per_100`` percent of the corpus (floor ``min_df``), then
    score every document by how much of it is made of those grams — the
    headers/footers/template-chrome signal used to gate web-scraped
    training data.

    The boilerplate gram set is broadcast-safe BY CONSTRUCTION, not by
    luck: a gram needs df ≥ f·N docs to qualify, and total distinct-gram
    incidence is ≈ g·N (g = mean distinct grams/doc), so at most g/f grams
    can qualify — a bound independent of corpus size (g≈150, f=0.01 →
    ≤15k grams at ANY scale). The per-doc membership probe is therefore a
    broadcast LEFT SEMI join: the corpus tokenization never shuffles. The
    document-frequency count partially aggregates map-side; the corpus
    scalar (n_docs) is a one-row crossJoin.

    Returns (id, n_grams, n_boiler, boiler_frac) with an ANSI-safe zero
    guard for gram-less documents.
    """
    from cassandra_analytics_example_spark.session import pin_small

    toks = pin_small(
        spread(df).select(
            F.col(id_col),
            F.array_distinct(word_ngrams(text_col, ngram_n)).alias("toks"),
        )
    )
    tok = toks.select(F.col(id_col), F.explode("toks").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("dfc"))
    ndocs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    boiler = (
        dfreq.crossJoin(F.broadcast(ndocs))
        .filter(
            F.col("dfc")
            >= F.greatest(
                F.lit(min_df),
                F.expr(f"(n_docs * {df_per_100} + 99) div 100"),
            )
        )
        .select("tok")
    )
    n_boiler = (
        tok.join(F.broadcast(boiler), "tok", "leftsemi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    base = toks.select(F.col(id_col), F.size("toks").cast("bigint").alias("n_grams"))
    return (
        base.join(n_boiler, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_grams"),
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("bigint").alias("n_boiler"),
            F.when(
                F.col("n_grams") > 0,
                F.coalesce(F.col("n_boiler"), F.lit(0)).cast("double")
                / F.col("n_grams"),
            )
            .otherwise(F.lit(0.0))
            .alias("boiler_frac"),
        )
    )


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    quantum: int = 10_000,
    alpha_num: int = 2,
    alpha_den: int = 5,
) -> DataFrame:
    """Bigram language-model score per document with stupid backoff — the
    middle tier of LM-based quality filtering (CCNet-style): documents
    whose token SEQUENCES are improbable under a held-in training split
    score low even when their unigrams look normal.

    The model trains on the even-``id_col`` half of the corpus (hash-split
    discipline) and scores EVERY document, so held-out documents exercise
    the backoff path with genuinely unseen bigrams:

    * seen bigram:   ``ln(c(w1 w2) / c(w1))``
    * unseen bigram: ``ln(alpha * max(c(w2), 1) / N)`` with
      ``alpha = alpha_num/alpha_den`` (stupid backoff to the unigram
      distribution; OOV continuation words count as 1)

    Determinism (same convention as :func:`unigram_logprob_scores`): each
    conditional log-prob is quantized ONCE to integer ``1/quantum`` nats
    via floor, per-document totals are INTEGER sums — exact under any
    aggregation order and engine-portable. Output ``(score_qnats,
    n_bigrams)``; short documents (< 2 tokens) surface with zeros.

    Plan: one (doc, bigram) count shuffle over the corpus; the bigram and
    unigram vocabularies are vocab-sized aggregates of the TRAIN half,
    pinned and broadcast back; the final integer sum re-groups on the
    uniform doc id. Nothing corpus-sized is ever broadcast or buffered.
    r14 (guide §1.2/§2.4, PROBE_R14_TEXT_SCORERS.json): the input is
    spread() so a single-split scan cannot serialize the ngram explode
    (three 1-task stages measured at sf0.1), and the unigram layer
    aggregates the PINNED bigram vocabulary instead of re-folding the
    train half of the corpus — sum(bf) grouped by w1 over (doc, bg) rows
    equals sum(cbg) grouped by w1 over the bg vocabulary (integer sums,
    associative regroup), so one full corpus tokenize+shuffle disappears
    with bit-identical results.
    """
    from cassandra_analytics_example_spark.session import pin_small, spread

    bigrams = spread(df).select(
        F.col(id_col), F.explode(word_ngrams(text_col, 2)).alias("bg")
    )
    per_doc = bigrams.groupBy(id_col, "bg").agg(
        F.count(F.lit(1)).alias("bf")
    )
    train = per_doc.where(F.col(id_col) % 2 == 0)
    bg_vocab = pin_small(
        train.groupBy("bg").agg(F.sum("bf").cast("bigint").alias("cbg"))
    )
    # unigram layer derives from the PINNED bigram vocabulary (each bigram
    # contributes its LEFT word, so c(w1) counts w1 in non-final position —
    # exactly the denominator the conditional needs); regrouping cbg is
    # integer-exact and saves re-folding the train corpus
    uni = pin_small(
        bg_vocab.select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w"),
            "cbg",
        )
        .groupBy("w")
        .agg(F.sum("cbg").cast("bigint").alias("cu"))
    )
    total = uni.agg(F.sum("cu").alias("n_total"))
    scored = (
        per_doc.withColumn(
            "w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
        )
        .withColumn("w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(bg_vocab), "bg", "left")
        .join(
            F.broadcast(uni.withColumnRenamed("w", "w1")).withColumnRenamed(
                "cu", "c1"
            ),
            "w1",
            "left",
        )
        .join(
            F.broadcast(uni.withColumnRenamed("w", "w2")).withColumnRenamed(
                "cu", "c2"
            ),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            "bf",
            F.floor(
                F.when(
                    F.col("cbg").isNotNull(),
                    F.log(
                        F.col("cbg").cast("double")
                        / F.col("c1").cast("double")
                    ),
                ).otherwise(
                    F.log(
                        (
                            F.lit(alpha_num).cast("double")
                            * F.greatest(
                                F.coalesce(F.col("c2"), F.lit(0)), F.lit(1)
                            ).cast("double")
                        )
                        / (
                            F.lit(alpha_den).cast("double")
                            * F.col("n_total").cast("double")
                        )
                    )
                )
                * quantum
            )
            .cast("bigint")
            .alias("logp_q"),
        )
    )
    sums = scored.groupBy(id_col).agg(
        F.sum(F.col("bf") * F.col("logp_q")).cast("bigint").alias(
            "score_qnats"
        ),
        F.sum("bf").cast("bigint").alias("n_bigrams"),
    )
    return (
        df.select(id_col)
        .join(sums, id_col, "left")
        .select(
            id_col,
            F.coalesce("score_qnats", F.lit(0)).cast("bigint").alias(
                "score_qnats"
            ),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias(
                "n_bigrams"
            ),
        )
    )


def duplicated_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    min_docs: int = 2,
    dup_detection: str = "join",
) -> DataFrame:
    """Exact duplicated-substring audit (the substring-dedup pass of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): every length-``k`` character window that occurs in at least
    ``min_docs`` distinct documents is a duplicated window; overlapping /
    adjacent duplicated windows within a document merge into SPANS
    (gaps-and-islands), and each document reports its duplicated-character
    budget.

    Output: one row per input document — ``n_dup_windows``, ``n_spans``,
    ``dup_chars`` (characters covered by merged spans) and ``dup_permille``
    (exact integer ``dup_chars * 1000 div n_chars``); zero-filled for clean
    documents so the audit is total.

    Scale: windows explode to O(total_chars) rows but stay JVM-side
    (sequence/explode/substring codegen, no Python); duplicate detection
    is ONE hash-keyed group-aggregate that carries the (doc, pos) pairs
    through the shuffle and filters buckets by distinct-doc count — the
    ``lsh_candidate_pairs`` single-lineage discipline.  The earlier
    groupBy + join-back form computed and shuffled the window table
    TWICE (the two consumers' plans diverge after pruning, so
    ReusedExchange never fires; caching is not an option — the window
    table is ~50x the corpus bytes): measured 2.2x slower at sf0.1.  The
    span merge is one doc-keyed window — no all-pairs comparison
    anywhere.

    ``dup_detection`` picks the memory/throughput trade (round-9 review;
    default flipped to the robust form in round 10 per ADVICE):
    ``"aggregate"`` buffers one window hash's (doc, pos) pairs in its
    aggregation buffer — ~2.2x faster (single lineage, one shuffle), but
    a DEGENERATE window shared verbatim across millions of docs (license
    headers, HTML scaffold) makes that one buffer corpus-sized and can
    OOM a reducer, and nothing upstream can know the multiplicity without
    computing it.  The default ``"join"`` is the streamed form:
    countDistinct + join-back on the hash key never buffers a bucket
    (the hot key's rows stream through one reducer instead), at the cost
    of computing and shuffling the window table twice.  Results are
    identical.  Opt into ``"aggregate"`` only when boilerplate
    multiplicity is known-bounded — e.g. after stripping boilerplate
    (q120), or on a corpus whose dup structure is already audited (the
    registered q142 does, with the rationale at its call site).
    """
    if dup_detection not in ("aggregate", "join"):
        raise ValueError(f"unknown dup_detection: {dup_detection!r}")
    ln = F.length(F.col(text_col))
    # The window explosion multiplies rows ~len(text)-fold and runs an md5
    # per window: spread the (small) doc table first so that map work is
    # parallel even when the input arrives as a single parquet split — at
    # real scale spread() is a no-op and file splits provide parallelism.
    win = (
        spread(df.where(ln >= k))
        .select(
            F.col(id_col),
            F.col(text_col),
            F.explode(
                F.sequence(F.lit(1), ln - F.lit(k - 1))
            ).alias("i"),
        )
        .select(
            id_col,
            F.col("i").cast("int").alias("i"),
            F.md5(F.expr(f"substring({text_col}, i, {k})")).alias("h"),
        )
    )
    if dup_detection == "aggregate":
        # one shuffle on the window hash: positions ride the aggregate,
        # the distinct-doc filter runs JVM-side on the collected list (no
        # second lineage, no join back, no Expand from a mixed
        # countDistinct)
        dwin = (
            win.groupBy("h")
            .agg(
                F.collect_list(F.struct(F.col(id_col), F.col("i"))).alias(
                    "ps"
                )
            )
            .where(
                F.size(
                    F.expr(f"array_distinct(transform(ps, p -> p.{id_col}))")
                )
                >= min_docs
            )
            .select(F.explode("ps").alias("p"))
            .select(
                F.col(f"p.{id_col}").alias(id_col), F.col("p.i").alias("i")
            )
        )
    else:
        # streamed form: no per-bucket buffering (degenerate-boilerplate
        # safe), at the cost of a second window-table lineage
        dup = (
            win.groupBy("h")
            .agg(F.countDistinct(id_col).alias("nd"))
            .where(F.col("nd") >= min_docs)
            .select("h")
        )
        dwin = win.join(dup, "h").select(id_col, "i")
    w = Window.partitionBy(id_col).orderBy("i")
    marked = dwin.withColumn(
        "new_span",
        F.when(
            F.lag("i").over(w).isNull()
            | (F.col("i") - F.lag("i").over(w) > k),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = marked.withColumn(
        "island",
        F.sum("new_span").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = islands.groupBy(id_col, "island").agg(
        F.min("i").alias("s"),
        F.max("i").alias("e"),
        F.count(F.lit(1)).alias("nw"),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("nw").cast("bigint").alias("n_dup_windows"),
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("e") + F.lit(k) - F.col("s")).cast("bigint").alias(
            "dup_chars"
        ),
    )
    return (
        df.select(id_col, F.length(text_col).cast("bigint").alias("n_chars"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_chars",
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias(
                "n_dup_windows"
            ),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias(
                "dup_chars"
            ),
            F.expr("coalesce(dup_chars, 0) * 1000 div n_chars")
            .cast("bigint")
            .alias("dup_permille"),
        )
    )
