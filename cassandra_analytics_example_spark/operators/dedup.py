"""Deduplication operators over document corpora — the LLM-training-data
surface (SURVEY.md §7 M4): exact, MinHash+LSH, SimHash, token-Jaccard,
embedding-cosine near-dup.

Scale discipline: every operator is candidate-generation + verification.
Candidate generation is a hash/bucket equi-join (shuffle on the bucket key,
never all-pairs); verification runs only within buckets. Hashing is md5-based
so signatures are engine-portable and reproducible across runs/clusters
(murmur/xxhash seeds differ between engines).

Capped-path contract (applies to EVERY generator with a ``max_*_size``
valve + ``on_saturation="error"`` — ``lsh_candidate_pairs`` /
``minhash_lsh_dedup``, ``token_jaccard_pairs``, ``token_containment_pairs``,
``edit_distance_neardup``, ``overlap_join``; r11 ADVICE):

* **Cache lifetime**: the zero-recall guard persists the bucket-size
  frame (MEMORY_AND_DISK) so the guard check and the result share one
  bucket computation instead of running the signature pipeline twice
  (measured: persist 1.065x vs silent 1.0x vs re-derive 1.24x,
  SCALE_PROBE_r11). The frame is collision-groups-only (bucket-count
  rows), but it stays cached for the SESSION: a long-lived multi-tenant
  session accumulates one entry per capped call until
  ``spark.catalog.clearCache()`` or session end. The persist fires when
  the guarded frame is BUILT, even if it is never acted on. Deliberate
  trade: an unpersist-after-action hook would need an eager terminal,
  which candidate generators deliberately are not.

  A ``guard_persist=False`` caller flag (r12 verdict nit, deferred in
  r13 on void-budget arithmetic) LANDED in round 14: every capped
  generator takes ``guard_persist: bool = True`` and passes it to
  ``_guarded_union`` as ``persist`` — ``False`` skips the
  session-lifetime bucket-frame persist entirely (zero cache footprint;
  the audit aggregate recomputes its lineage instead, the measured
  ~1.24x trade from SCALE_PROBE_r11 accepted knowingly by the caller).
  Default ``True`` keeps the r11-measured cached sharing and the
  registered queries' behavior byte-identical.

  The r14 AQE-coalesce fix for q21 (PRE-VALIDATED zero-void via
  call-time patching; the probe's results are ``PROBE_R14_Q21.json``)
  also LANDED in round 14: ``spread()`` on the
  candidate frame at the END of ``lsh_candidate_pairs``. The probe
  REVISED the plan recorded in ``SCALE_PROBE_r13.json``: the
  width-pinned bucket exchange inside ``_lsh_buckets`` is measured
  unnecessary (wall gain 0.89-1.10x — the bucket explode is byte-light
  AND compute-light; full-value-identical results), while ``spread()``
  on the CANDIDATE frame before the size-prefilter/verification joins
  is the whole fix: 7.05->2.50 s on the raw sf0.1 bench fixture (2.8x),
  24.7->4.0 s at x3 (6.2x), 17.6->7.9 s at x10 (2.2x),
  full-value-identical at every scale, and the x3>x10 wall inversion
  gone (2.5/4.0/7.9 s is monotone ~linear). The compute-dense stage AQE
  was serializing is the shingle ``array_intersect`` verification
  downstream of the candidate ``distinct()`` — NOT the in-bucket pair
  explode. The direct caller ``q137_minhash_calibration`` pays the same
  tax through its own verification join (measured 5.28->2.41 s, 2.19x),
  which the pairs-level placement fixes at once.
* **Nullability widening**: the guarded result unions a zero-row branch
  whose columns are runtime-derived NULLs (``_nonfoldable_null``), so
  every output column's schema becomes nullable even though no NULL row
  can ever survive. Consumers writing to schemas with required fields
  must re-assert non-nullability; uncapped (``max_*_size=None``) and
  ``on_saturation="ignore"`` results keep the source nullability.
"""

from __future__ import annotations

import itertools
import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.storagelevel import StorageLevel
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.functions.text import (
    distinct_tokens,
    md5_u60,
    normalized_text,
    shingles,
    tokens,
    word_ngrams,
)
from cassandra_analytics_example_spark.session import passing, spread

#: Mersenne prime 2^31 - 1: universal-hash modulus. With h < p and a < p the
#: product a*h < 2^62 stays inside signed-64 range in every engine.
MINHASH_P = (1 << 31) - 1


def minhash_seeds(n: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficient pairs for the universal-hash
    family h_i(x) = (a_i * x + b_i) mod MINHASH_P. Fixed seed so signatures
    are reproducible across runs/clusters and in the DuckDB oracle twin."""
    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(n)
    ]


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, normalize: bool = False
) -> DataFrame:
    """Exact dedup by content hash: one survivor (min id) per md5(text).

    Adds ``content_hash``; keeps first-by-id. Hash-groupBy = single shuffle
    on the 128-bit hash — uniform keys, no skew, the canonical 100 TB-safe
    exact dedup. ``normalize=True`` fingerprints the canonical text form
    instead (case/punctuation-insensitive dedup)."""
    text = normalized_text(text_col) if normalize else F.col(text_col)
    hashed = df.withColumn("content_hash", F.md5(text))
    w = Window.partitionBy("content_hash").orderBy(F.col(id_col))
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_against(
    df: DataFrame,
    seen: DataFrame,
    id_col: str,
    text_col: str = "text",
    seen_hash_col: str = "content_hash",
    normalize: bool = False,
) -> DataFrame:
    """Incremental exact dedup: drop rows of ``df`` whose content hash
    already appears in ``seen`` (a prior corpus's hash inventory) — the
    batch-over-batch dedup step of a continuously-ingesting pipeline.

    LEFT ANTI join on the md5 hash: one shuffle on the uniform 128-bit
    key (or none on the new-batch side when ``seen`` is small enough for
    AQE to broadcast it — the common case, since the inventory is hashes
    only, 32 bytes/doc, not documents). Composes with ``exact_dedup``:
    dedup the new batch internally first, then against the inventory, and
    append the survivors' hashes to ``seen`` for the next batch.
    """
    text = normalized_text(text_col) if normalize else F.col(text_col)
    hashed = df.withColumn("content_hash", F.md5(text))
    inventory = seen.select(F.col(seen_hash_col).alias("content_hash"))
    return hashed.join(inventory, "content_hash", "left_anti")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash signatures over character-k-gram shingle sets.

    Each shingle is md5-hashed ONCE (the expensive step), reduced mod
    MINHASH_P, and materialized as an array in its own projection; the
    ``num_hashes`` signature components are then derived from that array by
    the cheap universal-hash family h_i(x) = (a_i*x + b_i) mod p — 16 passes
    of bigint arithmetic instead of 16 md5 evaluations per shingle. No
    explode, no shuffle. (The separate projection matters: CollapseProject
    won't inline a non-cheap alias referenced num_hashes times, so the md5
    pass runs once.) Returns (id, sig array<bigint>).
    """
    # Distinct the shingle set BEFORE hashing: min() ignores duplicates, so
    # the signature is unchanged, but on templated/repetitive text the
    # distinct array is far shorter than the raw one — one md5 per UNIQUE
    # shingle, and the 16 universal-hash passes below scan the short array.
    sh_df = spread(df).select(
        F.col(id_col),
        F.array_distinct(shingles(text_col, shingle_k)).alias("__sh"),
    )
    return signatures_from_shingles(sh_df, id_col, "__sh", num_hashes)


def signatures_from_shingles(
    sh_df: DataFrame,
    id_col: str,
    sh_col: str = "__sh",
    num_hashes: int = 16,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """MinHash signatures from a PRECOMPUTED distinct-shingle array column —
    lets a pipeline that also needs the raw shingle sets (exact-Jaccard
    verification) materialize them once and derive both from it.

    ``keep`` names extra ``sh_df`` columns carried through to the output
    (r15): a caller that persists ONE frame holding (id, shingles, sig)
    pays the expensive array-column cache decode only where a consumer
    actually reads the array — measured at sf0.1, decoding an
    array<string> column back OUT of Spark's columnar cache costs ~70% of
    recomputing it from the scan, so every avoided decode (and every
    consumer that can column-prune down to the int columns) is real wall
    time. See q137/q21 in OPTIMIZATION_r15.md."""
    hashed = sh_df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.transform(F.col(sh_col), lambda s: md5_u60(s) % MINHASH_P).alias(
            "__hv"
        ),
    )

    ab = minhash_seeds(num_hashes)

    def component(i: int):
        a, b = ab[i]
        return F.array_min(
            F.transform(F.col("__hv"), lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P)
        ).alias(f"h{i}")

    components = [component(i) for i in range(num_hashes)]
    return hashed.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.array(*components).alias("sig"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    on_saturation: str = "error",
    guard_persist: bool = True,
) -> DataFrame:
    """LSH banding: split each signature into bands, hash each band, group
    ids by (band_index, band_hash) bucket, and emit all in-bucket pairs.

    Documents agreeing on *any* full band collide. Grouping instead of a
    banded self-join keeps ONE signature lineage (a self-join computes the
    expensive signature pipeline once per side unless AQE happens to reuse
    the exchange) and exactly one shuffle on the bucket key. In-bucket pair
    expansion is quadratic in bucket size, so a single degenerate bucket
    (templated boilerplate agreeing on a band across millions of docs) is a
    straggler/OOM at corpus scale: ``max_bucket_size`` drops buckets above
    the bound — recall on *those* pairs is sacrificed explicitly, and
    ``lsh_bucket_stats`` reports exactly which buckets were dropped (run
    ``exact_dedup`` first so byte-identical documents don't inflate buckets
    to begin with; ``minhash_lsh_dedup`` does). A capped run whose valve
    drops EVERY collision bucket raises ``BlockingSaturationError`` at
    action time instead of silently emitting nothing — the same
    zero-recall cliff the r9 SimHash probe exposed applies here
    (``on_saturation="ignore"`` restores the audited silent-empty path;
    see ``_guarded_union``). Returns distinct (id_a, id_b).
    """
    if on_saturation not in ("error", "ignore"):
        raise ValueError(f"on_saturation must be error|ignore, got {on_saturation!r}")
    buckets = _lsh_buckets(signatures, id_col, num_bands, rows_per_band)
    capped = buckets
    if max_bucket_size is not None:
        capped = buckets.filter(F.size("ids") <= max_bucket_size)
    out = (
        capped.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    # spread() the candidate frame (r13 triage / PROBE_R14_Q21.json): AQE's
    # BYTE-based partition coalescing shrinks the candidate exchange to 2-5
    # tasks (collision pairs are byte-light), and every caller's
    # compute-dense verification join (shingle array_intersect, signature
    # zip_with) then rides that serialized read while the rest of the
    # cluster idles — measured 2.46x wall tax on q21 at sf0.1, 4.5x at x3,
    # and the same byte heuristic serializes identically at 1000 executors.
    # An explicit repartition is exempt from coalescing; placed HERE (not in
    # _lsh_buckets — the bucket explode is byte- AND compute-light, width-pin
    # there measured 0.89-1.10x) it re-widens verification for every caller:
    # q21 7.05->2.50 s, q137 5.28->2.41 s, full-value-identical at
    # x1/x3/x10/x30 and monotone in scale. At 100 TB spread() is a no-op
    # (size-estimate gate) — candidates already span >= width full splits.
    if max_bucket_size is None or on_saturation == "ignore":
        return spread(out)
    return spread(
        _guarded_union(
            out,
            buckets,
            "ids",
            max_bucket_size,
            "BlockingSaturationError",
            "MinHash band ",
            "Raise max_bucket_size, run exact_dedup first (byte-identical "
            "docs inflate band buckets), or widen num_bands*rows_per_band; "
            "audit via lsh_bucket_stats.",
            persist=guard_persist,
        )
    )


def _lsh_buckets(
    signatures: DataFrame, id_col: str, num_bands: int, rows_per_band: int
) -> DataFrame:
    """(band, bhash, ids) collision buckets with >1 member."""
    bands = []
    for b in range(num_bands):
        lo = b * rows_per_band + 1  # slice() is 1-based
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(",", *[
                        F.element_at("sig", lo + r).cast("string")
                        for r in range(rows_per_band)
                    ])
                ).alias("bhash"),
            )
        )
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "b.band", "b.bhash")
    return (
        banded.groupBy("band", "bhash")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def lsh_bucket_stats(
    signatures: DataFrame,
    id_col: str,
    num_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Accounting twin of ``lsh_candidate_pairs``: one row per collision
    bucket with its size and whether the cap would drop it. Distributed
    aggregate (no collect) — at scale, write it next to the dedup output so
    dropped-recall is auditable instead of silent."""
    buckets = _lsh_buckets(signatures, id_col, num_bands, rows_per_band)
    dropped = (
        F.lit(False)
        if max_bucket_size is None
        else F.size("ids") > max_bucket_size
    )
    return buckets.select(
        "band",
        "bhash",
        F.size("ids").alias("n_ids"),
        F.expr("(cast(size(ids) as bigint) * (size(ids) - 1)) div 2")
        .alias("n_pairs"),
        dropped.alias("dropped"),
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 5,
    num_bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
    on_saturation: str = "error",
    guard_persist: bool = True,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: exact-dedup pre-pass → signatures
    → banded candidates (bucket-capped) → exact Jaccard verification on
    shingle sets → pairs ≥ threshold.

    The pre-pass keeps one representative (min id) per byte-identical text,
    so duplicate clusters — the dominant bucket inflator on real corpora —
    never reach LSH: a cluster of 1M identical docs is one bucket member,
    not 10^12 candidate pairs. ``max_bucket_size`` then bounds the residual
    near-dup buckets (templated boilerplate); audit drops with
    ``lsh_bucket_stats``. Returns (id_a, id_b, jaccard) over the
    representatives. Verification joins shingle sets only for candidate
    pairs, so cost is proportional to collisions, not N².

    Saturation guard (r10 ADVICE, high): the candidate-frame guard used
    to be silently deleted by Catalyst — the downstream inner joins on
    id_a/id_b inferred ``IsNotNull``, pushed it through the union into
    the guard branch, and constant-folded its foldable ``lit(NULL)``
    columns to an empty relation, raise_error included (empirically
    confirmed on Spark 4.1.2). Fixed at the ROOT in ``_guarded_union``:
    branch columns are now non-foldable NULLs (``_nonfoldable_null``),
    so the pushed predicate stays a runtime filter and the guard
    survives this pipeline's own joins and any downstream consumer. The
    guard therefore stays INSIDE ``lsh_candidate_pairs`` where its audit
    aggregate shares the band-bucket exchange with the pair expansion
    (ReuseExchange, ~1.05x measured) — an end-of-pipeline re-derivation
    was tried and rejected: its bucket lineage no longer canonically
    matches the candidate side's inside the full joined plan, so the
    signature pipeline ran TWICE (1.24x, SCALE_PROBE_r11.json).
    ``tests/test_r11_guard_hardening.py`` pins the raise through this
    full pipeline and raise_error's survival in the optimized plan."""
    rows_per_band = num_hashes // num_bands
    if on_saturation not in ("error", "ignore"):
        raise ValueError(f"on_saturation must be error|ignore, got {on_saturation!r}")
    # spread AFTER the pre-pass window: AQE coalesces the window's small
    # shuffle to one partition, and without the explicit re-spread the
    # expensive shingle-hash projection fuses into that single task.
    df = exact_dedup(spread(df), id_col, text_col).drop("content_hash")
    df = spread(df)
    # Materialize ONE combined layer (id, sh, __sz, sig) (MEMORY_AND_DISK).
    # Until r15 only the shingle arrays were cached and sig/size were
    # derived per consumer — but decoding an array<string> column back out
    # of the columnar cache costs ~70% of recomputing it (measured at
    # sf0.1: 7.8 s CPU decode vs 11 s fill for the corpus), so the sig
    # derivation and BOTH size-prefilter broadcasts were each paying a
    # full array decode. With sig and __sz computed once at fill time,
    # those three consumers column-prune down to int columns (near-free
    # cache reads) and only the two verification joins decode the arrays.
    # q21: 5 array decodes -> 2; executor 50.5 -> ~30 s, wall 2.41 -> ~1.7 s.
    from pyspark.storagelevel import StorageLevel

    sh = df.select(
        F.col(id_col),
        F.array_distinct(shingles(text_col, shingle_k)).alias("sh"),
    )
    base = signatures_from_shingles(
        sh.select(F.col(id_col), "sh", F.size("sh").alias("__sz")),
        id_col,
        "sh",
        num_hashes,
        keep=("sh", "__sz"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sh = base.select(F.col(id_col), "sh")
    sigs = base.select(F.col(id_col), "sig")
    cands = lsh_candidate_pairs(
        sigs, id_col, num_bands, rows_per_band, max_bucket_size,
        on_saturation=on_saturation,  # guard survives the joins (docstring)
        guard_persist=guard_persist,
    )
    # Size-ratio prefilter — RESULT-IDENTICAL, not a recall trade:
    # |A∩B| <= min(|A|,|B|) bounds jaccard <= min/max, so j >= t forces
    # min >= t*max. Sizes ride a tiny broadcastable projection of the
    # persisted combined layer (int column only — no array decode);
    # candidates failing the bound never reach the array-intersect
    # verification join.
    sizes = base.select(F.col(id_col), "__sz")
    cands = (
        cands.join(
            F.broadcast(
                sizes.select(
                    F.col(id_col).alias("id_a"), F.col("__sz").alias("__sza")
                )
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col(id_col).alias("id_b"), F.col("__sz").alias("__szb")
                )
            ),
            "id_b",
        )
        .filter(
            (F.col("__sza") >= jaccard_threshold * F.col("__szb"))
            & (F.col("__szb") >= jaccard_threshold * F.col("__sza"))
        )
        .select("id_a", "id_b")
    )
    joined = (
        cands.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    # |A∪B| = |A|+|B|-|A∩B|: avoids materializing the union array per pair
    # (same fold order as the DuckDB oracle, so float64 results are identical).
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    # passing(): the intersection fold must not be inlined into the join's
    # residual condition by predicate pushdown (it would run once per
    # REJECTED candidate in the join, then again in the projection).
    return joined.select(
        "id_a",
        "id_b",
        passing(inter / union, lambda j: j >= jaccard_threshold, "jaccard"),
    )


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
    ngram_n: int = 3,
    n_blocks: int = 3,
    persist_tokens: bool = True,
    max_block_size: int | None = None,
    on_saturation: str = "error",
    guard_persist: bool = True,
) -> DataFrame:
    """Near-dup by word-n-gram Jaccard with K-rarest-gram blocking.

    Set elements are word ``ngram_n``-grams (n>1 matters: on small-vocabulary
    or templated corpora unigram sets are near-identical across documents,
    making unigram Jaccard inherently O(N²); n-gram vocabulary grows
    combinatorially, so both candidate blocks and the true result stay
    small). Candidates = documents sharing any of their ``n_blocks`` RAREST
    n-grams (minimal corpus document-frequency, ties broken
    lexicographically) — prefix filtering from set-similarity joins. A
    single rarest gram is brittle: one edit can mint a brand-new dfreq-1
    gram that becomes one side's block key and the true pair never
    co-buckets; K rarest keys tolerate K-1 novel grams per doc. Block size
    is bounded by each gram's document frequency — which keeps STOPWORD
    blocks impossible (a gram everyone has is never anyone's rarest) but
    is NOT a structural bound (r10 verdict task 4): on a degenerate corpus
    where one gram is simultaneously rare-per-doc and corpus-universal
    (e.g. byte-identical boilerplate docs, which this operator — unlike
    ``minhash_lsh_dedup`` — does not exact-dedup away), its block regrows
    to O(N) members and the pair expansion to O(N²). ``max_block_size``
    is the same valve as ``lsh_candidate_pairs``: oversized blocks are
    dropped (recall sacrificed explicitly), and a capped run whose valve
    drops EVERY block raises ``BlockingSaturationError`` at action time
    instead of silently emitting nothing (``on_saturation="ignore"``
    restores the audited silent-empty path). Default ``None`` keeps the
    historical uncapped behavior — registered q22-family results are
    byte-identical. Capping with ``on_saturation="error"`` widens every
    output column to nullable and persists a session-lifetime
    bucket-size frame — see the module docstring's capped-path contract.
    Fully ANSI-SQL-expressible (explode →
    df-count → sorted top-K → equi-join), hence oracle-checkable. Exact
    Jaccard verifies candidates. Returns (id_a, id_b, jaccard ≥ threshold).

    ``persist_tokens`` materializes the tokenized layer (MEMORY_AND_DISK):
    it is consumed THREE times — document-frequency counting, blocking,
    and both sides of the Jaccard verification — and recomputing the
    n-gram arrays from the scan per consumer costs more than caching them
    (~3x wall-clock on the fixture). The cache is the tokenized corpus
    (≈ corpus size; spills to disk) — the standard deliberate
    materialization for multi-pass set-similarity; pass False to trade
    recompute for zero cache footprint.
    """
    if on_saturation not in ("error", "ignore"):
        raise ValueError(f"on_saturation must be error|ignore, got {on_saturation!r}")
    toks = spread(df).select(
        F.col(id_col),
        F.array_distinct(word_ngrams(text_col, ngram_n)).alias("toks"),
    )
    if persist_tokens:
        from pyspark.storagelevel import StorageLevel

        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    tok = toks.select(F.col(id_col), F.explode("toks").alias("tok"))
    # Pair generation from id-only buckets (single block lineage, one
    # shuffle); a pair may share several block keys, so dedupe pairs before
    # the verification join.
    buckets = _rarest_gram_buckets(tok, id_col, n_blocks)
    capped = buckets
    if max_block_size is not None:
        capped = buckets.filter(F.size("ids") <= max_block_size)
    pairs = spread(
        capped.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    # ^ spread: the candidate frame is byte-light, so AQE's byte-based
    # coalescing otherwise serializes the array_intersect verification
    # join below onto a handful of tasks — same defect and fix as
    # lsh_candidate_pairs (r14, PROBE_R14_Q21.json; measured 3-6-task
    # verification stages here at sf0.1).
    # r15 A/Bs, both REJECTED at q01-control parity: an ADDITIONAL
    # spread on the bucket frame (re-widening the 3-6-task double-
    # explode expansion itself) read 1.27 -> 1.88 s — the extra exchange
    # costs more than the serialized expansion, same verdict as q21's
    # band width-pin; an eager toks.count() fill read 1.69 vs 1.61 lazy
    # — wash, matching the r14 A/B (the fill race the r14 profile
    # suggested is mostly columnar-cache DECODE cost, which an eager
    # fill does not remove).
    ta = toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"))
    tb = toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    union = (F.size("toks_a") + F.size("toks_b")).cast("double") - inter
    result = (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            passing(inter / union, lambda j: j >= threshold, "jaccard"),
        )
    )
    if max_block_size is None or on_saturation == "ignore":
        return result
    return _guarded_union(
        result,
        buckets,
        "ids",
        max_block_size,
        "BlockingSaturationError",
        "rarest-gram ",
        "Raise max_block_size, exact-dedup byte-identical docs first "
        "(they share every rarest gram), or raise ngram_n/n_blocks to "
        "spread the block keys.",
        persist=guard_persist,
    )


def _rarest_gram_buckets(
    tok: DataFrame, id_col: str, n_blocks: int
) -> DataFrame:
    """(block_tok, ids) collision buckets of the K-rarest-gram blocking,
    >1 member only — shared by ``token_jaccard_pairs``,
    ``token_containment_pairs`` and the ``rarest_gram_block_stats`` audit
    twin so the three can never drift apart. Per doc: the ``n_blocks``
    tokens with min (dfreq, tok) — aggregate + per-group array sort
    instead of a row_number window (partial aggregation map-side, no
    partition-wide sort). Input is the exploded (id, tok) frame."""
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("dfreq"))
    block = (
        tok.join(dfreq, "tok")
        .groupBy(id_col)
        .agg(
            F.slice(
                F.sort_array(F.collect_list(F.struct("dfreq", "tok"))),
                1,
                n_blocks,
            ).alias("m")
        )
        .select(F.col(id_col), F.explode("m.tok").alias("block_tok"))
    )
    return (
        block.groupBy("block_tok")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def rarest_gram_block_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_n: int = 3,
    n_blocks: int = 3,
    max_block_size: int | None = None,
) -> DataFrame:
    """Accounting twin of the rarest-gram blocked generators (the
    ``lsh_bucket_stats`` pattern): one row per collision block with its
    member count, quadratic pair budget, and whether ``max_block_size``
    would drop it. Distributed aggregate (no collect) — at scale, write
    it next to the dedup output so dropped-recall is auditable instead
    of silent (r10 verdict task 4: the rarest-gram key is not
    structurally bounded, so the valve needs its audit twin)."""
    tok = (
        spread(df)
        .select(
            F.col(id_col),
            F.array_distinct(word_ngrams(text_col, ngram_n)).alias("toks"),
        )
        .select(F.col(id_col), F.explode("toks").alias("tok"))
    )
    buckets = _rarest_gram_buckets(tok, id_col, n_blocks)
    dropped = (
        F.lit(False)
        if max_block_size is None
        else F.size("ids") > max_block_size
    )
    return buckets.select(
        "block_tok",
        F.size("ids").alias("n_ids"),
        F.expr("(cast(size(ids) as bigint) * (size(ids) - 1)) div 2")
        .alias("n_pairs"),
        dropped.alias("dropped"),
    )


def token_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    ngram_n: int = 3,
    n_blocks: int = 3,
    persist_tokens: bool = True,
    max_block_size: int | None = None,
    on_saturation: str = "error",
    guard_persist: bool = True,
) -> DataFrame:
    """Asymmetric near-dup by n-gram CONTAINMENT (overlap coefficient):
    |A ∩ B| / min(|A|, |B|) — the measure that catches a short document
    embedded inside a longer one, which Jaccard structurally misses (the
    long side inflates the union, so a fully-contained quote can score
    Jaccard ≈ |A|/|B| → 0 while containment = 1).

    Same scale discipline as :func:`token_jaccard_pairs`: K-rarest-gram
    blocking (bounded blocks — a gram's block is its document frequency, so
    no stopword O(N²) bucket), id-only bucket pair generation in ONE
    shuffle, exact verification join. One recall caveat is inherent to the
    asymmetric measure: both sides must rank a shared gram among their K
    rarest, and a much longer superset document may rank its copy of the
    short doc's grams below K — raise ``n_blocks`` to trade compute for
    recall (the oracle recomputes the same algorithm, so parity is exact
    either way). Returns (id_a, id_b, containment ≥ threshold), id_a < id_b.

    ``max_block_size``/``on_saturation``: same valve + zero-recall guard
    pair as :func:`token_jaccard_pairs` (r10 verdict task 4) — the
    rarest-gram key is NOT structurally bounded, see there; the capped
    "error" path also widens output nullability and persists a
    session-lifetime bucket-size frame (module docstring, capped-path
    contract).
    """
    if on_saturation not in ("error", "ignore"):
        raise ValueError(f"on_saturation must be error|ignore, got {on_saturation!r}")
    toks = spread(df).select(
        F.col(id_col),
        F.array_distinct(word_ngrams(text_col, ngram_n)).alias("toks"),
    )
    if persist_tokens:
        from pyspark.storagelevel import StorageLevel

        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    tok = toks.select(F.col(id_col), F.explode("toks").alias("tok"))
    buckets = _rarest_gram_buckets(tok, id_col, n_blocks)
    capped = buckets
    if max_block_size is not None:
        capped = buckets.filter(F.size("ids") <= max_block_size)
    pairs = spread(
        capped.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    # ^ spread: the candidate frame is byte-light, so AQE's byte-based
    # coalescing otherwise serializes the array_intersect verification
    # join below onto a handful of tasks — same defect and fix as
    # lsh_candidate_pairs (r14, PROBE_R14_Q21.json; measured 3-6-task
    # verification stages here at sf0.1)
    ta = toks.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"))
    tb = toks.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
    smaller = F.least(F.size("toks_a"), F.size("toks_b")).cast("double")
    result = (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .filter(smaller > 0)
        .select(
            "id_a",
            "id_b",
            passing(inter / smaller, lambda c: c >= threshold, "containment"),
        )
    )
    if max_block_size is None or on_saturation == "ignore":
        return result
    return _guarded_union(
        result,
        buckets,
        "ids",
        max_block_size,
        "BlockingSaturationError",
        "rarest-gram ",
        "Raise max_block_size, exact-dedup byte-identical docs first "
        "(they share every rarest gram), or raise ngram_n/n_blocks to "
        "spread the block keys.",
        persist=guard_persist,
    )


#: feature rows per step of :func:`_simhash_batches`' bit count: bounds the
#: per-step (features x n_bits) int64 matrix under 8 MiB (n_bits <= 60), whatever
#: the document's size (unchunked, a 1M-feature document needed ~0.5 GB).
_SIMHASH_CHUNK = 1 << 14


def _simhash_batches(n_bits: int, gram_n: int):
    """Arrow batch function for :func:`simhash`: per document, the distinct
    word-``gram_n``-gram feature set, one 60-bit md5 hash per feature
    (identical to ``md5_u60``: first 15 hex chars of md5(utf-8 bytes) as a
    non-negative bigint), per-bit majority vote vectorized in numpy over
    ``_SIMHASH_CHUNK``-feature steps. Returned as a closure over two ints
    (cheaply picklable); all heavy state (shift/weight vectors) is built
    once per task inside."""

    def batches(it):
        import hashlib

        import numpy as np
        import pyarrow as pa

        shifts = np.arange(n_bits, dtype=np.int64)
        weights = np.int64(1) << shifts

        def fp_of(text):
            if text is None:
                return None
            toks = text.split(" ")
            if gram_n > 1:
                if len(toks) < gram_n:
                    return None  # empty feature set -> NULL fingerprint
                feats = {
                    " ".join(toks[i: i + gram_n])
                    for i in range(len(toks) - gram_n + 1)
                }
            else:
                feats = set(toks)
            if not feats:
                return None
            hs = np.fromiter(
                (
                    int(hashlib.md5(f.encode("utf-8")).hexdigest()[:15], 16)
                    for f in feats
                ),
                dtype=np.int64,
                count=len(feats),
            )
            ones = np.zeros(n_bits, dtype=np.int64)
            for i in range(0, len(hs), _SIMHASH_CHUNK):
                bits = hs[i: i + _SIMHASH_CHUNK, None] >> shifts
                bits &= 1
                ones += bits.sum(axis=0)
            return int(weights[(2 * ones) > len(feats)].sum())

        for b in it:
            ids = b.column(0)
            fps = [fp_of(t) for t in b.column(1).to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(fps, pa.int64())], names=["__id", "simhash"]
            )

    return batches


def simhash(
    df: DataFrame, id_col: str, text_col: str, n_bits: int = 32, gram_n: int = 3
) -> DataFrame:
    """SimHash document fingerprint: sign of per-bit vote sums over feature
    hashes. Near-dup docs differ in few bits (compare via hamming distance).

    Features are distinct word ``gram_n``-grams (``gram_n=1`` → plain
    tokens; n>1 is essential on small-vocabulary corpora, where unigram
    feature sets are near-identical across documents and fingerprints
    collapse into giant identical-value clusters). Bit b of the fingerprint
    = 1 iff sum over features of (bit b of md5-hash(feature) ? +1 : -1) > 0,
    equivalently iff 2·ones(b) > |features|.

    Computed per document (zero shuffles) in ``mapInArrow`` since r15:
    only (id, text) crosses the Python boundary (explicit select keeps
    scan pruning), md5 runs through hashlib (byte-identical to
    ``md5_u60``'s first-15-hex-chars contract) and the n_bits-wide
    majority vote is one vectorized numpy pass — everything integer, so
    fingerprints are EXACTLY the old plan's (probe: full-corpus equality
    at both registered geometries, 60/3 and 32/1). The r12 JVM form (ONE
    interpreted ``aggregate`` fold carrying an n_bits-wide counter array
    — itself 20-25% faster than per-bit folds) measured 0.94 s for the
    fingerprint stage at sf0.1; the Arrow form measures 0.34 s (2.7x,
    PROBE_R15_ARROW_SIMHASH.json), the guide §4.2 sweet spot: Spark does
    distribution, native code does the per-batch math.

    Returns (id, simhash bigint); simhash is NULL for documents with an
    EMPTY feature set (fewer than ``gram_n`` tokens) — an all-zero vote
    vector is not a fingerprint, and emitting 0 for every such doc would
    make them all mutually "identical".
    """
    if not 0 < n_bits <= 60:
        raise ValueError("n_bits must be in (0, 60] (60-bit portable hashes)")
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("__id", df.schema[id_col].dataType),
            StructField("simhash", LongType()),
        ]
    )
    return (
        spread(df)
        .select(F.col(id_col), F.col(text_col))
        .mapInArrow(_simhash_batches(n_bits, gram_n), schema)
        .withColumnRenamed("__id", id_col)
    )


class BlockingSaturationError(RuntimeError):
    """A ``max_bucket_size`` valve would drop (or did drop) EVERY
    collision bucket of a blocked candidate generator, so the capped pair
    expansion is guaranteed to emit zero pairs — the operator would
    silently deduplicate nothing. Raised loudly instead (round 10; the
    hazard class the r9 SimHash probe exposed applies identically to the
    MinHash band and embedding sign-LSH paths). Every capped generator
    takes ``on_saturation="ignore"`` to restore the audited silent-empty
    behavior for callers that handle the drop audit themselves."""


class SimHashSaturationError(BlockingSaturationError):
    """The ``max_bucket_size`` valve would drop (or did drop) EVERY band
    collision bucket, so the capped pair expansion is guaranteed to emit
    zero near-dup pairs — the operator would silently deduplicate nothing.
    Raised loudly instead (round-9 probe: at 30x corpus on a saturated
    32-bit/4-band blocking, all 1024 buckets dropped and
    ``emitted_pairs`` was 0 with the only signal in the drop audit).
    Remedies, in order: use ``simhash_near_dup_pairs_auto`` (escalates the
    blocking automatically), widen the blocking yourself
    (``simhash_near_dup_pairs_combi`` with more pieces), or raise
    ``max_bucket_size``."""


def _guarded_union(
    out: DataFrame,
    buckets: DataFrame,
    list_col: str,
    max_bucket_size: int,
    error_name: str,
    bucket_kind: str,
    remedy: str,
    persist: bool = True,
) -> DataFrame:
    """Union a ZERO-ROW guard branch onto ``out`` that raises at action
    time when the ``max_bucket_size`` valve dropped every collision
    bucket (``len(list_col) > cap`` for all buckets, and >= 1 bucket
    existed). ``list_col`` is either an array column (bucket member
    lists — generators whose pair expansion consumes the lists anyway)
    or an INTEGER count column (generators that pair via self-joins and
    only need sizes: a count aggregate is map-side combinable where
    collect_list is not, and its cache is rows of (key, n)). The guard must execute even when zero pairs survive — that
    IS the failure case — so it cannot ride the result rows (a crossJoin
    guard dies with AQE's empty-relation propagation: no result rows, no
    broadcast build, no assert). Instead the branch always runs a one-row
    audit aggregate over the SAME bucket frame (Catalyst's ReuseExchange
    dedupes the shuffle; the audit costs one extra final-aggregate pass,
    not a second candidate pipeline) and contributes zero rows: the
    explode count is 0 when healthy and raise_error when saturated.
    (when(ok, 0).otherwise(raise_error(...)): the branches must DIFFER —
    an assert_true folded into both branches gets simplified away by
    SimplifyConditionals, observed in the physical plan.)

    Cost model (r11): the bucket frame is PERSISTED here
    (MEMORY_AND_DISK), so the pair expansion and the audit aggregate scan
    ONE cached materialization. The r10 claim that ReuseExchange shares
    the bucket shuffle holds for a directly-consumed guarded frame
    (plan-gated in test_saturation_guard_reuses_bucket_shuffle) but
    proved brittle inside composed plans: in the full minhash_lsh_dedup
    plan the two bucket subtrees stop matching canonically and the
    signature pipeline ran TWICE (1.24x, SCALE_PROBE_r11.json) — a cache
    is the deterministic form of the same sharing, and callers that pass
    ``on_saturation="ignore"`` never reach it (zero footprint). The
    cache is bucket-count-sized (collision groups only), strictly
    smaller than the banded corpus, and is dropped with the session /
    ``clearCache`` like the operators' other deliberate layers.

    The branch's output columns are NULLs built by ``_nonfoldable_null``,
    NOT ``lit(None)`` (r10 ADVICE, confirmed on Spark 4.1.2): a consumer
    that equi-joins or null-filters the guarded frame on these columns
    makes Catalyst infer ``IsNotNull``, push it through the union into
    this branch, constant-fold ``IsNotNull(lit(NULL))`` to false, and
    delete the whole branch — raise_error included — restoring the exact
    silent zero-recall cliff the guard exists to close. A NULL derived
    from the runtime ``__g`` column cannot be folded, so the pushed
    predicate stays a runtime Filter above the (zero-row, or raising)
    explode. ``tests/test_r11_guard_hardening.py`` asserts raise_error
    survives ``optimizedPlan`` under join/null-filter consumers for every
    in-repo composition.

    ``persist=False`` (the ``guard_persist`` caller flag, r12 verdict nit /
    r13 deferral) skips the session-lifetime MEMORY_AND_DISK persist of the
    bucket frame: the guard still runs and still raises, but the bucket
    pipeline is recomputed for the audit aggregate instead of cached —
    zero cache footprint for callers (long-lived multi-tenant sessions)
    that would otherwise accumulate one entry per capped call. The cost is
    the measured r11 trade in reverse (~1.24x on the guarded path when the
    lineages stop sharing); correctness is unchanged either way."""
    if persist:
        buckets = buckets.persist(StorageLevel.MEMORY_AND_DISK)
    from pyspark.sql.types import ArrayType

    is_list = isinstance(buckets.schema[list_col].dataType, ArrayType)
    bucket_n = F.size(list_col) if is_list else F.col(list_col)
    guard_ok = (F.col("__nb") == 0) | (F.col("__nd") < F.col("__nb"))
    msg = F.concat(
        F.lit(
            f"{error_name}: max_bucket_size={max_bucket_size} dropped all "
        ),
        F.col("__nb").cast("string"),
        F.lit(f" {bucket_kind}collision buckets - zero recall. {remedy}"),
    )
    guard_branch = (
        buckets.agg(
            F.count(F.lit(1)).alias("__nb"),
            F.coalesce(
                F.sum((bucket_n > max_bucket_size).cast("int")),
                F.lit(0),
            ).alias("__nd"),
        )
        .select(
            F.explode(
                F.array_repeat(
                    F.lit(0),
                    F.when(guard_ok, F.lit(0)).otherwise(
                        F.raise_error(msg).cast("int")
                    ),
                )
            ).alias("__g")
        )
        .select(
            *[
                _nonfoldable_null(f.dataType).alias(f.name)
                for f in out.schema.fields
            ]
        )
    )
    return out.unionAll(guard_branch)


def _nonfoldable_null(dt) -> Column:
    """A NULL of type ``dt`` that ConstantFolding cannot prove NULL.

    ``sequence(0, __g)`` over the guard row (``__g`` is always 0) is the
    one-element array ``[0]``; ``transform`` maps it to ``[NULL::dt]``
    (the lambda types the element for ANY dt, scalar or complex, with no
    int→dt cast to trip ANSI); ``get(..., 0)`` extracts it. The whole
    expression references the runtime column ``__g``, so it is not
    foldable, ``NullPropagation`` does not apply, and an inferred
    ``IsNotNull`` over it survives as a runtime filter instead of
    statically emptying the guard branch (see ``_guarded_union``)."""
    return F.get(
        F.transform(
            F.sequence(F.lit(0), F.col("__g")),
            lambda _: F.lit(None).cast(dt),
        ),
        F.lit(0),
    )


def auto_band_width(
    n_docs: int,
    n_bands: int = 4,
    n_bits: int = 60,
    margin: int = 2,
    min_width: int = 8,
) -> int:
    """Corpus-scaled SimHash band width: the smallest ``w`` in
    ``[min_width, n_bits // n_bands]`` with ``2^w >= n_docs * 2^margin``
    (clamped to the top of the range when the corpus outgrows it).

    Why log₂(N): dissimilar docs agree on a band with probability
    ~1/2^w, so the random-collision candidate floor is
    ~N²·n_bands/2^(w+1).  A FIXED width makes that floor quadratic in
    corpus size; ``w = ⌈log₂(N)⌉ + margin`` keeps expected random bucket
    occupancy at ~1/2^margin docs and the floor LINEAR in N — the same
    corpus-scaled-parameter discipline as SemDeDup's cell count
    (operators/similarity.py).  The 60-bit fingerprint bounds ``w`` at
    15 for 4 bands (~N = 8e3 at margin 2); past that the cap +
    ``max_bucket_size`` + ``simhash_bucket_stats`` audit take over, or
    widen the fingerprint family.  When the fingerprint is too narrow to
    honor ``min_width`` (``n_bits // n_bands < min_width``, e.g. 32 bits
    over 8 bands), the geometry cap wins — the returned width always
    fits the fingerprint.  Deterministic integer loop so the DuckDB
    oracle twin (pow-of-two comparisons) reproduces it exactly.
    """
    max_w = max(1, n_bits // n_bands)
    lo = min(min_width, max_w)
    target = max(1, n_docs) << margin
    for w in range(lo, max_w + 1):
        if (1 << w) >= target:
            return w
    return max_w


def _simhash_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int,
    n_bands: int,
    gram_n: int,
    band_width: int | None = None,
) -> DataFrame:
    """Collision buckets for SimHash band blocking: one row per
    (band, band_bits) key with >1 member, ``ms`` the list of
    (id, simhash) structs. Bucket-group instead of self-join: one
    fingerprint lineage, one shuffle; the structs carried per bucket are
    scalars. Shared by ``simhash_near_dup_pairs`` (pair expansion) and
    ``simhash_bucket_stats`` (drop accounting).

    ``band_width`` defaults to ``n_bits // n_bands`` (bands tile the whole
    fingerprint); an explicit narrower width bands only the low
    ``n_bands * band_width`` bits — recall is unaffected (pigeonhole: ≤
    ``n_bands - 1`` differing bits anywhere leave ≥ 1 banded slice
    identical), only the random-collision rate changes."""
    if band_width is None:
        band_width = n_bits // n_bands
    if band_width < 1:
        raise ValueError(f"band_width must be >= 1, got {band_width}")
    if n_bands * band_width > n_bits:
        raise ValueError(
            f"bands overrun the fingerprint: {n_bands} x {band_width} "
            f"> {n_bits} bits"
        )
    mask = (1 << band_width) - 1
    featureful = (
        df.filter(F.size(tokens(text_col)) >= gram_n) if gram_n > 1 else df
    )
    fp = simhash(featureful, id_col, text_col, n_bits, gram_n)
    bands = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright("simhash", i * band_width).bitwiseAND(F.lit(mask)).alias("bb"),
        )
        for i in range(n_bands)
    ]
    banded = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "simhash", "b.band", "b.bb")
    return (
        banded.groupBy("band", "bb")
        .agg(
            F.collect_list(F.struct(F.col(id_col).alias("id"), "simhash")).alias(
                "ms"
            )
        )
        .filter(F.size("ms") > 1)
    )


def _bucket_pairs(
    buckets: DataFrame,
    max_hamming: int,
    max_bucket_size: int | None,
    on_saturation: str,
    guard_persist: bool = True,
) -> DataFrame:
    """Shared capped bucket→pair expansion for both SimHash blocking
    schemes (contiguous single bands and piece combinations): apply the
    ``max_bucket_size`` valve, expand surviving buckets to ordered pairs,
    verify exact hamming over the FULL fingerprint, distinct.

    When the valve is active and ``on_saturation == "error"`` the plan
    carries a runtime guard: a one-row drop audit (total vs dropped
    collision buckets, aggregated from the SAME bucket frame — Catalyst's
    ReuseExchange dedupes the shuffle, so the audit costs one extra
    final-aggregate pass, not a second fingerprint pipeline) is
    broadcast-crossed onto the result with ``assert_true`` that at least
    one bucket survived. All-buckets-dropped is the zero-recall cliff:
    partial drops are legitimate valve operation (audited via
    ``simhash_bucket_stats``), but a capped run that drops EVERYTHING can
    only ever return an empty frame, and silence here means a 100 TB job
    that "deduplicated" nothing. ``on_saturation="ignore"`` restores the
    old silent-empty behavior for callers that handle the audit
    themselves."""
    if on_saturation not in ("error", "ignore"):
        raise ValueError(f"on_saturation must be error|ignore, got {on_saturation!r}")
    capped = buckets
    if max_bucket_size is not None:
        capped = buckets.filter(F.size("ms") <= max_bucket_size)
    pairs = (
        capped.select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
    )
    out = pairs.filter(F.col("hamming") <= max_hamming).distinct()
    if max_bucket_size is None or on_saturation == "ignore":
        return out
    return _guarded_union(
        out,
        buckets,
        "ms",
        max_bucket_size,
        "SimHashSaturationError",
        "",
        "Use simhash_near_dup_pairs_auto (escalates the blocking), "
        "widen the blocking (simhash_near_dup_pairs_combi), or "
        "raise max_bucket_size; audit via simhash_bucket_stats.",
        persist=guard_persist,
    )


def _piece_slices(n_bits: int, n_pieces: int) -> list[tuple[int, int]]:
    """Near-equal contiguous (start_bit, width) slices tiling ``n_bits``;
    the wider slices come first, deterministically."""
    if not 0 < n_pieces <= n_bits:
        raise ValueError(f"n_pieces must be in (0, {n_bits}], got {n_pieces}")
    base, extra = divmod(n_bits, n_pieces)
    widths = [base + 1] * extra + [base] * (n_pieces - extra)
    slices, start = [], 0
    for w in widths:
        slices.append((start, w))
        start += w
    return slices


def combi_key_bits(n_bits: int, n_pieces: int, max_hamming: int) -> int:
    """Guaranteed (minimum) block-key width of the combination blocking:
    the sum of the ``n_pieces - max_hamming`` NARROWEST piece widths —
    every combo key is at least this wide, so ``2^combi_key_bits`` lower-
    bounds the per-table bucket space. Pure integers so the escalation
    ladder (and its tests) can reason about it without Spark."""
    agree = n_pieces - max_hamming
    if agree < 1:
        raise ValueError(
            f"need n_pieces > max_hamming ({n_pieces} <= {max_hamming})"
        )
    widths = sorted(w for _, w in _piece_slices(n_bits, n_pieces))
    return sum(widths[:agree])


def combi_blocking_plan(
    n_docs: int,
    n_bits: int = 60,
    max_hamming: int = 3,
    margin: int = 2,
    max_tables: int = 70,
) -> tuple[int, int]:
    """Escalation ladder for the saturated regime: the smallest piece count
    ``p > max_hamming`` whose combination blocking gives
    ``2^combi_key_bits >= n_docs << margin`` without exceeding
    ``max_tables`` C(p, p-max_hamming) block tables. Returns
    ``(n_pieces, key_bits)`` — if even the widest affordable plan can't
    reach the target it returns that widest plan (full recall still holds;
    only the random-collision floor is higher than ``margin`` asks).

    Why this ladder: with the fingerprint capped at 60 portable bits, a
    single-piece banding tops out at ``2^(60//(max_hamming+1))`` bucket
    values (32768 for hamming 3). Blocking on UNIONS of pieces (Manku,
    Jain & Das Sarma, WWW'07 §3: split the fingerprint into p pieces; any
    pair within hamming ``p-k`` agrees exactly on some k-piece combo)
    widens the key to ~``k*60/p`` bits at a cost of C(p, k) tables —
    p=5 → 24-bit keys / 10 tables, p=7 → 33 bits / 35 tables, p=8 →
    36 bits / 56 tables: enough bucket space for ~10^10 docs at margin 2
    while candidate generation stays an equi-join."""
    target = max(1, n_docs) << margin
    best: tuple[int, int] | None = None
    for p in range(max_hamming + 1, n_bits + 1):
        if math.comb(p, p - max_hamming) > max_tables:
            break
        bits = combi_key_bits(n_bits, p, max_hamming)
        if best is None or bits > best[1]:
            best = (p, bits)
        if (1 << bits) >= target:
            return p, bits
    if best is None:  # max_tables below the p = max_hamming+1 floor
        raise ValueError(
            f"no combination blocking fits max_tables={max_tables} "
            f"(C({max_hamming + 1}, 1) = {max_hamming + 1} tables minimum)"
        )
    return best


def _simhash_combi_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int,
    n_pieces: int,
    max_hamming: int,
    gram_n: int,
) -> DataFrame:
    """Collision buckets for combination blocking: the fingerprint is
    tiled into ``n_pieces`` near-equal slices and each document is keyed
    once per C(n_pieces, n_pieces - max_hamming) piece combination with
    the concatenated bits of that combo. Pigeonhole: ≤ ``max_hamming``
    differing bits leave ≥ ``n_pieces - max_hamming`` pieces untouched,
    so at least one combo key matches exactly — full recall, and the key
    carries ~``(p-h)/p`` of the fingerprint instead of ``1/p``. Same
    single-lineage shape as ``_simhash_buckets``: one fingerprint pass,
    one explode, one shuffle on (table, key)."""
    agree = n_pieces - max_hamming
    if agree < 1:
        raise ValueError(
            f"need n_pieces > max_hamming ({n_pieces} <= {max_hamming})"
        )
    slices = _piece_slices(n_bits, n_pieces)
    featureful = (
        df.filter(F.size(tokens(text_col)) >= gram_n) if gram_n > 1 else df
    )
    fp = simhash(featureful, id_col, text_col, n_bits, gram_n)
    structs = []
    for ti, combo in enumerate(itertools.combinations(range(n_pieces), agree)):
        key = F.lit(0).cast("bigint")
        shift = 0
        for pi in combo:
            start, w = slices[pi]
            piece = (
                F.shiftright("simhash", start)
                .bitwiseAND(F.lit((1 << w) - 1))
                .cast("bigint")
            )
            key = key.bitwiseOR(F.shiftleft(piece, shift))
            shift += w
        structs.append(F.struct(F.lit(ti).alias("band"), key.alias("bb")))
    banded = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*structs)).alias("b")
    ).select(id_col, "simhash", "b.band", "b.bb")
    return (
        banded.groupBy("band", "bb")
        .agg(
            F.collect_list(F.struct(F.col(id_col).alias("id"), "simhash")).alias(
                "ms"
            )
        )
        .filter(F.size("ms") > 1)
    )


def simhash_near_dup_pairs_combi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 60,
    n_pieces: int = 6,
    max_hamming: int = 3,
    gram_n: int = 3,
    max_bucket_size: int | None = None,
    on_saturation: str = "error",
    guard_persist: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs via piece-COMBINATION blocking (Manku et al.
    WWW'07 §3) — the saturated-regime escalation of
    ``simhash_near_dup_pairs``. Identical result set (same fingerprint,
    same exact-hamming verification over all ``n_bits``); only candidate
    generation differs: block keys are C(n_pieces, n_pieces-max_hamming)
    concatenations of fingerprint pieces, so the per-table bucket space is
    ~``2^((1 - max_hamming/n_pieces) * n_bits)`` instead of
    ``2^(n_bits/(max_hamming+1))`` — e.g. 2^33 vs 2^15 for 60 bits /
    hamming 3 at n_pieces=7. Use when the corpus outgrows single-band
    space; ``simhash_near_dup_pairs_auto`` picks ``n_pieces`` for you via
    ``combi_blocking_plan``."""
    buckets = _simhash_combi_buckets(
        df, id_col, text_col, n_bits, n_pieces, max_hamming, gram_n
    )
    return _bucket_pairs(
        buckets, max_hamming, max_bucket_size, on_saturation,
        guard_persist=guard_persist,
    )


def simhash_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 32,
    n_bands: int = 4,
    gram_n: int = 3,
    max_bucket_size: int | None = None,
    band_width: int | None = None,
) -> DataFrame:
    """Accounting twin of ``simhash_near_dup_pairs``: one row per band
    collision bucket with its size, its candidate-pair count, and whether
    the cap would drop it — the same drop audit ``lsh_bucket_stats``
    gives the MinHash path. Distributed aggregate (no collect); at scale,
    write it next to the dedup output so capped recall is auditable
    instead of silent."""
    buckets = _simhash_buckets(
        df, id_col, text_col, n_bits, n_bands, gram_n, band_width
    )
    return _bucket_stats_select(buckets, max_bucket_size)


def _bucket_stats_select(
    buckets: DataFrame, max_bucket_size: int | None
) -> DataFrame:
    """Shared (band, bb, n_ids, n_pairs, dropped) audit projection over a
    collision-bucket frame — used by both blocking schemes' stats twins."""
    dropped = (
        F.lit(False)
        if max_bucket_size is None
        else F.size("ms") > max_bucket_size
    )
    return buckets.select(
        "band",
        "bb",
        F.size("ms").alias("n_ids"),
        F.expr("(cast(size(ms) as bigint) * (size(ms) - 1)) div 2")
        .alias("n_pairs"),
        dropped.alias("dropped"),
    )


def simhash_combi_bucket_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 60,
    n_pieces: int = 6,
    max_hamming: int = 3,
    gram_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Accounting twin of ``simhash_near_dup_pairs_combi`` — the same
    drop audit ``simhash_bucket_stats`` gives single-band blocking, over
    the combination-blocked buckets (``band`` is the combo-table index).
    At scale, write it next to the dedup output so capped recall in the
    escalated regime is auditable instead of silent."""
    buckets = _simhash_combi_buckets(
        df, id_col, text_col, n_bits, n_pieces, max_hamming, gram_n
    )
    return _bucket_stats_select(buckets, max_bucket_size)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
    gram_n: int = 3,
    max_bucket_size: int | None = None,
    band_width: int | None = None,
    on_saturation: str = "error",
    guard_persist: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole band blocking + exact hamming
    verification (Manku et al., WWW'07 style).

    The ``n_bits`` fingerprint is split into ``n_bands`` contiguous bit
    bands; by pigeonhole, any pair with hamming ≤ n_bands-1 agrees EXACTLY
    on at least one band, so an equi-join on (band_index, band_bits) finds
    every qualifying pair — full recall, no cross join, scales as the band
    collision count rather than N². Documents with no features are excluded
    before banding: they carry no signal, and at scale the shared all-zero
    fingerprint would form one quadratic bucket of false-positive
    "hamming 0" pairs. The exclusion filters on the CHEAP equivalent
    predicate (token count < ``gram_n`` ⟺ empty feature set) *before*
    fingerprinting — filtering on ``simhash IS NOT NULL`` afterwards would
    be pushed below the fingerprint projection by Catalyst, substituting
    the full shingle+hash+vote expression into the filter and computing
    the whole pipeline twice per row (measured ~1.8x on the fixture
    corpus). Returns (id_a, id_b, hamming ≤ max_hamming).

    Corpus sizing: band collisions include a RANDOM term — dissimilar
    docs agree on a band with probability ~1/2^band_width, so the
    in-bucket expansion carries an ~N²·n_bands/2^(band_width+1) floor
    regardless of true near-dup structure (it is what the 30x control
    probe measures on this operator). At corpus scale either (a) size
    ``n_bits/n_bands`` so 2^band_width ≫ N — e.g. 60 bits / 4 bands =
    32768 bucket values, vs 256 for the 32-bit fixture default — or
    (b) set ``max_bucket_size`` to drop oversized buckets (losing only
    pairs inside them, exactly the ``lsh_candidate_pairs`` cap
    semantics) and audit the drops with ``simhash_bucket_stats``.
    ``simhash_near_dup_pairs_auto`` applies (a) automatically — width
    from ``auto_band_width(N)``, escalating past the 60-bit cap to
    combination blocking — and is the entry point to prefer; hamming is
    always verified over the FULL fingerprint, so the result set is
    identical for every legal ``band_width``. A capped run whose valve
    drops EVERY collision bucket raises ``SimHashSaturationError`` at
    action time instead of silently returning nothing
    (``on_saturation="ignore"`` opts out — see ``_bucket_pairs``)."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"pigeonhole recall requires max_hamming <= n_bands-1 "
            f"({max_hamming} > {n_bands - 1})"
        )
    if band_width is None and n_bits % n_bands:
        raise ValueError("n_bits must divide evenly into n_bands")
    buckets = _simhash_buckets(
        df, id_col, text_col, n_bits, n_bands, gram_n, band_width
    )
    return _bucket_pairs(
        buckets, max_hamming, max_bucket_size, on_saturation,
        guard_persist=guard_persist,
    )


def simhash_near_dup_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 60,
    n_bands: int = 4,
    max_hamming: int = 3,
    gram_n: int = 3,
    max_bucket_size: int | None = None,
    margin: int = 2,
    n_docs: int | None = None,
    max_tables: int = 70,
    on_saturation: str = "error",
    guard_persist: bool = True,
) -> DataFrame:
    """``simhash_near_dup_pairs`` with the BLOCKING derived from the
    corpus size — the corpus-proof entry point. Two regimes:

    * band space sufficient (``2^auto_band_width(N) >= N << margin``):
      single-band blocking at that width, exactly as before;
    * SATURATED (the corpus outgrows the widest single band the ``n_bits``
      fingerprint affords — the round-9 probe regime where the
      ``max_bucket_size`` valve dropped all 1024 buckets and emitted zero
      pairs): escalate to piece-combination blocking
      (``simhash_near_dup_pairs_combi``), with ``n_pieces`` from
      ``combi_blocking_plan`` — the smallest plan whose guaranteed key
      width restores ``2^key_bits >= N << margin`` within ``max_tables``
      block tables. The RESULT SET is identical in both regimes (same
      fingerprint, same exact-hamming verification); escalation only
      widens the candidate key space, keeping the random-collision floor
      linear in N. If even the widest affordable plan cannot reach the
      target AND the ``max_bucket_size`` valve would then drop the MEAN
      bucket (predicted occupancy ``N / 2^key_bits >= max_bucket_size``
      — i.e. the typical bucket is dropped and recall collapses), this
      raises ``SimHashSaturationError`` BEFORE any Spark work, with the
      numbers in the message (``on_saturation="ignore"`` proceeds and
      relies on the audit). The in-plan all-buckets-dropped guard from
      ``_bucket_pairs`` backstops both regimes at action time.

    When ``n_docs`` is omitted, one extra ``count()`` action sizes the
    corpus.  For a frame read straight from parquet that is a
    metadata-level scan; for a DERIVED frame (filters, joins upstream) it
    recomputes the upstream pipeline, so callers who already know the
    corpus size — or hold a derived frame — should pass ``n_docs`` and
    skip the action (the same pay-one-count-to-size-a-parameter pattern
    as SemDeDup's cell count, with the same opt-out).  An approximate
    ``n_docs`` is fine: the blocking only needs the magnitude."""
    n = max(1, df.count() if n_docs is None else n_docs)
    width = auto_band_width(n, n_bands=n_bands, n_bits=n_bits, margin=margin)
    target = n << margin
    if (1 << width) >= target:
        return simhash_near_dup_pairs(
            df,
            id_col,
            text_col,
            n_bits=n_bits,
            n_bands=n_bands,
            max_hamming=max_hamming,
            gram_n=gram_n,
            max_bucket_size=max_bucket_size,
            band_width=width,
            on_saturation=on_saturation,
            guard_persist=guard_persist,
        )
    n_pieces, key_bits = combi_blocking_plan(
        n,
        n_bits=n_bits,
        max_hamming=max_hamming,
        margin=margin,
        max_tables=max_tables,
    )
    if (
        (1 << key_bits) < target
        and max_bucket_size is not None
        and n >= max_bucket_size << key_bits
        and on_saturation == "error"
    ):
        raise SimHashSaturationError(
            f"corpus of ~{n} docs saturates even the widest affordable "
            f"combination blocking ({n_pieces} pieces, {key_bits}-bit keys, "
            f"max_tables={max_tables}): predicted mean bucket occupancy "
            f"{n / (1 << key_bits):.1f} >= max_bucket_size={max_bucket_size}, "
            f"so the valve would drop the typical bucket and recall "
            f"collapses. Raise max_tables/max_bucket_size, widen n_bits, or "
            f"pass on_saturation='ignore' to proceed with the drop audit."
        )
    return simhash_near_dup_pairs_combi(
        df,
        id_col,
        text_col,
        n_bits=n_bits,
        n_pieces=n_pieces,
        max_hamming=max_hamming,
        gram_n=gram_n,
        max_bucket_size=max_bucket_size,
        on_saturation=on_saturation,
        guard_persist=guard_persist,
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bits: int = 8,
    max_bucket_size: int | None = 1000,
    on_saturation: str = "error",
    guard_persist: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup: sign-bucket LSH blocking + exact cosine
    verification within buckets. Returns (id_a, id_b, cosine ≥ threshold).

    Near-identical vectors share all sign bits, so true near-dups collide.
    Scale shape: candidate ids are grouped per bucket (ids only — the
    vectors do NOT ride through the quadratic pair expansion; they join
    back per-candidate for verification), and ``max_bucket_size`` bounds
    the in-bucket expansion the same way ``lsh_candidate_pairs`` does —
    one degenerate bucket (e.g. a near-duplicate embedding cluster) cannot
    go quadratic. Size ``n_bits`` to the corpus: expected bucket size is
    N/2^n_bits, so 100TB-scale corpora want 24-32 bits where this fixture
    uses 8. Audit capped drops with ``embedding_bucket_stats``; a capped
    run whose valve drops EVERY bucket raises ``BlockingSaturationError``
    at action time instead of silently emitting nothing
    (``on_saturation="ignore"`` opts out — see ``_guarded_union``)."""
    from cassandra_analytics_example_spark.functions.vector import (
        cosine_similarity,
        sign_bucket,
    )

    if on_saturation not in ("error", "ignore"):
        raise ValueError(f"on_saturation must be error|ignore, got {on_saturation!r}")
    buckets = _sign_buckets(emb, id_col, vec_col, n_bits)
    capped = buckets
    if max_bucket_size is not None:
        capped = buckets.filter(F.size("ids") <= max_bucket_size)
    # each doc has exactly ONE bucket key, so a pair can collide in at most
    # one bucket — no distinct needed (unlike multi-band LSH).
    pairs = (
        capped.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    out = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            passing(
                cosine_similarity("va", "vb"),
                lambda c: c >= threshold,
                "cosine",
            ),
        )
    )
    if max_bucket_size is None or on_saturation == "ignore":
        return out
    return _guarded_union(
        out,
        buckets,
        "ids",
        max_bucket_size,
        "BlockingSaturationError",
        "sign-LSH ",
        "Raise max_bucket_size or widen n_bits (expected occupancy is "
        "N/2^n_bits); audit via embedding_bucket_stats.",
        persist=guard_persist,
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    stats: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair list — the clustering step
    that turns pairwise evidence into dedup groups (one representative per
    cluster = keep-list). Returns (id, cluster_id) for every id appearing
    in ``pairs``, where cluster_id is the minimum id in the component.

    Min-label propagation WITH pointer jumping (the HCC/"shortcutting"
    idea from the Pegasus / MapReduce-CC literature): each round every
    node takes (1) the minimum label among its neighbors, then (2) its
    label's label — so label chains halve every round and convergence is
    O(log diameter) rounds, not O(diameter). Near-dup components are
    band/bucket cliques (diameter 2-4) where this costs one extra
    equi-join; on pathological chain-shaped components it is the
    difference between 10 rounds and 1000. Non-convergence within
    ``max_iter`` raises rather than returning wrong clusters.

    Each round: neighbor-min (equi-join + partial-aggregated groupBy on
    the node id) + shortcut (self-equi-join on the label), then one
    plan truncation to keep the lineage flat across rounds —
    ``checkpoint_dir`` selects a reliable checkpoint (survives executor
    loss on a real cluster), ``None`` the cheaper ``localCheckpoint``
    (operators/checkpoints.py). The per-round ``count()`` is a
    convergence test over the just-checkpointed partitions (an aggregate
    action, no data collected to the driver, no recompute). ``stats``,
    when given, records ``rounds``.
    """
    from cassandra_analytics_example_spark.operators.checkpoints import (
        truncate_plan,
    )

    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    # Scanned (and joined on "b") every round: hash-partition by the join
    # key BEFORE materializing — the checkpointed blocks keep their
    # HashPartitioning, so each round's neighbor-min join reuses the
    # layout and only the node-sized label side shuffles (the pagerank
    # co-partitioning discipline; one extra up-front shuffle buys back
    # one edge-table shuffle per round × O(log diameter) rounds).
    nparts = int(
        pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    edges = truncate_plan(edges.repartition(nparts, "b"), checkpoint_dir)
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    for rnd in range(1, max_iter + 1):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("b"), F.col("cluster_id").alias("nbr")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nbr").alias("nbr_min"))
        )
        stepped = labels.join(
            nbr_min.select(F.col("a").alias("id"), "nbr_min"), "id", "left"
        ).select(
            "id",
            F.col("cluster_id").alias("old"),
            F.least(
                F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
            ).alias("cluster_id"),
        )
        # pointer jump: cluster_id ← label(cluster_id). Every label IS a
        # node id, so the self-join resolves one indirection per round,
        # halving chain depth (inner-join-safe via left + coalesce).
        jumped = stepped.join(
            stepped.select(
                F.col("id").alias("cluster_id"),
                F.col("cluster_id").alias("parent"),
            ),
            "cluster_id",
            "left",
        ).select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce("parent", "cluster_id")
            ).alias("cluster_id"),
            (
                F.least(F.col("cluster_id"), F.coalesce("parent", "cluster_id"))
                < F.col("old")
            ).alias("__chg"),
        )
        updated = truncate_plan(jumped, checkpoint_dir)
        changed = updated.filter(F.col("__chg")).count()
        labels = updated.drop("__chg")
        if changed == 0:
            if stats is not None:
                stats["rounds"] = rnd
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        f"(component diameter exceeds max_iter; raise max_iter)"
    )


def dedup_keep_list(
    df: DataFrame,
    id_col: str,
    text_col: str,
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end dedup keep-list: the ids that SURVIVE both exact and
    near-dup dedup — exact-dedup representatives, minus every near-dup
    cluster member that is not its cluster's representative (min id).

    This is the pipeline a training run actually consumes: pairs and
    clusters are diagnostics; the keep-list is the training set. Composed
    from ``exact_dedup`` → ``minhash_lsh_dedup`` → ``connected_components``
    → anti-join, all shuffle-bounded pieces. Returns a single ``id_col``
    column."""
    reps = exact_dedup(df, id_col, text_col).select(F.col(id_col))
    pairs = minhash_lsh_dedup(df, id_col, text_col, **minhash_kwargs)
    clusters = connected_components(pairs)
    drop = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return reps.join(drop, id_col, "left_anti")


def _sign_buckets(
    emb: DataFrame, id_col: str, vec_col: str, n_bits: int
) -> DataFrame:
    """(bucket, ids) sign-LSH collision buckets with >1 member."""
    from cassandra_analytics_example_spark.functions.vector import sign_bucket

    return (
        emb.select(F.col(id_col), sign_bucket(vec_col, n_bits).alias("bucket"))
        .groupBy("bucket")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def embedding_bucket_stats(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Accounting twin of ``embedding_near_dup_pairs`` (same contract as
    ``lsh_bucket_stats``): one row per sign-LSH collision bucket with its
    size, pair count, and whether the cap drops it — write next to the
    dedup output so sacrificed recall is auditable, never silent."""
    buckets = _sign_buckets(emb, id_col, vec_col, n_bits)
    dropped = (
        F.lit(False)
        if max_bucket_size is None
        else F.size("ids") > max_bucket_size
    )
    return buckets.select(
        "bucket",
        F.size("ids").alias("n_ids"),
        F.expr("(cast(size(ids) as bigint) * (size(ids) - 1)) div 2")
        .alias("n_pairs"),
        dropped.alias("dropped"),
    )


def dedup_drop_audit(
    docs: DataFrame,
    emb: DataFrame,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_k: int = 5,
    n_bits: int = 8,
    max_bucket_size: int = 50,
) -> DataFrame:
    """Driver-visible audit of the capped candidate-generation accounting
    (``lsh_bucket_stats`` + ``embedding_bucket_stats``), reduced to
    oracle-checkable invariant rows (the q52 pattern: bucket contents are
    hash-derived and not SQL-reproducible, the conservation laws are).

    One row per check, ``(check_name, ok, n)``, violations expected 0:

    * ``lsh_reps_audited`` — every MinHash band bucket has >= 2 members and
      total bucket membership is bounded by ``num_bands`` slots per
      representative; ``n`` carries the representative count (= distinct
      document texts after the exact-dedup pre-pass), which the SQL oracle
      recomputes as ``count(DISTINCT text)``.
    * ``embedding_vectors_audited`` — sign-LSH buckets have >= 2 members
      and membership is bounded by one slot per vector; ``n`` = corpus
      vector count (oracle: ``count(*)``).
    * ``caps_respected`` — the ``dropped`` flag is exactly
      ``n_ids > max_bucket_size`` on every bucket row of both audits.
    * ``candidates_bounded_by_kept_pairs`` — the pairs actually emitted by
      ``lsh_candidate_pairs`` under the same cap never exceed the kept
      (non-dropped) per-bucket pair budget the stats claim — a cross-check
      between the accounting twin and the operator it accounts for
      (cross-band dedup makes emitted <= claimed).

    At 100 TB this runs as a side output next to the dedup job: all inputs
    are the same bucket lineages the dedup itself builds, aggregated
    distributed; only the final handful of scalars reach the driver.
    """
    rows_per_band = num_hashes // num_bands
    reps = exact_dedup(docs, "doc_id", "text")
    sigs = minhash_signatures(
        reps, "doc_id", "text", num_hashes=num_hashes, shingle_k=shingle_k
    ).persist()
    lstats = lsh_bucket_stats(
        sigs, "doc_id", num_bands, rows_per_band, max_bucket_size
    )
    estats = embedding_bucket_stats(
        emb, n_bits=n_bits, max_bucket_size=max_bucket_size
    )

    n_reps = reps.count()
    n_vec = emb.count()

    def _summary(stats: DataFrame) -> dict:
        row = stats.agg(
            F.coalesce(F.sum("n_ids"), F.lit(0)).alias("members"),
            F.coalesce(F.min("n_ids"), F.lit(2)).alias("min_ids"),
            F.coalesce(
                F.sum(
                    (
                        F.col("dropped")
                        != (F.col("n_ids") > max_bucket_size)
                    ).cast("bigint")
                ),
                F.lit(0),
            ).alias("flag_mismatch"),
            F.coalesce(
                F.sum(F.when(~F.col("dropped"), F.col("n_pairs"))), F.lit(0)
            ).alias("kept_pairs"),
        ).first()
        return row.asDict()

    ls, es = _summary(lstats), _summary(estats)
    emitted = lsh_candidate_pairs(
        sigs, "doc_id", num_bands, rows_per_band, max_bucket_size,
        on_saturation="ignore",  # this audit IS the drop handler
    ).count()
    sigs.unpersist()

    lsh_ok = ls["members"] <= num_bands * n_reps and ls["min_ids"] >= 2
    emb_ok = es["members"] <= n_vec and es["min_ids"] >= 2
    flag_viol = int(ls["flag_mismatch"]) + int(es["flag_mismatch"])
    excess = max(0, emitted - int(ls["kept_pairs"]))

    spark = docs.sparkSession
    out = [
        ("lsh_reps_audited", bool(lsh_ok), n_reps),
        ("embedding_vectors_audited", bool(emb_ok), n_vec),
        ("caps_respected", flag_viol == 0, flag_viol),
        ("candidates_bounded_by_kept_pairs", excess == 0, excess),
    ]
    return spark.createDataFrame(out, "check_name string, ok boolean, n bigint")


def duplicate_ngram_coverage(
    df: DataFrame, id_col: str, text_col: str = "text", n: int = 5
) -> DataFrame:
    """Per-document duplicated-text coverage: the fraction of a document's
    distinct word ``n``-grams that also occur in at least one OTHER
    document — the span-level signal behind substring-dedup pipelines
    (a high value means the document is largely assembled from text that
    exists elsewhere: mirrors, boilerplate, licenses), graded rather than
    binary like the pair-finding dedup operators.

    Plan: one tokenize pass to the distinct (doc, gram) layer; the gram's
    corpus document-frequency attaches as a WINDOW count over the gram
    partition (single lineage — a dfreq groupBy + join-back would
    recompute the tokenize per branch); then one per-doc aggregate.
    Two shuffles of the compact gram layer, both on near-uniform keys.
    The coverage ratio is a single division of two exact integers.
    """
    from cassandra_analytics_example_spark.functions.text import word_ngrams
    from pyspark.sql import Window

    grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("gram"),
    )
    w_gram = Window.partitionBy("gram")
    flagged = grams.withColumn(
        "__df", F.count(F.lit(1)).over(w_gram)
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum((F.col("__df") >= 2).cast("bigint"))
        .cast("bigint")
        .alias("n_dup_grams"),
        (
            F.sum((F.col("__df") >= 2).cast("bigint")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_coverage"),
    )


def edit_distance_neardup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str] | None = None,
    prefix_len: int = 32,
    block_prefix: int = 4,
    max_dist: int = 8,
    max_block_size: int | None = None,
    on_saturation: str = "error",
    guard_persist: bool = True,
) -> DataFrame:
    """Edit-distance near-dup pairs over a text PREFIX with equi-join
    blocking: candidates share ``block_cols`` plus the first
    ``block_prefix`` characters; survivors have
    ``levenshtein(prefix_a, prefix_b) <= max_dist``.

    Complements the token-set family (Jaccard/MinHash measure BAG overlap,
    blind to character-level edits inside tokens; Levenshtein catches
    typo-grade mutations token methods miss). Blocking is the standard
    equi-key trade: a pair differing inside its first ``block_prefix``
    chars is missed — recall for bounded candidates, same contract as the
    rarest-gram blocking in :func:`token_jaccard_pairs`.

    Scale: one self-equi-join on the block key — block sizes track
    (language x prefix) cardinality. That tracking is NOT a structural
    bound (r10 verdict task 4): a corpus whose documents all open with the
    same ``block_prefix`` characters (templated boilerplate headers) puts
    everything in ONE block and the self-join goes O(N²).
    ``max_block_size`` is the valve — oversized prefix blocks are dropped
    via a semi-join against the block-size table (singleton blocks
    produce no pairs, so the capped path is otherwise result-identical) —
    and a capped run whose valve drops EVERY multi-member block raises
    ``BlockingSaturationError`` at action time instead of silently
    emitting nothing (``on_saturation="ignore"`` opts out). Default
    ``None`` keeps the historical uncapped behavior — registered q87
    results are byte-identical; the capped "error" path widens output
    nullability and persists a session-lifetime block-size frame (module
    docstring, capped-path contract). Spark's 3-arg
    ``levenshtein`` early-exits above the threshold (returns -1), so the
    per-candidate cost is bounded by ``max_dist`` band width, not
    ``prefix_len^2``. Distances are exact integers — engine-portable with
    no float hazard.
    """
    if on_saturation not in ("error", "ignore"):
        raise ValueError(f"on_saturation must be error|ignore, got {on_saturation!r}")
    d = df.select(
        F.col(id_col),
        *[F.col(c) for c in (block_cols or [])],
        F.substring(F.col(text_col), 1, prefix_len).alias("__p"),
        F.substring(F.col(text_col), 1, block_prefix).alias("__blk"),
    )
    buckets = None
    if max_block_size is not None:
        # counts, not member lists: the self-join below generates the
        # pairs, so only block SIZES are needed — a count aggregate is
        # map-side combinable and its guard cache is (key, n) rows.
        buckets = (
            d.groupBy("__blk")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
        )
        d = d.join(
            buckets.filter(F.col("__n") <= max_block_size).select("__blk"),
            "__blk",
            "left_semi",
        )
    a = d.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"__ba_{c}") for c in (block_cols or [])],
        F.col("__p").alias("__pa"),
        "__blk",
    )
    b = d.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"__bb_{c}") for c in (block_cols or [])],
        F.col("__p").alias("__pb"),
        "__blk",
    )
    joined = a.join(b, on="__blk")
    for c in block_cols or []:
        joined = joined.filter(F.col(f"__ba_{c}") == F.col(f"__bb_{c}"))
    lev = F.expr(f"levenshtein(__pa, __pb, {int(max_dist)})")
    result = (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            *[F.col(f"__ba_{c}").alias(c) for c in (block_cols or [])],
            lev.alias("lev"),
        )
        .filter(F.col("lev") >= 0)
    )
    if max_block_size is None or on_saturation == "ignore":
        return result
    return _guarded_union(
        result,
        buckets,
        "__n",
        max_block_size,
        "BlockingSaturationError",
        "prefix ",
        "Raise max_block_size or widen block_prefix to spread the "
        "blocks.",
        persist=guard_persist,
    )


def overlap_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_overlap: int,
    max_posting_size: int | None = None,
    on_saturation: str = "error",
    guard_persist: bool = True,
) -> DataFrame:
    """Set-overlap self-join with PREFIX FILTERING (the PPJoin family's
    core idea, Xiao et al., public literature): pairs of documents whose
    DISTINCT-token sets share at least ``min_overlap`` tokens.

    Candidate generation: order each document's tokens by global rarity
    (document frequency asc, token asc — a total order) and keep only the
    first ``sz - min_overlap + 1`` as its PREFIX. Two sets with overlap
    >= T must share at least one prefix token (pigeonhole: if they agree
    on none of one side's rarest sz-T+1 tokens, at most sz - (sz-T+1) =
    T-1 common tokens remain) — so an equi-join on prefix tokens finds
    every qualifying pair while joining only the RAREST tokens, whose
    postings are the shortest. Documents with fewer than ``min_overlap``
    distinct tokens drop out before the join (they cannot qualify).

    Verification is the exact intersection size on the distinct-token
    arrays — integers, engine-exact. One persisted token lineage feeds
    ranking and verification (the q22 persist trade); the frequency table
    is vocabulary-sized and broadcast. Candidate cost tracks prefix
    postings — but a prefix token's posting length is its document
    frequency, which is NOT structurally bounded (r10 verdict task 4): a
    corpus of byte-identical documents puts the same rare token in every
    document's prefix and that one posting's self-join goes O(N²).
    ``max_posting_size`` is the valve (oversized postings dropped, recall
    sacrificed explicitly; singleton postings produce no pairs so the
    capped path's posting filter is result-identical otherwise), and a
    capped run whose valve drops EVERY multi-member posting raises
    ``BlockingSaturationError`` at action time instead of silently
    emitting nothing (``on_saturation="ignore"`` opts out). Default
    ``None`` keeps the historical uncapped behavior — registered q104
    results are byte-identical; the capped "error" path widens output
    nullability and persists a session-lifetime posting-size frame
    (module docstring, capped-path contract)."""
    if on_saturation not in ("error", "ignore"):
        raise ValueError(f"on_saturation must be error|ignore, got {on_saturation!r}")
    from pyspark.storagelevel import StorageLevel

    arrays = df.select(
        F.col(id_col), distinct_tokens(text_col).alias("__ts")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tok = arrays.select(F.col(id_col), F.explode("__ts").alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("__df"))
    w_rank = Window.partitionBy(id_col).orderBy(
        F.col("__df").asc(), F.col("t").asc()
    )
    ranked = (
        tok.join(F.broadcast(freq), "t")
        .withColumn("__rn", F.row_number().over(w_rank))
        .withColumn(
            "__sz", F.count(F.lit(1)).over(Window.partitionBy(id_col))
        )
    )
    pref = ranked.filter(
        F.col("__rn") <= F.col("__sz") - F.lit(min_overlap) + 1
    ).select(F.col(id_col), "t")
    postings = None
    pref_used = pref
    if max_posting_size is not None:
        # counts, not member lists: the prefix self-join generates the
        # pairs, so only posting SIZES are needed (map-side combinable).
        postings = (
            pref.groupBy("t")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
        )
        pref_used = pref.join(
            postings.filter(F.col("__n") <= max_posting_size).select("t"),
            "t",
            "left_semi",
        )
    cand = (
        pref_used.select(F.col(id_col).alias("id_a"), "t")
        .join(pref_used.select(F.col(id_col).alias("id_b"), "t"), "t")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = arrays.select(F.col(id_col).alias("id_a"), F.col("__ts").alias("__ta"))
    b = arrays.select(F.col(id_col).alias("id_b"), F.col("__ts").alias("__tb"))
    overlap = F.size(F.array_intersect("__ta", "__tb")).cast("bigint")
    result = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            passing(overlap, lambda o: o >= min_overlap, "overlap"),
        )
    )
    if max_posting_size is None or on_saturation == "ignore":
        return result
    return _guarded_union(
        result,
        postings,
        "__n",
        max_posting_size,
        "BlockingSaturationError",
        "prefix-posting ",
        "Raise max_posting_size, exact-dedup byte-identical docs first, "
        "or raise min_overlap to shorten the prefixes.",
        persist=guard_persist,
    )


def incremental_minhash_index(
    stored_sigs: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 5,
    num_bands: int = 4,
    max_bucket_size: int | None = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Maintain a MinHash near-dup index INCREMENTALLY: signatures are
    computed for the NEW batch only, appended to the stored (id, sig)
    table, and candidate pairs touching a new document come from LSH
    banding over the merged index.

    The scale story is what is NOT recomputed: the old corpus's text is
    never re-read or re-shingled — its 16x8-byte signatures stand in for
    it (the signature table of a 100 TB corpus is ~100 GB). MinHash
    signatures are mergeable by construction (elementwise min over
    disjoint doc sets == signature of the union), so append IS the index
    update; banding re-buckets only signature rows. Pairs are restricted
    to those involving a new id — old-old pairs were reported when their
    batches arrived (dedup is monotone under append). Returns
    (updated_sigs, candidate_pairs); exact-Jaccard verification of the
    candidates needs the pair texts and stays with the caller (same
    split as ``lsh_candidate_pairs``)."""
    new_sigs = minhash_signatures(
        new_docs, id_col, text_col, num_hashes, shingle_k
    )
    merged = stored_sigs.unionByName(new_sigs)
    rows_per_band = num_hashes // num_bands
    cands = lsh_candidate_pairs(
        merged, id_col, num_bands, rows_per_band, max_bucket_size
    )
    new_ids = new_sigs.select(F.col(id_col).alias("__nid"))
    touching_new = cands.join(
        F.broadcast(new_ids),
        (F.col("id_a") == F.col("__nid")) | (F.col("id_b") == F.col("__nid")),
        "left_semi",
    )
    return merged, touching_new


def cluster_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 5,
    num_bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Soft dedup: weight every document by the inverse size of its
    duplicate cluster instead of dropping duplicates — the sampling-weight
    form of deduplication (a 40-copy boilerplate page contributes ~1 doc of
    probability mass in the training mix, but all copies stay addressable).

    Cluster membership covers ALL documents, not just near-dup
    representatives: exact duplicates map to their content-hash
    representative (min-id, one window over ONE content-hash shuffle),
    representatives cluster via MinHash-LSH pairs + pointer-jumped
    connected components, and docs with no duplicate evidence form
    singleton clusters (weight 1.0). Sizes count DOCUMENTS per cluster
    (exact copies included), so weights are the true multiplicity inverse.

    Every stage is the already-gated scale path: hash-partitioned window,
    bucketed LSH candidates, O(log d) component rounds, equi-joins on
    cluster ids. Returns (id, cluster_id, cluster_size, weight = 1/size).
    """
    mapping = df.select(
        F.col(id_col),
        F.min(id_col)
        .over(Window.partitionBy(F.md5(F.col(text_col))))
        .alias("rep_id"),
    )
    pairs = minhash_lsh_dedup(
        df,
        id_col,
        text_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
        num_bands=num_bands,
        jaccard_threshold=jaccard_threshold,
    )
    cc = connected_components(pairs)
    doc_cluster = (
        mapping.join(cc, mapping["rep_id"] == cc["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col("rep_id")).alias(
                "cluster_id"
            ),
        )
    )
    sizes = doc_cluster.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return doc_cluster.join(sizes, "cluster_id").select(
        F.col(id_col),
        F.col("cluster_id"),
        F.col("cluster_size"),
        (F.lit(1.0) / F.col("cluster_size")).alias("weight"),
    )


def incremental_lsh_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delta_pred: Column,
    num_hashes: int = 16,
    shingle_k: int = 5,
    num_bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental near-dup cluster maintenance: fold a DELTA batch into an
    existing MinHash-LSH clustering WITHOUT re-running pair generation over
    the base corpus — the operation a 100 TB dedup pipeline performs on
    every ingest, where the base is petabytes and the delta is a day.

    Mechanism (and the scale contract):

    1. base pairs come from the base-only band index (in production:
       persisted from the previous run — rebuilt here because the query is
       self-contained, the same stance as q138's IVF index build);
    2. the delta pass joins ONLY delta band rows against the full band
       index — work proportional to the delta's collisions, never
       base x base;
    3. delta-touching verified pairs are CONTRACTED onto base cluster
       representatives (endpoint -> its base rep, else itself), and
       connected components runs on that contracted graph — nodes are
       delta docs + the touched base reps, never the base corpus;
    4. final labels: untouched base clusters keep their label; touched
       ones take their contracted component's min (= the true min of the
       merged component, because a base rep IS the min of its base
       cluster — contraction preserves min-labels exactly).

    The result is bit-identical to a full recompute (the DuckDB oracle
    does exactly that with a recursive transitive closure), provided no
    bucket cap binds — this operator deliberately runs uncapped, because
    a cap makes the pair set depend on which run saw the bucket.

    Returns (doc_id, cluster_id, is_delta, bridged) over every doc in at
    least one verified pair; ``bridged`` marks clusters holding both base
    and delta members — the merge events an incremental pipeline audits.
    """
    rows_per_band = num_hashes // num_bands
    reps = exact_dedup(spread(df), id_col, text_col).drop("content_hash")
    reps = spread(reps)
    sh = reps.select(
        F.col(id_col),
        F.array_distinct(shingles(text_col, shingle_k)).alias("sh"),
        delta_pred.alias("is_delta"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = signatures_from_shingles(sh, id_col, "sh", num_hashes)
    bands = []
    for b in range(num_bands):
        lo = b * rows_per_band + 1
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at("sig", lo + r).cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bhash"),
            )
        )
    banded = (
        sigs.join(sh.select(F.col(id_col), "is_delta"), id_col)
        .select(
            F.col(id_col), "is_delta", F.explode(F.array(*bands)).alias("b")
        )
        .select(F.col(id_col), "is_delta", F.col("b.band"), F.col("b.bhash"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    base_b = banded.where(~F.col("is_delta"))
    delta_b = banded.where(F.col("is_delta"))
    # base-run candidates: base x base (the "previous run's" pair list)
    base_cands = (
        base_b.select(F.col(id_col).alias("id_a"), "band", "bhash")
        .join(
            base_b.select(F.col(id_col).alias("id_b"), "band", "bhash"),
            ["band", "bhash"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # delta pass: delta band rows against the FULL index — the only work
    # that scales with the delta
    delta_cands = (
        delta_b.select(F.col(id_col).alias("id_d"), "band", "bhash")
        .join(
            banded.select(F.col(id_col).alias("id_o"), "band", "bhash"),
            ["band", "bhash"],
        )
        .where(F.col("id_d") != F.col("id_o"))
        .select(
            F.least("id_d", "id_o").alias("id_a"),
            F.greatest("id_d", "id_o").alias("id_b"),
        )
        .distinct()
    )
    cands = base_cands.unionByName(delta_cands).distinct()
    joined = cands.join(
        sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    pairs = (
        joined.select("id_a", "id_b", (inter / union).alias("j"))
        .where(F.col("j") >= jaccard_threshold)
        .select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    flags = sh.select(F.col(id_col), "is_delta")
    fa = flags.select(F.col(id_col).alias("id_a"), F.col("is_delta").alias("da"))
    fb = flags.select(F.col(id_col).alias("id_b"), F.col("is_delta").alias("db"))
    pf = pairs.join(F.broadcast(fa), "id_a").join(F.broadcast(fb), "id_b")
    base_pairs = pf.where(~F.col("da") & ~F.col("db")).select("id_a", "id_b")
    delta_pairs = pf.where(F.col("da") | F.col("db")).select("id_a", "id_b")
    base_cc = connected_components(base_pairs).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rep = base_cc.select(
        F.col("id").alias("m_id"), F.col("cluster_id").alias("m_rep")
    )
    contracted = (
        delta_pairs.join(
            rep.withColumnRenamed("m_id", "id_a").withColumnRenamed(
                "m_rep", "rep_a"
            ),
            "id_a",
            "left",
        )
        .join(
            rep.withColumnRenamed("m_id", "id_b").withColumnRenamed(
                "m_rep", "rep_b"
            ),
            "id_b",
            "left",
        )
        .select(
            F.coalesce("rep_a", F.col("id_a")).alias("ea"),
            F.coalesce("rep_b", F.col("id_b")).alias("eb"),
        )
        .where(F.col("ea") != F.col("eb"))
        .select(
            F.least("ea", "eb").alias("id_a"),
            F.greatest("ea", "eb").alias("id_b"),
        )
        .distinct()
    )
    cc2 = connected_components(contracted)
    c2 = cc2.select(
        F.col("id").alias("c2_node"), F.col("cluster_id").alias("c2_label")
    )
    relabeled_base = (
        base_cc.join(c2, base_cc.cluster_id == F.col("c2_node"), "left")
        .select(
            "id", F.coalesce("c2_label", F.col("cluster_id")).alias("cluster_id")
        )
    )
    new_nodes = (
        cc2.join(base_cc.select("id"), "id", "left_anti")
        .select("id", "cluster_id")
    )
    assign = relabeled_base.unionByName(new_nodes)
    out = assign.join(
        flags.withColumnRenamed(id_col, "id"), "id"
    )
    agg = out.groupBy("cluster_id").agg(
        F.max(F.col("is_delta")).alias("has_delta"),
        F.max(~F.col("is_delta")).alias("has_base"),
    )
    return (
        out.join(F.broadcast(agg), "cluster_id")
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            "is_delta",
            (F.col("has_delta") & F.col("has_base")).alias("bridged"),
        )
    )
