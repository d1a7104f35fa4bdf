"""Scale-discipline behavior of the MinHash-LSH dedup pipeline: the
exact-dedup pre-pass (duplicate clusters never inflate LSH buckets) and the
bucket-size cap with auditable drop accounting.

These are the 100 TB safety valves: a corpus with 1M byte-identical docs or
one templated boilerplate bucket must not go quadratic.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from cassandra_analytics_example_spark.operators.dedup import (
    lsh_bucket_stats,
    lsh_candidate_pairs,
    minhash_lsh_dedup,
)

SIG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("sig", ArrayType(LongType(), False), False),
    ]
)


def _sigs(spark, groups):
    """One signature row per (doc_id, sig); docs in the same group share a
    signature and therefore collide in every band."""
    rows = [(i, [int(g)] * 16) for i, g in enumerate(groups)]
    return spark.createDataFrame(rows, SIG_SCHEMA)


def test_bucket_cap_drops_oversized_buckets(spark):
    # group 1: 5 members (over cap 4); group 2: 2 members (within cap)
    sigs = _sigs(spark, [1, 1, 1, 1, 1, 2, 2])

    uncapped = lsh_candidate_pairs(sigs, "doc_id").collect()
    assert len(uncapped) == 10 + 1  # C(5,2) + C(2,2)

    capped = lsh_candidate_pairs(sigs, "doc_id", max_bucket_size=4).collect()
    assert sorted((r.id_a, r.id_b) for r in capped) == [(5, 6)]


def test_bucket_stats_report_drops(spark):
    sigs = _sigs(spark, [1, 1, 1, 1, 1, 2, 2])
    stats = lsh_bucket_stats(sigs, "doc_id", max_bucket_size=4).collect()
    # 4 bands × 2 collision buckets
    assert len(stats) == 8
    by_size = {r.n_ids: r for r in stats}
    assert by_size[5].dropped and by_size[5].n_pairs == 10
    assert not by_size[2].dropped and by_size[2].n_pairs == 1
    # every dropped pair is accounted for: sum over dropped buckets
    dropped_pairs = sum(r.n_pairs for r in stats if r.dropped)
    assert dropped_pairs == 4 * 10


def test_simhash_empty_feature_docs_never_pair(spark):
    """Docs with fewer than gram_n tokens have no features: they get a NULL
    fingerprint and are excluded from banding — an all-zero fingerprint
    would make every such doc a mutual hamming-0 'near-dup' (and one
    quadratic bucket at scale)."""
    from cassandra_analytics_example_spark.operators.dedup import (
        simhash,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(0, "hi"), (1, "yo"), (2, "one two"), (3, "a b c d e f g h i j")],
        ["doc_id", "text"],
    )
    fp = {
        r.doc_id: r.simhash
        for r in simhash(docs, "doc_id", "text", n_bits=32).collect()
    }
    assert fp[0] is None and fp[1] is None and fp[2] is None
    assert fp[3] is not None

    pairs = simhash_near_dup_pairs(docs, "doc_id", "text").collect()
    assert pairs == []  # the featureless docs must not pair with each other


def _simhash_unchunked(text, n_bits, gram_n):
    """The one-matrix vote the chunked ``_simhash_batches`` replaced."""
    import hashlib

    import numpy as np

    toks = text.split(" ")
    feats = {" ".join(toks[i: i + gram_n]) for i in range(len(toks) - gram_n + 1)}
    hs = np.array(
        [int(hashlib.md5(f.encode("utf-8")).hexdigest()[:15], 16) for f in feats],
        dtype=np.int64,
    )
    shifts = np.arange(n_bits, dtype=np.int64)
    ones = ((hs[:, None] >> shifts) & 1).sum(axis=0)
    return int(((np.int64(1) << shifts)[(2 * ones) > len(feats)]).sum())


def _run_simhash_batches(texts, n_bits, gram_n):
    import pyarrow as pa

    from cassandra_analytics_example_spark.operators.dedup import _simhash_batches

    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(len(texts)), pa.int64()), pa.array(texts, pa.string())],
        names=["__id", "text"],
    )
    (out,) = _simhash_batches(n_bits, gram_n)(iter([batch]))
    return out.column(1).to_pylist()


def test_simhash_chunked_vote_is_bit_identical():
    """The vote summed over ``_SIMHASH_CHUNK``-feature steps equals the
    one-matrix formula, at and around the step boundary too."""
    import random

    from cassandra_analytics_example_spark.operators.dedup import _SIMHASH_CHUNK

    rng = random.Random(7)
    texts = [
        " ".join(f"w{rng.randrange(vocab)}" for _ in range(rng.randrange(1, 400)))
        for vocab in (5, 50, 5000)
        for _ in range(10)
    ]
    for n in (_SIMHASH_CHUNK - 1, _SIMHASH_CHUNK, _SIMHASH_CHUNK + 1, 2 * _SIMHASH_CHUNK + 3):
        texts.append(" ".join(f"t{i}" for i in range(n)))  # n distinct tokens
    for n_bits, gram_n in ((60, 1), (32, 1), (60, 3)):
        got = _run_simhash_batches(texts, n_bits, gram_n)
        want = [
            _simhash_unchunked(t, n_bits, gram_n)
            if len(t.split(" ")) >= gram_n
            else None
            for t in texts
        ]
        assert got == want, (n_bits, gram_n)


def test_simhash_million_feature_document_memory_bound():
    """A 1M-distinct-feature document stays under a fixed traced-memory
    bound. The one-matrix vote peaked at ~566 MB here (a 1M x 60 int64
    matrix); chunked, the peak is the document's own Python strings and
    feature set (~110 MB) plus one step's matrix."""
    import tracemalloc

    text = " ".join(f"w{i}" for i in range(1_000_000))
    tracemalloc.start()
    try:
        (fp,) = _run_simhash_batches([text], 60, 1)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert fp is not None
    assert peak < 160 * 2**20, peak


def test_simhash_bucket_cap_and_stats(spark):
    """SimHash band blocking: an oversized bucket (e.g. templated
    boilerplate all sharing a fingerprint) is dropped by the cap and the
    audit twin reports exactly what was sacrificed — the same safety
    valve the MinHash and sign-LSH paths already have."""
    from cassandra_analytics_example_spark.operators.dedup import (
        simhash_bucket_stats,
        simhash_near_dup_pairs,
    )

    # 5 byte-identical docs (one fingerprint → colliding in all 4 bands)
    # and 2 of a different identical text — distinct enough that the two
    # fingerprints differ by > max_hamming.
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(5)]
        + [(5, "one two three four five six seven"),
           (6, "one two three four five six seven")],
        ["doc_id", "text"],
    )

    uncapped = simhash_near_dup_pairs(docs, "doc_id", "text").collect()
    assert {(r.id_a, r.id_b) for r in uncapped} >= {(5, 6)}
    assert len(uncapped) in (10 + 1, 10)  # C(5,2) + C(2,2) if (5,6) passes

    capped = simhash_near_dup_pairs(
        docs, "doc_id", "text", max_bucket_size=4
    ).collect()
    assert all((r.id_a, r.id_b) not in
               {(a, b) for a in range(5) for b in range(5)} for r in capped)

    stats = simhash_bucket_stats(
        docs, "doc_id", "text", max_bucket_size=4
    ).collect()
    big = [r for r in stats if r.n_ids == 5]
    assert big and all(r.dropped and r.n_pairs == 10 for r in big)
    small = [r for r in stats if r.n_ids == 2]
    assert small and all(not r.dropped and r.n_pairs == 1 for r in small)


def test_embedding_bucket_cap_and_stats(spark):
    """Sign-LSH near-dup: an oversized bucket is dropped by the cap and the
    audit twin reports exactly what was sacrificed."""
    from cassandra_analytics_example_spark.operators.dedup import (
        embedding_bucket_stats,
        embedding_near_dup_pairs,
    )

    # 5 identical-direction vectors (one bucket, all-positive signs) and 2
    # in a different bucket (first component negative).
    rows = [(i, [1.0, 1.0, 1.0, 1.0]) for i in range(5)] + [
        (5, [-1.0, 1.0, 1.0, 1.0]),
        (6, [-1.0, 1.0, 1.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    uncapped = embedding_near_dup_pairs(
        emb, threshold=0.9, n_bits=4, max_bucket_size=None
    ).collect()
    assert len(uncapped) == 10 + 1  # C(5,2) + C(2,2)

    capped = embedding_near_dup_pairs(
        emb, threshold=0.9, n_bits=4, max_bucket_size=4
    ).collect()
    assert sorted((r.id_a, r.id_b) for r in capped) == [(5, 6)]

    stats = {
        r.n_ids: r
        for r in embedding_bucket_stats(
            emb, n_bits=4, max_bucket_size=4
        ).collect()
    }
    assert stats[5].dropped and stats[5].n_pairs == 10
    assert not stats[2].dropped and stats[2].n_pairs == 1


def test_connected_components_chain_and_cliques(spark):
    """Min-label propagation: a path graph needs multiple rounds (label 1
    must walk the chain), separate components stay separate, and every id
    from the pair list gets exactly one cluster."""
    from cassandra_analytics_example_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 8), (8, 9), (7, 9)],
        ["id_a", "id_b"],
    )
    got = {
        r.id: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 7: 7, 8: 7, 9: 7}


def test_connected_components_raises_on_non_convergence(spark):
    from cassandra_analytics_example_spark.operators.dedup import (
        connected_components,
    )
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_exact_dedup_prepass_collapses_identical_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base + " indeed"
    docs = spark.createDataFrame(
        [(0, base), (1, base), (2, base), (3, near), (4, "zq xv jw kp " * 6)],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_dedup(
        docs, "doc_id", "text", jaccard_threshold=0.5
    ).collect()
    ids_seen = {i for r in pairs for i in (r.id_a, r.id_b)}
    # byte-identical docs 1 and 2 were collapsed into representative 0
    # before LSH: they appear in no pair, and the 1.0-jaccard pairs
    # (0,1),(0,2),(1,2) are gone.
    assert 1 not in ids_seen and 2 not in ids_seen
    # the genuine near-dup still surfaces via the representative
    assert [(r.id_a, r.id_b) for r in pairs] == [(0, 3)]
    assert all(r.jaccard >= 0.5 for r in pairs)


def test_connected_components_log_rounds_on_long_chain(spark):
    """Pointer jumping must converge a 64-node path in O(log diameter)
    rounds — plain min-label propagation would need ~63. Guards the
    shortcut join from silently regressing to linear rounds."""
    from cassandra_analytics_example_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], ["id_a", "id_b"]
    )
    stats: dict = {}
    got = connected_components(chain, max_iter=12, stats=stats)
    assert got.filter("cluster_id != 1").count() == 0
    assert got.count() == 64
    assert stats["rounds"] <= 10, stats


def test_incremental_minhash_index_matches_from_scratch(spark):
    """Appending batch 2 to an index built from batch 1 must produce
    exactly the new-involving candidate pairs a from-scratch build over
    the full corpus produces — the mergeable-signature property that
    makes the index maintainable without re-reading old text."""
    from cassandra_analytics_example_spark.operators.dedup import (
        incremental_minhash_index,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    batch1 = docs.filter(F.col("doc_id") % 2 == 0)
    batch2 = docs.filter(F.col("doc_id") % 2 == 1)

    sigs1 = minhash_signatures(batch1, "doc_id", "text")
    merged, inc_pairs = incremental_minhash_index(
        sigs1, batch2, "doc_id", "text"
    )
    assert merged.count() == docs.count()

    scratch = lsh_candidate_pairs(
        minhash_signatures(docs, "doc_id", "text"), "doc_id", 4, 4, 1000
    )
    want = scratch.filter(
        (F.col("id_a") % 2 == 1) | (F.col("id_b") % 2 == 1)
    )
    got = {(r.id_a, r.id_b) for r in inc_pairs.collect()}
    expect = {(r.id_a, r.id_b) for r in want.collect()}
    assert got == expect and len(got) > 0


def test_degenerate_boilerplate_bucket_capped_and_accounted(spark, sf_dir):
    """The real-corpus failure mode: templated boilerplate — one long
    shared template plus a tiny per-doc suffix — produces hundreds of
    near-identical but NOT byte-identical docs (so the exact-dedup
    pre-pass cannot collapse them) that all agree on most MinHash bands.
    With the bucket 10x over the cap, candidate generation must stay
    bounded by the kept-pair budget (never quadratic in the boilerplate
    group) and the drop accounting must name the sacrificed buckets."""
    from cassandra_analytics_example_spark.operators.dedup import (
        dedup_drop_audit,
        minhash_signatures,
    )

    cap = 20
    n_boiler = cap * 10
    template = " ".join(
        f"boilerplate clause {i} of the standard license text agreement"
        for i in range(30)
    )
    rows = [(i, f"{template} unique-suffix-{i:04d}") for i in range(n_boiler)]
    rows += [
        (
            10_000 + j,
            f"genuinely distinct document number {j} with its own content "
            * 4,
        )
        for j in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs, "doc_id", "text")

    stats = lsh_bucket_stats(sigs, "doc_id", max_bucket_size=cap).collect()
    dropped = [r for r in stats if r.dropped]
    assert dropped, "no degenerate bucket detected by the accounting"
    # the boilerplate group dominates at least one band bucket far beyond
    # the cap (suffix shingles only rarely steal a band minimum)
    assert max(r.n_ids for r in dropped) >= cap * 5

    kept_budget = sum(r.n_pairs for r in stats if not r.dropped)
    emitted = lsh_candidate_pairs(
        sigs, "doc_id", max_bucket_size=cap
    ).count()
    quadratic = n_boiler * (n_boiler - 1) // 2
    assert emitted <= kept_budget, "cap leaked pairs past the accounting"
    assert emitted < quadratic / 10, (
        f"candidate generation went quadratic: {emitted} pairs"
    )

    # q108's driver-visible audit stays internally consistent on the
    # degenerate corpus: caps flagged exactly, emitted pairs within the
    # kept budget, membership conservation holds.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    audit = {
        r.check_name: r
        for r in dedup_drop_audit(
            docs, emb, max_bucket_size=cap
        ).collect()
    }
    assert all(r.ok for r in audit.values()), {
        k: (v.ok, v.n) for k, v in audit.items()
    }


def test_bucket_pair_accounting_is_bigint_safe(spark):
    """The n_pairs arithmetic in the three bucket-stats accountings must
    not overflow int32: a 100k-member bucket (the exact oversized bucket
    the audits exist to flag) has ~5e9 pairs.  Pins the fixed expression
    shape — size cast to bigint BEFORE the multiply — plus exact small
    values through the real simhash accounting path."""
    big = spark.sql(
        "select (cast(size(ids) as bigint) * (size(ids) - 1)) div 2 as p "
        "from (select sequence(1, 100000) as ids)"
    ).first()
    assert big.p == 100_000 * 99_999 // 2  # 4_999_950_000 > int32 max

    from cassandra_analytics_example_spark.operators.dedup import (
        simhash_bucket_stats,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(40)],
        "doc_id long, text string",
    )
    stats = simhash_bucket_stats(docs, "doc_id", "text").collect()
    assert stats, "identical docs must collide in every band"
    for r in stats:
        assert r.n_pairs == r.n_ids * (r.n_ids - 1) // 2
        assert r.n_ids == 40


def test_auto_band_width_formula():
    """auto_band_width is the deterministic integer twin of the oracle's
    `smallest w in [8,15] with 2^w >= 4N, else 15` — pin the exact values
    the SQL params CTE must reproduce (margin=2, 60 bits, 4 bands)."""
    from cassandra_analytics_example_spark.operators.dedup import (
        auto_band_width,
    )

    assert auto_band_width(0) == 8
    assert auto_band_width(1) == 8
    assert auto_band_width(50) == 8        # sf0.001: 4*50=200 <= 256
    assert auto_band_width(64) == 8        # 4*64 = 256 = 2^8 boundary
    assert auto_band_width(65) == 9        # 4*65 = 260 > 256
    assert auto_band_width(500) == 11      # sf0.01: 2048 >= 2000
    assert auto_band_width(5000) == 15     # sf0.1: 2^15 >= 20000
    assert auto_band_width(10**9) == 15    # clamped at 60 // 4
    # margin scales the target; wider fingerprints raise the clamp
    assert auto_band_width(500, margin=0) == 9
    assert auto_band_width(10**6, n_bands=2, n_bits=60) == 22


def test_simhash_pairs_invariant_to_band_width(spark, sf_dir):
    """Hamming verifies over the FULL fingerprint, so the pair set is
    identical at every legal band width (pigeonhole: <= n_bands-1
    differing bits leave >= 1 banded slice identical for ANY slice
    width) — band width is purely a collision-floor knob. This is what
    makes the corpus-scaled width safe to apply without a semantic
    migration."""
    from cassandra_analytics_example_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_near_dup_pairs_auto,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    by_width = {
        w: {
            (r.id_a, r.id_b, r.hamming)
            for r in simhash_near_dup_pairs(
                docs, "doc_id", "text", n_bits=60, band_width=w
            ).collect()
        }
        for w in (8, 11, 15)
    }
    assert by_width[8] == by_width[11] == by_width[15]
    auto = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dup_pairs_auto(docs, "doc_id", "text").collect()
    }
    assert auto == by_width[8]


def test_simhash_bands_overrunning_fingerprint_rejected(spark):
    from cassandra_analytics_example_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    import pytest

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d e")], ["doc_id", "text"]
    )
    with pytest.raises(ValueError, match="overrun"):
        simhash_near_dup_pairs(
            docs, "doc_id", "text", n_bits=32, band_width=16
        )


def test_auto_band_width_respects_narrow_fingerprints():
    """Geometry cap: when n_bits // n_bands < min_width the returned
    width must shrink to fit the fingerprint, not overrun it (review
    round 8: the auto entry point crashed on n_bits=32, n_bands=8 where
    the manual path worked)."""
    from cassandra_analytics_example_spark.operators.dedup import (
        auto_band_width,
    )

    assert auto_band_width(10**6, n_bands=8, n_bits=32) == 4
    assert auto_band_width(1, n_bands=8, n_bits=32) == 4


def test_simhash_auto_narrow_geometry_runs(spark):
    from cassandra_analytics_example_spark.operators.dedup import (
        simhash_near_dup_pairs_auto,
    )

    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e f"), (2, "x y z w v u")],
        ["doc_id", "text"],
    )
    pairs = simhash_near_dup_pairs_auto(
        docs, "doc_id", "text", n_bits=32, n_bands=8, max_hamming=3
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1)}


def test_simhash_zero_band_width_rejected(spark):
    import pytest

    from cassandra_analytics_example_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="band_width"):
        simhash_near_dup_pairs(docs, "doc_id", "text", band_width=0)


def test_auto_band_width_sql_twin_agrees_for_any_corpus_size():
    """The oracle's params CTE (smallest w in [8,15] with 2^w >= 4N, else
    15) must reproduce auto_band_width for EVERY corpus size, not just
    the fixture scales — hypothesis sweeps N across the whole range the
    driver could ever present, including the pow-of-two boundaries where
    a float-vs-int comparison discrepancy would bite."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from cassandra_analytics_example_spark.operators.dedup import (
        auto_band_width,
    )

    con = duckdb.connect()

    @settings(max_examples=200, deadline=None)
    @given(
        st.one_of(
            st.integers(min_value=0, max_value=200_000),
            # exact power-of-two boundaries and off-by-ones
            st.integers(min_value=6, max_value=16).flatmap(
                lambda k: st.sampled_from(
                    [(1 << k) // 4 - 1, (1 << k) // 4, (1 << k) // 4 + 1]
                )
            ),
        )
    )
    def check(n):
        (w_sql,) = con.execute(
            "SELECT w FROM range(8, 16) t(w), (SELECT ? AS n) c "
            "WHERE pow(2, w) >= 4 * c.n OR w = 15 ORDER BY w LIMIT 1",
            [n],
        ).fetchone()
        assert w_sql == auto_band_width(n), (n, w_sql, auto_band_width(n))

    check()
