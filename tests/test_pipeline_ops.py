"""Training-pipeline operators: deterministic hash split, eval-set
contamination, and the attribution interval join — behavior + plan shape.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.contamination import (
    ngram_contamination,
)
from cassandra_analytics_example_spark.operators.sampling import hash_split
from cassandra_analytics_example_spark.queries import load_all


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def registry():
    return load_all()


def test_hash_split_is_deterministic_and_partition_invariant(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in hash_split(df, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(df.repartition(7), "doc_id").collect()
    }
    assert a == b  # assignment independent of partitioning
    # rough proportions: 90/5/5 within generous hash-noise bounds
    n = len(a)
    from collections import Counter

    c = Counter(a.values())
    assert 0.85 < c["train"] / n < 0.95
    assert 0.02 < c["val"] / n < 0.08
    assert 0.02 < c["test"] / n < 0.08


def test_hash_split_salt_gives_independent_assignment(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in hash_split(df, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(df, "doc_id", salt="v2").collect()
    }
    moved = sum(1 for k in a if a[k] != b[k])
    assert moved > 0  # a salted split is a different split


def test_hash_split_growth_stability(spark):
    """Adding documents never reassigns existing ones (incremental corpus)."""
    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 1500).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in hash_split(small, "doc_id").collect()}
    b = {r.doc_id: r.split for r in hash_split(big, "doc_id").collect()}
    assert all(b[k] == v for k, v in a.items())


def test_hash_split_rejects_bad_weights(spark):
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", weights=[])
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", weights=[("a", 0.0)])


def test_ngram_contamination_finds_planted_overlap(spark):
    eval_set = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta zeta eta"),  # shares 2 distinct 4-grams? no — 1
            (2, "zeta eta theta iota kappa"),  # clean
            (3, "x y alpha beta gamma delta epsilon z"),  # shares grams
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_grams, r.n_hit_grams)
        for r in ngram_contamination(
            corpus, eval_set, "doc_id", "text", ngram_n=4
        ).collect()
    }
    assert 2 not in got  # clean doc absent (inner join)
    assert got[1] == (3, 1)  # "alpha beta gamma delta" only
    assert got[3] == (5, 2)  # both eval 4-grams present
    assert set(got) == {1, 3}


def test_contamination_plan_broadcasts_eval_side(spark, registry):
    from tests.test_plans import plan_of

    plan = plan_of(spark, registry, "q43_eval_contamination")
    assert "BroadcastHashJoin" in plan  # eval grams broadcast
    assert "CartesianProduct" not in plan


def test_attribution_join_plan_is_equi_join(spark, registry):
    """The interval join must keep user_id as the join key: no cartesian or
    nested-loop fallback (the range predicate is a residual filter)."""
    from tests.test_plans import plan_of

    plan = plan_of(spark, registry, "q45_view_purchase_attribution")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lww_tombstone_semantics(spark):
    """A tombstone newer than every write suppresses the key; a write newer
    than a delete resurrects it; keys without tombstones are untouched."""
    from cassandra_analytics_example_spark.operators.relational import (
        lww_latest,
    )

    rows = [
        # key 1: delete is newest -> suppressed
        (1, 10, "w", False), (1, 20, "d", True),
        # key 2: write after delete -> resurrected with the newer write
        (2, 10, "d", True), (2, 20, "w", False),
        # key 3: no tombstone -> newest write wins
        (3, 10, "w1", False), (3, 20, "w2", False),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "payload", "deleted"])
    got = {
        r.k: r.payload
        for r in lww_latest(
            df, ["k"], [F.desc("ts")], tombstone=F.col("deleted")
        ).collect()
    }
    assert got == {2: "w", 3: "w2"}


def test_embedding_dim_stats_partial_aggregation(spark, registry):
    """The posexplode×64 expansion must partial-aggregate map-side: two
    HashAggregate levels, so the shuffle carries |labels|x|dims| partial
    rows, never the exploded data."""
    from tests.test_plans import plan_of

    plan = plan_of(spark, registry, "q47_embedding_dim_stats")
    assert plan.count("HashAggregate") >= 2


def test_kmeans_centroids_deterministic_and_descending(spark, sf_dir):
    """Fixed-point means make the learned centroids identical under
    repartitioning, and Lloyd's iterations never increase the summed
    distance to the assigned centroid (cosine form: 1 - cos)."""
    from cassandra_analytics_example_spark.operators.similarity import (
        assign_cells,
        kmeans_centroids,
    )
    from cassandra_analytics_example_spark.functions.vector import (
        cosine_similarity,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    a = kmeans_centroids(emb, k=4, n_iter=2).collect()
    b = kmeans_centroids(emb.repartition(13), k=4, n_iter=2).collect()
    assert sorted((r.cent_id, tuple(r.centv)) for r in a) == sorted(
        (r.cent_id, tuple(r.centv)) for r in b
    )

    def sse(n_iter):
        cents = kmeans_centroids(emb, k=4, n_iter=n_iter)
        assigned = assign_cells(emb, cents)
        joined = assigned.join(
            cents.select(F.col("cent_id").alias("cell"), "centv"), "cell"
        )
        return joined.select(
            F.sum(1 - cosine_similarity("embedding", "centv")).alias("s")
        ).collect()[0].s

    assert sse(3) <= sse(1) + 1e-9  # Lloyd's objective descends


def test_kmeans_invariants_all_green(spark, sf_dir):
    """q52's oracle-checkable surface: every invariant row must be ok=true
    with 0 violations, and all_assigned must carry the corpus count."""
    from cassandra_analytics_example_spark.operators.similarity import (
        kmeans_invariants,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = {r.check_name: r for r in kmeans_invariants(emb, k=8, n_iter=3).collect()}
    assert set(rows) == {
        "all_assigned",
        "assignment_is_argmax",
        "objective_non_decreasing",
        "cells_within_k",
    }
    assert all(r.ok for r in rows.values()), rows
    assert rows["all_assigned"].n == emb.count()
    assert rows["assignment_is_argmax"].n == 0
    assert rows["objective_non_decreasing"].n == 0


def test_countmin_cells_bounded_and_mergeable(spark, sf_dir):
    """The CMS cell table is depth*width rows max whatever the corpus, and
    two disjoint shards' sketches merged by cell addition equal the whole
    corpus's sketch — the property that makes it a 100 TB/multi-day
    aggregate."""
    from cassandra_analytics_example_spark.operators.sketches import (
        countmin_cells,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    whole = countmin_cells(toks, "tok", depth=4, width=64)
    assert whole.count() <= 4 * 64

    half_a = countmin_cells(toks.filter("doc_id % 2 = 0"), "tok", 4, 64)
    half_b = countmin_cells(toks.filter("doc_id % 2 = 1"), "tok", 4, 64)
    merged = (
        half_a.unionByName(half_b)
        .groupBy("d", "cell")
        .agg(F.sum("c").alias("c"))
    )
    diff = merged.join(whole, ["d", "cell"], "full").filter(
        F.coalesce(merged["c"], F.lit(0)) != F.coalesce(whole["c"], F.lit(0))
    )
    assert diff.count() == 0


def test_countmin_never_underestimates(spark, sf_dir):
    from cassandra_analytics_example_spark.operators.sketches import (
        countmin_cells,
        countmin_estimate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    true_counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_n"))
    probes = true_counts.orderBy(F.desc("true_n"), F.asc("tok")).limit(50)
    cells = countmin_cells(toks, "tok", depth=4, width=64)
    est = countmin_estimate(cells, probes.select("tok"), "tok", 4, 64)
    bad = (
        probes.join(est, "tok")
        .filter(F.col("est_n") < F.col("true_n"))
        .count()
    )
    assert bad == 0


def test_countmin_absent_probe_estimates_zero(spark, sf_dir):
    """A probe key the corpus never saw must come back with est_n = 0 (or
    the collision noise floor), NOT vanish from the output — callers join
    estimates back onto their probe set and a dropped key reads as 'no
    data' instead of 'count 0'. Regression for the inner-join variant,
    which lost any probe whose cells were all absent."""
    from cassandra_analytics_example_spark.operators.sketches import (
        countmin_cells,
        countmin_estimate,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    # width >> distinct tokens at sf0.001 would still collide; use a wide
    # sketch so the absent key's cells are very likely all-zero.
    cells = countmin_cells(toks, "tok", depth=4, width=1 << 16)
    probes = spark.createDataFrame(
        [("__definitely_not_a_corpus_token__",)], ["tok"]
    )
    est = countmin_estimate(cells, probes, "tok", 4, 1 << 16).collect()
    assert len(est) == 1, "absent probe key dropped from CMS output"
    assert est[0]["est_n"] == 0


def test_shard_packing_balance(spark, sf_dir):
    """Round-robin-by-size-rank must keep shard totals within one maximal
    document of each other, and every doc lands in exactly one shard."""
    from cassandra_analytics_example_spark.operators.chunking import (
        shard_packing,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = shard_packing(docs, "doc_id", "n_chars", n_shards=8)
    assert out.count() == docs.count()
    totals = {
        r.shard: r.t
        for r in out.groupBy("shard")
        .agg(F.sum("n_chars").alias("t"))
        .collect()
    }
    assert len(totals) == 8
    max_doc = docs.agg(F.max("n_chars")).first()[0]
    assert max(totals.values()) - min(totals.values()) <= max_doc


def test_mixture_plan_invariants(spark, sf_dir):
    """Quotas never exceed availability, rates stay <= 1e6 ppm, and the
    summed plan respects the budget (sum of floored shares <= budget)."""
    from cassandra_analytics_example_spark.operators.sampling import (
        mixture_plan,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = mixture_plan(docs, "lang", "n_chars", 1, 2).collect()
    assert plan
    total = sum(r.available for r in plan)
    assert all(0 <= r.quota <= r.available for r in plan)
    assert all(0 <= r.rate_ppm <= 1_000_000 for r in plan)
    assert sum(r.quota for r in plan) <= total // 2
    # sqrt-temperature upweighting: the smallest group gets a strictly
    # larger rate than the largest (unless both are quota-capped at 1e6)
    by_avail = sorted(plan, key=lambda r: r.available)
    if by_avail[0].rate_ppm < 1_000_000:
        assert by_avail[0].rate_ppm >= by_avail[-1].rate_ppm


def test_mixture_plan_degenerate_groups(spark):
    """A zero-size group (or an all-empty corpus) must plan quota/rate 0 —
    ANSI mode turns an unguarded integral division into a hard error."""
    from cassandra_analytics_example_spark.operators.sampling import (
        mixture_plan,
    )

    df = spark.createDataFrame(
        [("en", 100), ("xx", 0)], "lang string, n_chars long"
    )
    rows = {r.lang: r for r in mixture_plan(df, "lang", "n_chars").collect()}
    assert rows["xx"].quota == 0 and rows["xx"].rate_ppm == 0
    assert rows["en"].quota == 50 and rows["en"].rate_ppm == 500_000

    empty = spark.createDataFrame([("en", 0)], "lang string, n_chars long")
    (only,) = mixture_plan(empty, "lang", "n_chars").collect()
    assert only.quota == 0 and only.rate_ppm == 0


def test_dedup_drop_audit_all_green(spark, sf_dir):
    """q108's surface: every conservation invariant holds, and a cap tight
    enough to actually drop buckets must STILL hold them (the accounting is
    about drops being visible, not absent)."""
    from cassandra_analytics_example_spark.operators.dedup import (
        dedup_drop_audit,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for cap in (50, 2):  # cap=2 forces drops on any shared-band bucket >2
        rows = {
            r.check_name: r
            for r in dedup_drop_audit(docs, emb, max_bucket_size=cap).collect()
        }
        assert all(r.ok for r in rows.values()), (cap, rows)
        assert rows["caps_respected"].n == 0
        assert rows["candidates_bounded_by_kept_pairs"].n == 0


# The lineage-cutting operators on fixed inputs, as JSON-able values. Run
# in-process (local cuts) and in a child session whose context has a
# checkpoint directory (reliable cuts).
_CUT_RESULTS = """
def cut_results(spark, sf_dir):
    from pyspark.sql import functions as F

    from cassandra_analytics_example_spark.operators.dedup import (
        connected_components,
    )
    from cassandra_analytics_example_spark.operators.ranking import (
        roc_auc_exact,
    )
    from cassandra_analytics_example_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "id_a long, id_b long"
    )
    scored = spark.range(2000).select(
        (F.col("id") * 7919 % 101).alias("score"),
        (F.col("id") % 3 == 0).cast("int").alias("is_pos"),
    )
    return {
        "kmeans": sorted(
            [r.cent_id, list(r.centv)]
            for r in kmeans_centroids(emb, k=4, n_iter=2).collect()
        ),
        "cc": sorted(
            [r.id, r.cluster_id] for r in connected_components(pairs).collect()
        ),
        "auc": [list(r) for r in roc_auc_exact(scored).collect()],
    }
"""

_RELIABLE_SCRIPT = f"""
import json, os, sys
sys.path.insert(0, {ROOT!r})
from cassandra_analytics_example_spark.session import get_spark
{_CUT_RESULTS}
sf_dir, ck_dir = sys.argv[1:3]
spark = get_spark(
    app_name="reliable-cuts", extra_conf={{"spark.checkpoint.dir": ck_dir}}
)
out = cut_results(spark, sf_dir)
out["subdirs"] = sorted(os.listdir(ck_dir))
out["files"] = sum(len(f) for _, _, f in os.walk(ck_dir))
out["rdd_dirs"] = sorted(
    d for sub in out["subdirs"] for d in os.listdir(os.path.join(ck_dir, sub))
)
print(json.dumps(out))
spark.stop()
"""


def test_iterative_ops_reliable_checkpoint(spark, sf_dir, tmp_path):
    """With a checkpoint directory on the context (``spark.checkpoint.dir``)
    every lineage cut is a reliable checkpoint (survives executor loss on
    a real cluster) and must produce results identical to the local cuts
    of a session without one. A context's checkpoint directory cannot be
    unset, so the reliable side runs in a child process rather than
    switching the shared session for every later test."""
    import json
    import subprocess
    import sys
    import uuid

    ck_dir = tmp_path / "ck"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, "-c", _RELIABLE_SCRIPT, sf_dir, str(ck_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    reliable = json.loads(out.stdout.strip().splitlines()[-1])

    ns: dict = {}
    exec(_CUT_RESULTS, ns)
    local = ns["cut_results"](spark, sf_dir)
    assert reliable["kmeans"] == local["kmeans"]
    want = [[1, 1], [2, 1], [3, 1], [10, 10], [11, 10], [20, 20], [21, 20],
            [22, 20]]
    assert reliable["cc"] == local["cc"] == want
    assert reliable["auc"] == local["auc"]
    # checkpoint files actually landed in the directory, and the many
    # cuts above (kmeans rounds, cc edges + rounds, the AUC row) shared
    # the one subdirectory the context minted at start
    assert reliable["files"] > 0
    assert len(reliable["subdirs"]) == 1
    uuid.UUID(reliable["subdirs"][0])
    # superseded rounds' files are deleted with their cuts: one rdd-* dir
    # is left per returned cut (the centroids, the cc labels, the AUC row)
    assert len(reliable["rdd_dirs"]) == 3, reliable["rdd_dirs"]
    assert all(d.startswith("rdd-") for d in reliable["rdd_dirs"])


def _local_cut_ids(spark) -> set:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        i for i in rdds.keySet() if rdds.get(i).rdd().isLocallyCheckpointed()
    }


def _cc_chain(spark, sf_dir):
    from cassandra_analytics_example_spark.operators.dedup import (
        connected_components,
    )

    stats: dict = {}
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    out = connected_components(pairs, stats=stats)
    assert stats["rounds"] >= 3
    return out


def _kmeans(spark, sf_dir):
    from cassandra_analytics_example_spark.operators.similarity import (
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_centroids(emb, k=4, n_iter=3)


def _pagerank(spark, sf_dir):
    from cassandra_analytics_example_spark.operators.graph import (
        pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a != b], ["src", "dst"]
    )
    return pagerank_integer(edges, iterations=7, checkpoint_every=2)


@pytest.mark.parametrize(
    "build", [_cc_chain, _kmeans, _pagerank], ids=lambda f: f.__name__[1:]
)
def test_iterative_ops_release_superseded_cuts(spark, sf_dir, build):
    """An iterative operator cuts lineage every round (or every
    ``checkpoint_every`` rounds); each round's cut is released once the
    next one is materialized, so after the call only the returned
    frame's cut is left (no checkpoint directory on the test session, so
    the cuts are local checkpoints)."""
    before = _local_cut_ids(spark)
    out = build(spark, sf_dir)
    assert len(_local_cut_ids(spark) - before) == 1
    assert out.collect()


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe LSH must recover at least as many true (brute-force)
    top-k neighbors as single-probe — the point of probing hamming-1
    buckets."""
    from cassandra_analytics_example_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        multiprobe_lsh_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 10)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    truth = pairs(brute_force_topk(emb, queries, k=5))
    single = pairs(lsh_topk(emb, queries, k=5, n_bits=4))
    multi = pairs(multiprobe_lsh_topk(emb, queries, k=5, n_bits=4))
    assert len(multi & truth) >= len(single & truth)
    assert len(multi & truth) > 0


def test_chunk_documents_overlap_and_tail(spark):
    """Chunks cover every token, consecutive chunks share exactly the
    overlap, no chunk is fully contained in its predecessor, and a short
    doc yields one whole chunk."""
    from cassandra_analytics_example_spark.operators.chunking import (
        chunk_documents,
    )

    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "a b")], ["doc_id", "text"])
    got = chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap_tokens=1)
    rows = sorted(
        ((r.doc_id, r.chunk_index, r.chunk_text) for r in got.collect())
    )
    # doc 1: stride 3, offsets 1,4,7 over 10 tokens (upper bound 10-1=9)
    assert [r for r in rows if r[0] == 1] == [
        (1, 0, "t0 t1 t2 t3"),
        (1, 1, "t3 t4 t5 t6"),
        (1, 2, "t6 t7 t8 t9"),
    ]
    assert [r for r in rows if r[0] == 2] == [(2, 0, "a b")]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap_tokens=4)


def test_redact_pii_counts_and_replacement(spark):
    from cassandra_analytics_example_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-1.org twice x@y.io end"),
            (2, "server 192.168.0.1 and 10.0.0.255 up"),
            (3, "dial +44 123-456-7890 now"),
            (4, "clean text, nothing to scrub"),
        ],
        ["id", "text"],
    )
    out = {r.id: r for r in redact_pii(df).collect()}
    assert (out[1].n_email, out[1].n_ip, out[1].n_phone) == (2, 0, 0)
    assert out[1].redacted == "mail [EMAIL] twice [EMAIL] end"
    assert out[2].n_ip == 2
    assert out[2].redacted == "server [IP] and [IP] up"
    assert out[3].n_phone == 1
    assert out[3].redacted == "dial [PHONE] now"
    assert (out[4].n_email, out[4].n_ip, out[4].n_phone) == (0, 0, 0)
    assert out[4].redacted == out[4].text


def test_repetition_signals_known_values(spark):
    from cassandra_analytics_example_spark.operators.text import (
        repetition_signals,
    )

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "x y z"), (3, "w w w w")], ["id", "text"]
    )
    out = {r.id: r for r in repetition_signals(df, "id").collect()}
    assert out[1].n_tokens == 3
    assert out[1].dup_token_ratio == pytest.approx(1 / 3)
    assert out[1].top_token_share == pytest.approx(2 / 3)
    # 2-grams of "a a b": ["a a", "a b"] — all distinct
    assert out[1].dup_2gram_ratio == 0.0
    assert out[2].dup_token_ratio == 0.0
    assert out[3].dup_token_ratio == pytest.approx(3 / 4)
    # 2-grams of "w w w w": ["w w"] x3 — 2 of 3 are duplicates
    assert out[3].dup_2gram_ratio == pytest.approx(2 / 3)


def test_stratified_downsample_balances_and_is_deterministic(spark):
    from cassandra_analytics_example_spark.operators.sampling import (
        stratified_downsample,
    )

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 7, "big").otherwise("small").alias("cls"),
    )
    kept = stratified_downsample(df, "cls", "doc_id")
    counts = {r.cls: r.cnt for r in
              kept.groupBy("cls").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # small stratum (900 rows) kept whole; big (2100) downsampled near 900
    assert counts["small"] == 900
    assert 800 < counts["big"] < 1000
    again = stratified_downsample(df.repartition(13), "cls", "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_pack_sequences_offsets_are_contiguous(spark):
    from cassandra_analytics_example_spark.operators.chunking import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(i, " ".join(["t"] * (5 + i % 7))) for i in range(200)],
        ["doc_id", "text"],
    )
    rows = pack_sequences(df, "doc_id", "text", budget_tokens=16,
                          n_buckets=4).collect()
    by_bucket: dict[int, list] = {}
    for r in rows:
        by_bucket.setdefault(r.bucket, []).append(r)
    assert len(by_bucket) == 4
    for bucket_rows in by_bucket.values():
        bucket_rows.sort(key=lambda r: r.start_tok)
        pos = 0
        for r in bucket_rows:
            assert r.start_tok == pos  # end-to-end, no gaps or overlaps
            assert r.first_seq == r.start_tok // 16
            assert r.last_seq == (r.start_tok + r.n_tokens - 1) // 16
            pos += r.n_tokens


def test_tfidf_ranks_rare_terms_above_common(spark):
    from cassandra_analytics_example_spark.operators.text import (
        tf_idf_top_terms,
    )

    # "common" is in every doc; each doc also has a unique term
    df = spark.createDataFrame(
        [(i, f"common common unique{i}") for i in range(10)], ["id", "text"]
    )
    out = tf_idf_top_terms(df, "id", "text", k=1).collect()
    assert len(out) == 10
    for r in out:
        assert r.term == f"unique{r.id}"
        # tf = 1/3, idf = 10/1
        assert r.tfidf == pytest.approx((1 / 3) * 10)


def test_dedup_against_drops_seen_hashes_only(spark):
    from cassandra_analytics_example_spark.operators.dedup import dedup_against

    batch = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], ["id", "text"]
    )
    seen = spark.createDataFrame([("beta",), ("delta",)], ["t"]).select(
        F.md5("t").alias("content_hash")
    )
    out = dedup_against(batch, seen, "id")
    assert sorted(r.id for r in out.collect()) == [1, 3]
    # survivors carry their hash so the inventory can be extended
    assert "content_hash" in out.columns


def test_salted_join_matches_plain_join(spark):
    from cassandra_analytics_example_spark.operators.relational import (
        salted_join,
    )

    left = spark.createDataFrame(
        [(i, 1 if i % 10 < 8 else i % 5, f"u{i}") for i in range(1000)],
        "row_id bigint, k bigint, uid string",
    )
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(5)] + [(1, "dup")],
        "k bigint, payload string",
    )
    plain = left.join(right, "k", "inner")
    salted = salted_join(left, right, "k", salt_id="uid", buckets=8)
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_left_join_keeps_unmatched_rows_once(spark):
    from cassandra_analytics_example_spark.operators.relational import (
        salted_join,
    )

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (99, "nomatch")], "k bigint, uid string"
    )
    right = spark.createDataFrame([(1, "x"), (2, "y")], "k bigint, v string")
    out = salted_join(left, right, "k", salt_id="uid", buckets=4, how="left")
    rows = {(r.k, r.v) for r in out.collect()}
    assert rows == {(1, "x"), (2, "y"), (99, None)}
    assert out.count() == 3


def test_salted_join_spreads_hot_key_across_buckets(spark):
    from pyspark.sql import functions as F

    from cassandra_analytics_example_spark.functions.text import md5_u60

    # the salt column itself must be near-uniform over a hot key's rows —
    # that is the entire skew-splitting claim.
    hot = spark.range(0, 4000).select(
        (md5_u60(F.col("id").cast("string")) % 8).alias("salt")
    )
    counts = [r.n for r in hot.groupBy("salt").agg(F.count("*").alias("n")).collect()]
    assert len(counts) == 8
    assert max(counts) < 2 * min(counts)


def test_salted_join_rejects_unsupported_how(spark):
    import pytest as _pytest

    from cassandra_analytics_example_spark.operators.relational import (
        salted_join,
    )

    df = spark.range(1).select(F.col("id").alias("k"), F.col("id").alias("uid"))
    with _pytest.raises(ValueError):
        salted_join(df, df, "k", salt_id="uid", how="full")


def test_weighted_upsample_tracks_target_and_caps(spark):
    from cassandra_analytics_example_spark.operators.sampling import (
        weighted_upsample,
    )

    rows = (
        [(i, "big") for i in range(1000)]
        + [(10_000 + i, "half") for i in range(500)]
        + [(20_000 + i, "tiny") for i in range(100)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    up = weighted_upsample(df, "lang", "doc_id", cap=3.0)
    counts = {r.lang: r.n for r in up.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["big"] == 1000          # factor 1.0: untouched
    assert 960 <= counts["half"] <= 1040  # factor 2.0 exactly → ~1000
    assert counts["tiny"] == 300          # capped at 3x, factor is integral
    # deterministic: same input → identical multiset
    again = weighted_upsample(df, "lang", "doc_id", cap=3.0)
    assert up.exceptAll(again).count() == 0 and again.exceptAll(up).count() == 0
    # every source row survives at least once
    assert up.select("doc_id").distinct().count() == 1600


def test_weighted_upsample_rejects_sub_one_cap(spark):
    from cassandra_analytics_example_spark.operators.sampling import (
        weighted_upsample,
    )

    df = spark.createDataFrame([(1, "a")], "doc_id bigint, lang string")
    with pytest.raises(ValueError):
        weighted_upsample(df, "lang", "doc_id", cap=0.5)


def test_snapshot_diff_classifies_planted_changes(spark):
    from cassandra_analytics_example_spark.operators.versioning import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "en"), (3, "c", "de")],
        "id bigint, text string, lang string",
    )
    new = spark.createDataFrame(
        [(2, "b", "en"), (3, "c CHANGED", "de"), (4, "d", "fr")],
        "id bigint, text string, lang string",
    )
    got = {
        (r.id, r.status)
        for r in snapshot_diff(old, new, "id", ["text", "lang"]).collect()
    }
    assert got == {(1, "removed"), (3, "changed"), (4, "added")}
    full = snapshot_diff(
        old, new, "id", ["text", "lang"], keep_unchanged=True
    )
    assert {(r.id, r.status) for r in full.collect()} == {
        (1, "removed"), (2, "unchanged"), (3, "changed"), (4, "added"),
    }


def test_snapshot_diff_null_payload_is_stable(spark):
    from cassandra_analytics_example_spark.operators.versioning import (
        snapshot_diff,
    )

    old = spark.createDataFrame([(1, None, "en")], "id bigint, text string, lang string")
    new = spark.createDataFrame([(1, None, "en")], "id bigint, text string, lang string")
    assert (
        snapshot_diff(old, new, "id", ["text", "lang"]).count() == 0
    )


def test_key_skew_report_flags_planted_hot_key(spark):
    from cassandra_analytics_example_spark.operators.profiling import (
        hot_keys,
        key_skew_report,
    )

    df = spark.createDataFrame(
        [(1,)] * 900 + [(k,) for k in range(2, 102)], "k bigint"
    )
    r = key_skew_report(df, "k").first()
    assert r.n_keys == 101 and r.n_rows == 1000
    assert r.max_cnt == 900 and r.min_cnt == 1
    assert abs(r.hot_share - 0.9) < 1e-12
    assert abs(r.skew_ratio - 900 * 101 / 1000) < 1e-9
    top = hot_keys(df, "k", 3).collect()
    assert [t.k for t in top] == [1, 2, 3]
    assert [t.cnt for t in top] == [900, 1, 1]


def test_column_profile_counts_nulls_and_distincts(spark):
    from cassandra_analytics_example_spark.operators.profiling import (
        column_profile,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "a")],
        "x bigint, s string",
    )
    prof = {r.column: r for r in column_profile(df, ["x", "s"]).collect()}
    assert prof["x"].n_rows == 4 and prof["x"].n_nulls == 1
    assert prof["x"].n_distinct == 2
    assert prof["x"].min_value == "1" and prof["x"].max_value == "2"
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2


def test_unigram_logprob_hand_computed(spark):
    import math

    from cassandra_analytics_example_spark.operators.text import (
        unigram_logprob_scores,
    )

    # corpus: "a a b" + "b" → counts a:2 b:2 total 4 → logp(a)=logp(b)=ln(0.5)
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b")], "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.score_qnats, r.n_tokens)
        for r in unigram_logprob_scores(df, "doc_id").collect()
    }
    q = math.floor(math.log(0.5) * 10_000)
    assert got == {1: (3 * q, 3), 2: (q, 1)}


def test_quantize_int8_roundtrip_error_bound(spark):
    from cassandra_analytics_example_spark.operators.similarity import (
        quantize_int8,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    rows = {r.vec_id: r for r in quantize_int8(df, "vec_id").collect()}
    assert rows[1].q_csv == "127,-63,32,0"  # -63.5 rounds half-UP to -63
    assert abs(rows[1].scale - 1.0 / 127) < 1e-15
    # reconstruction error bounded by half a quantization step
    assert rows[1].max_abs_err <= rows[1].scale / 2 + 1e-12
    assert rows[2].q_csv == "0,0,0,0" and rows[2].scale == 0.0


def test_funnel_stages_ordering_and_gap_semantics(spark):
    from cassandra_analytics_example_spark.operators.relational import (
        funnel_stages,
    )

    rows = [
        # u1: clean view(10) -> click(20) -> buy(30)
        (1, 10, "view"), (1, 20, "click"), (1, 30, "buy"),
        # u2: click BEFORE view — must not count; no click after view
        (2, 10, "click"), (2, 20, "view"), (2, 30, "buy"),
        # u3: view only
        (3, 10, "view"),
        # u4: view(10), click too late for gap=15 (ts 30), buy(40)
        (4, 10, "view"), (4, 30, "click"), (4, 40, "buy"),
        # u5: two views; click after the FIRST view counts from t=5
        (5, 5, "view"), (5, 50, "view"), (5, 12, "click"),
    ]
    df = spark.createDataFrame(rows, "u bigint, ts bigint, et string")
    stages = [
        ("view", F.col("et") == "view"),
        ("click", F.col("et") == "click"),
        ("buy", F.col("et") == "buy"),
    ]
    unbounded = {
        r.u: (r.t_view, r.t_click, r.t_buy)
        for r in funnel_stages(df, "u", "ts", stages).collect()
    }
    assert unbounded[1] == (10, 20, 30)
    assert unbounded[2] == (20, None, None)   # pre-view click ignored
    assert unbounded[3] == (10, None, None)
    assert unbounded[4] == (10, 30, 40)
    assert unbounded[5] == (5, 12, None)
    gapped = {
        r.u: (r.t_view, r.t_click, r.t_buy)
        for r in funnel_stages(df, "u", "ts", stages, max_gap=15).collect()
    }
    assert gapped[1] == (10, 20, 30)
    assert gapped[4] == (10, None, None)      # click at 30 > 10+15
    # exactly one shuffle regardless of stage count
    plan = (
        funnel_stages(df, "u", "ts", stages)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 2  # window + distinct


def test_knn_quantized_recall_vs_exact(spark, sf_dir):
    from cassandra_analytics_example_spark.operators.similarity import (
        brute_force_topk,
        knn_quantized,
    )
    from cassandra_analytics_example_spark.queries._tables import table as tbl

    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(emb, queries, k=5)
    quant = knn_quantized(emb, queries, k=5, coarse_k=20)
    a = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    b = {(r.query_id, r.neighbor_id) for r in quant.collect()}
    assert len(b) == len(a)
    # int8 with a 4x coarse widening should rarely miss; demand >= 80%
    assert len(a & b) / len(a) >= 0.8
    # and the ranking column is a proper 1..5 per query
    per_q = {}
    for r in quant.collect():
        per_q.setdefault(r.query_id, []).append(r.rnk)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_merge_upsert_semantics(spark):
    from cassandra_analytics_example_spark.operators.versioning import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, v string"
    )
    updates = spark.createDataFrame(
        [
            (2, "B", False),   # update
            (3, "c", True),    # delete
            (4, "d", False),   # insert
        ],
        "id bigint, v string, is_delete boolean",
    )
    got = {
        r.id: r.v
        for r in merge_upsert(
            target, updates, "id", delete_col="is_delete"
        ).collect()
    }
    assert got == {1: "a", 2: "B", 4: "d"}
    # without a delete column everything upserts
    got2 = {
        r.id: r.v
        for r in merge_upsert(
            target, updates.drop("is_delete"), "id"
        ).collect()
    }
    assert got2 == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_observed_write_audits_in_single_pass(spark, tmp_path):
    """observed_write: the audit metrics delivered by Dataset.observe
    must equal a separate aggregate over the same input, and the write
    must land — one scan does both jobs."""
    from pyspark.sql import functions as F

    from cassandra_analytics_example_spark.operators.profiling import (
        observed_write,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "audited")
    got = observed_write(
        docs,
        out,
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_lang": F.count(F.when(F.col("lang").isNull(), 1)),
            "sum_chars": F.sum("n_chars"),
        },
    )
    want = docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("lang").isNull(), 1)).alias("n_null_lang"),
        F.sum("n_chars").alias("sum_chars"),
    ).first()
    assert got["n_rows"] == want["n_rows"]
    assert got["n_null_lang"] == want["n_null_lang"]
    assert got["sum_chars"] == want["sum_chars"]
    assert spark.read.parquet(out).count() == want["n_rows"]


# ------------------------------------------- round-5 operator invariants ---

SF001 = "/root/testdata/sf0.001"


def test_ring_negatives_invariants(spark):
    """Every anchor gets at most k negatives, never itself; assignment is
    invariant under repartitioning (pure function of ids)."""
    from cassandra_analytics_example_spark.operators.sampling import (
        hash_ring_negatives,
    )

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    out = hash_ring_negatives(docs, "doc_id", k=3, n_buckets=16)
    rows = out.collect()
    per_anchor = {}
    for r in rows:
        assert r.neg_id != r.anchor_id
        per_anchor.setdefault(r.anchor_id, set()).add(r.neg_rank)
    assert all(len(v) <= 3 for v in per_anchor.values())
    again = {
        (r.anchor_id, r.neg_rank, r.neg_id)
        for r in hash_ring_negatives(
            docs.repartition(7), "doc_id", k=3, n_buckets=16
        ).collect()
    }
    assert {(r.anchor_id, r.neg_rank, r.neg_id) for r in rows} == again


def test_budget_selection_respects_budget_and_is_monotone(spark):
    """Selected token mass never exceeds the budget per language, and
    raising the budget only ever grows the keep set."""
    from cassandra_analytics_example_spark.operators.sampling import (
        token_budget_selection,
    )

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    small = token_budget_selection(docs, budget_tokens=1000)
    big = token_budget_selection(docs, budget_tokens=3000)
    agg = (
        small.filter("selected")
        .groupBy("lang")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    )
    assert agg and all(r.t <= 1000 for r in agg)
    s_ids = {r.doc_id for r in small.filter("selected").collect()}
    b_ids = {r.doc_id for r in big.filter("selected").collect()}
    assert s_ids <= b_ids


def test_cluster_weights_sum_to_one_per_cluster(spark):
    """Weights are the multiplicity inverse: every cluster's weights sum to
    exactly 1.0 (1/n added n times), every doc appears exactly once."""
    from cassandra_analytics_example_spark.operators.dedup import (
        cluster_weights,
    )

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    out = cluster_weights(docs, "doc_id", "text")
    rows = out.collect()
    assert len(rows) == docs.count()
    assert len({r.doc_id for r in rows}) == len(rows)
    sums = {}
    for r in rows:
        assert 0 < r.weight <= 1.0
        sums[r.cluster_id] = sums.get(r.cluster_id, 0.0) + r.weight
    assert all(abs(s - 1.0) < 1e-9 for s in sums.values())


def test_semdedup_keeps_cell_minimum(spark):
    """The lowest-id vector of every cell has no lower-id cell-mate, so it
    must always be kept; and at least one vector per cell survives."""
    from cassandra_analytics_example_spark.operators.similarity import (
        semdedup_prune,
    )

    emb = spark.read.parquet(f"{SF001}/embeddings.parquet")
    rows = semdedup_prune(emb, threshold=0.35).collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    for cell, members in by_cell.items():
        lowest = min(members, key=lambda r: r.vec_id)
        assert lowest.kept, f"cell {cell} dropped its minimum id"
        assert any(m.kept for m in members)


def test_bpe_pairs_ranked_and_positive(spark):
    from cassandra_analytics_example_spark.operators.text import (
        bpe_pair_counts,
    )

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    rows = bpe_pair_counts(docs, "text", top_n=10).collect()
    assert sorted(r.rnk for r in rows) == list(range(1, len(rows) + 1))
    counts = [r.pair_count for r in sorted(rows, key=lambda r: r.rnk)]
    assert counts == sorted(counts, reverse=True)
    assert all(c > 0 for c in counts)
    assert all(len(r.left_sym) == 1 and len(r.right_sym) == 1 for r in rows)


def test_containment_bounds_and_orientation(spark):
    from cassandra_analytics_example_spark.operators.dedup import (
        token_containment_pairs,
    )

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    rows = token_containment_pairs(
        docs, "doc_id", "text", threshold=0.6
    ).collect()
    assert rows, "fixture contains near-dup copies; expected pairs"
    for r in rows:
        assert r.id_a < r.id_b
        assert 0.6 <= r.containment <= 1.0


def test_boilerplate_fraction_bounds(spark):
    from cassandra_analytics_example_spark.operators.text import (
        boilerplate_gram_coverage,
    )

    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    rows = boilerplate_gram_coverage(docs, "doc_id", "text").collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 0 <= r.n_boiler <= r.n_grams
        assert 0.0 <= r.boiler_frac <= 1.0


def test_inverted_index_invariants(spark):
    from cassandra_analytics_example_spark.operators.indexing import (
        inverted_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a c"),
            (2, "a b"),
            (3, "a a a a"),
            (4, "c"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.term: r for r in inverted_index(docs, "doc_id", "text",
                                              max_postings=2).collect()}
    # df counts documents, cf counts occurrences
    assert rows["a"].df == 3 and rows["a"].cf == 7
    assert rows["c"].df == 2 and rows["c"].cf == 2
    # postings ordered by tf desc then doc_id asc, capped at 2, flag set
    assert rows["a"].postings == "3,1" and rows["a"].truncated is True
    assert rows["c"].postings == "1,4" and rows["c"].truncated is False
    # capped posting length never exceeds the cap
    assert all(len(r.postings.split(",")) <= 2 for r in rows.values())


def test_item_affinity_invariants(spark):
    from cassandra_analytics_example_spark.operators.indexing import (
        item_affinity,
    )

    obs = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z"),
         (1, "x")],  # duplicate observation must not double-count
        ["g", "item"],
    )
    out = {(r.item_a, r.item_b): r
           for r in item_affinity(obs, "g", "item", min_cooc=1).collect()}
    xy = out[("x", "y")]
    assert xy.cooc == 2 and xy.cnt_a == 3 and xy.cnt_b == 2
    assert abs(xy.jaccard - 2 / 3) < 1e-12
    # pairs are canonically oriented and self-pairs never appear
    assert all(a < b for (a, b) in out)
    assert all(0 < r.jaccard <= 1 for r in out.values())
    # per-group cap bounds the quadratic: capping at 1 item kills all pairs
    assert (
        item_affinity(obs, "g", "item", min_cooc=1,
                      max_items_per_group=1).count() == 0
    )


def test_deterministic_shuffle_is_a_stable_permutation(spark):
    from cassandra_analytics_example_spark.operators.indexing import (
        deterministic_shuffle,
    )

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = deterministic_shuffle(df, "doc_id", n_shards=8, seed="epoch0")
    rows = out.collect()
    # global_pos is a permutation of 0..n-1
    assert sorted(r.global_pos for r in rows) == list(range(500))
    # shard-contiguous: global positions inside a shard are consecutive
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.pos_in_shard)
        base = rs[0].global_pos
        assert [r.global_pos for r in rs] == list(
            range(base, base + len(rs))
        )
    # reproducible across partitioning, different under a new seed
    again = {
        r.doc_id: r.global_pos
        for r in deterministic_shuffle(
            df.repartition(13), "doc_id", n_shards=8, seed="epoch0"
        ).collect()
    }
    assert again == {r.doc_id: r.global_pos for r in rows}
    other = {
        r.doc_id: r.global_pos
        for r in deterministic_shuffle(
            df, "doc_id", n_shards=8, seed="epoch1"
        ).collect()
    }
    assert other != again


def test_compression_scores_separate_repetitive_from_diverse(spark):
    from cassandra_analytics_example_spark.operators.compression import (
        compression_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "ab" * 500),                        # highly repetitive
            (2, " ".join(str(i * 7919 % 104729) for i in range(200))),
            (3, ""),                                # empty must not crash
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in compression_scores(docs, "doc_id").collect()}
    assert rows[1].n_bytes == 1000
    # repetitive text compresses far better than number soup
    assert rows[1].ratio > 3 * rows[2].ratio
    assert rows[2].ratio > 0.5
    # zlib of empty input is the 8-byte header; ratio 0, never a crash
    assert rows[3].n_bytes == 0 and rows[3].n_compressed > 0
    assert rows[3].ratio == 0.0


def test_scd2_pit_join_expiry_and_gap_semantics(spark):
    from cassandra_analytics_example_spark.operators.relational import (
        scd2_pit_join,
    )

    versions = spark.createDataFrame(
        [
            (1, 100, 200, "a"),   # [100, 200)
            (1, 300, 400, "b"),   # gap [200, 300); [300, 400); gap after
            (2, 50, 60, "c"),
        ],
        ["user_id", "vf", "vt", "attr"],
    )
    facts = spark.createDataFrame(
        [
            (10, 1, 100),  # exact valid_from boundary -> covered
            (11, 1, 199),  # inside
            (12, 1, 200),  # exact valid_to boundary -> EXPIRED
            (13, 1, 250),  # gap
            (14, 1, 399),  # second version
            (15, 1, 50),   # before first version
            (16, 2, 55),   # other key
            (17, 3, 55),   # key with no versions at all
        ],
        ["event_id", "user_id", "ts"],
    )
    out = {
        r.event_id: (r.has_version, r.attr_pit)
        for r in scd2_pit_join(
            facts, versions, ["user_id"], "ts", "vf", "vt", ["attr"]
        ).collect()
    }
    assert out[10] == (True, "a")
    assert out[11] == (True, "a")
    assert out[12] == (False, None)   # half-open interval: ts == vt is out
    assert out[13] == (False, None)
    assert out[14] == (True, "b")
    assert out[15] == (False, None)
    assert out[16] == (True, "c")
    assert out[17] == (False, None)


def test_bigram_lm_backoff_penalizes_unseen_sequences(spark):
    from cassandra_analytics_example_spark.operators.text import (
        bigram_logprob_scores,
    )

    # even ids = train half; doc 1 repeats a trained phrase, doc 3 is the
    # same unigrams in an order never seen in training
    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),
            (4, "a dog ran in the park"),
            (1, "the cat sat on the mat"),
            (3, "mat the on sat cat the"),
            (5, "xq zz qx"),  # fully OOV
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r
        for r in bigram_logprob_scores(docs, "doc_id").collect()
    }
    assert rows[1].n_bigrams == 5 and rows[3].n_bigrams == 5
    # per-bigram average: in-distribution doc must beat the shuffled one
    assert rows[1].score_qnats > rows[3].score_qnats
    # OOV doc scores worst per bigram
    assert (rows[5].score_qnats / rows[5].n_bigrams) < (
        rows[3].score_qnats / rows[3].n_bigrams
    )
    # every document surfaces, even short/no-bigram ones
    assert set(rows) == {0, 1, 2, 3, 4, 5}


def test_wilson_bound_below_phat_and_monotone_in_n(spark):
    from cassandra_analytics_example_spark.queries import load_all

    registry = load_all()
    out = registry["q131_source_wilson_ranking"].fn(
        spark, "/root/testdata/sf0.001"
    )
    for r in out.collect():
        phat_q = (r.n_keep * 1_000_000_000) // r.n_docs
        assert r.wilson_lb_q <= phat_q  # LB never exceeds the raw rate
        assert 0 <= r.wilson_lb_q <= 1_000_000_000


def test_kl_drift_nonnegative_up_to_quantization(spark):
    from cassandra_analytics_example_spark.queries import load_all

    registry = load_all()
    out = registry["q132_source_lang_drift"].fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        # KL >= 0 exactly; floored 1e-9 quanta can undershoot by at most
        # one quantum per (source, lang) term
        assert r.kl_q >= -100


def test_embargo_split_gap_and_order(spark):
    from cassandra_analytics_example_spark.queries import load_all

    out = load_all()["q133_temporal_embargo_split"].fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    by_split = {}
    for r in rows:
        by_split.setdefault(r.split, []).append(r.ts_us)
    assert set(by_split) == {"train", "embargo", "test"}
    # strict temporal order: train < embargo < test
    assert max(by_split["train"]) < min(by_split["embargo"])
    assert max(by_split["embargo"]) < min(by_split["test"])
    # labels must match independently recomputed cut points exactly
    all_ts = [t for ts in by_split.values() for t in ts]
    lo, hi = min(all_ts), max(all_ts)
    t_cut = lo + (hi - lo) * 3 // 5
    t_test = t_cut + 12 * 3600 * 1_000_000
    for r in rows:
        want = (
            "train"
            if r.ts_us < t_cut
            else ("test" if r.ts_us >= t_test else "embargo")
        )
        assert r.split == want, (r.ts_us, r.split, want)


def test_grouped_split_no_source_straddles(spark):
    from cassandra_analytics_example_spark.queries import load_all

    out = load_all()["q134_grouped_split"].fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    assert all(r.n_splits_for_source == 1 for r in rows)
    # every source appears exactly once (one split each)
    sources = [r.source for r in rows]
    assert len(sources) == len(set(sources))


def test_hll_merge_identity_and_error_bound(spark):
    from cassandra_analytics_example_spark.operators.sketches import (
        HLL_M,
        hll_estimate,
        hll_registers,
    )

    df = spark.range(0, 3000).select(
        (F.col("id") % 7).alias("shard"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("k"),
    )
    shard_regs = hll_registers(df, "k", ("shard",))
    merged = {
        r.bucket: r.r
        for r in shard_regs.groupBy("bucket")
        .agg(F.max("r").alias("r"))
        .collect()
    }
    direct = {
        r.bucket: r.r for r in hll_registers(df, "k").collect()
    }
    # THE mergeability identity: max-merged shard registers == global ones
    assert merged == direct
    assert len(direct) <= HLL_M
    # estimate within 3 sigma (sigma ~ 1.04/sqrt(m) ~ 6.5% at m=256)
    est = hll_estimate(hll_registers(df, "k")).first().est
    assert abs(est - 3000) / 3000 < 0.20
    # idempotent re-merge: merging the merged table again changes nothing
    again = (
        spark.createDataFrame(
            [(b, r) for b, r in merged.items()], "bucket BIGINT, r INT"
        )
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
        .collect()
    )
    assert {r.bucket: r.r for r in again} == merged


def test_minhash_calibration_identical_sets_match_fully(spark):
    """Identical shingle sets must agree on all 16 signature components
    (permutation-min is a pure function of the set), and the estimator
    matches/16 must track exact Jaccard within binomial noise."""
    from cassandra_analytics_example_spark.queries import load_all

    out = load_all()["q137_minhash_calibration"].fn(
        spark, "/root/testdata/sf0.001"
    )
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r.sig_matches <= 16
        assert 0 <= r.inter <= r.uni
        if r.inter == r.uni:          # identical sets
            assert r.sig_matches == 16
        # 16-trial binomial: |p_hat - p| < ~4.8 sigma_max (=0.125) + slack
        assert abs(r.sig_matches / 16 - r.inter / r.uni) <= 0.65


def test_ivf_incremental_append_touches_only_delta_cells(spark, tmp_path):
    """Appending a delta into the partitioned IVF layout must add files
    ONLY under the delta's cell directories; pre-existing files are never
    rewritten (incremental maintenance cost tracks the delta)."""
    import os

    from cassandra_analytics_example_spark.operators.similarity import (
        assign_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("centv")
    )
    root = str(tmp_path / "ivf")
    base = assign_cells(emb.filter(F.col("vec_id") >= 10), cents)
    base.select("vec_id", "embedding", "cell").write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(root)

    def snapshot():
        out = {}
        for d in os.listdir(root):
            if d.startswith("cell="):
                p = os.path.join(root, d)
                out[d] = {
                    f: os.path.getmtime(os.path.join(p, f))
                    for f in os.listdir(p)
                    if f.endswith(".parquet")
                }
        return out

    before = snapshot()
    delta = assign_cells(emb.filter(F.col("vec_id") < 10), cents)
    delta_cells = {
        f"cell={r.cell}" for r in delta.select("cell").distinct().collect()
    }
    delta.select("vec_id", "embedding", "cell").write.partitionBy(
        "cell"
    ).mode("append").parquet(root)
    after = snapshot()

    for d, files in before.items():
        # every pre-existing file survives untouched
        assert set(files) <= set(after[d])
        for f, mt in files.items():
            assert after[d][f] == mt
        if d not in delta_cells:
            assert after[d] == files  # untouched cell: no new files
    assert any(
        set(after[d]) - set(before.get(d, {})) for d in delta_cells
    )


def test_pagerank_integer_mass_and_partition_invariance(spark):
    """Integer PageRank invariants: (a) total mass never exceeds the
    initial N*quantum and never falls below N*teleport (flooring only
    loses mass); (b) the result is bit-identical under repartitioning;
    (c) on a symmetric star graph the hub outranks every leaf."""
    from cassandra_analytics_example_spark.operators.graph import (
        PAGERANK_QUANTUM,
        pagerank_integer,
    )

    # symmetric star: hub 0 <-> leaves 1..8
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)],
        ["src", "dst"],
    )
    r = pagerank_integer(edges, iterations=5)
    rows = {x.node: x.r for x in r.collect()}
    n = len(rows)
    total = sum(rows.values())
    teleport = PAGERANK_QUANTUM * 15 // 100
    assert n == 9
    assert n * teleport <= total <= n * PAGERANK_QUANTUM
    assert rows[0] > max(v for k, v in rows.items() if k != 0)
    r2 = pagerank_integer(edges.repartition(13), iterations=5)
    assert {x.node: x.r for x in r2.collect()} == rows


def test_pagerank_checkpoint_matches_uncheckpointed(spark):
    """checkpoint_every must not change values — only truncate lineage."""
    from cassandra_analytics_example_spark.operators.graph import (
        pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if (a + b) % 3 == 0
         and a != b],
        ["src", "dst"],
    )
    base = {x.node: x.r for x in pagerank_integer(edges, iterations=6).collect()}
    ck = {
        x.node: x.r
        for x in pagerank_integer(
            edges, iterations=6, checkpoint_every=2
        ).collect()
    }
    assert base == ck


def test_substring_spans_locates_planted_duplicate(spark):
    """Plant one shared 40-char block inside otherwise-unique texts: the
    audit must flag exactly the planted docs, one span each, with
    dup_chars >= the block length and clean docs at zero."""
    from cassandra_analytics_example_spark.operators.text import (
        duplicated_substring_spans,
    )

    import hashlib

    block = "#" * 40
    rows = []
    for i in range(6):
        uniq = "".join(
            hashlib.sha256(f"{i}:{k}".encode()).hexdigest() for k in range(2)
        )  # 128 chars, unique stream per doc
        text = uniq[:60] + (block if i < 2 else "") + uniq[60:]
        rows.append((i, text))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in duplicated_substring_spans(df, k=32).collect()
    }
    for i in (0, 1):
        assert out[i].n_spans == 1
        assert out[i].dup_chars >= 40
    for i in range(2, 6):
        assert out[i].n_dup_windows == 0
        assert out[i].dup_permille == 0
    # the streamed (degenerate-boilerplate-safe) detection path must
    # produce the identical audit row for row (round-9 review: the
    # aggregate path buffers a hot window hash; "join" is the escape
    # hatch and may not drift semantically)
    joined = {
        r.doc_id: r
        for r in duplicated_substring_spans(
            df, k=32, dup_detection="join"
        ).collect()
    }
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in joined.items()
    }


def test_incremental_clusters_merge_two_base_clusters(spark):
    """The strictest incremental case: a DELTA doc similar to members of
    two previously-separate BASE clusters must merge them — and the
    incremental contraction result must equal a full recompute
    (minhash pairs + connected components) label for label."""
    from pyspark.sql import functions as F

    from cassandra_analytics_example_spark.operators.dedup import (
        connected_components,
        incremental_lsh_clusters,
        minhash_lsh_dedup,
    )

    a = " ".join(f"alpha{i}" for i in range(20))
    a2 = " ".join(f"alpha{i}" for i in range(18)) + " beta0 beta1"
    c = " ".join(f"gamma{i}" for i in range(20))
    c2 = " ".join(f"gamma{i}" for i in range(18)) + " delta0 delta1"
    bridge = " ".join(f"alpha{i}" for i in range(14)) + " " + " ".join(
        f"gamma{i}" for i in range(14)
    )
    noise = " ".join(f"zeta{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, a), (2, a2), (3, c), (4, c2), (5, bridge), (6, noise)],
        ["doc_id", "text"],
    )
    kw = dict(
        num_hashes=8, shingle_k=1, num_bands=8, jaccard_threshold=0.3
    )
    inc = {
        (r.doc_id, r.cluster_id, r.is_delta, r.bridged)
        for r in incremental_lsh_clusters(
            docs, "doc_id", "text", delta_pred=(F.col("doc_id") == 5), **kw
        ).collect()
    }
    full_pairs = minhash_lsh_dedup(
        docs, "doc_id", "text",
        num_hashes=8, shingle_k=1, num_bands=8, jaccard_threshold=0.3,
        max_bucket_size=None,
    )
    full = {
        r.id: r.cluster_id
        for r in connected_components(full_pairs).collect()
    }
    # the bridge doc must have merged both base clusters into one
    assert full.get(5) == 1 and full.get(3) == 1 and full.get(1) == 1, full
    want = {
        (i, cl, i == 5, True)  # every clustered doc shares the one
        for i, cl in full.items()  # bridged cluster in this fixture
    }
    assert inc == want
