"""Round-15 optimization gates.

The r15 finding (PROBE_R15_Q137.json): decoding an ``array<string>``
column back OUT of Spark's columnar cache costs ~70% of recomputing it
from the scan, so a pinned array layer must be decoded only where a
consumer actually reads the array — every other consumer should
column-prune down to int columns computed once at fill time. These
tests pin that plan contract for the two rewritten pipelines.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from cassandra_analytics_example_spark.queries import load_all

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _imts_outputs(plan: str) -> list[str]:
    """The Output [...] column list of every InMemoryTableScan in a
    formatted-explain string."""
    out = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if re.match(r"\(\d+\) InMemoryTableScan", line.strip()):
            out.append(lines[i + 1])
    return out


def _formatted(spark, registry, name: str) -> str:
    df = registry[name].fn(spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_signatures_from_shingles_keep_passthrough(spark):
    """keep= carries extra columns through with sig values unchanged."""
    from cassandra_analytics_example_spark.operators.dedup import (
        signatures_from_shingles,
    )

    df = spark.createDataFrame(
        [(1, ["abcde", "bcdef"], 7), (2, ["zzzzz"], 9)],
        "id long, __sh array<string>, extra int",
    )
    plain = {r["id"]: r["sig"] for r in
             signatures_from_shingles(df, "id").collect()}
    kept = signatures_from_shingles(df, "id", keep=("__sh", "extra"))
    assert kept.columns == ["id", "__sh", "extra", "sig"]
    rows = {r["id"]: r for r in kept.collect()}
    assert rows[1]["sig"] == plain[1] and rows[2]["sig"] == plain[2]
    assert rows[1]["extra"] == 7 and rows[2]["__sh"] == ["zzzzz"]


def test_q21_size_prefilter_reads_are_array_pruned(spark, registry):
    """minhash_lsh_dedup pins ONE (id, sh, __sz, sig) frame; the size
    prefilter and the banding path must read it WITHOUT the shingle
    array column — exactly two cache reads may decode ``sh``
    (the two verification join sides)."""
    plan = _formatted(spark, registry, "q21_minhash_lsh_neardup")
    outs = _imts_outputs(plan)
    assert outs, "expected InMemoryTableScans in the q21 plan"
    sh_reads = [o for o in outs if re.search(r"\bsh#", o)]
    sz_reads = [o for o in outs if "__sz#" in o]
    assert len(sh_reads) == 2, f"shingle array decoded {len(sh_reads)}x: {sh_reads}"
    for o in sz_reads:
        assert not re.search(r"\bsh#", o), f"size read decodes the array: {o}"
    sig_reads = [o for o in outs if re.search(r"\bsig#", o)]
    for o in sig_reads:
        assert not re.search(r"\bsh#", o), f"banding read decodes the array: {o}"


def test_q137_combined_pin_two_verification_joins(spark, registry):
    """q137 derives signatures and shingle sets from ONE pinned frame and
    attaches both sides with two joins (was: two nested pins + four
    joins) — exactly two cache reads decode ``__sh``, and the banding
    read prunes down to (doc_id, sig)."""
    plan = _formatted(spark, registry, "q137_minhash_calibration")
    outs = _imts_outputs(plan)
    sh_reads = [o for o in outs if "__sh#" in o]
    assert len(sh_reads) == 2, f"__sh decoded {len(sh_reads)}x: {sh_reads}"
    # both array reads also carry sig (single join per side, not four)
    for o in sh_reads:
        assert "sig#" in o
    banding = [o for o in outs if "sig#" in o and "__sh#" not in o]
    assert banding, "banding path should read (doc_id, sig) without __sh"
    assert plan.count("BroadcastHashJoin") <= 4


def test_bm25_edge_semantics_restored(spark):
    """r15 ADVICE fixes: null-text docs excluded from n_docs/total_tokens
    (the pre-r14 exploded plan dropped them), duplicate query_terms
    silently deduplicated, empty query_terms a clear ValueError."""
    from cassandra_analytics_example_spark.operators.text import bm25_scores

    clean = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "beta gamma")], "id long, text string"
    )
    with_null = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "beta gamma"), (3, None)],
        "id long, text string",
    )
    base = {r["id"]: (r["score_q"], r["n_hit_terms"]) for r in
            bm25_scores(clean, "id", "text", ["alpha", "beta"]).collect()}
    nulled = {r["id"]: (r["score_q"], r["n_hit_terms"]) for r in
              bm25_scores(with_null, "id", "text", ["alpha", "beta"]).collect()}
    assert nulled == base, "null-text doc must not shift IDF/avgdl"
    duped = {r["id"]: (r["score_q"], r["n_hit_terms"]) for r in
             bm25_scores(clean, "id", "text",
                         ["alpha", "beta", "alpha"]).collect()}
    assert duped == base, "duplicate query terms must deduplicate"
    with pytest.raises(ValueError, match="non-empty"):
        bm25_scores(clean, "id", "text", [])


def test_eager_pins_toggle_for_plan_tooling(spark):
    """checkpoints.lazy_pins() skips the construction-time fill job
    (plan-only tooling escape hatch, r15 ADVICE) while keeping the
    persist itself — consumers still read one pinned lineage — and
    restores the eager default on exit, even when the block raises."""
    from cassandra_analytics_example_spark.operators import checkpoints
    from pyspark.sql import functions as F

    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    part = df.repartitionByRange(4, "k").withColumn(
        "pid", F.spark_partition_id()
    )
    tracker = spark.sparkContext.statusTracker()
    assert checkpoints.EAGER_PINS is True  # execution-path default
    pinned = None
    try:
        with checkpoints.lazy_pins():
            before = len(tracker.getJobIdsForGroup() or [])
            pinned = checkpoints.pin_partition_ids(part)
            after = len(tracker.getJobIdsForGroup() or [])
            assert after == before, "lazy pin must not run a job at build time"
            assert pinned.storageLevel.useMemory
            assert pinned.count() == 1000
        assert checkpoints.EAGER_PINS is True
        with pytest.raises(RuntimeError, match="boom"):
            with checkpoints.lazy_pins():
                assert checkpoints.EAGER_PINS is False
                raise RuntimeError("boom")
        assert checkpoints.EAGER_PINS is True, "lazy_pins must restore on raise"
    finally:
        if pinned is not None:
            pinned.unpersist()
