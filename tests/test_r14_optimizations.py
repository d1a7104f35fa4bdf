"""Round-14 optimization gates.

Three focused pins for the r14 changes (VERDICT r13 tasks 1 and 4):

* the capped dedup path's cache is scoped: inside ``pin_scope`` it holds
  exactly the shingle base plus the r11-measured single cached bucket
  frame, and the scope's exit leaves ZERO entries (the guard still
  raises on saturation inside a scope);
* the q21/q137 AQE-coalesce fix is plan-gated: ``lsh_candidate_pairs``
  ends in an explicit width repartition (REPARTITION_BY_NUM is exempt
  from AQE byte-based coalescing), so the compute-dense verification
  joins downstream can never ride a 2-task coalesced read again;
* s25's replay dedup collapses a last-ulp-perturbed ``es_key`` replica
  (the heterogeneous-JVM ``Math.log`` case from the r12 ADVICE) to one
  winner — full-row ``distinct()`` would keep both.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.checkpoints import pin_scope


def _tiny_docs(spark):
    rows = [(i, f"some text body number {i % 7} repeated") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _cache_entry_count(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_capped_dedup_cache_is_released_by_pin_scope(spark):
    """Capped generator inside ``pin_scope``: building AND acting on the
    guarded frame holds exactly its documented cache entries (the shingle
    base plus the guard's one bucket frame, the cached sharing r11
    measured for), and the scope's exit leaves zero entries behind."""
    from cassandra_analytics_example_spark.operators.dedup import (
        minhash_lsh_dedup,
    )

    docs = _tiny_docs(spark)
    spark.catalog.clearCache()
    # relative count: a shared test session can hold localCheckpoint
    # blocks from earlier tests that clearCache does not (and must not)
    # drop — only the DELTA this call creates is under test
    n0 = _cache_entry_count(spark)
    with pin_scope(spark):
        out = minhash_lsh_dedup(docs, "doc_id", "text", max_bucket_size=1000)
        out.write.format("noop").mode("overwrite").save()
        n_default = _cache_entry_count(spark)
    n_after = _cache_entry_count(spark)
    spark.catalog.clearCache()

    assert n_default == n0 + 2, (
        f"the capped path should cache the shingle base and one "
        f"bucket frame (before={n0}, inside the scope={n_default})"
    )
    assert n_after == n0, (
        f"pin_scope should release every entry the call cached "
        f"(before={n0}, after exit={n_after})"
    )


def test_scoped_capped_dedup_still_raises_on_saturation(spark):
    """The scope controls the CACHE, not the guard: a fully saturated
    valve must still raise at action time inside ``pin_scope``, and the
    exit still releases what the failed call cached."""
    from cassandra_analytics_example_spark.operators.dedup import (
        minhash_lsh_dedup,
    )

    docs = spark.createDataFrame(
        [(i, "identical near dup text body " + "x" * (i % 2)) for i in range(30)],
        "doc_id bigint, text string",
    )
    spark.catalog.clearCache()
    n0 = _cache_entry_count(spark)
    with pin_scope(spark):
        guarded = minhash_lsh_dedup(
            docs, "doc_id", "text", max_bucket_size=1
        )
        with pytest.raises(Exception, match="BlockingSaturationError"):
            guarded.write.format("noop").mode("overwrite").save()
    assert _cache_entry_count(spark) <= n0
    spark.catalog.clearCache()


def test_lsh_candidate_pairs_ends_in_width_repartition(spark):
    """Plan gate for the r14 q21/q137 fix (PROBE_R14_Q21.json): the
    candidate frame must end in an explicit numbered repartition so AQE's
    byte-based coalescing cannot serialize the downstream verification
    joins (measured 2.46x wall tax at sf0.1, 4.5x at 3x the corpus)."""
    from cassandra_analytics_example_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    # parquet-backed input: spread()'s size-estimate gate reads the scan
    # stats (a local-relation fixture estimates exabytes through the
    # explode chain and the gate would decline — not the shape real
    # callers, q21/q137, present)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = minhash_signatures(docs, "doc_id", "text")
    cands = lsh_candidate_pairs(sigs, "doc_id", 4, 4)
    plan = cands._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan, plan[:2000]
    # and the capped+guarded path keeps it too (spread wraps the union)
    guarded = lsh_candidate_pairs(sigs, "doc_id", 4, 4, max_bucket_size=1000)
    gplan = guarded._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in gplan, gplan[:2000]


def test_replay_ulp_perturbed_es_key_single_winner(spark):
    """A replayed partial whose float es_key differs in the LAST ULP
    (heterogeneous-JVM Math.log) must still collapse to one winner per
    doc_id — the exact case full-row distinct() gets wrong."""
    from cassandra_analytics_example_spark.streaming.windows import (
        replay_safe_partials,
    )

    es = -0.0123456789
    es_ulp = math.nextafter(es, -1.0)
    assert es != es_ulp
    appended = spark.createDataFrame(
        [(1, 100, es), (1, 100, es_ulp), (2, 50, -0.5)],
        "doc_id bigint, w bigint, es_key double",
    )
    rows = {
        (r.doc_id, r.w, r.es_key)
        for r in replay_safe_partials(appended).collect()
    }
    assert rows == {(1, 100, min(es, es_ulp)), (2, 50, -0.5)}
    # the hazard is real: full-row distinct keeps both replicas
    assert appended.distinct().count() == 3
