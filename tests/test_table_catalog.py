"""Fixture-table schemas as catalog metadata (``queries/_tables.py``).

The loader keeps Spark's own inferred schema per path and hands it back on
later builds, so a rebuilt query starts no footer-inference job. These
tests pin the three properties that make that safe: a rewritten table is
re-inferred, an inference conf is part of the key, and a cached build
plans exactly as the inferring one did.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cassandra_analytics_example_spark.queries import _tables, load_all

QUERY_MIX = ("q01", "q03", "q06", "q13", "q16", "q93")


def _query(short: str):
    (qd,) = [qd for n, qd in load_all().items() if n.split("_")[0] == short]
    return qd


def _optimized(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+L?", "#", plan)


def test_rewritten_table_is_reinferred(spark, tmp_path):
    """Rewriting a table under the same path with an extra column must
    reach the next ``table()`` call: the file's identity is in the key."""
    d = str(tmp_path)
    path = os.path.join(d, "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    assert _tables.table(spark, d, "region").columns == ["r_regionkey", "r_name"]
    assert _tables.table(spark, d, "region").columns == ["r_regionkey", "r_name"]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"], "r_extra": [7, 8]}),
        path,
    )
    df = _tables.table(spark, d, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_extra"]
    assert sorted(r.r_extra for r in df.collect()) == [7, 8]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    """The same ns-timestamp file infers differently with ``nanosAsLong``
    off (Spark rejects the type) and on (``ts`` is a bigint); a schema
    cached under one setting must never answer for the other. Likewise a
    binary column with ``binaryAsString`` off and on."""
    from pyspark.errors import AnalysisException

    d = str(tmp_path)
    ts = pa.array([1_000_000_123, 2_000_000_456], pa.timestamp("ns"))
    pq.write_table(pa.table({"k": [1, 2], "ts": ts}), os.path.join(d, "t.parquet"))
    pq.write_table(
        pa.table({"b": pa.array([b"x", b"y"], pa.binary())}),
        os.path.join(d, "b.parquet"),
    )
    confs = (
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.parquet.binaryAsString",
    )
    prev = {c: spark.conf.get(c) for c in confs}
    try:
        spark.conf.set(confs[0], "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            _tables.schema(spark, d, "t")
        spark.conf.set(confs[0], "true")
        on = _tables.schema(spark, d, "t")
        spark.conf.set(confs[0], "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            _tables.table(spark, d, "t").schema

        spark.conf.set(confs[1], "false")
        as_binary = _tables.schema(spark, d, "b")
        spark.conf.set(confs[1], "true")
        as_string = _tables.schema(spark, d, "b")
    finally:
        for c, v in prev.items():
            spark.conf.set(c, v)
    assert on["ts"].dataType.simpleString() == "bigint"
    assert as_binary["b"].dataType.simpleString() == "binary"
    assert as_string["b"].dataType.simpleString() == "string"


def test_query_mix_rebuild_starts_no_job(spark, sf_dir):
    """Once a build has filled the catalog, building the same
    ``query_mix`` query again runs no Spark job: no footer inference at
    build time. (Each query is built twice in a row because the events
    loader turns ``nanosAsLong`` on for the session, which re-keys every
    table read before it.)"""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    jobs = {}
    for short in QUERY_MIX:
        qd = _query(short)
        qd.fn(spark, sf_dir)
        group = f"table-catalog-rebuild-{short}"
        sc.setJobGroup(group, "rebuild")
        try:
            qd.fn(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty()
        jobs[short] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == dict.fromkeys(QUERY_MIX, 0)


@pytest.mark.parametrize("short", QUERY_MIX)
def test_cached_build_plans_like_the_inferring_build(spark, sf_dir, short):
    """A build from the cached schema has the same optimized plan (ids
    normalised) as a build that inferred it."""
    qd = _query(short)
    catalog = _tables._catalog(spark)
    catalog.clear()
    inferred = _optimized(qd.fn(spark, sf_dir))
    assert catalog, "the first build filled no catalog entry"
    assert _optimized(qd.fn(spark, sf_dir)) == inferred
