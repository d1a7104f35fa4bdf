"""Reference-parity queries: the reference's own workload (generate →
bulk-write → read-back → copy → count, App.scala:123-161 / SURVEY.md §2.7)
as oracle-checkable queries.

The DuckDB twin regenerates the same deterministic rows from ``range()`` —
proving not just counts but content parity across the write/read/copy chain.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.config import JobConfiguration
from cassandra_analytics_example_spark.datagen import gen_dataset_deterministic
from cassandra_analytics_example_spark.plans.jobs import copy_table
from cassandra_analytics_example_spark.queries import register
from cassandra_analytics_example_spark.session import temp_root
from cassandra_analytics_example_spark.sources import read as sources_read
from cassandra_analytics_example_spark.sources import write

N_ROWS = 10_000  # reference default rowCount (SparkUtils.scala:121)

# count + content digest over the generated table; course is decoded back
# from the blob so the digest covers the binary column's round trip.
_AGG_ORACLE = f"""
SELECT count(*) AS n_rows,
       CAST(sum(i) AS BIGINT) AS sum_marks,
       count(DISTINCT md5('crs-' || lpad(CAST(i AS VARCHAR), 32, '0'))) AS n_distinct_course,
       min(i) AS min_id,
       max(i) AS max_id
FROM range(0, {N_ROWS}) t(i)
"""


def _digest(df: DataFrame) -> DataFrame:
    return df.select(
        F.count("*").alias("n_rows"),
        F.sum("marks").alias("sum_marks"),
        F.countDistinct(F.md5(F.col("course"))).alias("n_distinct_course"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


@register(
    "ref_datagen_digest",
    oracle=_AGG_ORACLE,
    doc="S2 synthetic source: deterministic generator content digest",
    tags=("reference",),
)
def ref_datagen_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _digest(gen_dataset_deterministic(spark, N_ROWS, 8))


@register(
    "ref_snapshot_isolation",
    oracle=_AGG_ORACLE,
    doc="snapshot-isolation read (createSnapshot/snapshotName, "
    "App.scala:113-114): digest of a manifest snapshot taken BEFORE a "
    "late append — the append must be invisible",
    tags=("reference",),
)
def ref_snapshot_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = temp_root("ref-snapshot-")
    path = os.path.join(tmp, "test")
    write(
        gen_dataset_deterministic(spark, N_ROWS, 8),
        {"path": path, "mode": "overwrite", "partition_key": "id", "splits": "8"},
    )
    snap = sources_read(
        spark, {"path": path, "createSnapshot": "true", "snapshotName": "s1"}
    )
    # post-snapshot append: rows the digest must NOT see
    write(gen_dataset_deterministic(spark, 1234, 4), {"path": path})
    return _digest(snap)


@register(
    "ref_cassandra_branch_roundtrip",
    oracle=_AGG_ORACLE,
    doc="S1/K1 cassandra branch executed end-to-end via the Python "
    "DataSource stand-in (sources/standin.py): generate → bulk-append "
    "with partition-key write discipline → snapshot-isolated read-back "
    "(createSnapshot, App.scala:113-114) → digest. A post-snapshot "
    "append must be invisible to the digest.",
    tags=("reference", "cassandra"),
)
def ref_cassandra_branch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = temp_root("ref-cassandra-")
    opts = {
        "format": "cassandra",
        "sidecar_contact_points": root,
        "keyspace": "spark_test",
        "table": "test",
    }
    write(
        gen_dataset_deterministic(spark, N_ROWS, 8),
        {**opts, "partition_key": "id", "splits": "8"},
    )
    snap = sources_read(spark, {**opts, "createSnapshot": "true"})
    write(gen_dataset_deterministic(spark, 1234, 4), opts)  # must be invisible
    return _digest(snap)


@register(
    "ref_copy_roundtrip",
    oracle=_AGG_ORACLE,
    doc="flagship job: generate → write → copy test→test2 → digest of test2 "
    "(oneClusterCopyTable, App.scala:123-161)",
    tags=("reference",),
)
def ref_copy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    tmp = temp_root("ref-roundtrip-")
    src, dst = os.path.join(tmp, "test"), os.path.join(tmp, "test2")
    write(
        gen_dataset_deterministic(spark, N_ROWS, 8),
        {"path": src, "mode": "overwrite", "partition_key": "id", "splits": "8"},
    )
    copy_table(
        spark,
        JobConfiguration(
            read_options={"path": src},
            write_options={"path": dst, "mode": "overwrite"},
        ),
    )
    return _digest(spark.read.parquet(dst))


# Wide-type digest: one aggregate per CQL collection type, all regenerable
# from range() arithmetic on the DuckDB side (same convention as
# _AGG_ORACLE's course md5 — content parity, not just counts).
_WIDE_ORACLE = f"""
SELECT count(*) AS n_rows,
       count(DISTINCT md5('crs-' || lpad(CAST(i AS VARCHAR), 32, '0')))
         AS n_distinct_course,
       CAST(sum(i) AS BIGINT) AS sum_attr_a,
       CAST(sum(2 * i) AS BIGINT) AS sum_attr_b,
       CAST(sum(len(['t' || CAST(i % 5 AS VARCHAR),
                     'u' || CAST(i % 3 AS VARCHAR)])) AS BIGINT)
         AS sum_n_tags,
       count(DISTINCT 't' || CAST(i % 5 AS VARCHAR)) AS n_first_tags,
       count(DISTINCT 'city-' || CAST(i % 7 AS VARCHAR)) AS n_cities,
       CAST(sum(10000 + i % 100) AS BIGINT) AS sum_zip,
       count(DISTINCT 's' || CAST(i % 11 AS VARCHAR)) AS n_pair_seconds
FROM range(0, {N_ROWS}) t(i)
"""


@register(
    "ref_cql_types_roundtrip",
    oracle=_WIDE_ORACLE,
    doc="S1/K1 CQL collection-type breadth (SURVEY §1.2, run.sh:37 — the "
    "converter jar surfaces list/set/map/tuple/UDT): a wide row (blob, "
    "array, map, two structs) through the cassandra stand-in's write → "
    "snapshot → read path, digested per type; a post-snapshot append "
    "must stay invisible, exactly as in the 3-column round trip.",
    tags=("reference", "cassandra"),
)
def ref_cql_types_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.datagen import (
        gen_wide_types_deterministic,
    )

    root = temp_root("ref-cql-types-")
    opts = {
        "format": "cassandra",
        "sidecar_contact_points": root,
        "keyspace": "spark_test",
        "table": "wide",
    }
    write(
        gen_wide_types_deterministic(spark, N_ROWS, 8),
        {**opts, "partition_key": "id", "splits": "8"},
    )
    snap = sources_read(spark, {**opts, "createSnapshot": "true"})
    write(gen_wide_types_deterministic(spark, 777, 4), opts)  # invisible
    return snap.select(
        F.count("*").alias("n_rows"),
        F.countDistinct(F.md5("course")).alias("n_distinct_course"),
        F.sum(F.element_at("attrs", F.lit("a"))).alias("sum_attr_a"),
        F.sum(F.element_at("attrs", F.lit("b"))).alias("sum_attr_b"),
        F.sum(F.size("tags")).cast("bigint").alias("sum_n_tags"),
        F.countDistinct(F.element_at("tags", 1)).alias("n_first_tags"),
        F.countDistinct(F.col("addr.city")).alias("n_cities"),
        F.sum(F.col("addr.zip")).alias("sum_zip"),
        F.countDistinct(F.col("pair.second")).alias("n_pair_seconds"),
    )


_TOKEN_QUARTER = (1 << 60) // 4

_TOKEN_ORACLE = f"""
SELECT count(*) AS n_rows,
       CAST(sum(i) AS BIGINT) AS sum_marks,
       min(i) AS min_id,
       max(i) AS max_id
FROM range(0, {N_ROWS}) t(i)
WHERE CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
      < {_TOKEN_QUARTER}
"""


@register(
    "ref_token_range_scan",
    oracle=_TOKEN_ORACLE,
    doc="token-range read over the token-bucketed stand-in layout — the "
    "SURVEY §4.1 'token-range partition pruning' piece: the bulk write "
    "lays rows out token-contiguously (token_buckets/token_column, the "
    "analogue of token-sorted SSTables, SURVEY §3.1 step 3) and a read "
    "with token_range prunes whole files before any row is scanned "
    "(the analogue of the connector planning splits per token range). "
    "Pruning is split-level only and provably result-neutral: the exact "
    "md5_u60 row predicate is applied on top, and the digest equals the "
    "same predicate over the full generator range "
    "(tests/test_cassandra_standin.py asserts the split-count drop)",
    tags=("reference", "cassandra"),
)
def ref_token_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cassandra_analytics_example_spark.functions.text import md5_u60

    root = temp_root("ref-token-range-")
    opts = {
        "format": "cassandra",
        "sidecar_contact_points": root,
        "keyspace": "spark_test",
        "table": "test_tokens",
    }
    write(
        gen_dataset_deterministic(spark, N_ROWS, 8),
        {
            **opts,
            "partition_key": "id",
            "splits": "8",
            "token_buckets": "16",
            "token_column": "id",
        },
    )
    scan = sources_read(
        spark, {**opts, "token_range": f"0,{_TOKEN_QUARTER}"}
    )
    exact = scan.where(
        md5_u60(F.col("id").cast("string")) < F.lit(_TOKEN_QUARTER)
    )
    return exact.select(
        F.count("*").alias("n_rows"),
        F.sum("marks").alias("sum_marks"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )
