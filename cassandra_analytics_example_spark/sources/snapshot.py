"""Snapshot-isolation reads over immutable-file tables.

Counterpart of the reference's ``createSnapshot``/``snapshotName`` read
options (``App.scala:113-114``): a Cassandra snapshot hardlinks the current
SSTable set under a name, and the bulk reader reads that frozen set.

Spark-first analogue — a MANIFEST, not a copy: parquet part-files are
immutable once written (appends add new files, they never rewrite old
ones), so "snapshot" = the list of data files present at snapshot time.
Reading the snapshot reads exactly those files. Zero data movement at any
scale — snapshotting a 100 TB table writes a few MB of file list, the same
trick Delta/Iceberg use for time travel. The manifest lives under
``<table>/_snapshots/<name>.json`` (underscore-prefixed → invisible to
normal Spark reads of the table directory).

Caveat (same as Cassandra's): a snapshot protects against APPENDS, not
against deleting the underlying files — ``mode=overwrite`` of the table
invalidates older snapshots, as compaction without hardlinks would.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession

from cassandra_analytics_example_spark.plans import fs

_SNAPDIR = "_snapshots"


def _manifest_path(table_path: str, name: str) -> str:
    return f"{table_path.rstrip('/')}/{_SNAPDIR}/{name}.json"


def create_snapshot(
    spark: SparkSession, table_path: str, name: str | None = None
) -> str:
    """Freeze the table's current data-file set under ``name`` (default: a
    random UUID, like the reference's ``UUID.randomUUID`` snapshot names).
    Returns the snapshot name."""
    name = name or str(uuid.uuid4())
    files = fs.list_data_files(spark, table_path, suffix=".parquet")
    if not files:
        raise ValueError(f"no parquet data files under {table_path}")
    manifest = {
        "name": name,
        "table_path": table_path,
        "files": [p for p, _ in files],
        "total_bytes": sum(sz for _, sz in files),
    }
    fs.write_text(spark, _manifest_path(table_path, name), json.dumps(manifest))
    return name


def read_snapshot(
    spark: SparkSession, table_path: str, name: str
) -> DataFrame:
    """Read the frozen file set of snapshot ``name`` — files appended to the
    table after the snapshot are invisible."""
    raw = fs.read_text(spark, _manifest_path(table_path, name))
    manifest = json.loads(raw)
    return spark.read.parquet(*manifest["files"])
