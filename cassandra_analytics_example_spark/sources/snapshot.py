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
normal Spark reads of the table directory). It also records the table's
schema, inferred once when the snapshot is taken, so a snapshot read plans
from it instead of inferring again from parquet footers (a Spark job).
Manifests written before the schema was recorded still read, by inference.

Caveat (same as Cassandra's): a snapshot protects against APPENDS, not
against deleting the underlying files — ``mode=overwrite`` of the table
invalidates older snapshots, as compaction without hardlinks would.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from cassandra_analytics_example_spark.plans import fs

_SNAPDIR = "_snapshots"


def _manifest_path(table_path: str, name: str) -> str:
    return f"{table_path.rstrip('/')}/{_SNAPDIR}/{name}.json"


def snapshot_frame(
    spark: SparkSession, table_path: str, name: str | None = None
) -> tuple[str, DataFrame]:
    """Freeze the table's current data-file set under ``name`` (default: a
    random UUID, like the reference's ``UUID.randomUUID`` snapshot names).
    Returns the snapshot name and a DataFrame over the frozen files — the
    one plan whose schema inference the manifest records."""
    name = name or str(uuid.uuid4())
    files = fs.list_data_files(spark, table_path, suffix=".parquet")
    if not files:
        raise ValueError(f"no parquet data files under {table_path}")
    paths = [p for p, _ in files]
    df = spark.read.parquet(*paths)
    manifest = {
        "name": name,
        "table_path": table_path,
        "files": paths,
        "total_bytes": sum(sz for _, sz in files),
        "schema": df.schema.jsonValue(),
    }
    fs.write_text(spark, _manifest_path(table_path, name), json.dumps(manifest))
    return name, df


def create_snapshot(
    spark: SparkSession, table_path: str, name: str | None = None
) -> str:
    """Freeze the table's current data-file set under ``name``; returns the
    snapshot name (see ``snapshot_frame``)."""
    return snapshot_frame(spark, table_path, name)[0]


def read_snapshot(
    spark: SparkSession, table_path: str, name: str
) -> DataFrame:
    """Read the frozen file set of snapshot ``name`` — files appended to the
    table after the snapshot are invisible."""
    raw = fs.read_text(spark, _manifest_path(table_path, name))
    manifest = json.loads(raw)
    reader = spark.read
    if "schema" in manifest:
        reader = reader.schema(StructType.fromJson(manifest["schema"]))
    return reader.parquet(*manifest["files"])
