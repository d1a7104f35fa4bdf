"""Fixture-table loaders for query callables.

``events`` needs special handling: fixture generations have stored ``ts``
either as ``timestamp[ns]`` (which Spark's vectorized parquet reader
rejects unless ``spark.sql.legacy.parquet.nanosAsLong`` lifts it to a raw
bigint) or as ``timestamp[us]`` (read natively as TIMESTAMP_NTZ). The
loader is schema-adaptive and always derives the same three columns, so
every query sees one stable surface regardless of fixture vintage:

* ``ts_ns`` — nanosecond epoch (bigint; lossless for ns fixtures, µs×1000
  otherwise);
* ``ts_us`` — microsecond epoch (bigint; exact in doubles too);
* ``ts``   — TimestampType at µs (Spark's native resolution).

DuckDB reads the same file natively, so oracle SQL uses ``epoch_us(ts)`` /
``epoch_ns(ts)`` / ``date_trunc`` which agree with these derivations under
the UTC session timezone.

Table schemas are catalog metadata. A plain ``spark.read.parquet(path)``
runs a footer-inference job every time a frame is built; this module
keeps Spark's own inferred ``StructType`` per path, on the session, and
hands it back through ``spark.read.schema(...)``, so a rebuild starts no
job and plans exactly as the inferring read did. An entry is keyed on
the file's identity (inode, size and mtime of a single file, or the
listing of a directory) and on the session confs that change parquet
inference, and one entry is kept per path: a rewritten table or a
changed conf misses and replaces it. It holds no data, so
``clearCache()`` and pin releases are unaffected.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Session confs whose values change the schema parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.respectSummaryFiles",
)

#: The session attribute holding its catalog: path -> (key, Spark's
#: inferred schema), one entry per path.
_CATALOG_ATTR = "_cassandra_analytics_schemas"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return events(spark, sf_dir)
    return _read(spark, _path(sf_dir, name))


def schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The raw parquet schema of fixture table ``name`` under the current
    session confs (for ``readStream``, which needs one declared)."""
    path = _path(sf_dir, name)
    _, cached = _lookup(spark, path)
    return cached if cached is not None else _read(spark, path).schema


def _path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _identity(path: str) -> tuple | None:
    """What changes when the table at ``path`` is rewritten: a file's
    inode, size and mtime, or every file of a directory with its size and
    mtime. None for a path this process cannot stat (a remote URI)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    files = []
    for parent, _, names in os.walk(path):
        for n in names:
            f = os.path.join(parent, n)
            fst = os.stat(f)
            files.append((os.path.relpath(f, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(files))


def _lookup(spark: SparkSession, path: str) -> tuple[tuple | None, StructType | None]:
    """The cache key of ``path`` now, and its schema if the entry matches."""
    ident = _identity(path)
    if ident is None:
        return None, None
    key = (ident, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    hit = _catalog(spark).get(path)
    return key, (hit[1] if hit is not None and hit[0] == key else None)


def _read(spark: SparkSession, path: str) -> DataFrame:
    key, cached = _lookup(spark, path)
    if cached is not None:
        return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _catalog(spark)[path] = (key, df.schema)
    return df


def _catalog(spark: SparkSession) -> dict[str, tuple[tuple, StructType]]:
    return vars(spark).setdefault(_CATALOG_ATTR, {})


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = _read(spark, _path(sf_dir, "events"))
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type in ("bigint", "long"):  # ns fixture via nanosAsLong
        ts_ns = F.col("ts")
        ts_us = F.expr("ts div 1000")
        ts = F.expr("timestamp_micros(ts div 1000)")
    else:  # native timestamp / timestamp_ntz fixture (µs resolution)
        ts = F.col("ts").cast("timestamp")  # NTZ→TS is identity under UTC
        ts_us = F.unix_micros(ts)
        ts_ns = ts_us * F.lit(1000)
    return raw.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        "props",
        ts_ns.alias("ts_ns"),
        ts_us.alias("ts_us"),
        ts.alias("ts"),
    )
