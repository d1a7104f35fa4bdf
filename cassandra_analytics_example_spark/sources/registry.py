"""Source/sink registry — counterpart of the reference's reader/writer
builders (``SparkUtils.scala:56-65``: ``getReader``/``getWriter`` binding the
Cassandra bulk DataSource by class name, ``:94-100`` ``read()``, ``:67-74``
``writeExisting``).

Two backends:

* ``parquet`` (default, offline harness): immutable directory per table —
  the snapshot-isolation analogue of the reference's ``createSnapshot`` read
  (``App.scala:113-114``).
* ``cassandra``: Spark Cassandra Connector options pass-through; gated because
  the connector jar is not on the classpath in this environment. The write
  path applies the bulk-writer discipline (repartition by partition key +
  sort within partitions) that the reference's library does via token-sorting.

At 100 TB the parquet path is the scale path: reads are split by
``spark.sql.files.maxPartitionBytes`` (no driver bottleneck) and writes shard
per task with ``maxRecordsPerFile`` bounding file sizes (the reference's
``maxRowsPerFile(100000)``, ``App.scala:68``).
"""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    DataFrameReader,
    DataFrameWriter,
    Observation,
    SparkSession,
)
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.sources.options import (
    CONTROL_KEYS,
    cassandra_options,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

CASSANDRA_FORMAT = "org.apache.spark.sql.cassandra"
MAX_RECORDS_PER_FILE = 100_000  # reference App.scala:68

_CONNECTOR_PROBE: dict[str, bool] = {}  # app id → jar-on-classpath
_STANDIN_SESSIONS: set[str] = set()  # session UUIDs the stand-in is registered in


def cassandra_format(spark: SparkSession) -> str:
    """Resolve the format name for the ``cassandra`` backend.

    Prefers the real Spark-Cassandra connector when its DataSource class is
    on the JVM classpath (the reference binds by class name the same way,
    ``SparkUtils.scala:56-65``); otherwise registers the in-repo Python
    stand-in (sources/standin.py) so the branch still executes end-to-end —
    same option contract, snapshot semantics and two-phase write
    discipline, minus the actual Cassandra wire protocol."""
    key = spark.sparkContext.applicationId
    if key not in _CONNECTOR_PROBE:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.spark.sql.cassandra.DefaultSource"
            )
            _CONNECTOR_PROBE[key] = True
        except Exception:
            _CONNECTOR_PROBE[key] = False
    if _CONNECTOR_PROBE[key]:
        return CASSANDRA_FORMAT
    from cassandra_analytics_example_spark.sources import standin

    # data sources register per session; registering again would only
    # re-pickle the class and log a replacement warning
    session = spark._jsparkSession.sessionUUID()
    if session not in _STANDIN_SESSIONS:
        standin.register(spark)
        _STANDIN_SESSIONS.add(session)
    return standin.STANDIN_FORMAT


def get_reader(spark: SparkSession, options: dict[str, str]) -> DataFrameReader:
    """Reader bound to the configured backend (default parquet).

    The cassandra stand-in also gets the session's pushdown conf in its
    option map (``standin.PUSHDOWN_OPTION``): it picks its reader variant in
    a planner worker, where no session exists. The real connector never
    sees that key."""
    fmt = options.get("format", "parquet")
    reader = spark.read
    if fmt == "cassandra":
        from cassandra_analytics_example_spark.sources import standin

        source = cassandra_format(spark)
        opts = cassandra_options(options, "read")
        if source == standin.STANDIN_FORMAT:
            opts[standin.PUSHDOWN_OPTION] = str(standin.pushdown_enabled(spark)).lower()
        reader = reader.format(source).options(**opts)
    else:
        reader = reader.format(fmt).options(
            **{k: v for k, v in options.items() if k not in CONTROL_KEYS}
        )
    return reader


def read(spark: SparkSession, options: dict[str, str]) -> DataFrame:
    """Load the table the option map names (reference ``read()``,
    ``SparkUtils.scala:94-100`` — schema comes from the source, never
    hand-declared on read).

    ``createSnapshot=true`` + ``snapshotName`` mirror the reference's
    snapshot-isolation read (``App.scala:113-114``): the parquet backend
    freezes the current file set under the name (manifest, no copy) and
    reads the frozen set; a bare ``snapshotName`` reads an existing
    snapshot. The cassandra backend forwards both options to the connector,
    which snapshots server-side."""
    fmt = options.get("format", "parquet")
    if fmt == "cassandra":
        return get_reader(spark, options).load()
    path = options.get("path")
    if path is None:
        raise ValueError("parquet read requires a 'path' option")
    snap_name = options.get("snapshotName")
    if options.get("createSnapshot") == "true":
        from cassandra_analytics_example_spark.sources.snapshot import (
            snapshot_frame,
        )

        return snapshot_frame(spark, path, snap_name)[1]
    if snap_name:
        from cassandra_analytics_example_spark.sources.snapshot import (
            read_snapshot,
        )

        return read_snapshot(spark, path, snap_name)
    return get_reader(spark, options).load(path)


def get_writer(df: DataFrame, options: dict[str, str]) -> DataFrameWriter:
    """Writer bound to the configured backend, append mode (reference
    ``getWriter``, ``SparkUtils.scala:56-60``)."""
    fmt = options.get("format", "parquet")
    mode = options.get("mode", "append")
    if fmt == "cassandra":
        return (
            df.write.format(cassandra_format(df.sparkSession))
            .options(**cassandra_options(options, "write"))
            .mode(mode)
        )
    writer = df.write.format(fmt).mode(mode)
    writer = writer.option(
        "maxRecordsPerFile", options.get("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
    )
    # forward format-specific options (csv header, json compression, ...)
    writer = writer.options(
        **{k: v for k, v in options.items() if k not in CONTROL_KEYS}
    )
    return writer


def apply_write_discipline(df: DataFrame, options: dict[str, str]) -> DataFrame:
    """Bulk-writer discipline (the reference library's token-sort before
    SSTable generation): hash-partition on ``partition_key`` and sort within
    partitions, so each task emits one contiguous, clustered shard. On
    parquet this gives key-clustered files (row-group pruning on later
    reads); on the cassandra path it matches the bulk writer's expectation
    of token-contiguous input. No-op without ``partition_key``."""
    pk = options.get("partition_key")
    if not pk:
        return df
    splits = int(options["splits"]) if "splits" in options else None
    cols = [F.col(c) for c in pk.split(",")]
    out = df.repartition(splits, *cols) if splits else df.repartition(*cols)
    return out.sortWithinPartitions(*cols)


def write(df: DataFrame, options: dict[str, str]) -> int:
    """Write ``df`` through the configured sink and return the number of
    rows written (reference ``writeExisting(...).count()``,
    ``SparkUtils.scala:67-74``, ``App.scala:239``) — counted inside the
    write itself, so the caller needs no second action over the lineage.

    The count is an observed metric attached after the write discipline,
    i.e. in the write's own final stage: Spark merges a task's metric
    update once, for its successful attempt, whereas a counter in an
    upstream shuffle-map stage could count a retried stage twice."""
    path = options.get("path")
    fmt = options.get("format", "parquet")
    if fmt != "cassandra" and path is None:
        raise ValueError("parquet write requires a 'path' option")
    rows = Observation()
    out = apply_write_discipline(df, options).observe(
        rows, F.count(F.lit(1)).alias("rows")
    )
    if fmt == "cassandra":
        get_writer(out, options).save()
    else:
        get_writer(out, options).save(path)
    return rows.get["rows"]

