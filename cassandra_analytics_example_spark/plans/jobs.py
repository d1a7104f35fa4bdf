"""The five top-level jobs of the reference (SURVEY.md §2.7), as parameterized
DataFrame pipelines.

| here                               | reference                                   |
|------------------------------------|---------------------------------------------|
| ``write_job``                      | bulk write half of every job (App.scala:242-245) |
| ``write_read_same_table``          | oneClusterWriteReadSameTable (App.scala:88-116)  |
| ``copy_table``                     | oneClusterCopyTable (App.scala:123-161)          |
| ``two_clusters_copy_table``        | twoClustersCopyTable (App.scala:168-206)         |
| ``two_clusters_coordinated_write`` | twoClustersCoordinatedWrite (App.scala:208-235)  |
| ``table_to_parquet``               | sstableToParquet (App.scala:35-82)               |

Differences by design (Spark-first, 100 TB):

* One Spark pass per job. The reference recomputes the whole pipeline for
  its follow-up ``count()`` (``App.scala:239,244``); here the sink write
  counts its own rows (``sources.write`` returns them), so no job caches its
  lineage or runs a second action over it.
* No driver-side ``collect()`` of file lists (the reference's
  ``App.scala:76``); output inventories are computed distributed and only
  small summaries come back.
* Staged writes import files, not rows: a target whose layout equals the
  staging write's gets the staged files copied in (``staged_write``), as
  the reference's clusters import the uploaded SSTables.
* ``table_to_parquet`` needs no work-unit RDD: Spark's task model already
  parallelizes per input split, and ``maxRecordsPerFile`` bounds output files
  exactly like the transformer's ``maxRowsPerFile(100000)``.
"""

from __future__ import annotations

import logging
import tempfile
import time
import uuid
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

from cassandra_analytics_example_spark.config import DataTransport, JobConfiguration
from cassandra_analytics_example_spark.datagen import (
    gen_dataset,
    gen_dataset_deterministic,
)
from cassandra_analytics_example_spark.plans import fs
from cassandra_analytics_example_spark.plans.listeners import (
    CoordinatedStorageTransportListener,
    StorageTransportListener,
)
from cassandra_analytics_example_spark.sources import get_reader, read, write
from cassandra_analytics_example_spark.sources.registry import MAX_RECORDS_PER_FILE

log = logging.getLogger(__name__)

T = TypeVar("T")


def execute(fn: Callable[[], T]) -> T:
    """O2 error-reporting executor (reference ``SparkUtils.execute``,
    ``SparkUtils.scala:34-47``): run, and on failure log it with the stack
    trace and rethrow. The reference's fallback value is unreachable behind
    its rethrow, so there is none here."""
    try:
        return fn()
    except Exception as exc:
        log.error("job failed: %s", exc, exc_info=True)
        raise


def execute_job(spark: SparkSession, fn: Callable[[], object]) -> None:
    """O1 job runner (reference ``App.executeJob``, ``App.scala:26-29``):
    run the job, swallow any failure (``Try.apply(r)`` discards the
    result), always close the session."""
    try:
        fn()
    except Exception:
        log.exception("job failed (swallowed by executeJob, session closing)")
    finally:
        spark.stop()


def _generate(spark: SparkSession, config: JobConfiguration):
    """Reference ``write()`` front half (SparkUtils.scala:76-92): generate
    ``rows`` across ``splits`` partitions."""
    splits = config.splits(spark.sparkContext.defaultParallelism)
    deterministic = config.write_options.get("deterministic", "true") == "true"
    gen = gen_dataset_deterministic if deterministic else gen_dataset
    return gen(spark, config.row_count, splits)


#: write options that place or label a write; every other key shapes the
#: files the write makes
_PLACEMENT_KEYS = frozenset(
    {"path", "mode", "staging_dir", "rows", "deterministic", "data_transport"}
)


def _layout(options: dict[str, str]) -> dict[str, str]:
    """The options that decide a write's format and file layout, with the
    sink's defaults filled in."""
    layout = {k: str(v) for k, v in options.items() if k not in _PLACEMENT_KEYS}
    layout.setdefault("format", "parquet")
    layout.setdefault("maxRecordsPerFile", str(MAX_RECORDS_PER_FILE))
    return layout


def _file_import(
    spark: SparkSession, stage_dir: str, staged: dict[str, int], target: str, mode: str
) -> str | None:
    """Copy the staged files into ``target`` and check that each landed
    with its staged size. Returns why the import failed, or None."""
    try:
        fs.import_files(spark, stage_dir, sorted(staged), target, mode == "overwrite")
    except FileExistsError as exc:
        return str(exc)
    landed = fs.data_file_sizes(spark, target)
    short = sorted(rel for rel, size in staged.items() if landed.get(rel) != size)
    if short:
        return f"{len(short)} of {len(staged)} staged files missing or resized: {short}"
    return None


def staged_write(
    spark: SparkSession,
    df: DataFrame,
    write_options: dict[str, str],
    targets: dict[str, dict[str, str]],
    listener: StorageTransportListener,
) -> int:
    """S3_COMPAT transport: two-phase stage→import with lifecycle callbacks
    (the reference's storage-transport extension path, App.scala:208-235).

    Phase 1 stages the dataset once into ``staging_dir`` and fires
    object-persisted/stage-succeeded per target; phase 2 imports into every
    target only after ALL targets staged (all-or-nothing when the listener
    is coordinated). Without a ``staging_dir`` option the stage goes to a
    fresh temporary directory, deleted when the write ends.

    A target whose format and layout options (``_layout``) equal the
    staging write's, in ``overwrite`` or ``append`` mode, imports the staged
    files as they are (``fs.import_files``, one object-applied callback per
    file): nothing is re-encoded, as the reference's clusters import the
    uploaded SSTables. The import fails if a staged file is missing from the
    target or has another size. Any other target (``cassandra``, another
    compression, ...) re-encodes the staged rows, and fails if it writes a
    different count. The re-encode reads the stage back in the staging
    write's own format and reader options, with ``df``'s schema. A failed
    import fires import-failed; any failure (stage or import) then fires
    job-failed with the elapsed millis and raises. Returns the staged row
    count.

    Object-store staging is a CONFIG change, not a code change: every path
    here (``staging_dir``, targets) is resolved through Spark's Hadoop
    FileSystem API — the write/read legs by the parquet committers, the
    inventories and copies by ``plans/fs`` — so ``file://``, ``s3a://``,
    ``hdfs://`` and ``gs://`` URIs all take this exact path with the same
    listener lifecycle (gated by test_roundtrip's ``file://`` URI run;
    the bucket/region/credential plane of the reference's
    LocalStorageTransportExtension.scala:79-99 maps onto the scheme's
    Hadoop connector configuration)."""
    t0 = time.monotonic()
    listener.on_transport_start()
    stage_dir = write_options.get("staging_dir")
    own_stage = stage_dir is None
    if own_stage:
        stage_dir = f"{tempfile.gettempdir()}/staged-{uuid.uuid4().hex}"
    try:
        n_rows = write(df, {**write_options, "path": stage_dir, "mode": "overwrite"})
        staged_files = fs.data_file_sizes(spark, stage_dir)
        stage_root = stage_dir.rstrip("/")
        for rel, size in sorted(staged_files.items()):
            listener.on_object_persisted("staging", f"{stage_root}/{rel}", size)
        listener.on_all_objects_persisted(len(staged_files), n_rows)
        for cluster in targets:
            listener.on_stage_succeeded(cluster)
        if isinstance(listener, CoordinatedStorageTransportListener):
            if not listener.all_staged:  # pragma: no cover - defensive
                raise RuntimeError("coordinated write: staging incomplete")
        layout = _layout(write_options)
        staged = None
        for cluster, opts in targets.items():
            mode = opts.get("mode", "append").lower()
            copies = (
                layout["format"] != "cassandra"
                and "path" in opts
                and mode in ("overwrite", "append")
                and _layout(opts) == layout
            )
            if copies:
                cause = _file_import(spark, stage_dir, staged_files, opts["path"], mode)
            else:
                if staged is None:
                    # the staged files carry df's schema: no inference job
                    staged = (
                        get_reader(spark, write_options)
                        .schema(df.schema)
                        .load(stage_dir)
                    )
                imported = write(staged, opts)
                cause = None
                if imported != n_rows:
                    cause = f"imported {imported} of {n_rows} staged rows"
            if cause is not None:
                listener.on_import_failed(cluster, cause)
                raise RuntimeError(f"staged write into {cluster!r}: {cause}")
            if copies:
                for rel, size in sorted(staged_files.items()):
                    listener.on_object_applied(cluster, rel, size)
            listener.on_import_succeeded(cluster)
        listener.on_job_succeeded((time.monotonic() - t0) * 1000)
        return n_rows
    except Exception as exc:
        listener.on_job_failed((time.monotonic() - t0) * 1000, str(exc))
        raise
    finally:
        if own_stage:
            fs.delete(spark, stage_dir)


def write_job(
    spark: SparkSession,
    config: JobConfiguration,
    listener: StorageTransportListener | None = None,
) -> int:
    """Generate N rows → bulk-write. Returns the row count the write
    observed (reference logs "Written rows", App.scala:244).

    ``data_transport`` steers the write path exactly as in the reference
    (``App.scala:98,229-231``): DIRECT writes straight to the sink;
    S3_COMPAT routes through the staged two-phase path, firing the
    storage-transport lifecycle callbacks."""
    transport = DataTransport(config.write_options.get("data_transport", "DIRECT"))
    df = _generate(spark, config)
    if transport is DataTransport.S3_COMPAT:
        return staged_write(
            spark,
            df,
            config.write_options,
            {"default": config.write_options},
            listener or StorageTransportListener(),
        )
    return write(df, config.write_options)


def read_job(spark: SparkSession, config: JobConfiguration) -> int:
    """Snapshot-read a table → count (reference "Read rows", App.scala:249)."""
    return read(spark, config.read_options).count()


def write_read_same_table(spark: SparkSession, config: JobConfiguration) -> tuple[int, int]:
    """oneClusterWriteReadSameTable: write N rows, snapshot-read the same
    table back, return (written, read)."""
    written = write_job(spark, config)
    read_back = read_job(spark, config)
    return written, read_back


def copy_table(spark: SparkSession, config: JobConfiguration) -> int:
    """oneClusterCopyTable: read source → bulk-write into target → count
    (reference ``copyTable`` = ``writeExisting(read()).get.count()``,
    App.scala:237-240). The write counts the rows it copies, so the source
    is read once."""
    return write(read(spark, config.read_options), config.write_options)


def two_clusters_copy_table(
    spark: SparkSession, config: JobConfiguration, second_write_options: dict[str, str]
) -> tuple[int, int]:
    """twoClustersCopyTable: write on cluster 1 → read cluster 1 → write the
    same data into cluster 2. Returns (written_first, copied_to_second)."""
    written = write_job(spark, config)
    copied = write(read(spark, config.read_options), second_write_options)
    return written, copied


def two_clusters_coordinated_write(
    spark: SparkSession,
    config: JobConfiguration,
    targets: dict[str, dict[str, str]],
    listener: CoordinatedStorageTransportListener | None = None,
) -> int:
    """twoClustersCoordinatedWrite: all-or-nothing write into N targets via a
    staging area (reference S3_COMPAT transport + coordination signals,
    App.scala:208-235).

    Two-phase: (1) stage the dataset once into a staging directory, firing
    object-persisted/stage-succeeded callbacks per target; (2) only when every
    target staged successfully, import into each target path: a file copy
    of the staged files when the target's layout matches (see
    ``staged_write``), a re-encode otherwise.
    On any staging failure nothing is imported. Returns the staged rows,
    which every import matched.
    """
    listener = listener or CoordinatedStorageTransportListener(list(targets))
    return staged_write(
        spark,
        _generate(spark, config),
        config.write_options,
        {c: {**opts, "mode": "overwrite"} for c, opts in targets.items()},
        listener,
    )


def table_to_parquet(
    spark: SparkSession, config: JobConfiguration, output_dir: str
) -> tuple[int, int]:
    """sstableToParquet: re-materialize a table into parquet files of at most
    100 000 rows each (reference App.scala:35-82; the sink's
    ``MAX_RECORDS_PER_FILE`` unless the write options set
    ``maxRecordsPerFile``).

    The reference resolves token partitions on the driver and maps an RDD of
    work units through an SSTableTransformer; Spark's native task-per-split
    read + ``maxRecordsPerFile`` write is the same physical shape with no
    driver-side work-unit bookkeeping and no ``collect()`` of file names.
    Returns (rows, files_produced).
    """
    rows = write(
        read(spark, config.read_options),
        {**config.write_options, "path": output_dir, "mode": "overwrite"},
    )
    n_files = len(fs.list_data_files(spark, output_dir, suffix=".parquet"))
    return rows, n_files
