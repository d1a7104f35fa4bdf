"""Text-file ingestion (JSONL / CSV) — the entry format of most real
training-data pipelines (web-scrape and annotation dumps arrive as
JSON-lines or CSV long before anything is parquet).

Design rules, all of which differ from a naive ``spark.read.json``:

* **Schema is explicit, never inferred.** Inference is a full extra pass
  over the data (2x the 100 TB scan) AND nondeterministic under corpus
  drift (a batch where some column happens to be all-null infers a
  different type and breaks downstream unions). Callers pass the DDL.
* **Corrupt records are quarantined, not dropped and not fatal.**
  PERMISSIVE mode with an explicit ``_corrupt_record`` column: malformed
  lines surface as rows with the raw line preserved, and ``split_corrupt``
  separates them into a quarantine frame for audit — the
  count-everything-drop-nothing accounting the dedup/audit operators
  already follow.
* **One pass.** The clean/corrupt split shares a single cached scan when
  requested; both frames are projections of the same lineage.

JSONL/CSV reads split by line across tasks exactly like parquet
(``maxPartitionBytes``), so ingestion parallelism needs no driver help —
but unlike parquet there is no column pruning or predicate pushdown, which
is why ``to_parquet`` (convert-then-query) is the scale path for anything
read more than once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.session import pin_small
from cassandra_analytics_example_spark.sources.registry import (
    MAX_RECORDS_PER_FILE,
)

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema_ddl: str) -> str:
    return f"{schema_ddl}, {CORRUPT_COL} STRING"


def read_jsonl(
    spark: SparkSession, path: str, schema_ddl: str
) -> DataFrame:
    """JSON-lines read with explicit schema + corrupt-record quarantine
    column. Multiline is deliberately OFF: single-line JSON objects split
    per-line across tasks; a multiline document forces whole-file reads."""
    return (
        spark.read.schema(_with_corrupt(schema_ddl))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema_ddl: str,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV read with explicit schema + corrupt-record quarantine column."""
    return (
        spark.read.schema(_with_corrupt(schema_ddl))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .option("sep", sep)
        .csv(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): clean rows with the corrupt column dropped, and
    the malformed raw lines for audit. Spark requires the corrupt column to
    be materialized (cached or persisted through a shuffle) before it can
    be filtered on — a plain filter over the lazy scan raises
    AnalysisException — so the split caches the parsed layer once and both
    outputs share it. The cache is released by
    ``pin_scope``/``release_pins``."""
    cached = pin_small(df)
    clean = cached.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = cached.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantine


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines export (one object per line, task-sharded files bounded
    by ``maxRecordsPerFile`` — the same write discipline as the parquet
    sink)."""
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .json(path)
    )


def to_parquet(
    df: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Convert an ingested frame to parquet — the one-time cost that buys
    column pruning + predicate pushdown for every later read."""
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .parquet(path)
    )


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC export (the other splittable columnar interchange format; same
    task-sharded file-size discipline as the parquet/JSONL sinks)."""
    (
        df.write.mode(mode)
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .orc(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — schema comes from the file footers (self-describing
    format, like parquet; no corrupt-record channel needed). Predicate
    pushdown and column pruning apply exactly as for parquet."""
    return spark.read.orc(path)
