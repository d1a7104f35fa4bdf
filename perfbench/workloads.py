"""The workloads. Each is a fixed list of ops run in a seeded order;
one pass runs every op once. Ops reach the package only through its public
functions: ``queries.load_all``/``QueryDef.fn``, ``plans.jobs``,
``sources.read``/``sources.write``, ``datagen.gen_dataset_deterministic``
and ``operators.checkpoints.release_pins``."""

from __future__ import annotations

import os
import random
import re
import shutil
import zlib
from dataclasses import dataclass
from typing import Any, Callable

import fixtures
import oracle
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cassandra_analytics_example_spark import sources
from cassandra_analytics_example_spark.config import JobConfiguration
from cassandra_analytics_example_spark.datagen import gen_dataset_deterministic
from cassandra_analytics_example_spark.operators.checkpoints import release_pins
from cassandra_analytics_example_spark.plans import jobs
from cassandra_analytics_example_spark.sources.registry import TABLES

# row width of the reference table (id bigint, course 36-byte blob, marks bigint)
LOGICAL_ROW_BYTES = 52
MAX_ROWS_PER_FILE = 100_000  # the reference's maxRowsPerFile


def force(df) -> None:
    """Compute every output column, as ``bench.py`` does."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Op:
    name: str
    build: Callable[[], Any] | None  # query: builds the DataFrame (may run pin fills)
    execute: Callable[[Any], Any]  # query: the noop write; ETL leg: the job call


class QueryWorkload:
    """Registry queries over seeded fixtures, each forced through a noop
    write and cache-cold (pins released, cache cleared) between ops."""

    last_bytes = 0  # bytes a pass writes: none, the sink is noop

    def __init__(self, name: str, queries: list[str], warmup_passes: int, why: str) -> None:
        self.name, self.queries, self.warmup_passes, self.why = name, queries, warmup_passes, why

    def prepare_inputs(self, seed: int, work_dir: str) -> None:
        self.dir = os.path.join(work_dir, "fixtures")
        self.rows = fixtures.write_fixtures(seed, self.dir)
        self.order = random.Random(seed).sample(self.queries, len(self.queries))

    def bind(self, spark, registry) -> None:
        self.spark = spark
        by_short = {n.split("_")[0]: qd for n, qd in registry.items()}
        self.defs = {q: by_short[q] for q in self.order}
        missing = [q for q, qd in self.defs.items() if qd.oracle is None]
        if missing:
            raise ValueError(f"{self.name}: no oracle_sql for {missing}")
        self.pass_rows = sum(
            self.rows[t]
            for qd in self.defs.values()
            for t in TABLES
            if re.search(rf"\b{t}\b", qd.oracle)
        )

    def ops(self) -> list[Op]:
        return [
            Op(q, lambda qd=qd: qd.fn(self.spark, self.dir), force)
            for q, qd in self.defs.items()
        ]

    def between_ops(self) -> None:
        release_pins(self.spark, all_threads=True)
        self.spark.catalog.clearCache()

    def gate_pass(self) -> list[str]:
        """Cold first pass: every op collected once and compared with its
        DuckDB oracle. Returns the failures."""
        con = oracle.connect(self.dir, TABLES)
        failures = []
        try:
            for q, qd in self.defs.items():
                try:
                    diff = oracle.mismatch(qd.fn(self.spark, self.dir), con, qd.oracle)
                except Exception as exc:  # a failing op is an error, not a crash
                    diff = f"raised {type(exc).__name__}: {exc}"
                if diff:
                    failures.append(f"{q}: {diff}")
                self.between_ops()
        finally:
            con.close()
        return failures

    def after_pass(self, results: dict[str, Any]) -> list[str]:
        return []

    def space_amp(self) -> float:
        """Parquet bytes of the input tables over their Arrow bytes: a fixed
        property of the inputs on these read-only workloads."""
        disk = logical = 0
        for t in TABLES:
            path = os.path.join(self.dir, f"{t}.parquet")
            disk += os.path.getsize(path)
            logical += pq.read_table(path).nbytes
        return disk / logical

    def finish_pass(self) -> None:
        pass


class EtlWorkload:
    """The reference's bulk-ETL jobs over generated rows, one fresh set of
    tables per pass: generate, bulk-write with the partition-key
    discipline, snapshot-read, append past the snapshot, re-read the
    snapshot, copy, re-materialize to parquet, coordinated two-target
    write, and the cassandra branch through the stand-in data source."""

    name = "bulk_etl"
    why = (
        "the paper's own generate/write/snapshot-read/copy/re-materialize jobs: "
        "the only one that writes, and the leg that starts Python workers and persists"
    )

    def __init__(self, rows: int, append_rows: int, cassandra_rows: int, warmup_passes: int) -> None:
        self.n, self.n_append, self.n_cass = rows, append_rows, cassandra_rows
        self.warmup_passes = warmup_passes

    def prepare_inputs(self, seed: int, work_dir: str) -> None:
        self.root = os.path.join(work_dir, "etl")
        self.pass_no = 0

    def bind(self, spark) -> None:
        self.spark = spark
        self.splits = str(spark.sparkContext.defaultParallelism)
        self.expected = {rows: self._expected_digest(rows) for rows in (self.n, self.n_cass)}
        # rows each leg moves: seven legs of n, the append, two cassandra legs
        self.pass_rows = 7 * self.n + self.n_append + 2 * self.n_cass
        self._begin()

    @staticmethod
    def _expected_digest(n: int) -> tuple:
        """``_digest`` of ``gen_dataset_deterministic(n)``, computed in
        Python from the generator's documented row formula."""
        crc = sum(zlib.crc32(b"crs-%032d" % i) for i in range(n))
        return (n, n * (n - 1) // 2, n * (n - 1) // 2, crc)

    @staticmethod
    def _files(directory: str) -> list[str]:
        return [
            os.path.join(directory, f)
            for f in sorted(os.listdir(directory))
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]

    def _digest(self, directory: str) -> tuple:
        """``(count, sum(id), sum(marks), sum(crc32(course)))`` of a table's
        data files, read with pyarrow rather than the engine under test."""
        files = self._files(directory)
        if not files:
            return (0,)
        t = pa.concat_tables(pq.read_table(f) for f in files)
        crc = sum(zlib.crc32(c) for c in t.column("course").to_pylist())
        return (t.num_rows, pc.sum(t.column("id")).as_py(), pc.sum(t.column("marks")).as_py(), crc)

    def _begin(self) -> None:
        self.dir = os.path.join(self.root, f"pass{self.pass_no}")
        os.makedirs(self.dir)

    def _p(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def _uri(self, name: str) -> str:
        """A table's path for ``plans.jobs``, fully qualified: the package's
        file listing skips a scheme-less path that has a hidden (``.``/``_``)
        ancestor, and the checkout may sit under one."""
        return "file://" + self._p(name)

    def _cass(self, **extra) -> dict[str, str]:
        return {
            "format": "cassandra",
            "sidecar_contact_points": self._p("cluster"),
            "keyspace": "spark_test",
            "table": "test",
            **extra,
        }

    def ops(self) -> list[Op]:
        spark, n, splits = self.spark, self.n, self.splits
        cfg = JobConfiguration

        def datagen():
            force(gen_dataset_deterministic(spark, n, int(splits)))
            return n

        def cassandra_write():
            df = gen_dataset_deterministic(spark, self.n_cass, int(splits))
            sources.write(df, self._cass(partition_key="id", splits=splits))
            return self.n_cass

        legs = {
            "datagen": datagen,
            "write_job": lambda: jobs.write_job(spark, cfg(write_options={
                "rows": str(n), "path": self._uri("t1"), "mode": "overwrite",
                "partition_key": "id", "splits": splits})),
            "read_job": lambda: jobs.read_job(spark, cfg(read_options={
                "path": self._uri("t1"), "createSnapshot": "true", "snapshotName": "s1"})),
            "append_job": lambda: jobs.write_job(spark, cfg(write_options={
                "rows": str(self.n_append), "path": self._uri("t1"), "mode": "append"})),
            "snapshot_read": lambda: jobs.read_job(spark, cfg(read_options={
                "path": self._uri("t1"), "snapshotName": "s1"})),
            "copy_table": lambda: jobs.copy_table(spark, cfg(
                read_options={"path": self._uri("t1"), "snapshotName": "s1"},
                write_options={"path": self._uri("t2"), "mode": "overwrite"})),
            "table_to_parquet": lambda: jobs.table_to_parquet(
                spark, cfg(read_options={"path": self._uri("t2")}), self._uri("t3")),
            "coordinated_write": lambda: jobs.two_clusters_coordinated_write(
                spark, cfg(write_options={"rows": str(n), "staging_dir": self._uri("staging")}),
                {"c1": {"path": self._uri("c1")}, "c2": {"path": self._uri("c2")}}),
            "cassandra_write": cassandra_write,
            "cassandra_read": lambda: sources.read(
                spark, self._cass(createSnapshot="true", snapshotName="s1")).count(),
        }
        return [Op(name, None, lambda _, fn=fn: fn()) for name, fn in legs.items()]

    def between_ops(self) -> None:
        pass

    def after_pass(self, results: dict[str, Any]) -> list[str]:
        """The reference's invariants, checked outside the timed pass."""
        n, failures = self.n, []
        expect = {
            "datagen": n, "write_job": n, "read_job": n, "append_job": self.n_append,
            "snapshot_read": n, "copy_table": n,
            "coordinated_write": n, "cassandra_write": self.n_cass, "cassandra_read": self.n_cass,
        }
        for leg, want in expect.items():
            if results.get(leg) != want:
                failures.append(f"{leg}: got {results.get(leg)!r}, want {want!r}")
        rows, files = results.get("table_to_parquet", (None, 0))
        per_file = [pq.ParquetFile(f).metadata.num_rows for f in self._files(self._p("t3"))]
        if rows != n or files != len(per_file) or max(per_file, default=0) > MAX_ROWS_PER_FILE:
            failures.append(f"table_to_parquet: {rows} rows in {files} files {per_file}")
        for label, directory, want in (
            ("copied and re-materialized", self._p("t3"), self.expected[n]),
            ("coordinated", self._p("c2"), self.expected[n]),
            ("cassandra", os.path.join(self._p("cluster"), "spark_test", "test"),
             self.expected[self.n_cass]),
        ):
            got = self._digest(directory)
            if got != want:
                failures.append(f"{label} digest {got} != {want}")
        return failures

    def bytes_written(self) -> int:
        total = 0
        for dirpath, _, files in os.walk(self.dir):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    def space_amp(self) -> float:
        """Bytes on disk of the last pass's tables over their logical bytes."""
        # t1 (with the append), t2, t3, staging, c1, c2 and the cassandra table
        stored_rows = 6 * self.n + self.n_append + self.n_cass
        return self.last_bytes / (stored_rows * LOGICAL_ROW_BYTES)

    def finish_pass(self) -> None:
        """Record what the pass stored, then drop its tables (untimed)."""
        self.last_bytes = self.bytes_written()
        shutil.rmtree(self.dir)
        self.pass_no += 1
        self._begin()
