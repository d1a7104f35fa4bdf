"""Control-plane parity: Cassandra option translation, snapshot-isolation
reads, DataTransport routing, and the O1/O2 job wrappers.

The Cassandra connector jar is not on this classpath, so the cassandra
branch is exercised at the option-translation level (a pure function —
exactly what would reach ``DataFrameReader.options``) and the write
discipline at the plan level.
"""

from __future__ import annotations

import json
import os
import signal
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cassandra_analytics_example_spark.config import JobConfiguration
from cassandra_analytics_example_spark.datagen import (
    gen_dataset_deterministic,
    gen_wide_types_deterministic,
)
from cassandra_analytics_example_spark.plans import (
    execute,
    execute_job,
    fs,
    jobs,
    table_to_parquet,
    two_clusters_coordinated_write,
    write_job,
)
from cassandra_analytics_example_spark.plans.listeners import (
    CoordinatedStorageTransportListener,
    StorageTransportListener,
)
from cassandra_analytics_example_spark.sources import (
    apply_write_discipline,
    cassandra_options,
    create_snapshot,
    read,
    read_snapshot,
    write,
)

# the reference's own option maps, verbatim (App.scala:107-115, 151-160)
REF_READ_OPTIONS = {
    "sidecar_contact_points": "spark-master-1,cassandra-node-1,cassandra-node-2",
    "keyspace": "spark_test",
    "table": "test",
    "dc": "dc1",
    "consistencyLevel": "ONE",
    "snapshotName": "8e12cba2-6aba-4a6a-a46a-demo",
    "createSnapshot": "true",
    "sizing": "default",
}
REF_WRITE_OPTIONS = {
    "sidecar_contact_points": "spark-master-1,cassandra-node-1,cassandra-node-2",
    "keyspace": "spark_test",
    "table": "test2",
    "local_dc": "dc1",
    "bulk_writer_cl": "ALL",
    "rows": "10000000",
    "data_transport": "DIRECT",
}


class TestCassandraOptionTranslation:
    def test_read_options_pass_through(self):
        out = cassandra_options({**REF_READ_OPTIONS, "format": "cassandra"}, "read")
        assert out == REF_READ_OPTIONS  # format stripped, the rest verbatim

    def test_write_options_strip_control_keys(self):
        mixed = {
            **REF_WRITE_OPTIONS,
            "format": "cassandra",
            "mode": "append",
            "path": "/should/never/reach/connector",
            "partition_key": "id",
            "splits": "8",
            "staging_dir": "/tmp/x",
            "deterministic": "true",
            "maxRecordsPerFile": "100000",
        }
        out = cassandra_options(mixed, "write")
        expected = {k: v for k, v in REF_WRITE_OPTIONS.items() if k != "rows"}
        assert out == expected
        # every reference connector key survives; every registry key is gone
        for k in ("keyspace", "table", "local_dc", "bulk_writer_cl", "data_transport"):
            assert k in out
        for k in ("path", "partition_key", "splits", "rows", "format", "mode"):
            assert k not in out

    def test_keyspace_and_table_required(self):
        with pytest.raises(ValueError, match="keyspace"):
            cassandra_options({"table": "test"}, "read")
        with pytest.raises(ValueError, match="table"):
            cassandra_options({"keyspace": "spark_test"}, "write")

    def test_side_validated(self):
        with pytest.raises(ValueError, match="side"):
            cassandra_options(REF_READ_OPTIONS, "sideways")

    # ---- VERDICT r6 task 6: contract pins for BOTH transports against
    # the documented connector option names (SparkUtils.scala:56-65,
    # App.scala:107-115 read / :151-160, :211-231 write) — a future
    # rename in the translation layer can't silently break the
    # real-cluster path.

    REF_S3_COMPAT_WRITE = {
        "coordinated_write_config": (
            '{"cluster_1": {"sidecarContactPoints": '
            '["spark-master-1:9043"], "localDc": "dc1"}, '
            '"cluster_2": {"sidecarContactPoints": '
            '["spark-master-2:9043"], "localDc": "dc2"}}'
        ),
        "keyspace": "spark_test",
        "table": "test",
        "bulk_writer_cl": "LOCAL_QUORUM",
        "data_transport": "S3_COMPAT",
        "data_transport_extension_class": (
            "org.apache.cassandra.spark.analytics.example."
            "LocalCoordinatedStorageTransportExtension"
        ),
        "storage_client_endpoint_override": "http://s3-mock:9090",
    }

    def test_s3_compat_write_options_pin(self):
        # the reference's coordinated S3_COMPAT map (App.scala:211-231)
        # plus registry control keys → the connector sees EXACTLY the
        # reference map (rows is a generator knob, never forwarded)
        mixed = {
            **self.REF_S3_COMPAT_WRITE,
            "rows": "1000000",
            "format": "cassandra",
            "staging_dir": "/tmp/stage",
            "partition_key": "id",
        }
        assert cassandra_options(mixed, "write") == self.REF_S3_COMPAT_WRITE

    def test_translated_keys_stay_inside_documented_vocabulary(self):
        from cassandra_analytics_example_spark.sources.options import (
            CASSANDRA_READ_OPTIONS,
            CASSANDRA_WRITE_OPTIONS,
        )

        read_out = cassandra_options(
            {**REF_READ_OPTIONS, "format": "cassandra"}, "read"
        )
        assert set(read_out) <= CASSANDRA_READ_OPTIONS
        for m in (REF_WRITE_OPTIONS, self.REF_S3_COMPAT_WRITE):
            out = cassandra_options({**m, "format": "cassandra"}, "write")
            assert set(out) <= CASSANDRA_WRITE_OPTIONS

    def test_documented_vocabulary_matches_reference_surface(self):
        # the names the reference actually uses, verbatim from App.scala
        from cassandra_analytics_example_spark.sources.options import (
            CASSANDRA_READ_OPTIONS,
            CASSANDRA_WRITE_OPTIONS,
        )

        ref_read = {
            "sidecar_contact_points", "keyspace", "table", "dc",
            "consistencyLevel", "snapshotName", "createSnapshot", "sizing",
        }
        ref_write = {
            "sidecar_contact_points", "keyspace", "table", "local_dc",
            "bulk_writer_cl", "data_transport",
            "data_transport_extension_class",
            "storage_client_endpoint_override", "coordinated_write_config",
        }
        assert ref_read <= CASSANDRA_READ_OPTIONS
        assert ref_write <= CASSANDRA_WRITE_OPTIONS
        # control keys and connector keys must never collide — a key in
        # both would be consumed by the registry and silently dropped
        from cassandra_analytics_example_spark.sources.options import (
            CONTROL_KEYS,
        )

        assert not (CONTROL_KEYS & CASSANDRA_READ_OPTIONS)
        assert not (CONTROL_KEYS & CASSANDRA_WRITE_OPTIONS)


def test_write_discipline_token_sort_plan(spark):
    """The bulk-writer discipline (reference library's token sort) must be
    an explicit hash repartition on the key + in-partition sort — on every
    backend, cassandra included."""
    df = gen_dataset_deterministic(spark, 1000, 4)
    out = apply_write_discipline(
        df, {"format": "cassandra", "partition_key": "id", "splits": "8"}
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in plan and "id" in plan
    assert "Sort" in plan
    # no-op without the key
    same = apply_write_discipline(df, {"format": "cassandra"})
    assert same is df


class TestSnapshotIsolation:
    def test_snapshot_read_ignores_later_appends(self, spark, tmp_path):
        # fully-qualified URI: proves the Hadoop FS path, not os.* calls
        table = f"file://{tmp_path}/t"
        write(gen_dataset_deterministic(spark, 1000, 4), {"path": table})
        name = create_snapshot(spark, table)
        write(gen_dataset_deterministic(spark, 500, 2), {"path": table})
        assert read_snapshot(spark, table, name).count() == 1000
        assert spark.read.parquet(table).count() == 1500

    def test_registry_read_create_snapshot_option(self, spark, tmp_path):
        table = f"file://{tmp_path}/t2"
        write(gen_dataset_deterministic(spark, 800, 4), {"path": table})
        snap = read(
            spark,
            {"path": table, "createSnapshot": "true", "snapshotName": "snap-a"},
        )
        write(gen_dataset_deterministic(spark, 200, 2), {"path": table})
        # frozen manifest: the captured DataFrame and any re-read by name
        assert snap.count() == 800
        assert read(spark, {"path": table, "snapshotName": "snap-a"}).count() == 800
        assert read(spark, {"path": table}).count() == 1000

    def test_snapshot_requires_data(self, spark, tmp_path):
        with pytest.raises(Exception):
            create_snapshot(spark, f"file://{tmp_path}/empty")

    def test_manifest_schema_matches_inference(self, spark, tmp_path):
        """The manifest records the schema inferred at snapshot time; a
        snapshot read planned from it sees the same schema and rows as an
        inferring read, across binary, array, map and struct columns."""
        table = f"file://{tmp_path}/wide"
        write(gen_wide_types_deterministic(spark, 400, 4), {"path": table})
        name = create_snapshot(spark, table)
        manifest = json.loads(
            fs.read_text(spark, f"{table}/_snapshots/{name}.json")
        )
        inferred = spark.read.parquet(table)
        assert StructType.fromJson(manifest["schema"]) == inferred.schema
        snap = read_snapshot(spark, table, name)
        assert snap.schema == inferred.schema
        by_id = lambda df: sorted(df.collect(), key=lambda r: r.id)  # noqa: E731
        assert by_id(snap) == by_id(inferred)

    def test_manifest_without_schema_still_reads(self, spark, tmp_path):
        """A manifest written before the schema was recorded reads by
        inferring the schema from the frozen files."""
        table = f"file://{tmp_path}/legacy"
        write(gen_dataset_deterministic(spark, 300, 2), {"path": table})
        name = create_snapshot(spark, table)
        path = f"{table}/_snapshots/{name}.json"
        manifest = json.loads(fs.read_text(spark, path))
        del manifest["schema"]
        fs.write_text(spark, path, json.dumps(manifest))
        write(gen_dataset_deterministic(spark, 50, 1), {"path": table})
        snap = read_snapshot(spark, table, name)
        assert snap.count() == 300
        assert snap.schema == spark.read.parquet(table).schema


class TestDataTransportRouting:
    def test_direct_write_fires_no_transport_callbacks(self, spark, tmp_path):
        listener = StorageTransportListener()
        n = write_job(
            spark,
            JobConfiguration(
                write_options={
                    "rows": "500",
                    "path": str(tmp_path / "direct"),
                    "data_transport": "DIRECT",
                }
            ),
            listener,
        )
        assert n == 500
        assert listener.events == []

    def test_s3_compat_routes_through_staged_path(self, spark, tmp_path):
        listener = StorageTransportListener()
        n = write_job(
            spark,
            JobConfiguration(
                write_options={
                    "rows": "500",
                    "path": str(tmp_path / "staged_target"),
                    "staging_dir": str(tmp_path / "staging"),
                    "data_transport": "S3_COMPAT",
                }
            ),
            listener,
        )
        assert n == 500
        assert spark.read.parquet(str(tmp_path / "staged_target")).count() == 500
        kinds = [e.kind for e in listener.events]
        assert kinds[0] == "transport_start"
        assert "object_persisted" in kinds
        assert "all_objects_persisted" in kinds
        assert kinds.count("stage_succeeded") == 1
        assert kinds.count("import_succeeded") == 1
        assert kinds[-1] == "job_succeeded"
        # stage strictly precedes import
        assert kinds.index("stage_succeeded") < kinds.index("import_succeeded")

    def test_default_staging_dir_is_removed(self, spark, tmp_path, monkeypatch):
        """Without a ``staging_dir`` the stage goes to a generated temporary
        directory, which the write deletes; a caller's own staging
        directory is left in place."""
        tmp = tmp_path / "tmp"
        tmp.mkdir()
        monkeypatch.setattr(tempfile, "tempdir", str(tmp))
        listener = StorageTransportListener()
        opts = {
            "rows": "300",
            "path": str(tmp_path / "target"),
            "data_transport": "S3_COMPAT",
        }
        assert write_job(spark, JobConfiguration(write_options=opts), listener) == 300
        staged = [e.detail for e in listener.events if e.kind == "object_persisted"]
        assert staged and all(str(tmp) in d for d in staged)
        assert list(tmp.iterdir()) == []
        assert spark.read.parquet(opts["path"]).count() == 300
        kept = tmp_path / "kept"
        write_job(
            spark,
            JobConfiguration(write_options={**opts, "staging_dir": str(kept)}),
        )
        assert list(kept.glob("*.parquet"))

    def test_short_import_fails_the_staged_write(
        self, spark, tmp_path, monkeypatch
    ):
        """A file import that lands one staged file short raises before its
        import-succeeded callback: the coordinated listener never reports
        success, and the generated staging directory still goes."""
        tmp = tmp_path / "tmp"
        tmp.mkdir()
        monkeypatch.setattr(tempfile, "tempdir", str(tmp))
        targets = {
            "c1": {"path": str(tmp_path / "c1")},
            "c2": {"path": str(tmp_path / "c2")},
        }
        real_import = fs.import_files

        def short_second(spark, src, files, dst, overwrite):
            real_import(spark, src, files, dst, overwrite)
            if dst == targets["c2"]["path"]:
                fs.delete(spark, f"{dst}/{files[0]}")

        monkeypatch.setattr(fs, "import_files", short_second)
        listener = CoordinatedStorageTransportListener(list(targets))
        with pytest.raises(RuntimeError, match="c2"):
            two_clusters_coordinated_write(
                spark,
                JobConfiguration(write_options={"rows": "200"}),
                targets,
                listener,
            )
        kinds = [e.kind for e in listener.events]
        assert "job_succeeded" not in kinds
        assert kinds.count("import_succeeded") == 1
        assert kinds[-2:] == ["import_failed", "job_failed"]
        assert list(tmp.iterdir()) == []

    def test_short_reencode_fails_the_staged_write(
        self, spark, tmp_path, monkeypatch
    ):
        """The re-encode twin: targets whose layout differs from the
        staging write's (``compression``) write the staged rows again, and
        one that writes fewer rows than were staged fails the same way."""
        tmp = tmp_path / "tmp"
        tmp.mkdir()
        monkeypatch.setattr(tempfile, "tempdir", str(tmp))
        targets = {
            "c1": {"path": str(tmp_path / "c1"), "compression": "gzip"},
            "c2": {"path": str(tmp_path / "c2"), "compression": "gzip"},
        }
        real_write = jobs.write

        def short_second(df, options):
            n = real_write(df, options)
            return n - 1 if options.get("path") == targets["c2"]["path"] else n

        monkeypatch.setattr(jobs, "write", short_second)
        listener = CoordinatedStorageTransportListener(list(targets))
        with pytest.raises(RuntimeError, match="c2"):
            two_clusters_coordinated_write(
                spark,
                JobConfiguration(write_options={"rows": "200"}),
                targets,
                listener,
            )
        kinds = [e.kind for e in listener.events]
        assert "job_succeeded" not in kinds
        assert kinds.count("import_succeeded") == 1
        assert kinds[-2:] == ["import_failed", "job_failed"]
        assert list(tmp.iterdir()) == []


def _digest(df) -> tuple:
    """(count, sum(id), sum(marks), sum(crc32(course))) of a frame."""
    row = df.agg(
        F.count(F.lit(1)),
        F.sum("id"),
        F.sum("marks"),
        F.sum(F.crc32("course").cast("decimal(38,0)")),
    ).first()
    return tuple(row)


class TestFileImport:
    """Targets whose layout equals the staging write's import the staged
    files by copy (``fs.import_files``) instead of re-encoding them."""

    def test_object_applied_per_staged_file_per_target(self, spark, tmp_path):
        targets = {c: {"path": str(tmp_path / c)} for c in ("c1", "c2")}
        listener = CoordinatedStorageTransportListener(list(targets))
        two_clusters_coordinated_write(
            spark,
            JobConfiguration(
                write_options={"rows": "900", "staging_dir": str(tmp_path / "stg")}
            ),
            targets,
            listener,
        )
        staged = fs.data_file_sizes(spark, str(tmp_path / "stg"))
        assert staged
        applied = [e.detail for e in listener.events if e.kind == "object_applied"]
        want = sorted(
            f"{c}/{rel} ({size} B)" for c in targets for rel, size in staged.items()
        )
        assert sorted(applied) == want
        for c, opts in targets.items():
            assert fs.data_file_sizes(spark, opts["path"]) == staged
            assert spark.read.parquet(opts["path"]).count() == 900

    def test_overwrite_import_leaves_only_staged_files(self, spark, tmp_path):
        target = str(tmp_path / "c1")
        write(gen_dataset_deterministic(spark, 70, 3), {"path": target})
        create_snapshot(spark, target, "old")
        stale = fs.data_file_sizes(spark, target)
        two_clusters_coordinated_write(
            spark,
            JobConfiguration(
                write_options={"rows": "400", "staging_dir": str(tmp_path / "stg")}
            ),
            {"c1": {"path": target}},
        )
        staged = fs.data_file_sizes(spark, str(tmp_path / "stg"))
        assert fs.data_file_sizes(spark, target) == staged
        assert not set(stale) & set(staged)
        assert not (tmp_path / "c1" / "_snapshots").exists()
        assert (tmp_path / "c1" / "_SUCCESS").exists()
        assert spark.read.parquet(target).count() == 400

    def test_append_import_keeps_earlier_files(self, spark, tmp_path):
        target = str(tmp_path / "t")
        write(gen_dataset_deterministic(spark, 80, 2), {"path": target})
        earlier = fs.data_file_sizes(spark, target)
        listener = StorageTransportListener()
        opts = {
            "rows": "300",
            "path": target,
            "staging_dir": str(tmp_path / "stg"),
            "data_transport": "S3_COMPAT",
        }
        assert write_job(spark, JobConfiguration(write_options=opts), listener) == 300
        staged = fs.data_file_sizes(spark, opts["staging_dir"])
        assert fs.data_file_sizes(spark, target) == {**earlier, **staged}
        assert spark.read.parquet(target).count() == 380
        assert [e.kind for e in listener.events].count("object_applied") == len(staged)

    def test_append_import_refuses_a_name_collision(
        self, spark, tmp_path, monkeypatch
    ):
        """An append whose staged file name is already in the target fails
        with import-failed and copies nothing."""
        stage, target = str(tmp_path / "stg"), str(tmp_path / "t")
        write(gen_dataset_deterministic(spark, 50, 1), {"path": target})
        taken = sorted(fs.data_file_sizes(spark, target))[0]
        real_write = jobs.write

        def stage_onto_taken_name(df, options):
            n = real_write(df, options)
            first = sorted(fs.data_file_sizes(spark, stage))[0]
            os.rename(f"{stage}/{first}", f"{stage}/{taken}")
            return n

        monkeypatch.setattr(jobs, "write", stage_onto_taken_name)
        listener = StorageTransportListener()
        with pytest.raises(RuntimeError, match="already holds"):
            jobs.staged_write(
                spark,
                gen_dataset_deterministic(spark, 60, 1),
                {"staging_dir": stage},
                {"t": {"path": target}},
                listener,
            )
        kinds = [e.kind for e in listener.events]
        assert kinds[-2:] == ["import_failed", "job_failed"]
        assert "import_succeeded" not in kinds
        assert "object_applied" not in kinds
        assert spark.read.parquet(target).count() == 50

    def test_reencode_target_imports_the_same_rows(self, spark, tmp_path):
        """A target with another compression re-encodes the staged rows:
        its files differ from the staged ones, its rows do not."""
        import pyarrow.parquet as pq

        target = str(tmp_path / "gz")
        listener = CoordinatedStorageTransportListener(["gz"])
        two_clusters_coordinated_write(
            spark,
            JobConfiguration(
                write_options={"rows": "700", "staging_dir": str(tmp_path / "stg")}
            ),
            {"gz": {"path": target, "compression": "gzip"}},
            listener,
        )
        kinds = [e.kind for e in listener.events]
        assert "object_applied" not in kinds
        assert kinds[-2:] == ["import_succeeded", "job_succeeded"]
        files = sorted((tmp_path / "gz").glob("*.parquet"))
        assert files
        assert all(
            pq.ParquetFile(f).metadata.row_group(0).column(0).compression == "GZIP"
            for f in files
        )
        assert _digest(spark.read.parquet(target)) == _digest(
            gen_dataset_deterministic(spark, 700, 2)
        )

    def test_orc_stage_imports_and_reencodes(self, spark, tmp_path):
        """An orc stage feeds a copy target (same layout) and a re-encode
        target (``compression=zlib``): the re-encode reads the stage back
        as orc, and both targets hold the generated rows."""
        stage = str(tmp_path / "stg")
        targets = {
            "copy": {"path": str(tmp_path / "copy"), "format": "orc"},
            "zlib": {
                "path": str(tmp_path / "zlib"),
                "format": "orc",
                "compression": "zlib",
            },
        }
        listener = CoordinatedStorageTransportListener(list(targets))
        n = two_clusters_coordinated_write(
            spark,
            JobConfiguration(
                write_options={"rows": "300", "format": "orc", "staging_dir": stage}
            ),
            targets,
            listener,
        )
        assert n == 300
        applied = {
            e.detail.split("/")[0]
            for e in listener.events
            if e.kind == "object_applied"
        }
        assert applied == {"copy"}
        assert fs.data_file_sizes(spark, targets["copy"]["path"]) == (
            fs.data_file_sizes(spark, stage)
        )
        want = _digest(gen_dataset_deterministic(spark, 300, 2))
        for opts in targets.values():
            assert _digest(spark.read.orc(opts["path"])) == want
        assert listener.events[-1].kind == "job_succeeded"

    def test_failed_stage_write_fires_job_failed(
        self, spark, tmp_path, monkeypatch
    ):
        """A stage write that raises ends the event list with job-failed
        (elapsed millis and the cause), and the error reaches the caller;
        nothing is staged or imported."""

        def failing_write(df, options):
            raise OSError("stage volume gone")

        monkeypatch.setattr(jobs, "write", failing_write)
        listener = CoordinatedStorageTransportListener(["c1"])
        with pytest.raises(OSError, match="stage volume gone"):
            two_clusters_coordinated_write(
                spark,
                JobConfiguration(write_options={"rows": "100"}),
                {"c1": {"path": str(tmp_path / "c1")}},
                listener,
            )
        assert [e.kind for e in listener.events] == ["transport_start", "job_failed"]
        elapsed, cause = listener.events[-1].detail.split(" ms: ")
        assert cause == "stage volume gone"
        assert float(elapsed) >= 0
        assert not (tmp_path / "c1").exists()

    def test_job_succeeded_reports_elapsed_ms(self, spark, tmp_path):
        listener = CoordinatedStorageTransportListener(["c1"])
        two_clusters_coordinated_write(
            spark,
            JobConfiguration(write_options={"rows": "100"}),
            {"c1": {"path": str(tmp_path / "c1")}},
            listener,
        )
        last = listener.events[-1]
        assert last.kind == "job_succeeded"
        assert float(last.detail.removesuffix(" ms")) > 0


def _empty_frame(spark, kind: str):
    base = gen_dataset_deterministic(spark, 100, 2)
    if kind == "filter_false":
        return base.filter("false")
    if kind == "limit_0":
        return base.limit(0)
    if kind == "range_0":
        return gen_dataset_deterministic(spark, 0, 2)
    return spark.createDataFrame([], base.schema)


class TestWriteCounts:
    @pytest.mark.parametrize("backend", ["parquet", "cassandra"])
    @pytest.mark.parametrize(
        "kind", ["filter_false", "limit_0", "range_0", "create_empty"]
    )
    def test_empty_input_counts_zero(self, spark, tmp_path, kind, backend):
        """The write's row count is an observed metric; an empty input must
        still report it (0) rather than leave the caller waiting for it."""
        if backend == "parquet":
            opts = {"path": str(tmp_path / "t"), "mode": "overwrite"}
        else:
            opts = {
                "format": "cassandra",
                "sidecar_contact_points": str(tmp_path),
                "keyspace": "ks",
                "table": "t",
            }

        def hung(signum, frame):
            raise TimeoutError("write never reported its row count")

        previous = signal.signal(signal.SIGALRM, hung)
        signal.alarm(180)
        try:
            assert write(_empty_frame(spark, kind), opts) == 0
        finally:
            signal.alarm(0)
            signal.signal(signal.SIGALRM, previous)

    def test_nondeterministic_write_job_counts_rows_on_disk(self, spark, tmp_path):
        path = str(tmp_path / "random")
        n = write_job(
            spark,
            JobConfiguration(
                write_options={
                    "rows": "700",
                    "path": path,
                    "mode": "overwrite",
                    "deterministic": "false",
                }
            ),
        )
        assert n == spark.read.parquet(path).count() == 700


class TestJobWrappers:
    def test_execute_returns_value(self):
        assert execute(lambda: 42) == 42

    def test_execute_logs_and_rethrows(self, caplog):
        with caplog.at_level("ERROR"):
            with pytest.raises(RuntimeError, match="boom"):
                execute(lambda: (_ for _ in ()).throw(RuntimeError("boom")))
        assert any("job failed" in r.message for r in caplog.records)

    def test_execute_job_swallows_and_closes(self, caplog):
        class FakeSession:
            stopped = False

            def stop(self):
                self.stopped = True

        ok = FakeSession()
        execute_job(ok, lambda: 1)
        assert ok.stopped

        bad = FakeSession()
        with caplog.at_level("ERROR"):
            execute_job(bad, lambda: (_ for _ in ()).throw(RuntimeError("x")))
        assert bad.stopped  # session closed even on failure
        assert any("swallowed" in r.message for r in caplog.records)


def test_table_to_parquet_hadoop_fs_inventory(spark, tmp_path):
    """File inventory must work against a fully-qualified file:/ URI (the
    Hadoop FS path), not POSIX listdir."""
    src = f"file://{tmp_path}/src"
    write(gen_dataset_deterministic(spark, 1000, 2), {"path": src})
    rows, n_files = table_to_parquet(
        spark,
        JobConfiguration(
            read_options={"path": src},
            write_options={"maxRecordsPerFile": "300"},
        ),
        f"file://{tmp_path}/out",
    )
    assert rows == 1000
    assert n_files >= 4  # 1000 rows / ≤300 per file


class TestMalformedIngestion:
    """Dirty-input robustness through the source registry: a 100 TB crawl
    ALWAYS contains malformed records; the engine must route them, not
    die on them. Exercises the registry's option pass-through with the
    three Spark parse modes."""

    JSON_LINES = [
        '{"id": 1, "v": "ok"}',
        '{"id": 2, "v": "also ok"}',
        "{not json at all",
        '{"id": "not-a-number", "v": 3}',
    ]

    def _write(self, tmp_path):
        p = tmp_path / "dirty.json"
        p.write_text("\n".join(self.JSON_LINES) + "\n")
        return str(p)

    def test_permissive_mode_routes_corrupt_records(self, spark, tmp_path):
        from cassandra_analytics_example_spark.sources.registry import get_reader

        path = self._write(tmp_path)
        df = (
            get_reader(
                spark,
                {
                    "format": "json",
                    "mode_parse": "PERMISSIVE",  # registry passes unknown keys through
                    "columnNameOfCorruptRecord": "_bad",
                },
            )
            .schema("id bigint, v string, _bad string")
            .load(path)
        )
        rows = df.collect()
        assert len(rows) == 4
        bad = [r for r in rows if r._bad is not None]
        good = [r for r in rows if r._bad is None]
        assert len(good) == 2 and {r.id for r in good} == {1, 2}
        # both the unparseable line and the type-mismatched record routed
        assert len(bad) == 2

    def test_dropmalformed_keeps_only_clean_rows(self, spark, tmp_path):
        from cassandra_analytics_example_spark.sources.registry import get_reader

        path = self._write(tmp_path)
        df = (
            get_reader(spark, {"format": "json", "mode": "DROPMALFORMED"})
            .schema("id bigint, v string")
            .load(path)
        )
        # registry treats 'mode' as writer save-mode control; reader parse
        # mode must be set via option on the returned reader
        df2 = (
            spark.read.format("json")
            .option("mode", "DROPMALFORMED")
            .schema("id bigint, v string")
            .load(path)
        )
        # DROPMALFORMED's row count depends on which columns are PARSED:
        # materializing the full schema drops both the syntactically-bad
        # line and the type-mismatched record (2 survive), while a pruned
        # count() never attempts the id coercion, so the type-mismatched
        # record passes (3 survive). A malformed-rate monitor must
        # therefore count over the full schema, not count(*).
        rows = df2.collect()
        assert len(rows) == 2
        assert sorted(r.id for r in rows) == [1, 2]
        assert df2.count() == 3

    def test_failfast_raises_on_dirty_input(self, spark, tmp_path):
        path = self._write(tmp_path)
        df = (
            spark.read.format("json")
            .option("mode", "FAILFAST")
            .schema("id bigint, v string")
            .load(path)
        )
        with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
            df.collect()
