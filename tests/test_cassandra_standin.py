"""Contract tests for the Cassandra stand-in Python DataSource
(sources/standin.py) — executing the registry's ``cassandra`` branch
end-to-end: option translation, snapshot isolation, two-phase append,
bulk-write discipline, filter pushdown. Counterpart of the reference's
connector usage (SparkUtils.scala:56-65, App.scala:40-46/107-115/151-160).
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.datagen import gen_dataset_deterministic
from cassandra_analytics_example_spark.sources import read, write
from cassandra_analytics_example_spark.sources.registry import cassandra_format
from cassandra_analytics_example_spark.sources.standin import (
    STANDIN_FORMAT,
    StandInReader,
    table_dir,
)


def _opts(root, **extra):
    return {
        "format": "cassandra",
        "sidecar_contact_points": str(root),
        "keyspace": "spark_test",
        "table": "test",
        **extra,
    }


def test_standin_selected_without_connector_jar(spark):
    # the sandbox has no connector jar → the probe must fall back
    assert cassandra_format(spark) == STANDIN_FORMAT


def test_standin_registered_once_per_session(spark, monkeypatch):
    """Every cassandra read and write resolves the format; only the first
    resolution in a session registers the data source (registering again
    re-pickles the class and logs a replacement warning)."""
    from pyspark.sql.datasource import DataSourceRegistration

    cassandra_format(spark)
    calls = []
    real = DataSourceRegistration.register
    monkeypatch.setattr(
        DataSourceRegistration,
        "register",
        lambda self, ds: calls.append(ds) or real(self, ds),
    )
    assert cassandra_format(spark) == STANDIN_FORMAT
    assert calls == []


def test_write_read_roundtrip(spark, tmp_path):
    df = gen_dataset_deterministic(spark, 1000, 4)
    write(df, _opts(tmp_path, partition_key="id", splits="4"))
    back = read(spark, _opts(tmp_path))
    assert back.count() == 1000
    assert set(back.columns) == {"id", "course", "marks"}
    assert back.agg(F.sum("marks")).first()[0] == df.agg(F.sum("marks")).first()[0]
    # two-phase commit left no staging residue
    tdir = table_dir(_opts(tmp_path))
    assert not glob.glob(os.path.join(tdir, ".staging-*"))


def test_append_mode_accumulates(spark, tmp_path):
    write(gen_dataset_deterministic(spark, 100, 2), _opts(tmp_path))
    write(gen_dataset_deterministic(spark, 50, 2), _opts(tmp_path))
    assert read(spark, _opts(tmp_path)).count() == 150


def test_write_discipline_sorts_within_files(spark, tmp_path):
    """partition_key discipline (repartition + sortWithinPartitions — the
    library's token-sort, SURVEY §2.2 K1) must survive through the sink:
    every produced file is internally sorted by the key."""
    write(
        gen_dataset_deterministic(spark, 2000, 8),
        _opts(tmp_path, partition_key="id", splits="8"),
    )
    tdir = table_dir(_opts(tmp_path))
    files = [f for f in os.listdir(tdir) if f.endswith(".parquet")]
    assert len(files) > 1
    for f in files:
        ids = pq.read_table(os.path.join(tdir, f), columns=["id"])["id"].to_pylist()
        assert ids == sorted(ids)


def test_snapshot_isolation(spark, tmp_path):
    write(gen_dataset_deterministic(spark, 500, 4), _opts(tmp_path))
    snap = read(
        spark, _opts(tmp_path, createSnapshot="true", snapshotName="s1")
    )
    write(gen_dataset_deterministic(spark, 123, 2), _opts(tmp_path))
    # snapshot re-read sees the frozen set; a live read sees the append
    assert read(spark, _opts(tmp_path, snapshotName="s1")).count() == 500
    assert snap.count() == 500
    assert read(spark, _opts(tmp_path)).count() == 623


def test_filter_pushdown_values(spark, tmp_path):
    write(gen_dataset_deterministic(spark, 1000, 4), _opts(tmp_path))
    got = (
        read(spark, _opts(tmp_path))
        .filter((F.col("id") >= 100) & (F.col("id") < 200))
        .count()
    )
    assert got == 100


def _scan_output_rows(spark, action):
    """Run ``action``; return its result and the summed ``number of output
    rows`` of the BatchScan nodes in the SQL executions it recorded."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    first = store.executionsCount()
    result = action()
    bus.waitUntilEmpty()
    rows = 0
    for eid in range(first, store.executionsCount()):
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not node.name().startswith("BatchScan"):
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                metric = metrics.apply(k)
                value = values.get(metric.accumulatorId())
                if metric.name() == "number of output rows" and value.isDefined():
                    rows += int(value.get().replace(",", ""))
    return result, rows


def test_filter_pushdown_reaches_the_scan(spark, tmp_path):
    """Spark picks the reader in a planner worker, where no session exists:
    the registry's driver-resolved option must still select the pushdown
    reader, so the scan itself emits only the matching rows."""
    write(gen_dataset_deterministic(spark, 1000, 4), _opts(tmp_path))
    df = read(spark, _opts(tmp_path)).filter(
        (F.col("id") >= 100) & (F.col("id") < 200)
    )
    got, scanned = _scan_output_rows(spark, df.count)
    assert got == 100
    assert scanned == 100


def test_float_filters_keep_spark_nan_semantics(spark, tmp_path):
    """Spark orders NaN above every number and holds NaN = NaN; pyarrow
    does neither, so double-column filters stay with Spark."""
    df = spark.createDataFrame(
        [(0, float("nan")), (1, 2.0), (2, 0.5), (3, None)], "id long, x double"
    )
    write(df, _opts(tmp_path, table="nan"))
    back = read(spark, _opts(tmp_path, table="nan"))
    for cond, want in ((F.col("x") > 1.0, [0, 1]), (F.col("x") == float("nan"), [0])):
        assert sorted(r.id for r in df.filter(cond).collect()) == want
        assert sorted(r.id for r in back.filter(cond).collect()) == want


def test_pushdown_option_only_reaches_standin(spark, tmp_path, monkeypatch):
    from pyspark.sql import DataFrameReader

    from cassandra_analytics_example_spark.sources import registry
    from cassandra_analytics_example_spark.sources.standin import PUSHDOWN_OPTION

    seen = []
    real = DataFrameReader.options
    monkeypatch.setattr(
        DataFrameReader, "options", lambda self, **kw: seen.append(kw) or real(self, **kw)
    )
    registry.get_reader(spark, _opts(tmp_path))
    assert seen[-1][PUSHDOWN_OPTION] == "true"
    monkeypatch.setattr(registry, "cassandra_format", lambda s: registry.CASSANDRA_FORMAT)
    registry.get_reader(spark, _opts(tmp_path))
    assert PUSHDOWN_OPTION not in seen[-1]


def test_pushfilters_consumes_comparisons(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, StringContains

    write(gen_dataset_deterministic(spark, 10, 1), _opts(tmp_path))
    r = StandInReader(
        {k: str(v) for k, v in _opts(tmp_path).items()},
        read(spark, _opts(tmp_path)).schema,
        None,
    )
    leftover = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("id",), 5),
                EqualTo(("marks",), 7),
                StringContains(("course",), "x"),  # not translatable → returned
            ]
        )
    )
    assert len(leftover) == 1 and isinstance(leftover[0], StringContains)
    assert len(r._pushed) == 2


def test_control_key_leak_rejected(spark, tmp_path):
    """Registry control keys must be stripped by cassandra_options before
    the DataSource — a leaked key is a hard error, not a silent ignore."""
    write(gen_dataset_deterministic(spark, 10, 1), _opts(tmp_path))
    with pytest.raises(Exception, match="control key|BAD_"):
        (
            spark.read.format(STANDIN_FORMAT)
            .options(
                sidecar_contact_points=str(tmp_path),
                keyspace="spark_test",
                table="test",
                path="/leaked/path",
            )
            .load()
            .count()
        )


def test_missing_keyspace_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="keyspace"):
        read(spark, {"format": "cassandra", "sidecar_contact_points": str(tmp_path)})


def test_hostport_contact_points_rejected(spark, tmp_path):
    write(gen_dataset_deterministic(spark, 10, 1), _opts(tmp_path))
    with pytest.raises(Exception, match="host:port|cluster root"):
        (
            spark.read.format(STANDIN_FORMAT)
            .options(
                sidecar_contact_points="localhost:9043",
                keyspace="spark_test",
                table="test",
            )
            .load()
            .count()
        )


def test_abort_cleans_staging(tmp_path):
    from cassandra_analytics_example_spark.sources.standin import (
        StandInWriter,
        _StagedFile,
    )

    from pyspark.sql.types import LongType, StructField, StructType

    tdir = os.path.join(tmp_path, "spark_test", "test")
    os.makedirs(tdir)
    w = StandInWriter(
        {
            "sidecar_contact_points": str(tmp_path),
            "keyspace": "spark_test",
            "table": "test",
        },
        StructType([StructField("id", LongType())]),
        overwrite=False,
    )
    os.makedirs(w._staging)
    staged = os.path.join(w._staging, "part-00000-x.parquet")
    open(staged, "w").close()
    w.abort([_StagedFile(staged=staged, final=os.path.join(tdir, "p.parquet"))])
    assert not os.path.exists(w._staging)
    assert os.listdir(tdir) == []


def test_read_without_pushdown_conf(spark, tmp_path):
    """A session that never enabled spark.sql.python.filterPushdown.enabled
    (the correctness driver's default-config session) must still read through
    the stand-in: reader() hands out the pushdown-free variant instead of
    tripping DATA_SOURCE_PUSHDOWN_DISABLED."""
    from cassandra_analytics_example_spark.sources.standin import _PUSHDOWN_CONF

    write(gen_dataset_deterministic(spark, 300, 4), _opts(tmp_path))
    prev = spark.conf.get(_PUSHDOWN_CONF, "false")
    spark.conf.set(_PUSHDOWN_CONF, "false")
    try:
        df = (
            spark.read.format(STANDIN_FORMAT)
            .options(
                sidecar_contact_points=str(tmp_path),
                keyspace="spark_test",
                table="test",
            )
            .load()
        )
        # filters still correct — applied by Spark post-scan instead
        assert df.filter((F.col("id") >= 100) & (F.col("id") < 200)).count() == 100
        assert df.count() == 300
    finally:
        spark.conf.set(_PUSHDOWN_CONF, prev)


def test_reader_variant_tracks_conf(spark, tmp_path):
    from cassandra_analytics_example_spark.sources.standin import (
        _PUSHDOWN_CONF,
        CassandraStandInDataSource,
        StandInReaderBase,
    )

    write(gen_dataset_deterministic(spark, 10, 1), _opts(tmp_path))
    opts = {k: str(v) for k, v in _opts(tmp_path).items()}
    schema = read(spark, _opts(tmp_path)).schema
    prev = spark.conf.get(_PUSHDOWN_CONF, "false")
    try:
        spark.conf.set(_PUSHDOWN_CONF, "false")
        r = CassandraStandInDataSource(opts).reader(schema)
        assert "pushFilters" not in type(r).__dict__  # base variant: no override
        assert isinstance(r, StandInReaderBase) and not isinstance(r, StandInReader)
        spark.conf.set(_PUSHDOWN_CONF, "true")
        r = CassandraStandInDataSource(opts).reader(schema)
        assert isinstance(r, StandInReader)
    finally:
        spark.conf.set(_PUSHDOWN_CONF, prev)


def test_register_enables_pushdown_only_when_unset(spark):
    """register() turns pushdown on for sessions that never touched the
    conf (the correctness driver's default session), but an EXPLICIT
    session setting — either way — is the owner's choice and must survive
    registration (r4 advice: registering a data source must not flip
    behavior for every other Python data source in the session)."""
    from cassandra_analytics_example_spark.sources.standin import (
        _PUSHDOWN_CONF,
        register,
    )

    prev = spark.conf.get(_PUSHDOWN_CONF, None)
    try:
        spark.conf.set(_PUSHDOWN_CONF, "false")
        register(spark)
        assert spark.conf.get(_PUSHDOWN_CONF) == "false", (
            "register() overrode an explicit session conf"
        )
        spark.conf.unset(_PUSHDOWN_CONF)
        register(spark)
        assert spark.conf.get(_PUSHDOWN_CONF) == "true", (
            "register() left an untouched session without pushdown"
        )
    finally:
        if prev is None:
            spark.conf.unset(_PUSHDOWN_CONF)
        else:
            spark.conf.set(_PUSHDOWN_CONF, prev)


def test_cassandra_roundtrip_query_under_default_conf_session(spark):
    """Regression for the r3 driver ERR: drive the registered query exactly
    as the harness does, from a session where the pushdown conf is at its
    default (disabled). register() flips the runtime conf; the conf-adaptive
    reader covers sessions where even that is impossible."""
    from cassandra_analytics_example_spark.queries.reference import (
        ref_cassandra_branch_roundtrip,
    )
    from cassandra_analytics_example_spark.sources.standin import _PUSHDOWN_CONF

    prev = spark.conf.get(_PUSHDOWN_CONF, "false")
    spark.conf.set(_PUSHDOWN_CONF, "false")
    try:
        out = ref_cassandra_branch_roundtrip(spark, "/root/testdata/sf0.001").collect()
        assert len(out) > 0
    finally:
        spark.conf.set(_PUSHDOWN_CONF, prev)


def test_empty_partition_write(spark, tmp_path):
    """splits > distinct keys leaves empty partitions — the write must not
    fail (r3 advice: from_batches with zero batches raises)."""
    df = gen_dataset_deterministic(spark, 3, 1).repartition(8)
    write(df, _opts(tmp_path))
    assert read(spark, _opts(tmp_path)).count() == 3
    tdir = table_dir(_opts(tmp_path))
    assert not glob.glob(os.path.join(tdir, ".staging-*"))


def test_filtered_to_empty_overwrite_keeps_schema(spark, tmp_path):
    write(gen_dataset_deterministic(spark, 100, 2), _opts(tmp_path))
    empty = gen_dataset_deterministic(spark, 100, 2).filter(F.col("id") < 0)
    write(empty, _opts(tmp_path, mode="overwrite"))
    back = read(spark, _opts(tmp_path))
    assert back.count() == 0
    assert set(back.columns) == {"id", "course", "marks"}


def test_overwrite_delists_snapshot_files(spark, tmp_path):
    """Overwrite must not break earlier snapshots (r3 advice): files a
    manifest references are retained, not deleted — the Cassandra-snapshot
    hardlink semantic (App.scala:113-114)."""
    write(gen_dataset_deterministic(spark, 400, 4), _opts(tmp_path))
    assert (
        read(spark, _opts(tmp_path, createSnapshot="true", snapshotName="pre")).count()
        == 400
    )
    write(gen_dataset_deterministic(spark, 55, 2), _opts(tmp_path, mode="overwrite"))
    # live read sees only the overwrite; the snapshot still reads in full
    assert read(spark, _opts(tmp_path)).count() == 55
    assert read(spark, _opts(tmp_path, snapshotName="pre")).count() == 400


def test_snapshot_schema_survives_evolved_append(spark, tmp_path):
    """schema() for a pinned snapshot must come from the snapshot's own file
    set, not the live one (r3 advice)."""
    write(gen_dataset_deterministic(spark, 50, 2), _opts(tmp_path))
    read(spark, _opts(tmp_path, createSnapshot="true", snapshotName="frozen"))
    evolved = gen_dataset_deterministic(spark, 10, 1).withColumn(
        "extra", F.lit("x")
    )
    write(evolved, _opts(tmp_path))
    snap = read(spark, _opts(tmp_path, snapshotName="frozen"))
    assert set(snap.columns) == {"id", "course", "marks"}
    assert snap.count() == 50


def test_copy_table_job_through_cassandra_backend(spark, tmp_path):
    """The reference's flagship job (oneClusterCopyTable, App.scala:123-161)
    executed with BOTH sides on the cassandra backend: generate →
    bulk-append into spark_test.test → snapshot-read → bulk-append into
    spark_test.test2 → count, all through the stand-in DataSource."""
    from cassandra_analytics_example_spark.config import JobConfiguration
    from cassandra_analytics_example_spark.plans.jobs import copy_table

    src = _opts(tmp_path, partition_key="id", splits="4")
    write(gen_dataset_deterministic(spark, 2000, 4), src)
    copied = copy_table(
        spark,
        JobConfiguration(
            read_options=_opts(tmp_path, createSnapshot="true"),
            write_options={**_opts(tmp_path), "table": "test2"},
        ),
    )
    assert copied == 2000
    back = read(spark, {**_opts(tmp_path), "table": "test2"})
    assert back.count() == 2000
    assert back.agg(F.sum("marks")).first()[0] == sum(range(2000))


def test_wide_types_value_roundtrip(spark, tmp_path):
    """Every CQL collection type the converter jar surfaces (SURVEY §1.2:
    list/set → array, map, UDT/tuple → struct, blob) must survive the
    write → snapshot → read path VALUE-exactly, not just in aggregate."""
    from cassandra_analytics_example_spark.datagen import (
        gen_wide_types_deterministic,
    )

    n = 200
    df = gen_wide_types_deterministic(spark, n, 4)
    write(df, _opts(tmp_path, table="wide", partition_key="id", splits="4"))
    back = read(
        spark, _opts(tmp_path, table="wide", createSnapshot="true")
    )

    want = {r["id"]: r for r in df.collect()}
    got = {r["id"]: r for r in back.collect()}
    assert set(got) == set(want)
    for i, w in want.items():
        g = got[i]
        assert bytes(g["course"]) == bytes(w["course"]), i
        assert list(g["tags"]) == list(w["tags"]), i
        assert dict(g["attrs"]) == dict(w["attrs"]), i
        assert (g["addr"]["city"], g["addr"]["zip"]) == (
            w["addr"]["city"],
            w["addr"]["zip"],
        ), i
        assert (g["pair"]["first"], g["pair"]["second"]) == (
            w["pair"]["first"],
            w["pair"]["second"],
        ), i


def test_wide_types_schema_inference(spark, tmp_path):
    """Read-side schema inference (the stand-in's Sidecar-metadata
    analogue) must reproduce the nested Spark types from the parquet
    footers alone."""
    from cassandra_analytics_example_spark.datagen import (
        gen_wide_types_deterministic,
    )

    write(
        gen_wide_types_deterministic(spark, 50, 2),
        _opts(tmp_path, table="wide"),
    )
    back = read(spark, _opts(tmp_path, table="wide"))
    dt = dict(back.dtypes)
    assert dt["tags"] == "array<string>"
    assert dt["attrs"] == "map<string,bigint>"
    assert dt["addr"] == "struct<city:string,zip:bigint>"
    assert dt["pair"] == "struct<first:bigint,second:string>"
    assert dt["course"] == "binary"


def test_wide_types_snapshot_isolation_and_append(spark, tmp_path):
    """The wide table obeys the same snapshot semantics as the 3-column
    one: appends accumulate, a pinned snapshot ignores later appends."""
    from cassandra_analytics_example_spark.datagen import (
        gen_wide_types_deterministic,
    )

    write(
        gen_wide_types_deterministic(spark, 120, 3),
        _opts(tmp_path, table="wide"),
    )
    snap = read(spark, _opts(tmp_path, table="wide", createSnapshot="true"))
    write(
        gen_wide_types_deterministic(spark, 80, 2),
        _opts(tmp_path, table="wide"),
    )
    assert snap.count() == 120
    assert read(spark, _opts(tmp_path, table="wide")).count() == 200


def test_token_range_scan_prunes_splits_and_preserves_results(spark, tmp_path):
    """Token-bucketed writes lay rows out token-contiguously; a token_range
    read must (a) plan strictly fewer input splits than the full scan and
    (b) lose no qualifying row — pruning is split-level, the exact md5_u60
    predicate on top makes it result-neutral."""
    from cassandra_analytics_example_spark.functions.text import md5_u60
    from cassandra_analytics_example_spark.sources.standin import TOKEN_SPACE

    opts = _opts(tmp_path, table="test_tokens")
    write(
        gen_dataset_deterministic(spark, 2000, 4),
        {
            **opts,
            "partition_key": "id",
            "splits": "4",
            "token_buckets": "16",
            "token_column": "id",
        },
    )
    quarter = TOKEN_SPACE // 4
    full = read(spark, opts)
    pruned = read(spark, {**opts, "token_range": f"0,{quarter}"})
    assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions()
    tok = md5_u60(F.col("id").cast("string"))
    want = sorted(r.id for r in full.where(tok < quarter).collect())
    got = sorted(r.id for r in pruned.where(tok < quarter).collect())
    assert got == want
    assert 0 < len(got) < 2000


def test_token_bucket_files_are_token_disjoint(spark, tmp_path):
    """Every bucket file's rows must lie inside the bucket's token bounds —
    the token-contiguous-SSTable invariant that makes pruning sound."""
    from cassandra_analytics_example_spark.sources.standin import (
        TOKEN_SPACE,
        _bucket_bounds,
        _token60,
    )

    opts = _opts(tmp_path, table="test_tokens2")
    write(
        gen_dataset_deterministic(spark, 500, 2),
        {
            **opts,
            "partition_key": "id",
            "splits": "2",
            "token_buckets": "8",
            "token_column": "id",
        },
    )
    tdir = table_dir({k: v for k, v in opts.items() if k != "format"})
    files = glob.glob(os.path.join(tdir, "bucket=*.parquet"))
    assert files
    for f in files:
        b = int(os.path.basename(f)[len("bucket="):].split("-", 1)[0])
        lo, hi = _bucket_bounds(b, 8)
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        assert all(lo <= _token60(i) < hi for i in ids), f
