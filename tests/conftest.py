from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from cassandra_analytics_example_spark.session import get_spark

# The session's 16g default heap is sized for sf0.1 bench timing. Storage
# memory is ~0.6 of the heap, so on a host with 16 GB of RAM or less the
# suite's persisted pins can grow the one local-mode JVM until the kernel
# OOM-kills it mid-suite, failing every later test. Test inputs are at most
# sf0.1, and MEMORY_AND_DISK pins spill instead of failing, so a smaller
# heap changes no result. An explicit SPARK_GRAFT_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # SPARK_GRAFT_SHUFFLE varies the shuffle parallelism for
    # partitioning-invariance sweeps: every oracle hash compare must pass
    # at ANY setting (the engine's determinism contract) — the default 8
    # already differs from the driver/bench parallelism (cpu count).
    # per-run warehouse: a killed prior suite can leave managed-table
    # directories (spark-warehouse/t_bucket_*) that a fresh session's
    # catalog doesn't know, failing saveAsTable with
    # LOCATION_ALREADY_EXISTS — isolate instead of inheriting, and clean
    # up on teardown so repeated runs don't litter the shared host
    warehouse = tempfile.mkdtemp(prefix="spark-warehouse-")
    spark = get_spark(
        app_name="tests",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8")),
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark
    shutil.rmtree(warehouse, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
