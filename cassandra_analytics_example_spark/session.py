"""SparkSession factory.

Counterpart of the reference's Spark bootstrap (``SparkUtils.scala:20-32``:
``initialize()`` building a SparkConf with ``BulkSparkConf.setupSparkConf`` +
Kryo registration). In PySpark the equivalent is a tuned ``SparkSession``
builder; Kryo is irrelevant (Arrow + Tungsten), and the bulk-connector conf is
applied only when the Cassandra connector is actually on the classpath.

Scale notes: AQE is always on (runtime coalescing, skew-join splitting),
shuffle partitions default to the local core count (the 200 default is wrong
in both directions), session timezone is pinned to UTC so results are
comparable across engines and clusters.
"""

from __future__ import annotations

import os
import tempfile

from pyspark import SparkFiles
from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "cassandra-analytics-example-spark"

# The directory holding the package, and the conf that hands it to Python
# workers (UDFs, mapInArrow, the cassandra stand-in all import it there).
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when launched
    standalone; under a real cluster manager pass ``master=None`` with
    ``spark.master`` preset in the environment.
    """
    cpus = _cpus()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = {
        # AQE: runtime partition coalescing, skew-join handling, join re-plan.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Shuffle width ~ cores locally; on a 1000-executor cluster this is
        # overridden to ~2-3x total cores (or left to AQE coalescing from a
        # high initial value).
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        # Deterministic cross-engine timestamps (duckdb is UTC-naive).
        "spark.sql.session.timeZone": "UTC",
        # Arrow for every pandas_udf / toPandas boundary.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Let Python DataSources (the cassandra stand-in) receive pushed
        # filters instead of Spark re-filtering everything post-scan.
        "spark.sql.python.filterPushdown.enabled": "true",
        # Input split sizing: 128 MB keeps ~100TB/128MB ≈ 800k tasks, fine for
        # a large cluster; local test files are far smaller anyway.
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.ui.enabled": "false",
        # Local mode = one JVM: driver memory is the only heap knob.
        # Measured at sf0.1: a 64g heap makes G1 young-gen collections
        # multi-second stalls under the allocation churn of interpreted
        # higher-order-function folds (q57 swung 0.6-13s run-to-run); a
        # 16g heap keeps pauses short and every timing stable, and the
        # array-heavy dedup pipelines still fit comfortably. Overridable
        # via SPARK_GRAFT_DRIVER_MEM for bigger-than-sf0.1 local runs.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    # Workers start in the driver's cwd, so without this a driver launched
    # outside the repository root fails every Python task with
    # ModuleNotFoundError. A caller's own worker PYTHONPATH is kept.
    paths = [p for p in conf.get(_WORKER_PYTHONPATH, "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        conf[_WORKER_PYTHONPATH] = os.pathsep.join(paths + [_PACKAGE_PARENT])
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread(df, min_partitions: int | None = None):
    """Repartition a DataFrame for CPU-bound per-row work (hashing,
    shingling, feature extraction) when — and only when — the data is small
    enough that the shuffle is cheap and the gained parallelism matters.

    Two failure modes this guards:

    - Small parquet inputs arrive as a single split (maxPartitionBytes ≫
      file size), serializing md5/shingle pipelines onto one core.
    - AQE coalesces a small shuffle (e.g. a dedup window over a few MB) down
      to ONE post-shuffle partition, and whole-stage codegen then fuses the
      expensive downstream projection into that single task. An explicit
      ``repartition(n)`` is exempt from AQE coalescing, so inserting it
      re-widens the heavy stage.

    The gate is the optimizer's size estimate (driver-side, no job, no
    RDD materialization): repartition only when estimated bytes <
    target × maxPartitionBytes — i.e. when the scan/shuffle would yield
    fewer than ``target`` full splits anyway. At 100 TB the estimate is
    huge and this is a no-op; the file splits already provide the
    parallelism. Back-to-back calls are idempotent (an existing top-level
    ``Repartition(n ≥ target)`` is detected and left alone)."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        name = plan.getClass().getSimpleName()
        if name in ("Repartition", "RepartitionByExpression"):
            if plan.numPartitions() >= target:
                return df
        max_split = int(
            "".join(
                c
                for c in str(
                    df.sparkSession.conf.get(
                        "spark.sql.files.maxPartitionBytes", "134217728"
                    )
                )
                if c.isdigit()
            )
            or "134217728"
        )
        # py4j hands BigInteger back as a Python int on recent Spark; older
        # bridges return a JVM object — str() covers both.
        size = int(str(plan.stats().sizeInBytes()))
        if size >= target * max_split:
            return df
    except Exception:
        # plan introspection is a perf hint, never a correctness dependency
        if df.rdd.getNumPartitions() >= target:
            return df
    return df.repartition(target)


def passing(value, pred, out_name: str):
    """Emit ``value`` (aliased ``out_name``) only for rows where
    ``pred(value)`` holds, computing ``value`` exactly ONCE per row. Use as
    a generator column in a select::

        df.select("id_a", "id_b", passing(jaccard, lambda j: j >= t, "jaccard"))

    Why not ``.select(value.alias(y)).filter(y ≥ t)``: predicate pushdown
    rewrites that into ``Filter(f(x) ≥ t) → Project[f(x) AS y]`` (or into a
    join's residual condition), inlining the full expression into the
    filter — ``f`` then runs twice per surviving row, and once for every
    REJECTED candidate inside the join itself. For cheap predicates that is
    the right trade (filter early); for array folds (Jaccard intersections,
    cosine dot products, hash+vote fingerprints) it measurably doubles the
    verification stage. Barrier tricks (non-deterministic dummy columns,
    always-true ``rand()`` conjuncts) don't survive Spark 4's optimizer —
    column pruning deletes unused non-deterministic columns and conjunct
    splitting re-isolates the deterministic predicate.

    ``explode(filter(array(value), pred))`` sidesteps the rewrite
    structurally: there is no Filter node to push. The expression is
    evaluated once to build the one-element array, the lambda tests the
    BOUND VALUE, and rejected rows vanish as empty arrays inside the
    Generate node. NULL values are dropped, matching ``Filter(NULL)``
    semantics.
    """
    from pyspark.sql import functions as F

    return F.explode(F.filter(F.array(value), pred)).alias(out_name)


def temp_root(prefix: str) -> str:
    """A fresh directory under the active context's file root, which Spark
    deletes on stop: it lives as long as the session whose frames read it.
    The package makes every temp directory here."""
    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def pin_small(df):
    """Persist a SMALL derived aggregate (stratum counts, vocabulary,
    broadcast rate tables) that feeds multiple downstream branches.

    Diamond-shaped pipelines recompute their shared top per consumer:
    Catalyst prunes each branch differently, the resulting exchanges stop
    being byte-identical, and ReusedExchange never fires — so a corpus-wide
    tokenize/aggregate runs once per branch (observed: 3 full corpus scans
    in the unigram scorer before this). Caching the corpus-sized layer is
    not an option at 100 TB; caching the layer whose size tracks the
    VOCABULARY/stratum count is — memory-and-disk, LRU-evicted, identical
    logical plans share one entry across repeated query invocations.

    Registers in the per-thread pin registry like ``pin_partition_ids``,
    so ``pin_scope``/``release_pins`` cover BOTH pin families — a scoped
    loop over vocabulary-pinned queries drains these too."""
    from pyspark import StorageLevel

    from cassandra_analytics_example_spark.operators.checkpoints import (
        _register_pin,
    )

    return _register_pin(df.persist(StorageLevel.MEMORY_AND_DISK))
