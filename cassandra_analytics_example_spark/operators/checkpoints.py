"""Lineage cuts and cache pins: the one owner of both.

Iterative DataFrame algorithms (label propagation, Lloyd's iterations) must
truncate their lineage every round or the plan grows unboundedly and
re-optimization cost compounds. Every cut goes through ``truncate_plan``:

* ``localCheckpoint`` — executor-local block storage. Cheap (no FS round
  trip) and the right default on ``local[*]``, but the blocks die with an
  executor: on a real multi-executor cluster a lost executor aborts the job.
* reliable ``checkpoint`` — writes to a fault-tolerant checkpoint directory
  (HDFS/S3 on a cluster). Survives executor loss; costs one write+read of
  the intermediate per cut.

The reliable path runs exactly when the context has a checkpoint directory
(Spark's own ``spark.checkpoint.dir``): a deployment setting, not an
argument. This module never sets one.
"""

from __future__ import annotations

import functools
import inspect
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


_PINS_ATTR = "_cassandra_analytics_pins"


def truncate_plan(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and return a lineage-free DataFrame over the
    materialized data (eager in both modes): a reliable checkpoint when
    the session has a checkpoint directory, a local one otherwise."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release_cut(cut: DataFrame) -> None:
    """Free a cut once the round that superseded it is materialized: a
    local cut's blocks, or a reliable cut's checkpoint files (deleted
    through their Hadoop ``FileSystem``). The frame is unreadable
    afterwards."""
    rdd = cut._jdf.queryExecution().analyzed().rdd()
    rdd.unpersist(False)
    ck = rdd.getCheckpointFile()
    if ck.isDefined():
        sc = cut.sparkSession.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(ck.get())
        path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)


#: Whether ``pin_partition_ids`` fills each pin with an eager ``count()``.
#: Switch it off only through ``lazy_pins()``: the eager fill is the
#: measured r14 fix for consumers parking task slots in RDD block locks
#: (PROBE_R14_EAGER_PID), so execution paths must see it True.
EAGER_PINS = True


@contextmanager
def lazy_pins() -> Iterator[None]:
    """Skip the eager fill in ``pin_partition_ids`` inside the block, for
    plan-only tooling (plan dumps, plan-shape tests): building a
    quantile/rank-spine frame then runs no Spark job.  The pins are still
    persisted.  The previous setting is restored on exit, on success or
    raise, so scopes nest.  Process-wide, not per thread: do not run
    executing queries on other threads meanwhile."""
    global EAGER_PINS
    prev = EAGER_PINS
    EAGER_PINS = False
    try:
        yield
    finally:
        EAGER_PINS = prev


def pin_partition_ids(part: DataFrame) -> DataFrame:
    """Persist a ``repartitionByRange`` frame that carries a
    ``spark_partition_id()`` column consumed by MORE THAN ONE plan branch
    (the two-layer prefix/offset operators: local layer + per-cell offset
    layer joined back on the partition id).

    Without the persist this is a silent row-loss bug at scale: range
    boundaries come from SAMPLING inside each ShuffleExchange instance,
    Catalyst's exchange reuse is best-effort (q275's executed plan at
    sf0.1 showed 8 separate rangepartitioning exchanges, 2 reused), and
    AQE may coalesce each consumer's shuffle read differently — so the
    branches can disagree about which row lives in which partition id,
    and the (pid, ...)-keyed join between them drops whatever disagrees
    (observed live: ks_grouped lost ~0.1% of rows at sf0.1,
    nondeterministically, while sf0.001/sf0.01 single-partition inputs
    sampled identically in every instance and hid it).

    Persisting pins ONE cached RDD — therefore one sampled partitioner
    and one coalesce decision — that every consumer reads; partitions
    recomputed after cache eviction replay the same RDD graph with the
    same partitioner, so the pid mapping stays frozen for the frame's
    lifetime.  MEMORY_AND_DISK so corpus-sized quantile inputs spill
    instead of OOM.

    r14 (PROBE_R14_EAGER_PID.json): the pinned frame is EAGERLY
    materialized (one ``count()``) before this returns. Its 2+ consumer
    stages otherwise launch concurrently under AQE and the losers of
    each block's compute race sit in RDD block locks while HOLDING task
    slots — observed as a 31 s-run / 0.4 s-CPU / zero-shuffle stage in
    q168 (32 of 32 slots parked). Filling the cache first costs one
    extra pass over the already-computed blocks and removed 19-43% of
    wall on the quantile/rank-spine family (q168 2.96→1.69 s,
    q244 1.48→0.93 s, q249/q233 −20%) with single-consumer callers flat
    (q169 ±1%). The count also makes the frozen-pid property manifestly
    order-independent: every consumer reads fully-built blocks.

    Cache lifetime is honest-session-scoped: ``DataFrame.persist``
    registers in Spark SQL's CacheManager, which holds a strong
    reference — entries are NOT garbage-collected with the frame; they
    live until ``unpersist()``/``clearCache()`` or session end.  The
    row-level operators cannot unpersist themselves (they return lazy
    frames whose action happens in the caller), so every pin ALSO
    registers on the session; callers composing many pinned queries in
    one session scope the cache with ``pin_scope`` (unpersist-on-exit)
    or drain it with ``release_pins``.  Terminal operators whose result
    is tiny (one-row metrics: ``roc_auc_exact``,
    ``average_precision_exact``) go further and eager-materialize the
    result + release their pins before returning, so naive loop
    consumers of those cannot leak at all.  Blocks are LRU-evicted to
    disk under memory pressure (never OOM) in the meantime, and
    ``spark.catalog.clearCache()`` remains the blunt whole-session
    drain.
    """
    pinned = _register_pin(part.persist(StorageLevel.MEMORY_AND_DISK))
    if EAGER_PINS:
        pinned.count()
    return pinned


_PINS_LOCK = threading.Lock()

#: prune-on-append is skipped past this many live registrations per thread:
#: each prune probes ``df.storageLevel`` (a py4j round trip + CacheManager
#: plan lookup) per entry, so unbounded per-append pruning is O(K²) across
#: K pins.  Sessions pinning more than this between releases should be
#: using ``pin_scope``/``release_pins`` anyway — that is the discipline.
_PRUNE_ON_APPEND_LIMIT = 64


def _register_pin(pinned: DataFrame) -> DataFrame:
    """Record a persisted frame in the CURRENT THREAD's registry so
    ``pin_scope``/``release_pins`` can drain it.  Shared by
    ``pin_partition_ids`` and ``session.pin_small`` — every library
    persist goes through here, or the residency scoping would silently
    not cover it.

    The fetch+append is atomic under the registry lock: a concurrent
    ``release_pins(all_threads=True)`` pops lists under the same lock, so
    it can never pop THIS thread's list between our fetch and our append
    and strand the pin outside the registry (it either sees the pin and
    drains it, or we append to a freshly re-registered list)."""
    spark = pinned.sparkSession
    _thread_pins(spark)  # first-touch + bounded prune, outside the append lock
    by_thread = _pins_by_thread(spark)
    with _PINS_LOCK:
        by_thread.setdefault(threading.get_ident(), []).append(pinned)
    return pinned


def _pins_by_thread(spark: SparkSession) -> dict[int, list[DataFrame]]:
    with _PINS_LOCK:
        pins = getattr(spark, _PINS_ATTR, None)
        if pins is None:
            pins = {}
            setattr(spark, _PINS_ATTR, pins)
        return pins


def _thread_pins(spark: SparkSession) -> list[DataFrame]:
    """The CURRENT THREAD's pin registry on this session.

    Per-thread so that concurrent builders (the standard Spark
    multi-threaded-driver pattern) never see — and ``pin_scope`` never
    unpersists — each other's in-flight pins; the dict itself is guarded
    by a lock so first-touch from two threads cannot lose a registry.
    Fetches prune entries that were already unpersisted externally
    (``spark.catalog.clearCache()``, a direct ``unpersist()``) while the
    registry is small (``_PRUNE_ON_APPEND_LIMIT``), so sessions that
    clear between jobs don't accumulate dead driver-side references and
    ``release_pins`` counts stay honest."""
    by_thread = _pins_by_thread(spark)
    with _PINS_LOCK:
        pins = by_thread.setdefault(threading.get_ident(), [])
    if len(pins) <= _PRUNE_ON_APPEND_LIMIT:
        pins[:] = [df for df in pins if df.storageLevel != StorageLevel.NONE]
    return pins


def release_pins(spark: SparkSession, *, all_threads: bool = False) -> int:
    """Unpersist every still-persisted registered pin of the CURRENT
    thread (default) and return how many were released.

    Current-thread-only by default because a pin another thread has
    BUILT but not yet EXECUTED must not lose its cache entry: the plan
    would then compile without the shared ``InMemoryRelation`` and the
    pid-keyed join silently drops rows — the exact divergence
    ``pin_partition_ids`` exists to prevent.  (For the current thread
    this cannot happen: you are the one calling.)  ``all_threads=True``
    drains every thread's registry — only for quiescent points where no
    other thread is building or running pinned queries (bench between
    runs, session teardown)."""
    n = 0
    by_thread = _pins_by_thread(spark)
    with _PINS_LOCK:
        if all_threads:
            drain: list[list[DataFrame]] = list(by_thread.values())
            by_thread.clear()
        else:
            drain = [by_thread.pop(threading.get_ident(), [])]
    for pins in drain:
        # iterate a snapshot: another thread's _thread_pins fetch may still
        # hold a popped list and slice-assign its prune mid-iteration; a
        # skipped entry would never be unpersisted (round-9 review).  A
        # double unpersist the other way is harmless (idempotent).
        for df in list(pins):
            if df.storageLevel != StorageLevel.NONE:
                df.unpersist()
                n += 1
    return n


@contextmanager
def pin_scope(spark: SparkSession) -> Iterator[None]:
    """Scope pin residency to a block: pins created inside the ``with``
    BY THIS THREAD are unpersisted on exit (success or raise); pins that
    existed before, and other threads' pins, are left alone.  The
    owner-handle for library consumers composing pinned operators in
    long loops::

        with pin_scope(spark):
            out = grouped_prefix_sums(df, ...).agg(...).first()

    Actions on the frames must happen INSIDE the scope — the exit
    unpersists, after which re-execution loses the pinned layout
    guarantee.  The entry watermark is the SET of frames present (not a
    list index): mid-scope ``clearCache``/``release_pins`` prune or swap
    the underlying list, and an index watermark would then let in-scope
    pins escape the exit.  Scopes nest; threads don't interact.

    ``before`` holds STRONG references (the list snapshot itself), not
    bare ``id()`` values: if a pre-scope pin were pruned from the registry
    and garbage-collected mid-scope, a new in-scope pin could be allocated
    at the recycled id and escape the exit unpersist.  Keeping the
    snapshot alive for the scope's duration makes the id-set sound."""
    before = list(_thread_pins(spark))  # strong refs — see docstring
    before_ids = {id(df) for df in before}
    try:
        yield
    finally:
        pins = _thread_pins(spark)  # re-fetch: list may have been swapped
        for df in pins:
            if id(df) not in before_ids:
                df.unpersist()
        pins[:] = [df for df in pins if id(df) in before_ids]
        del before  # the snapshot's strong refs release only now


def eager_terminal(fn: Callable[..., DataFrame]) -> Callable[..., DataFrame]:
    """EAGER contract of the one-row terminal metrics (``roc_auc_exact``,
    the ``rankstats`` statistics): build the lazy plan inside a
    ``pin_scope``, materialize it lineage-free (``truncate_plan``) and
    release the internal partition pins before returning, so looping
    callers hold ZERO CacheManager entries between calls.

    The wrapper forwards ``*args``/``**kwargs`` against the wrapped fn's
    OWN signature (round-9 ADVICE: a named first parameter here silently
    renamed every metric's first argument to ``df`` and broke keyword
    calls like ``cusum_changepoint_from_counts(d=...)``); the session for
    ``pin_scope`` is taken from the bound first argument, which must be
    the input DataFrame."""
    sig = inspect.signature(fn)
    # The first bound argument must be the DataFrame, or pin_scope/
    # truncate_plan fail far from the call: check it at decoration time
    # (required positional) and at call time (a DataFrame). Raise, not
    # assert, so the checks hold under python -O.
    _first = next(iter(sig.parameters.values()))
    if _first.default is not inspect.Parameter.empty or _first.kind not in (
        inspect.Parameter.POSITIONAL_ONLY,
        inspect.Parameter.POSITIONAL_OR_KEYWORD,
    ):
        raise TypeError(
            f"{fn.__name__}: eager_terminal requires the first parameter "
            f"to be a required positional DataFrame, got {_first}"
        )

    @functools.wraps(fn)
    def wrapper(*args, **kwargs) -> DataFrame:
        bound = sig.bind(*args, **kwargs)
        df = next(iter(bound.arguments.values()))
        if not isinstance(df, DataFrame):
            raise TypeError(
                f"{fn.__name__}: first argument must be the input "
                f"DataFrame (got {type(df).__name__}) - eager_terminal "
                f"takes its SparkSession from it"
            )
        with pin_scope(df.sparkSession):
            return truncate_plan(fn(*args, **kwargs))

    return wrapper
