"""Cassandra stand-in: a Spark 4 Python DataSource that executes the
engine's ``cassandra`` source/sink branch end-to-end when the real
Spark-Cassandra connector jar is absent.

The reference binds its reader/writer to the Cassandra bulk DataSource by
class name (``SparkUtils.scala:56-65``) and addresses tables purely through
an option map (``keyspace``/``table``/``sidecar_contact_points``/
``snapshotName``/``createSnapshot``/``data_transport`` — ``App.scala:40-46,
107-115, 151-160``). This module re-creates that *contract* on top of
``pyspark.sql.datasource``:

* tables live under ``<cluster root>/<keyspace>/<table>/`` as immutable
  parquet part-files — ``sidecar_contact_points`` names the cluster root
  directory (the stand-in's analogue of "which cluster do I talk to");
* reads are snapshot-isolated: ``createSnapshot=true`` freezes the current
  file set under a manifest (``snapshots/<name>.json``) exactly like a
  Cassandra server-side snapshot hardlinks SSTables; ``snapshotName`` reads
  a frozen set, ignoring later appends;
* writes are append-mode, two-phase, all-or-nothing: every task stages its
  parquet file under ``.staging-<job uuid>/``; the driver-side ``commit``
  moves the full staged set into the table atomically-per-file and only
  after *all* tasks reported success — the same stage→import discipline as
  the reference's S3_COMPAT transport (``App.scala:208-235``); ``abort``
  removes the staging directory, leaving the table untouched;
* the reader supports filter pushdown (``pushFilters``) for comparison
  predicates on integer, string, boolean and date columns, mirroring the
  connector's partition-key pushdown surface, and yields Arrow record
  batches (never per-row Python);
* registry CONTROL keys (``path``/``splits``/``rows``…) are *rejected* if
  they reach the DataSource — asserting the ``cassandra_options``
  translation actually stripped them (sources/options.py:73-90).

Scale note: this stand-in is a CONTRACT implementation — the point is that
``get_reader``/``get_writer``/``read``/``write`` exercise the cassandra
branch for real (options, snapshot semantics, two-phase commit, write
discipline). On a production cluster the JVM connector takes this branch
instead; the registry auto-detects it on the classpath and prefers it.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

STANDIN_FORMAT = "cassandra_standin"

#: registry control keys that must NEVER reach the DataSource — their
#: presence means the cassandra_options() translation was bypassed.
_FORBIDDEN_KEYS = ("path", "splits", "rows", "partition_key", "staging_dir")

_SNAPDIR = "snapshots"

#: overwrite "delists" rather than deletes files still referenced by a
#: snapshot manifest — they move here, the analogue of Cassandra snapshots
#: hardlinking SSTables so they survive truncate/compaction.
_RETAINED = ".retained"

_PUSHDOWN_CONF = "spark.sql.python.filterPushdown.enabled"

#: the session's pushdown conf, resolved on the driver by the registry
#: (``registry.get_reader``): Spark calls ``reader()`` in a planner worker,
#: where there is no session to ask.
PUSHDOWN_OPTION = "standin_filter_pushdown"

#: portable token space: md5_u60 tokens (first 15 hex chars of md5 of the
#: partition key's string form) lie in [0, 2^60) — the stand-in analogue of
#: Cassandra's Murmur3 token ring, chosen md5-based so oracles/queries can
#: recompute the SAME token in any engine (functions/text.py:md5_u60).
TOKEN_SPACE = 1 << 60

_LAYOUT = "_layout.json"


def _token60(value) -> int:
    """Row token: md5_u60 of the value's string form (int→str matches
    Spark's bigint→string cast, so Spark-side md5_u60 agrees row-for-row)."""
    import hashlib

    return int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16)


def _bucket_bounds(b: int, n: int) -> tuple[int, int]:
    """Token interval [lo, hi) owned by bucket ``b`` of ``n`` equal-width
    buckets (last bucket absorbs the remainder)."""
    width = TOKEN_SPACE // n
    lo = b * width
    hi = TOKEN_SPACE if b == n - 1 else (b + 1) * width
    return lo, hi


def table_dir(options) -> str:
    """Resolve ``<cluster root>/<keyspace>/<table>`` from the option map.

    ``sidecar_contact_points`` must be a directory path in the stand-in;
    a ``host:port`` value means the caller expected the real connector."""
    root = options.get("sidecar_contact_points")
    ks, tbl = options.get("keyspace"), options.get("table")
    if not root or not ks or not tbl:
        raise ValueError(
            "cassandra stand-in requires sidecar_contact_points (cluster "
            f"root dir), keyspace and table; got {sorted(options)}"
        )
    for k in _FORBIDDEN_KEYS:
        if k in options:
            raise ValueError(
                f"registry control key {k!r} leaked into cassandra options "
                "— cassandra_options() translation was bypassed"
            )
    if ":" in os.path.basename(root):
        raise ValueError(
            f"sidecar_contact_points={root!r} looks like host:port — the "
            "Python stand-in needs a cluster root directory (the real "
            "connector jar is not on the classpath)"
        )
    return os.path.join(root, ks, tbl)


def _data_files(tdir: str) -> list[str]:
    if not os.path.isdir(tdir):
        return []
    return sorted(
        os.path.join(tdir, f)
        for f in os.listdir(tdir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _read_layout(tdir: str) -> dict:
    p = os.path.join(tdir, _LAYOUT)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _write_layout(tdir: str, layout: dict) -> None:
    os.makedirs(tdir, exist_ok=True)
    with open(os.path.join(tdir, _LAYOUT), "w") as f:
        json.dump(layout, f)


def _manifest_path(tdir: str, name: str) -> str:
    return os.path.join(tdir, _SNAPDIR, f"{name}.json")


def create_snapshot(tdir: str, name: str | None = None) -> str:
    """Freeze the current data-file set under ``name`` (default random UUID,
    like the reference's ``UUID.randomUUID`` snapshot names,
    ``App.scala:113``)."""
    name = name or str(uuid.uuid4())
    files = _data_files(tdir)
    os.makedirs(os.path.join(tdir, _SNAPDIR), exist_ok=True)
    with open(_manifest_path(tdir, name), "w") as fh:
        json.dump({"name": name, "files": [os.path.basename(f) for f in files]}, fh)
    return name


def snapshot_files(tdir: str, name: str) -> list[str]:
    """Resolve a manifest's basenames to paths. A file overwritten since the
    snapshot lives on under ``.retained/`` (delisted, never deleted) — the
    manifest stays readable exactly like a Cassandra snapshot's hardlinked
    SSTables survive truncate/compaction (``App.scala:113-114``)."""
    with open(_manifest_path(tdir, name)) as fh:
        manifest = json.load(fh)
    out = []
    for base in manifest["files"]:
        live = os.path.join(tdir, base)
        out.append(live if os.path.exists(live) else os.path.join(tdir, _RETAINED, base))
    return out


def _snapshot_referenced(tdir: str) -> set[str]:
    """Basenames referenced by ANY snapshot manifest under ``snapshots/``."""
    snapdir = os.path.join(tdir, _SNAPDIR)
    if not os.path.isdir(snapdir):
        return set()
    refs: set[str] = set()
    for m in os.listdir(snapdir):
        if m.endswith(".json"):
            with open(os.path.join(snapdir, m)) as fh:
                refs.update(json.load(fh)["files"])
    return refs


@dataclass
class _FilePartition(InputPartition):
    path: str


class StandInReaderBase(DataSourceReader):
    """One input partition per immutable parquet file; Arrow-batch output —
    the shape of the connector's token-range splits. This base variant
    declares NO ``pushFilters`` so it stays legal in sessions where
    ``spark.sql.python.filterPushdown.enabled`` is false (Spark 4 hard-errors
    with DATA_SOURCE_PUSHDOWN_DISABLED if a reader overrides ``pushFilters``
    under that conf); Spark applies every filter post-scan instead."""

    def __init__(self, options, schema: StructType, snapshot: str | None) -> None:
        tdir = table_dir(options)
        if snapshot:
            self._files = snapshot_files(tdir, snapshot)
        else:
            self._files = _data_files(tdir)
        # Token-range SPLIT PRUNING (the SURVEY §4.1 "token-range partition
        # pruning" custom piece): ``token_range="lo,hi"`` drops every
        # token-bucketed file whose bucket interval misses [lo, hi) — the
        # stand-in analogue of the connector planning input splits per
        # token range. This prunes SPLITS only (like the reference's
        # ``sizing`` option steers split planning); exact row filtering is
        # the query's own md5_u60 predicate, so pruning can never change
        # results, only skip files. Non-bucketed files are always kept.
        tr = options.get("token_range")
        if tr:
            lo, hi = (int(x) for x in str(tr).split(","))
            layout = _read_layout(tdir)
            n = int(layout.get("token_buckets", 0)) if layout else 0
            if n > 0:
                kept = []
                for p in self._files:
                    base = os.path.basename(p)
                    if base.startswith("bucket="):
                        b = int(base[len("bucket="):].split("-", 1)[0])
                        blo, bhi = _bucket_bounds(b, n)
                        if bhi <= lo or blo >= hi:
                            continue
                    kept.append(p)
                self._files = kept
        self._schema = schema
        self._pushed: list[tuple[str, str, object]] = []
    def partitions(self) -> list[_FilePartition]:
        return [_FilePartition(p) for p in self._files]

    def read(self, partition: _FilePartition):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        expr = None
        for col, op, val in self._pushed:
            f = pc.field(col)
            term = {
                "==": lambda: f == val,
                ">": lambda: f > val,
                ">=": lambda: f >= val,
                "<": lambda: f < val,
                "<=": lambda: f <= val,
                "is_not_null": lambda: f.is_valid(),
            }[op]()
            expr = term if expr is None else expr & term
        cols = self._schema.fieldNames()
        table = pq.read_table(partition.path, columns=cols, filters=expr)
        yield from table.to_batches()


#: column types whose comparisons pyarrow evaluates exactly as Spark does.
#: Floats are not among them: Spark orders NaN above every number and holds
#: NaN = NaN, pyarrow drops NaN from both ``> x`` and ``== NaN``.
_EXACT_TYPES = (
    ByteType,
    ShortType,
    IntegerType,
    LongType,
    StringType,
    BooleanType,
    DateType,
)


class StandInReader(StandInReaderBase):
    """Pushdown-capable variant: exact pushdown of comparison filters into
    the parquet scan (row-group pruning via pyarrow) — the shape of the
    connector's partition-key pushdown. Only handed out when the session has
    ``spark.sql.python.filterPushdown.enabled=true``."""

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Consume the comparison filters we can evaluate EXACTLY inside the
        pyarrow scan; return the rest for Spark to re-apply. (Spark never
        re-checks a consumed filter, so only exact translations are
        consumed: comparisons on ``_EXACT_TYPES`` columns.)"""
        ops = {
            EqualTo: "==",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        types = {f.name: f.dataType for f in self._schema.fields}
        for f in filters:
            op = ops.get(type(f))
            if (
                op is not None
                and len(f.attribute) == 1
                and isinstance(types.get(f.attribute[0]), _EXACT_TYPES)
            ):
                self._pushed.append((f.attribute[0], op, f.value))
            elif isinstance(f, IsNotNull) and len(f.attribute) == 1:
                self._pushed.append((f.attribute[0], "is_not_null", None))
            else:
                yield f


@dataclass
class _StagedFile(WriterCommitMessage):
    staged: str
    final: str


class StandInWriter(DataSourceArrowWriter):
    """Two-phase append: tasks stage parquet files under
    ``.staging-<job>/``; driver-side ``commit`` imports the complete staged
    set; ``abort`` discards it. Mirrors the stage→import lifecycle of the
    reference's S3_COMPAT transport (``App.scala:208-235``) — nothing
    becomes visible unless every task succeeded."""

    def __init__(self, options, schema: StructType, overwrite: bool) -> None:
        self._tdir = table_dir(options)
        self._schema = schema
        self._overwrite = overwrite
        self._job = uuid.uuid4().hex
        self._staging = os.path.join(self._tdir, f".staging-{self._job}")
        # Token-bucketed write discipline: ``token_buckets=N`` +
        # ``token_column=<pk>`` lays each task's rows out as one file per
        # owning token bucket — token-contiguous files, the stand-in
        # analogue of the bulk writer's token-sorted SSTables
        # (SURVEY §3.1 step 3). Readers then prune whole files by
        # ``token_range``.
        tb = options.get("token_buckets")
        self._token_buckets = int(tb) if tb else 0
        self._token_col = options.get("token_column")
        if self._token_buckets and not self._token_col:
            raise ValueError("token_buckets requires token_column")

    def _arrow_schema(self):
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(self._schema)

    def write(self, iterator) -> _StagedFile:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        batches = list(iterator)
        if not batches:
            # empty input partition (filtered input, splits > distinct keys):
            # stage nothing — commit() treats an empty-string message as a
            # task that had no rows.
            return _StagedFile(staged="", final="")
        pid = TaskContext.get().partitionId()
        os.makedirs(self._staging, exist_ok=True)
        table = pa.Table.from_batches(batches, schema=batches[0].schema)
        if self._token_buckets:
            # One staged file per owning token bucket. Tokens are computed
            # per row in this (already-Python) writer; width is TOKEN_SPACE
            # div N so _bucket_bounds on the read side agrees exactly.
            import numpy as np

            keys = table.column(self._token_col).to_pylist()
            width = TOKEN_SPACE // self._token_buckets
            buckets = np.minimum(
                np.array([_token60(k) // width for k in keys]),
                self._token_buckets - 1,
            )
            staged_l, final_l = [], []
            for b in sorted(set(buckets.tolist())):
                part = table.filter(pa.array(buckets == b))
                fname = f"bucket={b:05d}-part-{pid:05d}-{self._job}.parquet"
                staged = os.path.join(self._staging, fname)
                pq.write_table(part, staged)
                staged_l.append(staged)
                final_l.append(os.path.join(self._tdir, fname))
            return _StagedFile(
                staged="\n".join(staged_l), final="\n".join(final_l)
            )
        fname = f"part-{pid:05d}-{self._job}.parquet"
        staged = os.path.join(self._staging, fname)
        pq.write_table(table, staged)
        return _StagedFile(staged=staged, final=os.path.join(self._tdir, fname))

    def commit(self, messages) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if self._overwrite:
            # Delist, never delete: a file referenced by any snapshot
            # manifest moves to .retained/ so the snapshot stays readable
            # (Cassandra snapshots survive truncate via hardlinks); only
            # unreferenced files are physically removed.
            referenced = _snapshot_referenced(self._tdir)
            for old in _data_files(self._tdir):
                base = os.path.basename(old)
                if base in referenced:
                    rdir = os.path.join(self._tdir, _RETAINED)
                    os.makedirs(rdir, exist_ok=True)
                    os.replace(old, os.path.join(rdir, base))
                else:
                    os.remove(old)
        staged_any = False
        for m in messages:
            if m is not None and m.staged:
                # a token-bucketed task stages several files ("\n"-joined;
                # newlines cannot occur in these generated paths)
                for s, f in zip(m.staged.split("\n"), m.final.split("\n")):
                    os.replace(s, f)
                staged_any = True
        if self._token_buckets:
            _write_layout(
                self._tdir,
                {
                    "token_buckets": self._token_buckets,
                    "token_column": self._token_col,
                },
            )
        if self._overwrite and not staged_any:
            # every task was empty: preserve the table's schema with a
            # zero-row file so a subsequent read sees an empty table, not
            # a missing one.
            os.makedirs(self._tdir, exist_ok=True)
            empty = pa.Table.from_batches([], schema=self._arrow_schema())
            pq.write_table(empty, os.path.join(self._tdir, f"part-empty-{self._job}.parquet"))
        try:
            os.rmdir(self._staging)
        except OSError:
            pass

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.staged:
                for s in m.staged.split("\n"):
                    if s and os.path.exists(s):
                        os.remove(s)
        try:
            os.rmdir(self._staging)
        except OSError:
            pass


class CassandraStandInDataSource(DataSource):
    def __init__(self, options) -> None:
        super().__init__(options)
        self._snapshot: str | None = None
        self._snapshot_resolved = False

    @classmethod
    def name(cls) -> str:
        return STANDIN_FORMAT

    def _resolve_snapshot(self) -> str | None:
        """Pin the snapshot at LOAD time (driver, once): ``createSnapshot``
        freezes the file set immediately — concurrent appends after the
        ``load()`` must be invisible, exactly like the reference's
        server-side snapshot (``App.scala:113-114``)."""
        if not self._snapshot_resolved:
            snap = self.options.get("snapshotname")
            if str(self.options.get("createsnapshot", "")).lower() == "true":
                snap = create_snapshot(table_dir(self.options), snap)
            self._snapshot = snap
            self._snapshot_resolved = True
        return self._snapshot

    def schema(self):
        """Read-side schema inference from the table's parquet footers — the
        stand-in analogue of the connector fetching table metadata from the
        Sidecar (``SparkUtils.scala:94-100``: ``load()`` with no schema)."""
        import pyarrow.parquet as pq

        tdir = table_dir(self.options)
        snap = self._resolve_snapshot()
        # A pinned snapshot's schema comes from its OWN frozen file set —
        # post-snapshot appends may have evolved the live schema, and live
        # files may no longer include the snapshot's.
        files = snapshot_files(tdir, snap) if snap else _data_files(tdir)
        if not files:
            raise ValueError(
                f"cassandra stand-in: no data files for "
                f"{self.options.get('keyspace')}.{self.options.get('table')}"
                + (f" snapshot {snap!r}" if snap else "")
            )
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(pq.read_schema(files[0]))

    def reader(self, schema: StructType) -> StandInReaderBase:
        """Conf-adaptive: hand out the pushdown reader only when the session
        allows Python-DataSource pushdown — in any other session (e.g. a
        harness-built default session) fall back to the pushdown-free reader
        rather than tripping Spark 4's DATA_SOURCE_PUSHDOWN_DISABLED error.

        Spark calls this in a planner worker, which has no session: the
        registry resolves the conf on the driver into ``PUSHDOWN_OPTION``.
        Without that option (a direct ``spark.read.format`` load) the active
        session, if any, decides."""
        opt = self.options.get(PUSHDOWN_OPTION)
        if opt is not None:
            enabled = opt == "true"
        else:
            from pyspark.sql import SparkSession

            session = SparkSession.getActiveSession()
            enabled = session is not None and pushdown_enabled(session)
        cls = StandInReader if enabled else StandInReaderBase
        return cls(self.options, schema, self._resolve_snapshot())

    def writer(self, schema: StructType, overwrite: bool) -> StandInWriter:
        return StandInWriter(self.options, schema, overwrite)


def pushdown_enabled(spark) -> bool:
    """Whether ``spark`` allows Python-DataSource filter pushdown."""
    return str(spark.conf.get(_PUSHDOWN_CONF, "false")).lower() == "true"


def register(spark) -> str:
    """Register the stand-in DataSource with the session (idempotent) and
    return its format name.

    Also enables ``spark.sql.python.filterPushdown.enabled`` (a runtime SQL
    conf) so sessions not built by the engine's own factory — e.g. the
    correctness driver's default-config session — still get the pushdown
    reader. Only when the session has NOT set it already: an explicit
    choice (either way) belongs to the session owner, and registering a
    data source must not flip pushdown behavior for every other Python
    data source behind their back; ``reader()`` adapts if it is off."""
    spark.dataSource.register(CassandraStandInDataSource)
    try:
        explicitly_set = spark.conf.get(_PUSHDOWN_CONF, None) is not None
    except Exception:
        explicitly_set = True  # unreadable conf: leave it alone
    if not explicitly_set:
        try:
            spark.conf.set(_PUSHDOWN_CONF, "true")
        except Exception:
            # conf locked down (shouldn't happen for a runtime conf) — the
            # conf-adaptive reader() keeps the branch working without
            # pushdown.
            pass
    return STANDIN_FORMAT
