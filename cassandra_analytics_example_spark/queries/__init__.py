"""Query registry — the engine's named query surface.

Every implemented operator (SURVEY.md §2 + §7) registers here as a
``QueryDef``: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus, where
SQL-expressible, an ANSI-SQL oracle string DuckDB can run over the same
parquet tables. ``__spark_entry__.py`` re-exports the registry as the driver
contract (``queries()`` / ``oracle_sql()``).

Determinism contract (what makes the oracle hash-match possible):

* money aggregates go through exact DECIMAL (functions/numeric.py);
* hashes are md5-based (functions/text.py), never murmur/xxhash;
* every ranking has a total order (explicit key tie-breaks);
* timestamps surface as integer epoch-µs or ISO strings, never raw
  engine-native timestamps;
* column names are aliased identically on both sides.
"""

from __future__ import annotations

import importlib
import json
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# The submodule import binds the name ``_fingerprint`` on this package; the
# ``_fingerprint`` function defined below rebinds it.
from cassandra_analytics_example_spark.queries._fingerprint import (
    fingerprint,
    one_hop_sources as _one_hop_sources,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QueryDef] = {}

_MODULES = (
    "cassandra_analytics_example_spark.queries.reference",
    "cassandra_analytics_example_spark.queries.relational",
    "cassandra_analytics_example_spark.queries.events",
    "cassandra_analytics_example_spark.queries.llm",
    "cassandra_analytics_example_spark.queries.streaming",
)


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def _fingerprint(qd: QueryDef) -> str:
    """Evidence fingerprint of ``qd`` (formula in ``queries/_fingerprint.py``,
    which ``tools/stamp_evidence.py`` also runs inside historical trees)."""
    return fingerprint(qd.fn, qd.oracle)


def _effective_round(
    qd: QueryDef,
    latest: dict[str, tuple[int, dict]],
    snap: dict | None,
) -> int:
    """Evidence rank for the ordering sort — lowest sorts first.

    -2  never driver-green at all (new registrations: they MUST land in
        the next driver window);
    -1  driver-green, but the fn/oracle CHANGED since that row landed
        (``EVIDENCE_FINGERPRINTS.json``, stamped per round by
        ``tools/stamp_evidence.py``, records the as-checked fingerprint;
        a mismatch voids the evidence — round 8's q23 rewrite shipped
        with an r4 driver row, exactly the staleness this closes);
     N  otherwise, the round of the latest green row (stalest first).

    A query absent from the snapshot but with green evidence keeps its
    round rank: the stamp tool covers every green query each time it
    runs, so absence means the tool hasn't seen that round yet — treat
    the evidence as current rather than re-queueing the whole registry.
    """
    r = _verification_round(qd.name, qd.oracle is not None, latest)
    if r == -1:
        return -2
    if snap is not None and snap.get("fingerprint") != _fingerprint(qd):
        return -1
    return r


def _verification_round(
    name: str, has_oracle: bool, records: dict[str, tuple[int, dict]]
) -> int:
    """Latest round in which ``name`` got a driver-green CORRECTNESS row.

    Green = full three-gate pass (rows + schema + hash), or — for queries that
    declare no oracle (streaming, iterative) — the weaker rows-only check the
    driver records for them.  A rows-only row does NOT count for a query that
    currently declares an oracle (e.g. one upgraded from rows-only to
    oracle-checked): it needs a fresh hash-green row.  Returns -1 for
    never-verified.
    """
    rnd, row = records.get(name, (-1, {}))
    if not row:
        return -1
    if row.get("hash_match"):
        return rnd
    if (
        not has_oracle
        and row.get("err") == "no_oracle"
        and row.get("spark_rows") is not None
    ):
        return rnd
    return -1


def _evidence_order(names: list[str]) -> list[str]:
    """Order query names so the driver's bounded CORRECTNESS sample lands on
    the entries that need evidence most.

    The per-round driver checks roughly the first 50 entries of ``queries()``
    in dict order.  We therefore sort by (evidence rank asc, registration
    order): never-verified queries first, then queries whose fn/oracle
    changed since their last driver row (the row is evidence for OLD code —
    see ``_effective_round``), then the stalest evidence.  Computed from the
    ``CORRECTNESS_r*.json`` artifacts plus the ``EVIDENCE_FINGERPRINTS.json``
    snapshot at the repo root, so it self-maintains: whatever a round leaves
    unverified or rewrites floats to the front of the next round's window.
    """
    root = Path(__file__).resolve().parents[2]
    try:
        snapshot = json.loads(
            (root / "EVIDENCE_FINGERPRINTS.json").read_text()
        )
    except (OSError, json.JSONDecodeError):
        snapshot = {}
    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(path.stem.split("_r")[-1])
            rows = json.loads(path.read_text())
        except (ValueError, OSError, json.JSONDecodeError):
            continue
        for name, row in rows.items():
            # keep the latest round that actually produced a green row so a
            # later red round doesn't mask earlier green evidence
            prev = latest.get(name)
            green = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if green and (prev is None or rnd > prev[0]):
                latest[name] = (rnd, row)
    pos = {n: i for i, n in enumerate(names)}
    return sorted(
        names,
        key=lambda n: (
            _effective_round(REGISTRY[n], latest, snapshot.get(n)),
            pos[n],
        ),
    )


_LOAD_ALL_CACHE: tuple[tuple, tuple[str, ...]] | None = None


def load_all() -> dict[str, QueryDef]:
    """Registry in evidence order (see ``_evidence_order``).

    The ordering is memoized per process: the fingerprint pass reads ~320
    function sources plus their one-hop imports (~3 s), and the driver
    contract calls ``load_all`` three times per run (entry / queries /
    oracle_sql).  The inputs — committed CORRECTNESS/fingerprint
    artifacts and the registered sources — cannot change within a
    process, so the cache is safe.  Keyed on the identity of every
    registered QueryDef in registration order (not just the registry
    SIZE — a same-size replacement, e.g. a test monkeypatching a
    REGISTRY entry, must invalidate too; round-9 ADVICE)."""
    global _LOAD_ALL_CACHE
    for mod in _MODULES:
        importlib.import_module(mod)
    key = tuple(id(qd) for qd in REGISTRY.values())
    if _LOAD_ALL_CACHE is not None and _LOAD_ALL_CACHE[0] == key:
        return {name: REGISTRY[name] for name in _LOAD_ALL_CACHE[1]}
    ordered = _evidence_order(list(REGISTRY))
    _LOAD_ALL_CACHE = (key, tuple(ordered))
    return {name: REGISTRY[name] for name in ordered}
