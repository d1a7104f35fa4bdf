"""Registry-wide physical-plan lint — the anti-pattern gate that runs on
EVERY registered query, so a banned plan shape can never land silently.

History: the buffered-exact-quantile anti-pattern (an exact
``percentile``/``median``/``mode`` aggregate holds every value of a group
in ONE aggregation buffer — correct at sf0.1, OOM at 100x with
low-cardinality group keys) was fixed for q113 in round 5, but the same
pattern survived in three OLDER queries (q40/q99/q127) for four rounds
because only per-query gates existed. This lint renders every registered
query's plan and asserts, for all of them at once:

* no exact ``percentile``/``percentile_cont``/``percentile_disc``/
  ``median``/``mode`` aggregate anywhere in the optimized plan —
  ``approx_percentile``/``percentile_approx`` (mergeable sketch) and the
  rank-selection operator (operators/quantiles.py) are the sanctioned
  paths;
* no ``CartesianProduct`` in the executed plan — a range/interval/
  similarity predicate that loses its equi-key degenerates into an
  all-pairs join (``BroadcastNestedLoopJoin`` stays allowed: broadcast
  against a scalar/summary frame is bounded by the broadcast threshold).

Driver materialization is covered separately (q101's LocalTableScan gate
and the no-collect review discipline): a blanket LocalTableScan ban would
false-positive the audit queries that legitimately return a bounded
scalar-aggregate frame (e.g. q99's 4-row contract table).

Runs at sf0.001 to keep the sweep cheap; plan SHAPE is scale-invariant
(AQE may re-plan exchanges at runtime but never introduces a banned
aggregate or a cartesian join that the static plan lacks).
"""

from __future__ import annotations

import re

import pytest

from cassandra_analytics_example_spark.queries import load_all

SF_DIR = "/root/testdata/sf0.001"

REGISTRY = load_all()
ALL_QUERIES = sorted(REGISTRY)

# Exact-quantile aggregates (buffer-per-group). approx_percentile /
# percentile_approx deliberately do NOT match: the optional suffix must be
# immediately followed by "(" so "percentile_approx(" falls through.
_BANNED_QUANTILE = re.compile(
    r"\bpercentile(_cont|_disc)?\s*\(|\bmedian\s*\(|\bmode\s*\("
)


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_banned_plan_shapes(spark, name):
    qd = REGISTRY[name]
    df = qd.fn(spark, SF_DIR)
    qe = df._jdf.queryExecution()
    optimized = qe.optimizedPlan().toString()
    executed = qe.executedPlan().toString()

    m = _BANNED_QUANTILE.search(optimized.lower())
    assert m is None, (
        f"{name}: exact quantile aggregate `{m.group(0).strip()}` in the "
        "optimized plan — buffers a whole group on one executor; use "
        "operators/quantiles.py group_quantiles_exact (exact, "
        "rank-selection) or approx_percentile (sketch) instead"
    )
    assert "CartesianProduct" not in executed, (
        f"{name}: CartesianProduct in the executed plan — an all-pairs "
        "join; restore the equi/blocking key or broadcast the small side"
    )
    # spark_partition_id columns feed (pid, ...)-keyed joins between plan
    # branches in the two-layer prefix/offset operators. The pid mapping
    # is only consistent across branches if the partitioned frame is
    # PINNED (one cached RDD = one sampled range partitioner = one AQE
    # coalesce decision) — an unpinned frame silently loses rows at
    # scale (the q275 sf0.1 row-loss bug, round 7). Pinning surfaces as
    # an InMemoryRelation in the optimized plan.
    if "spark_partition_id" in optimized and "InMemoryRelation" not in optimized:
        pytest.fail(
            f"{name}: spark_partition_id without a pinning persist — "
            "wrap the repartitionByRange frame in "
            "operators/checkpoints.py:pin_partition_ids"
        )


# --------------------------------------------------------------------------
# Driver-materialization axis (VERDICT r6 task 7): every row-materializing
# driver read in the package must be on the pinned allowlist below, each
# with a documented bound. ``.first()`` is auto-allowed — it reads at most
# ONE row by definition (the scalar-class read the bar permits).
# ``.count()`` / ``.isEmpty()`` are scalar actions, not row reads. A new
# ``.collect()`` / ``.toPandas()`` / ``.take()`` / ``.head()`` /
# ``.toLocalIterator()`` anywhere else fails this lint until it is either
# redesigned distributed or added HERE with its bound written down.

_DRIVER_READ = re.compile(
    r"\.(collect|toPandas|take|head|toLocalIterator)\s*\("
)

#: (file relative to the package, exact stripped source line) → bound note.
_DRIVER_READ_ALLOWLIST = {
    (
        "queries/events/cohorts.py",
        'ordered = means.orderBy("mean_microcents").collect()',
    ): "bootstrap means table ≤ B=32 rows (one row per resample index)",
    (
        "operators/membership.py",
        'keep = sorted(r["file"] for r in survivors.collect())',
    ): "keep-list capped by max_pruned_files with full-scan fallback (r6)",
}


def test_driver_materializations_are_enumerated():
    import pathlib

    pkg = pathlib.Path("cassandra_analytics_example_spark")
    found: dict[tuple[str, str], int] = {}
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        for lineno, line in enumerate(
            path.read_text().splitlines(), start=1
        ):
            m = _DRIVER_READ.search(line)
            if m is None:
                continue
            hash_pos = line.find("#")
            if 0 <= hash_pos < m.start():  # comment, not code
                continue
            found[(rel, line.strip())] = lineno
    extra = {k: v for k, v in found.items() if k not in _DRIVER_READ_ALLOWLIST}
    assert not extra, (
        "unreviewed driver materialization(s) — redesign distributed or "
        f"add to the allowlist with a documented bound: {extra}"
    )
    stale = set(_DRIVER_READ_ALLOWLIST) - set(found)
    assert not stale, f"allowlist entries no longer in the source: {stale}"


_RAW_PERSIST = re.compile(r"\.persist\(|\.cache\(\)")


def test_library_persists_go_through_the_pin_registry():
    """Every cache an operator or source creates must be registered
    (``session.pin_small`` or ``checkpoints.pin_partition_ids``), or
    ``pin_scope``/``release_pins`` silently miss it and a long-lived
    session keeps the entry until ``clearCache``. Only
    ``operators/checkpoints.py``, which owns the registry, persists
    directly."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "cassandra_analytics_example_spark"
    )
    found = []
    scanned = 0
    for sub in ("operators", "sources"):
        for path in sorted((pkg / sub).rglob("*.py")):
            if path.name == "checkpoints.py":
                continue
            scanned += 1
            for lineno, line in enumerate(
                path.read_text().splitlines(), start=1
            ):
                m = _RAW_PERSIST.search(line)
                hash_pos = line.find("#")
                if m and not 0 <= hash_pos < m.start():
                    found.append(f"{sub}/{path.name}:{lineno}")
    assert scanned > 20, f"scanned only {scanned} modules under {pkg}"
    assert not found, (
        "raw persist/cache outside the pin registry — use "
        f"session.pin_small: {found}"
    )


_RAW_CUT = re.compile(r"\.localCheckpoint\(|\.checkpoint\(|setCheckpointDir")


def test_lineage_cuts_go_through_truncate_plan():
    """Every lineage cut in the package must go through
    ``checkpoints.truncate_plan``, the one place that picks a local or a
    reliable cut from the session's checkpoint directory; a raw
    ``localCheckpoint`` ignores a cluster's reliable setting, and a
    ``setCheckpointDir`` call changes it for the whole session."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "cassandra_analytics_example_spark"
    )
    found = []
    scanned = 0
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg).as_posix() == "operators/checkpoints.py":
            continue
        scanned += 1
        for lineno, line in enumerate(path.read_text().splitlines(), start=1):
            m = _RAW_CUT.search(line)
            hash_pos = line.find("#")
            if m and not 0 <= hash_pos < m.start():
                found.append(f"{path.relative_to(pkg)}:{lineno}")
    assert scanned > 40, f"scanned only {scanned} modules under {pkg}"
    assert not found, (
        "raw lineage cut outside operators/checkpoints.py — use "
        f"truncate_plan: {found}"
    )


def _package_modules():
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "cassandra_analytics_example_spark"
    )
    return [(p.relative_to(pkg).as_posix(), p) for p in sorted(pkg.rglob("*.py"))]


def _sf_dir_parquet_reads(source: str) -> list[int]:
    """Lines of ``<x>.read.parquet(...)`` calls whose argument is a path
    built from ``sf_dir`` (a name, f-string, ``+`` or ``*.join`` over it),
    directly or through a name assigned such a path earlier in the same
    function. A path returned by some other call (a temp copy) is not."""
    import ast

    def is_path(node, names):
        if isinstance(node, ast.Name):
            return node.id in names
        if isinstance(node, ast.Call):
            return (
                isinstance(node.func, ast.Attribute)
                and node.func.attr == "join"
                and any(is_path(a, names) for a in node.args)
            )
        if isinstance(node, (ast.JoinedStr, ast.FormattedValue, ast.BinOp)):
            return any(is_path(c, names) for c in ast.iter_child_nodes(node))
        return False

    hits = []
    for fn in ast.walk(ast.parse(source)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        names = {"sf_dir"}
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign) and is_path(node.value, names):
                names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "read"
                and any(is_path(a, names) for a in node.args)
            ):
                hits.append(node.lineno)
    return sorted(set(hits))


def test_fixture_tables_read_through_the_table_catalog():
    """Every read of a fixture table (a path under ``sf_dir``) goes
    through ``queries/_tables.py``, which keeps each table's inferred
    schema: a raw ``spark.read.parquet`` there runs a footer-inference
    job on every build."""
    found = []
    modules = _package_modules()
    for rel, path in modules:
        if rel == "queries/_tables.py":
            continue
        found += [f"{rel}:{n}" for n in _sf_dir_parquet_reads(path.read_text())]
    assert len(modules) > 40, f"scanned only {len(modules)} modules"
    assert not found, (
        "raw parquet read of a fixture table — use "
        f"queries/_tables.py table()/schema(): {found}"
    )


def test_sf_dir_read_lint_sees_derived_paths():
    src = (
        "def f(spark, sf_dir):\n"
        "    path = os.path.join(sf_dir, 'documents.parquet')\n"
        "    probe = spark.read.parquet(path).schema\n"
        "    root = copy_to_temp(spark, sf_dir)\n"
        "    ok = spark.read.parquet(root)\n"
        "    ok = spark.read.parquet(f'{root}_dim')\n"
        "    return spark.read.parquet(f'{sf_dir}/x.parquet')\n"
    )
    assert _sf_dir_parquet_reads(src) == [3, 7]


_RAW_MKDTEMP = re.compile(r"tempfile\.mkdtemp\(")


def test_temp_dirs_come_from_session_temp_root():
    """Every temp directory the package makes comes from
    ``session.temp_root``, under the context's file root that Spark
    deletes on stop; a bare ``tempfile.mkdtemp`` is never removed."""
    found = []
    modules = _package_modules()
    for rel, path in modules:
        if rel == "session.py":
            continue
        for lineno, line in enumerate(path.read_text().splitlines(), start=1):
            m = _RAW_MKDTEMP.search(line)
            hash_pos = line.find("#")
            if m and not 0 <= hash_pos < m.start():
                found.append(f"{rel}:{lineno}")
    assert len(modules) > 40, f"scanned only {len(modules)} modules"
    assert not found, (
        f"bare tempfile.mkdtemp outside session.temp_root: {found}"
    )


_RAW_FS_DATA = re.compile(r"\.listFiles\(|FileUtil")


def test_file_inventories_and_copies_go_through_plans_fs():
    """File inventories and file copies have one home, ``plans/fs.py``:
    its ``listStatus`` walk (``listFiles`` builds a ``LocatedFileStatus``
    per file, and on a local filesystem without native-hadoop each one
    forks a shell command to read the file's permission) and its
    ``import_files``."""
    found = []
    modules = _package_modules()
    for rel, path in modules:
        if rel == "plans/fs.py":
            continue
        for lineno, line in enumerate(path.read_text().splitlines(), start=1):
            m = _RAW_FS_DATA.search(line)
            hash_pos = line.find("#")
            if m and not 0 <= hash_pos < m.start():
                found.append(f"{rel}:{lineno}")
    assert len(modules) > 40, f"scanned only {len(modules)} modules"
    assert not found, (
        "raw listFiles/FileUtil outside plans/fs.py — use "
        f"fs.list_data_files / fs.data_file_sizes / fs.import_files: {found}"
    )


#: the only callers of ``checkpoints.pin_partition_ids``: the one prefix
#: operator, and two operators whose windows cover only some of the cells
#: (the candidate cells of a weighted quantile; a prefix max, not a sum)
_PIN_PID_CALLERS = {
    ("operators/ranking.py", "grouped_prefix_sums"),
    ("operators/quantiles.py", "weighted_quantile_exact"),
    ("operators/frontier.py", "pareto_frontier_2d"),
}


def test_range_prefix_cells_have_one_operator():
    """Range-partitioned prefix cells (a ``spark_partition_id`` frame
    pinned by ``pin_partition_ids``) are built in one place: a global or
    per-group running sum is ``ranking.grouped_prefix_sums`` (with
    ``group_cols=[]`` for a global order), never another copy of the
    cell layer."""
    import ast

    calls = []
    modules = _package_modules()
    for rel, path in modules:
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None
                )
                if name == "pin_partition_ids":
                    calls.append((rel, fn.name))
    assert len(modules) > 40, f"scanned only {len(modules)} modules"
    # a nested def would be seen twice (once per enclosing def): compare
    # as sets, and check that each allowed caller calls it exactly once
    assert set(calls) == _PIN_PID_CALLERS, sorted(set(calls))
    assert len(calls) == len(_PIN_PID_CALLERS), sorted(calls)
