"""Approximate-membership operators: a portable Bloom filter as column
algebra.

Scale story: semi-joining a 100 TB probe side against a large build side
shuffles both; pre-filtering the probe with a FIXED-SIZE bit set turns
that into (probe-local hashing) + a join against at most ``m`` bit rows —
broadcastable no matter how many members built it. Spark's own runtime
bloom filters (AQE ``runtime.bloomFilter``) do exactly this inside the
engine; this operator is the *explicit, engine-portable* variant — bit
positions derive from md5 (the repo's cross-engine hashing discipline,
functions/text.py:md5_u60), so a DuckDB oracle reproduces the filter
bit-for-bit and the false-positive set is deterministic, not just
bounded. Use the built-in runtime filter when you don't need portability;
use this when the filter must be persisted, shipped, or checked.

False positives pass (by design, rate set by m/k/n); false negatives are
impossible — the semi-join after the bloom stays correct, just cheaper.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.functions.text import md5_u60


def _positions(key: Column, m: int, k: int) -> Column:
    """Array of ``k`` md5-derived bit positions in ``[0, m)`` for a key."""
    return F.array(
        *[md5_u60(key.cast("string"), seed=j) % F.lit(m) for j in range(k)]
    )


def bloom_build(
    df: DataFrame, key_col: str, *, m: int = 8192, k: int = 3
) -> DataFrame:
    """Build the bloom bit set of ``key_col``: a single-column DataFrame
    ``bit`` holding the DISTINCT set positions — at most ``m`` rows
    regardless of member count (the fixed-size property that makes the
    filter broadcastable at any build-side scale)."""
    return (
        df.select(F.explode(_positions(F.col(key_col), m, k)).alias("bit"))
        .distinct()
    )


def bloom_probe(
    probe: DataFrame, key_col: str, bits: DataFrame, *, m: int = 8192, k: int = 3
) -> DataFrame:
    """Annotate ``probe`` keys with ``bloom_pass``: true iff ALL ``k`` bit
    positions are set. One explode (k rows/key) + one broadcast join on the
    bit id + a count-per-key aggregate — the probe side is never shuffled
    by the members, only by its own key."""
    pos = probe.select(
        F.col(key_col),
        F.explode(_positions(F.col(key_col), m, k)).alias("bit"),
    )
    hits = (
        pos.join(F.broadcast(bits), "bit")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__nhit"))
    )
    return (
        probe.join(hits, key_col, "left")
        .select(
            probe["*"],
            (F.coalesce(F.col("__nhit"), F.lit(0)) == F.lit(k)).alias(
                "bloom_pass"
            ),
        )
    )


def positions_py(value, m: int, k: int) -> list[int]:
    """Driver-side twin of :func:`_positions` for a SINGLE probe value —
    byte-identical to the column expression (md5 of ``str(seed) +
    str(value)``, first 15 hex chars as int, mod m), so a point lookup
    can compute its bit set without a Spark job."""
    import hashlib

    return [
        int(
            hashlib.md5(f"{j}{value}".encode()).hexdigest()[:15], 16
        ) % m
        for j in range(k)
    ]


def file_bloom_stats(
    spark,
    path: str,
    cols: list[str],
    *,
    m: int = 8192,
    k: int = 3,
    file_format: str = "parquet",
) -> DataFrame:
    """Per-file bloom manifests for ``cols``: one (file, col, bit) row per
    set position — the data-skipping tier min-max statistics cannot
    provide. A point predicate on a column whose values interleave across
    files (uniform ids, hashes) overlaps EVERY file's min-max box; its
    bloom bits miss in every file not actually holding the value. One
    distributed pass grouped by ``input_file_name``; manifest size is
    bounded by files x m bits regardless of row count — the same scale
    class as the min-max manifest (``layout.file_stats``), and what
    Parquet bloom filters / Iceberg bloom metrics persist natively."""
    df = spark.read.format(file_format).load(path)
    parts = []
    for c in cols:
        parts.append(
            df.select(
                F.input_file_name().alias("file"),
                F.lit(c).alias("col"),
                F.explode(_positions(F.col(c), m, k)).alias("bit"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def bloom_pruned_read(
    spark,
    path: str,
    bloom_stats: DataFrame,
    point_predicates: dict[str, object],
    *,
    m: int = 8192,
    k: int = 3,
    file_format: str = "parquet",
    max_pruned_files: int = 100_000,
):
    """Read only the files whose bloom manifests contain ALL bit positions
    of every ``col: value`` point predicate. The probe's positions are
    computed driver-side (``positions_py``, no job); the manifest filter
    runs distributed and only surviving file paths reach the driver
    (same discipline as ``layout.pruned_read``). Returns (DataFrame,
    n_files_selected, n_files_total); false-positive files are possible
    (bloom property) — the row-level filter still applies — but false
    negatives are not, so no qualifying row is ever skipped.

    Driver-memory bound: the survivor path list is only materialized when
    it is at most ``max_pruned_files`` entries (Spark needs concrete
    paths on the driver to plan a multi-path scan — the same bound any
    file catalog has). A larger survivor set means the filter is not
    selective enough for pruning to pay, so the read falls back to the
    full ``path`` scan (correct — pruning is an optimization) with
    ``n_files_selected`` reporting the true survivor count."""
    want: dict[str, list[int]] = {
        c: positions_py(v, m, k) for c, v in point_predicates.items()
    }
    needed = sum(len(set(bits)) for bits in want.values())
    cond = F.lit(False)
    for c, bits in want.items():
        cond = cond | (
            (F.col("col") == c) & F.col("bit").isin(*set(bits))
        )
    survivors = (
        bloom_stats.filter(cond)
        .groupBy("file")
        .agg(F.count_distinct("col", "bit").alias("__nhit"))
        .filter(F.col("__nhit") >= needed)
        .select("file")
    )
    n_selected = survivors.count()
    n_total = bloom_stats.select("file").distinct().count()
    if n_selected == 0:
        df = spark.read.format(file_format).load(path).limit(0)
    elif n_selected > max_pruned_files:
        # Bounded collect only: survivor list too large to ship to the
        # driver — read everything and let the row filter do the work.
        df = spark.read.format(file_format).load(path)
    else:
        keep = sorted(r["file"] for r in survivors.collect())
        df = spark.read.format(file_format).load(keep)
    for c, v in point_predicates.items():
        df = df.filter(F.col(c) == v)
    return df, n_selected, n_total
