"""DuckDB oracle gate: compare a query's Spark result with its ``oracle_sql``
twin over the same parquet files, exactly as ``tests/test_oracle_parity.py``
does — same column names, same Arrow type families, same row multiset
after the same canonicalisation, no float tolerance."""

from __future__ import annotations

import math
import os

import duckdb


def connect(fixture_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in tables:
        path = os.path.join(fixture_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(v):
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else float(v)
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return v


def _rows(rows):
    return sorted(
        (tuple(_canon(v) for v in row) for row in rows),
        key=lambda r: tuple(str(x) for x in r),
    )


def _type_kind(t: str) -> str:
    t = t.lower()
    families = (
        (("int", "uint", "bigint", "smallint", "tinyint", "long", "short", "byte"), "int"),
        (("float", "double", "halffloat"), "float"),
        (("decimal", "hugeint", "int128"), "decimal"),
        (("string", "large_string", "varchar", "utf8"), "string"),
        (("bool",), "bool"),
        (("timestamp",), "timestamp"),
        (("date",), "date"),
        (("binary", "large_binary", "blob"), "binary"),
        (("list", "array"), "array"),
    )
    for prefixes, kind in families:
        if t.startswith(prefixes):
            return kind
    return t


def mismatch(sdf, con: duckdb.DuckDBPyConnection, oracle_sql: str) -> str | None:
    """Collect ``sdf`` and run ``oracle_sql``; return None when they agree,
    else a one-line description of the first difference."""
    scols = sorted(sdf.columns)
    stypes = dict(sdf.dtypes)
    spark_rows = [tuple(row[c] for c in scols) for row in sdf.collect()]

    atable = con.execute(oracle_sql).fetch_arrow_table()
    dtypes = {f.name: str(f.type) for f in atable.schema}
    dcols = sorted(atable.column_names)
    if scols != dcols:
        return f"columns {scols} vs {dcols}"
    bad_types = {
        c: (stypes[c], dtypes[c])
        for c in scols
        if _type_kind(stypes[c]) != _type_kind(dtypes[c])
    }
    if bad_types:
        return f"type families {bad_types}"
    pylists = [atable.column(c).to_pylist() for c in dcols]
    duck_rows = list(zip(*pylists)) if pylists else []
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"
    for a, b in zip(_rows(spark_rows), _rows(duck_rows)):
        if a != b:
            return f"first differing row {a} vs {b}"
    return None
