#!/usr/bin/env python3
"""Dump .explain("formatted") for named queries to <out_dir>/<q>_<tag>.txt.

Usage: python tools/dump_plans.py plans/r15 before q21_minhash_lsh_neardup [...]
       python tools/dump_plans.py plans/r15 after q21_minhash_lsh_neardup [...]

Plan-only: the queries are built under ``checkpoints.lazy_pins()`` so
building the quantile/rank-spine frames runs no fill job — nothing runs
beyond parquet schema reads. The fixture directory is
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from cassandra_analytics_example_spark.operators import checkpoints
from cassandra_analytics_example_spark.queries import load_all
from cassandra_analytics_example_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, tag, names = Path(sys.argv[1]), sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir.mkdir(parents=True, exist_ok=True)
    registry = load_all()
    spark = get_spark(app_name="dump-plans")
    with checkpoints.lazy_pins():
        for name in names:
            df = registry[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = out_dir / f"{name}_{tag}.txt"
            path.write_text(plan)
            print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
