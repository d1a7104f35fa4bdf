#!/usr/bin/env python3
"""Per-stage profile of named registered queries (guide §1: measure first).

For each query: cache-cold noop-sink run, then the status-store stage
table (executor run time, shuffle read/write bytes, task count) sorted by
executor time — the local-mode stand-in for the Spark UI stage page.

Usage: python tools/profile_query.py q253_rfm_segments [more...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassandra_analytics_example_spark.operators.checkpoints import release_pins
from cassandra_analytics_example_spark.queries import load_all
from cassandra_analytics_example_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def stages(spark):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm, gw = sc._jvm, sc._gateway
    lst = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out = {}
    for i in range(lst.size()):
        s = lst.apply(i)
        out[(s.stageId(), s.attemptId())] = {
            "run_ms": s.executorRunTime(),
            "cpu_ms": s.executorCpuTime() // 1_000_000,
            "sh_read_mb": round(s.shuffleReadBytes() / 1e6, 1),
            "sh_write_mb": round(s.shuffleWriteBytes() / 1e6, 1),
            "tasks": s.numCompleteTasks(),
            "name": s.name(),
        }
    return out


def main() -> None:
    registry = load_all()
    spark = get_spark(
        app_name="profile-query",
        extra_conf={"spark.ui.retainedStages": "100000"},
    )
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    for name in sys.argv[1:]:
        release_pins(spark, all_threads=True)
        spark.catalog.clearCache()
        before = stages(spark)
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        registry[name].fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        after = stages(spark)
        new = {k: v for k, v in after.items() if k not in before}
        print(f"\n=== {name}: wall {wall:.2f}s, {len(new)} stages "
              f"(loadavg {os.getloadavg()[0]:.1f})")
        total_run = sum(v["run_ms"] for v in new.values())
        for (sid, att), v in sorted(
            new.items(), key=lambda kv: -kv[1]["run_ms"]
        )[:14]:
            print(
                f"  stage {sid:4d} run {v['run_ms']/1000:7.2f}s "
                f"cpu {v['cpu_ms']/1000:7.2f}s tasks {v['tasks']:3d} "
                f"shR {v['sh_read_mb']:8.1f}MB shW {v['sh_write_mb']:8.1f}MB"
                f"  {v['name'][:70]}"
            )
        print(f"  total executor run {total_run/1000:.2f}s across "
              f"{len(new)} stages")
    spark.stop()


if __name__ == "__main__":
    main()
