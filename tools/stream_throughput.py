#!/usr/bin/env python3
"""Measured input-scaling curves for the streaming surface (the committed
run is STREAM_THROUGHPUT_r13.json; batch heavyweights got curves in
SCALE_PROBE_r13.json / SCALE_PROBE_SIMILARITY_r13.json).

Four stores with structurally different state machinery, driven through
their REGISTERED runners (same availableNow plans, same asserted
batchization guards the oracles rely on):

* s01 tumbling windows — watermarked windowed aggregate state
* s04 stateful totals — applyInPandasWithState arbitrary per-key state
* s06 stream-stream join — two-sided buffered join state with
  time-range eviction
* s08 first-seen — dropDuplicates first-touch state (TTL eviction)

Scaled fixtures are single-file events.parquet copies built with
pyarrow (NOT a Spark write): the runners' one-microbatch guards assert
a single-file source, and pyarrow concat preserves the fixture's ts
vintage byte-for-byte (timestamp[us] this round — the loaders adapt,
but the probe should measure the production arrow path, not a
re-encoded one). Per-copy user_id/event_id offsets: scale x means x
times the keys over the same time range — state rows scale linearly,
window/join cells get linearly heavier, which is exactly the shape a
growing tenant population produces.

Per (store, scale): best-of-2 wall (each run a fresh availableNow
execution with its own checkpoint), rows in/out, and events/sec.
Streaming walls carry a fixed ~2-4 s query-startup floor (JVM stream
init + checkpoint bootstrap), so like the batch probes the honest
cross-scale read is the MARGINAL throughput between scales, reported
as marginal_events_per_sec between x1 and x10 — (rows10 - rows1) /
(wall10 - wall1) — alongside the raw exponent.

Usage: python tools/stream_throughput.py [out.json]   (default STREAM_THROUGHPUT.json)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cassandra_analytics_example_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALES = [1, 3, 10]
OFFSET = 10_000_000

STORES = [
    "s01_stream_tumbling_windows",
    "s04_stream_stateful_totals",
    "s06_stream_stream_join",
    "s08_stream_first_seen",
]


def _build_scaled_events(base: str, out_dir: str, copies: int) -> int:
    t = pq.read_table(os.path.join(base, "events.parquet"))
    parts = []
    for c in range(copies):
        tc = t
        if c:
            tc = tc.set_column(
                tc.schema.get_field_index("event_id"),
                "event_id",
                pc.add(tc.column("event_id"), c * OFFSET * 100),
            )
            tc = tc.set_column(
                tc.schema.get_field_index("user_id"),
                "user_id",
                pc.add(tc.column("user_id"), c * OFFSET),
            )
        parts.append(tc)
    out = pa.concat_tables(parts)
    pq.write_table(out, os.path.join(out_dir, "events.parquet"))
    return out.num_rows


def _fit_exponent(scales, values):
    pts = [
        (math.log(s), math.log(v))
        for s, v in zip(scales, values)
        if v and v > 0
    ]
    if len(pts) < 2:
        return None
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    return round((n * sxy - sx * sy) / (n * sxx - sx * sx), 3)


def main() -> None:
    out_path = (
        sys.argv[1] if len(sys.argv) > 1 else "STREAM_THROUGHPUT.json"
    )
    spark = get_spark(app_name="stream-throughput")

    from cassandra_analytics_example_spark.queries import load_all

    registry = load_all()

    root = tempfile.mkdtemp(prefix="stream_tp_")
    dirs, rows_in = {}, {}
    for s in SCALES:
        d = os.path.join(root, f"x{s}")
        os.makedirs(d, exist_ok=True)
        rows_in[s] = _build_scaled_events(SF_DIR, d, s)
        dirs[s] = d
        print(f"built x{s}: {rows_in[s]} rows", flush=True)

    report = {
        "metric": "stream_throughput",
        "sf_base": 0.1,
        "scales": SCALES,
        "loadavg_start": round(os.getloadavg()[0], 2),
        "stores": {},
        "note": (
            "best-of-2 wall per (store, scale); each run is a fresh "
            "availableNow execution through the REGISTERED runner (same "
            "asserted batch plans the oracles pin). Streaming walls have "
            "a fixed ~2-4 s query-startup floor, so the honest "
            "cross-scale read is marginal_events_per_sec between x1 and "
            "x10; wall_exponent under-reads for the same reason as the "
            "batch probes"
        ),
    }

    for name in STORES:
        fn = registry[name].fn
        rec = {"wall_sec": {}, "rows_out": {}, "events_per_sec": {}}
        for s in SCALES:
            walls, rows_out = [], None
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = fn(spark, dirs[s])
                n = df.count()
                walls.append(time.perf_counter() - t0)
                rows_out = n
            w = min(walls)
            rec["wall_sec"][str(s)] = round(w, 3)
            rec["rows_out"][str(s)] = rows_out
            rec["events_per_sec"][str(s)] = round(rows_in[s] / w)
            print(
                f"{name} x{s}: wall {w:.2f}s in {rows_in[s]} "
                f"out {rows_out} ({rows_in[s]/w:,.0f} ev/s)",
                flush=True,
            )
        svals = [rec["wall_sec"][str(s)] for s in SCALES]
        rec["wall_exponent"] = _fit_exponent(SCALES, svals)
        dw = svals[-1] - svals[0]
        rec["marginal_events_per_sec"] = (
            round((rows_in[SCALES[-1]] - rows_in[SCALES[0]]) / dw)
            if dw > 0.05
            else None
        )
        rec["wall_ratio_10x"] = round(svals[-1] / svals[0], 2)
        report["stores"][name] = rec

    report["loadavg_end"] = round(os.getloadavg()[0], 2)
    shutil.rmtree(root, ignore_errors=True)
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
