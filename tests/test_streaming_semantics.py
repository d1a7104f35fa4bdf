"""Streaming watermark semantics: late data beyond the watermark is
dropped; windows emit (append mode) only after the watermark closes them.

The fixture-driven smoke checks (s01-s04) prove the streaming operators run;
this test proves the *semantics* — two microbatches via maxFilesPerTrigger=1,
with a late row in the second batch that arrives after the watermark passed
its window.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from cassandra_analytics_example_spark.streaming.windows import (
    EVENTS_STREAM_SCHEMA,
    tumbling_aggregate,
)
from pyspark.sql import functions as F

H = 3_600 * 1_000_000_000  # one hour in ns


def _write_batch(path: str, rows: list[tuple[int, int]], mtime: float) -> None:
    """One parquet file = one microbatch: rows are (event_id, ts_ns)."""
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [1] * len(rows),
            "event_type": ["click"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    pdf.to_parquet(path)
    os.utime(path, (mtime, mtime))


def test_late_data_dropped_after_watermark(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    t0 = 1_700_000_000 * 1_000_000_000  # base event time (ns)
    now = time.time()
    # batch 1: two on-time events in window W0 = [t0h, t0h+1h), plus one
    # 4 hours later that advances the watermark (2h delay) past W0's end.
    _write_batch(
        str(src / "batch1.parquet"),
        [(1, t0), (2, t0 + 60 * 1_000_000_000), (3, t0 + 4 * H)],
        now - 90,
    )
    # batch 2: on-time buffer batch. Spark (3.4+, SPARK-40925) filters late
    # events against the PREVIOUS batch's watermark, so the advanced
    # watermark takes effect for input filtering one batch later.
    _write_batch(str(src / "batch2.parquet"), [(9, t0 + 4 * H + 1)], now - 60)
    # batch 3: a LATE event for W0 — its window end is below the (now
    # effective) watermark, so it must be dropped; W0 emits n=2, not 3.
    _write_batch(str(src / "batch3.parquet"), [(4, t0 + 1)], now - 30)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    events = raw.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("timestamp_micros(ts div 1000)").alias("ts"),
    )
    agg = tumbling_aggregate(events, width="1 hour", watermark="2 hours")

    name = "late_data_check"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")  # append: only watermark-closed windows emit
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    out = {r["window_start"]: r["n"] for r in spark.table(name).collect()}
    w0 = [k for k in out if k.startswith("2023-11-14 22:")]
    assert w0, f"window W0 never emitted: {out}"
    assert out[w0[0]] == 2, (
        f"late event was not dropped by the watermark: {out}"
    )


def test_first_seen_matches_batch_min_ts(spark, sf_dir):
    """The stateful first-seen stream must agree with the batch
    min-timestamp reduction over the same fixture (value ties on the
    minimum timestamp are impossible: event ids are unique per ts)."""
    from cassandra_analytics_example_spark.queries._tables import events
    from cassandra_analytics_example_spark.streaming.windows import (
        run_first_seen_stream,
    )

    got = run_first_seen_stream(spark, sf_dir)
    batch = (
        events(spark, sf_dir)
        .groupBy("user_id", "event_type")
        .agg(
            F.min(
                F.struct(F.col("ts_us").alias("ts_us"), F.col("value").alias("v"))
            ).alias("m")
        )
        .select(
            "user_id",
            "event_type",
            F.col("m.ts_us").alias("first_ts_us"),
            F.col("m.v").alias("first_value"),
        )
    )
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_checkpoint_recovery_dedups_across_restarts(spark, tmp_path):
    """Exactly-once across restarts: the dedup state store lives in the
    checkpoint, so a RESTARTED stream must drop event ids it already
    emitted in a previous run — the property that makes an incremental
    ingestion pipeline safe to re-run after a crash."""
    src = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.schema("event_id bigint, v string")
            .format("parquet")
            .load(src)
            .dropDuplicates(["event_id"])
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    # phase 1: ids 0..99 (id 7 duplicated in-batch)
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)] + [(7, "dup-in-batch")],
        "event_id bigint, v string",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    first = spark.read.parquet(out)
    assert first.count() == 100
    assert first.select("event_id").distinct().count() == 100

    # phase 2 (simulated restart): ids 50..149 — 50 replays + 50 new
    spark.createDataFrame(
        [(i, f"v{i}-replay") for i in range(50, 150)],
        "event_id bigint, v string",
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()
    final = spark.read.parquet(out)
    assert final.count() == 150          # replayed ids NOT re-emitted
    assert final.select("event_id").distinct().count() == 150


def test_foreach_batch_upsert_is_idempotent(spark, tmp_path):
    """The foreachBatch merge sink must tolerate BOTH replay modes: a
    restart with the checkpoint intact re-reads nothing (source offsets
    committed), and a restart with the checkpoint LOST replays the input
    but the anti-join merge adds zero rows — the idempotent-merge half of
    the exactly-once contract."""
    import shutil

    src = str(tmp_path / "in")
    target = str(tmp_path / "target")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "event_id bigint, v string"
    ).coalesce(1).write.parquet(src)

    def merge_batch(batch, epoch_id):
        sess = batch.sparkSession
        try:
            existing = sess.read.parquet(target).select("event_id")
        except Exception:
            existing = None
        fresh = (
            batch
            if existing is None
            else batch.join(existing, "event_id", "left_anti")
        )
        fresh.write.mode("append").parquet(target)

    def run_once():
        stream = (
            spark.readStream.schema("event_id bigint, v string")
            .format("parquet")
            .load(src)
        )
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    run_once()
    assert spark.read.parquet(target).count() == 200
    run_once()  # checkpoint intact: nothing re-read
    assert spark.read.parquet(target).count() == 200
    shutil.rmtree(ck)
    run_once()  # checkpoint lost: full replay, merge adds nothing
    got = spark.read.parquet(target)
    assert got.count() == 200
    assert got.select("event_id").distinct().count() == 200


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Kill a stream mid-input and restart it on the SAME checkpoint: the
    restarted query must process exactly the unprocessed files — no row
    lost, none duplicated — with a NON-idempotent sink (plain append), so
    the guarantee comes from the checkpointed source offsets alone. This
    is the restart-resume half of exactly-once (s09 proves the idempotent-
    merge half)."""
    import os
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ck = str(tmp_path / "ck")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "event_type"
    )
    # three source files, appended one write at a time
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    total = ev.count()

    def start(trigger_kwargs):
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            stream.writeStream.foreachBatch(
                lambda b, eid: b.write.mode("append").parquet(target)
            )
            .option("checkpointLocation", ck)
            .trigger(**trigger_kwargs)
            .start()
        )

    # phase 1: slow processing trigger — the immediate first trigger
    # lands one file, then we kill the query before the next fires
    q1 = start({"processingTime": "20 seconds"})
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if os.path.isdir(target):
                try:
                    if spark.read.parquet(target).count() > 0:
                        break
                except Exception:
                    pass
            time.sleep(0.2)
    finally:
        q1.stop()
        q1.awaitTermination(30)
    phase1 = spark.read.parquet(target).count()
    assert 0 < phase1 < total, "phase 1 should stop mid-input"

    # phase 2: restart on the same checkpoint, drain the rest
    q2 = start({"availableNow": True})
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
        q2.awaitTermination(30)

    got = spark.read.parquet(target)
    assert got.count() == total, "restart lost or replayed files"
    assert got.select("event_id").distinct().count() == total


def _write_typed_batch(path, rows, mtime):
    """One parquet file = one microbatch: rows are
    (event_id, ts_ns, user_id, event_type)."""
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [r[1] for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    pdf.to_parquet(path)
    os.utime(path, (mtime, mtime))


def test_stream_dedup_watermark_drops_late_and_evicts_state(spark, tmp_path):
    """The s03 dedup stream's watermark semantics, which its batch twin
    cannot see (VERDICT r8 task 8): out-of-order microbatches must show
    (a) an in-watermark duplicate key deduped, (b) a LATE row dropped
    BECAUSE of the watermark — its key was never seen, so dedup state
    cannot be the dropper — and (c) state EVICTION: once the watermark
    passes a key's expiry, a new row with the SAME key re-emits.

    Timeline (watermark delay 1h; W = watermark after each batch; Spark
    applies the late filter with the PREVIOUS batch's watermark,
    SPARK-40925, hence the buffer batch):
      b1: id1 (u1,click, t0)          emits; state[(u1,click)] to t0+1h
      b2: id2 (u1,click, t0+10m)      DEDUPED (within watermark)
          id3 (u2,view,  t0+4h)       emits; W -> t0+3h (> t0+1h: evict)
      b3: id4 (u3,buy,   t0+4h+1m)    emits (buffer: W takes effect)
      b4: id5 (u1,click, t0+4h+2m)    emits AGAIN - state was evicted
          id6 (u9,late,  t0+1m)       DROPPED by the watermark (t0+1m <
                                      W=t0+3h; key never seen)
    Expected survivor ids: {1, 3, 4, 5}.
    """
    from cassandra_analytics_example_spark.streaming.windows import (
        dedup_within_watermark,
    )

    src = tmp_path / "dedup_src"
    src.mkdir()
    t0 = 1_700_000_000 * 1_000_000_000
    m = 60 * 1_000_000_000  # one minute in ns
    now = time.time()
    _write_typed_batch(
        str(src / "b1.parquet"), [(1, t0, 1, "click")], now - 120
    )
    _write_typed_batch(
        str(src / "b2.parquet"),
        [(2, t0 + 10 * m, 1, "click"), (3, t0 + 4 * H, 2, "view")],
        now - 90,
    )
    _write_typed_batch(
        str(src / "b3.parquet"), [(4, t0 + 4 * H + m, 3, "buy")], now - 60
    )
    _write_typed_batch(
        str(src / "b4.parquet"),
        [(5, t0 + 4 * H + 2 * m, 1, "click"), (6, t0 + m, 9, "late")],
        now - 30,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    events = raw.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("timestamp_micros(ts div 1000)").alias("ts"),
    )
    deduped = dedup_within_watermark(events, watermark="1 hour")

    name = "dedup_watermark_check"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    got = sorted(r["event_id"] for r in spark.table(name).collect())
    assert 2 not in got, f"in-watermark duplicate not deduped: {got}"
    assert 6 not in got, f"late row survived the watermark: {got}"
    assert 5 in got, f"state not evicted — re-keyed row missing: {got}"
    assert got == [1, 3, 4, 5], f"unexpected survivor set: {got}"


def test_session_window_merges_across_batches_and_drops_late(spark, tmp_path):
    """Session-window semantics the batch twin cannot see (VERDICT r9
    task 4): a session spanning two microbatches must MERGE and emit
    exactly ONCE (append mode: after the watermark passes the merged
    session's end), and a LATE row targeting the closed session must be
    dropped — neither re-opening it nor emitting a spurious 1-event
    session.

    Timeline (gap 30m, watermark 1h; W = watermark after each batch;
    SPARK-40925: the late filter uses the PREVIOUS batch's watermark,
    hence the buffer batch):
      b1: id1 (u1, t0)            opens S1 = [t0, t0+30m)
      b2: id2 (u1, t0+10m)        MERGES into S1 -> [t0, t0+40m)
          id3 (u2, t0+4h)         advances W -> t0+3h (past S1 end)
      b3: id4 (u3, t0+4h+1m)      buffer: W takes effect, S1 EMITS (n=2)
      b4: id5 (u1, t0+5m)         LATE - dropped (below W; must not emit
                                  a second u1 session or extend S1)
          id6 (u1, t0+4h+2m)      new u1 session, stays OPEN (watermark
                                  never passes it) - must NOT emit
    Expected memory-sink rows: exactly one - (u1, [t0, t0+40m), n=2).
    """
    from cassandra_analytics_example_spark.streaming.windows import (
        sessionized_counts,
    )

    src = tmp_path / "sess_src"
    src.mkdir()
    t0 = 1_700_000_000 * 1_000_000_000
    m = 60 * 1_000_000_000
    now = time.time()
    _write_typed_batch(str(src / "b1.parquet"), [(1, t0, 1, "click")], now - 120)
    _write_typed_batch(
        str(src / "b2.parquet"),
        [(2, t0 + 10 * m, 1, "click"), (3, t0 + 4 * H, 2, "click")],
        now - 90,
    )
    _write_typed_batch(
        str(src / "b3.parquet"), [(4, t0 + 4 * H + m, 3, "click")], now - 60
    )
    _write_typed_batch(
        str(src / "b4.parquet"),
        [(5, t0 + 5 * m, 1, "click"), (6, t0 + 4 * H + 2 * m, 1, "click")],
        now - 30,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    events = raw.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("timestamp_micros(ts div 1000)").alias("ts"),
    )
    sessions = sessionized_counts(events, gap="30 minutes", watermark="1 hour")

    name = "session_semantics_check"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    rows = spark.table(name).collect()
    u1 = [r for r in rows if r["user_id"] == 1]
    assert len(u1) == 1, f"merged session must emit exactly once: {rows}"
    assert u1[0]["n_events"] == 2, (
        f"cross-batch merge lost a row or the late row leaked in: {u1}"
    )
    # the merged extent: start at t0, end at t0+10m+gap (r13: the publish
    # is epoch-µs bounds — the oracled q107 shape)
    assert u1[0]["session_start_us"] == 1_700_000_000 * 1_000_000, u1
    assert (
        u1[0]["session_end_us"] == (1_700_000_000 + 40 * 60) * 1_000_000
    ), u1
    # open sessions (u2, u3, u1's second) must not have emitted
    assert len(rows) == 1, f"an open session emitted early: {rows}"


def test_stream_stream_join_matches_and_drops_late_input(spark, tmp_path):
    """Stream-stream join semantics the batch twin cannot see (VERDICT r9
    task 4): an in-window (view, purchase) pair joins; a LATE view
    arriving after the watermark passed its event time never enters join
    STATE, so a would-be matching purchase in a LATER batch finds nothing
    (the actual streaming guarantee — a late pair landing in the SAME
    microbatch may still join opportunistically, observed and documented
    in Spark's symmetric hash join: state admission is what the watermark
    bounds, not same-batch matching); an out-of-range pair (gap > within)
    never matches.

    Timeline (watermark 1h, within 30m; buffer batch per SPARK-40925):
      b1: id1 view (u1, t0), id2 purchase (u1, t0+10m)   -> JOINS (1,2)
      b2: id3 view (u2, t0+6h)                 advances W -> t0+5h
          id8 view (u4, t0+6h)                 (for the range check)
      b3: id4 view (u3, t0+6h+1m)              buffer: W takes effect
          id7 purchase (u4, t0+6h+40m)         40m > within: NO match
      b4: id5 view (u9, t0+1m)                 LATE - below W=t0+5h,
                                               must not enter view state
      b5: id6 purchase (u9, t0+2m)             its match, one batch later:
                                               state lookup finds nothing,
                                               must NOT emit
    Expected joined rows: exactly (view_id=1, purchase_id=2).
    """
    from cassandra_analytics_example_spark.streaming.windows import (
        stream_stream_attribution,
    )

    src = tmp_path / "ssj_src"
    src.mkdir()
    t0 = 1_700_000_000 * 1_000_000_000
    m = 60 * 1_000_000_000
    now = time.time()
    _write_typed_batch(
        str(src / "b1.parquet"),
        [(1, t0, 1, "view"), (2, t0 + 10 * m, 1, "purchase")],
        now - 120,
    )
    _write_typed_batch(
        str(src / "b2.parquet"),
        [(3, t0 + 6 * H, 2, "view"), (8, t0 + 6 * H, 4, "view")],
        now - 90,
    )
    _write_typed_batch(
        str(src / "b3.parquet"),
        [(4, t0 + 6 * H + m, 3, "view"),
         (7, t0 + 6 * H + 40 * m, 4, "purchase")],
        now - 60,
    )
    _write_typed_batch(
        str(src / "b4.parquet"), [(5, t0 + m, 9, "view")], now - 30
    )
    _write_typed_batch(
        str(src / "b5.parquet"), [(6, t0 + 2 * m, 9, "purchase")], now - 15
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    events = raw.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("timestamp_micros(ts div 1000)").alias("ts"),
    )
    joined = stream_stream_attribution(
        events, watermark="1 hour", within="30 minutes"
    )

    name = "ssjoin_semantics_check"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    got = sorted(
        (r["view_id"], r["purchase_id"]) for r in spark.table(name).collect()
    )
    assert (1, 2) in got, f"in-window pair failed to join: {got}"
    assert (5, 6) not in got, f"late view entered join state: {got}"
    assert (8, 7) not in got, f"out-of-range pair matched: {got}"
    assert got == [(1, 2)], f"unexpected join output: {got}"


def test_sliding_window_multi_assignment_and_late_drop(spark, tmp_path):
    """Sliding-window semantics: one event lands in width/slide
    overlapping windows (both emitted once their ends pass the
    watermark), and a late row below the watermark is excluded from BOTH
    of its closed windows.

    Timeline (width 1h, slide 30m, watermark 1h; buffer batch per
    SPARK-40925):
      b1: id1 (t0+31m, click)   -> windows W[t0, t0+1h) and
                                   W[t0+30m, t0+90m)
      b2: id2 (t0+6h, click)    advances W -> t0+5h (both closed)
      b3: id3 (t0+6h+1m, click) buffer: watermark takes effect, both of
                                id1's windows emit with n=1
      b4: id4 (t0+32m, click)   LATE - must not re-emit or bump either
                                closed window
    Expected: the two id1 windows emit exactly once each with n=1.
    """
    from cassandra_analytics_example_spark.streaming.windows import (
        sliding_aggregate,
    )

    src = tmp_path / "slide_src"
    src.mkdir()
    t0 = 1_700_000_000 * 1_000_000_000
    m = 60 * 1_000_000_000
    now = time.time()
    _write_typed_batch(
        str(src / "b1.parquet"), [(1, t0 + 31 * m, 1, "click")], now - 120
    )
    _write_typed_batch(
        str(src / "b2.parquet"), [(2, t0 + 6 * H, 2, "click")], now - 90
    )
    _write_typed_batch(
        str(src / "b3.parquet"), [(3, t0 + 6 * H + m, 3, "click")], now - 60
    )
    _write_typed_batch(
        str(src / "b4.parquet"), [(4, t0 + 32 * m, 4, "click")], now - 30
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    events = raw.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("timestamp_micros(ts div 1000)").alias("ts"),
    )
    slid = sliding_aggregate(
        events, width="1 hour", slide="30 minutes", watermark="1 hour"
    )

    name = "sliding_semantics_check"
    q = (
        slid.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    rows = spark.table(name).collect()
    # both overlapping windows of id1 emitted, exactly once, with n=1
    # (the late id4 at t0+32m targets the same two windows and must not
    # have been counted)
    early = sorted(
        (r["window_start"], r["n"]) for r in rows
        if r["window_start"].startswith("2023-11-14 2")
    )
    assert len(early) == 2, f"expected exactly the two id1 windows: {rows}"
    assert all(n == 1 for _, n in early), (
        f"late row leaked into a closed sliding window: {early}"
    )
    assert early[0][0] != early[1][0], early


def test_first_seen_ttl_lease_evicts_and_readmits(spark, tmp_path):
    """The bounded-state story of the custom stateful operator
    (applyInPandasWithState + ProcessingTimeTimeout): a key's first-seen
    record is suppressed while its TTL lease is live, the lease expiry
    REMOVES the state, and the same key then re-emits — the eviction
    cycle that keeps first-touch state bounded on an unbounded key
    domain. Uses a continuous processingTime trigger (availableNow never
    terminates with pending leases — documented on the operator).

    Timing discipline: the lease starts when batch0 RUNS, slightly
    before its output becomes visible, so the 20s TTL leaves ~15s of
    certain-lease margin for the suppression check, and expiry is waited
    out relative to first-visibility plus a generous margin. Event times
    are offset in SECONDS — sub-microsecond offsets vanish at the
    operator's unix_micros resolution (the first version of this test
    learned that the hard way).
      b1: (u1 click @t0), (u2 view)    both emit; u1 lease = 20s
      b2 (immediately): (u1 click @t0+1s)  SUPPRESSED for >= 5s observed
      b3 (after expiry): (u1 click @t0+2s) EMITS with its own ts
    """
    from cassandra_analytics_example_spark.streaming.windows import (
        EVENTS_STREAM_SCHEMA,
        first_seen_per_type,
    )

    src = tmp_path / "ttl_src"
    src.mkdir()
    t0 = 1_700_000_000 * 1_000_000_000
    sec = 1_000_000_000
    ttl_s = 20.0
    now = time.time()
    _write_typed_batch(
        str(src / "b1.parquet"),
        [(1, t0, 1, "click"), (2, t0 + 1 * sec, 2, "view")],
        now,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    events = raw.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("timestamp_micros(ts div 1000)").alias("ts"),
    )
    out = first_seen_per_type(events, ttl_ms=int(ttl_s * 1000))

    name = "ttl_eviction_check"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )

    def ts_for(user):
        return sorted(
            r["first_ts_us"]
            for r in spark.table(name).collect()
            if r["user_id"] == user
        )

    def wait_until(pred, timeout_s, what):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if pred():
                return
            time.sleep(0.25)
        raise AssertionError(f"timed out waiting for {what}: "
                             f"{spark.table(name).collect()}")

    t0_us = t0 // 1000
    try:
        wait_until(
            lambda: ts_for(1) == [t0_us] and len(ts_for(2)) == 1,
            60, "initial first-seen emissions",
        )
        visible_at = time.time()
        # mid-lease duplicate, written immediately: the lease began at
        # most a poll-interval before visible_at, so >= ~15s of it
        # remain — observe suppression for 5s
        _write_typed_batch(
            str(src / "b2.parquet"), [(3, t0 + 1 * sec, 1, "click")],
            time.time(),
        )
        while time.time() - visible_at < 5.0:
            assert ts_for(1) == [t0_us], (
                f"key re-emitted mid-lease: {ts_for(1)}"
            )
            time.sleep(0.25)
        # wait out the rest of the lease + margin; pending leases keep
        # empty microbatches firing, which is what delivers the timeout
        time.sleep(max(0.0, ttl_s - (time.time() - visible_at)) + 6.0)
        _write_typed_batch(
            str(src / "b3.parquet"), [(4, t0 + 2 * sec, 1, "click")],
            time.time(),
        )
        wait_until(
            lambda: ts_for(1) == [t0_us, t0_us + 2_000_000],
            60, "post-eviction re-emit with b3's own ts",
        )
        assert len(ts_for(2)) == 1  # u2 untouched throughout
    finally:
        q.stop()
        q.awaitTermination(30)


def test_hll_store_duplicate_replay_is_idempotent(spark, tmp_path):
    """r10 verdict task 2: the merge-on-read family's replay-safety
    claims, pinned with an actual duplicate batch. s15's docstring claims
    a REPLAYED batch is harmless even WITHOUT the checkpoint, because the
    HLL merge unit is per-bucket MAX (associative, commutative AND
    idempotent). Timeline:

      t0  batch A (keys 0..499) folds -> partial appended, checkpoint ck
      t1  published sketch read (merge-on-read max GROUP BY bucket)
      t2  checkpoint DELETED; identical input replayed -> partial
          appended AGAIN (store now holds duplicate partials)
      t3  published sketch re-read: must be BIT-IDENTICAL to t1 —
          max(r, r) == r, so duplicate partials change nothing.
    """
    import shutil

    from cassandra_analytics_example_spark.operators.sketches import (
        hll_registers,
    )

    src = str(tmp_path / "in")
    target = str(tmp_path / "regs")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(
        [(f"user{i}",) for i in range(500)], "k string"
    ).coalesce(1).write.parquet(src)

    def fold_batch(batch, epoch_id):
        hll_registers(batch, "k").write.mode("append").parquet(target)

    def run_once():
        stream = (
            spark.readStream.schema("k string").format("parquet").load(src)
        )
        q = (
            stream.writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    def published():
        return {
            (r.bucket, r.r)
            for r in spark.read.parquet(target)
            .groupBy("bucket")
            .agg(F.max("r").alias("r"))
            .collect()
        }

    run_once()                            # t0
    once = published()                    # t1
    n_partials_once = spark.read.parquet(target).count()
    shutil.rmtree(ck)
    run_once()                            # t2: full replay, appended again
    # the store REALLY holds duplicate partials (the replay happened) ...
    assert spark.read.parquet(target).count() == 2 * n_partials_once
    # ... and the published sketch is bit-identical anyway (t3)
    assert published() == once


def test_countmin_store_duplicate_replay_doubles_without_checkpoint(
    spark, tmp_path
):
    """The count-min half of the same task: CMS partials merge by SUM,
    which is associative/commutative but NOT idempotent — replay
    protection is exactly what the checkpoint's offset tracking provides
    (s12's documented stance: 'crash-safe: checkpointed offsets +
    append-only partials'). Timeline:

      t0  batch A folds -> cell partial appended, checkpoint ck
      t1  rerun with checkpoint INTACT: offsets committed, nothing
          re-read, published counts unchanged  (the checkpoint working)
      t2  checkpoint DELETED; identical input replayed -> second partial
      t3  published counts are exactly DOUBLED — sum-merge without offset
          tracking is at-least-once, measured here, not hidden.
    """
    import shutil

    from cassandra_analytics_example_spark.operators.sketches import (
        countmin_cells,
    )

    src = str(tmp_path / "in")
    target = str(tmp_path / "cells")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(
        [(f"k{i % 7}",) for i in range(300)], "k string"
    ).coalesce(1).write.parquet(src)

    def fold_batch(batch, epoch_id):
        countmin_cells(batch, "k", depth=4, width=64).write.mode(
            "append"
        ).parquet(target)

    def run_once():
        stream = (
            spark.readStream.schema("k string").format("parquet").load(src)
        )
        q = (
            stream.writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    def published():
        return {
            (r.d, r.cell): r.c
            for r in spark.read.parquet(target)
            .groupBy("d", "cell")
            .agg(F.sum("c").cast("bigint").alias("c"))
            .collect()
        }

    run_once()                            # t0
    once = published()
    run_once()                            # t1: checkpoint intact
    assert published() == once, "offsets committed - nothing re-read"
    shutil.rmtree(ck)
    run_once()                            # t2: replay appends a duplicate
    doubled = published()                 # t3
    assert doubled == {k: 2 * v for k, v in once.items()}


# ---------------------------------------------------------------------------
# r11 verdict task 4: duplicate-replay behavior for every merge-on-read
# merge UNIT the foreachBatch stores use. The HLL/CMS pair (above) pinned
# the pattern with live streams + checkpoint deletion; the remaining
# stores compose exactly four merge units, and a duplicate replay IS the
# publish fold evaluated over (partials UNION ALL partials) — so each
# unit's replay algebra is pinned directly on that relation. Store-level
# mapping (docstring claims these tests back):
#   sum        -> s12 cells, s16 hourly counts, s17 refcount/bytes,
#                 s18.n_events, s19.n, s23/s27/s28/s30 count partials
#                 (at-least-once: DOUBLES without the checkpoint — the
#                 checkpoint's offset tracking is the protection)
#   max/min    -> s15 registers, s18.newest, s19 zone bounds,
#                 s24 high/low (idempotent: replay-safe even without ckpt)
#   argmin/max -> s24 open/close via min_by/max_by on the total order
#                 (idempotent: the winning (ord, value) pair is unchanged
#                 by duplication BECAUSE ord is a total order — ties
#                 cannot flip the winner)
#   top-k      -> s25 sample, s29 recency features (idempotent ONLY with
#                 identity dedup before the merge: a naive top-k over
#                 duplicated partials keeps two copies of each winner and
#                 crowds real rank-k rows out — both stores dedupe on the
#                 row identity at publish, s29 on (user_id, event_id),
#                 s25 on doc_id)
# ---------------------------------------------------------------------------


def _merge_partials(spark):
    """Partials as a store would hold them: (key, ord, val) with
    duplicate ords across keys and adversarial tie candidates."""
    rows = [
        ("a", 1, 10), ("a", 2, 30), ("a", 3, 20),
        ("b", 1, 5), ("b", 9, 5),          # equal vals, distinct ords
        ("c", 4, -7),                      # single-partial key
    ]
    return spark.createDataFrame(rows, "key string, ord bigint, val bigint")


def test_replay_sum_merge_doubles(spark):
    p = _merge_partials(spark)

    def publish(df):
        return {
            (r.key, r.s)
            for r in df.groupBy("key")
            .agg(F.sum("val").cast("bigint").alias("s"))
            .collect()
        }

    once = publish(p)
    replayed = publish(p.unionAll(p))
    assert replayed == {(k, 2 * v) for k, v in once}


def test_replay_max_min_merge_idempotent(spark):
    p = _merge_partials(spark)

    def publish(df):
        return {
            (r.key, r.hi, r.lo)
            for r in df.groupBy("key")
            .agg(F.max("val").alias("hi"), F.min("val").alias("lo"))
            .collect()
        }

    assert publish(p.unionAll(p)) == publish(p)


def test_replay_argminmax_merge_idempotent(spark):
    p = _merge_partials(spark)

    def publish(df):
        return {
            (r.key, r.open_v, r.close_v)
            for r in df.groupBy("key")
            .agg(
                F.min_by("val", "ord").alias("open_v"),
                F.max_by("val", "ord").alias("close_v"),
            )
            .collect()
        }

    assert publish(p.unionAll(p)) == publish(p)


def test_replay_topk_naive_merge_breaks_and_dedup_merge_holds(spark):
    """Top-k is the one merge unit that is NOT naively replay-safe: a
    duplicated partials store keeps two copies of each winner inside the
    k budget, crowding out the true rank-k row. With an identity dedup
    before the merge (what s25 and s29 ship) it IS idempotent. Both
    directions pinned, so the dedup can't be 'simplified' away."""
    p = _merge_partials(spark)
    k = 3

    def publish(df):
        return [
            (r.key, r.ord, r.val)
            for r in df.orderBy(F.col("val").desc(), F.col("ord").asc(),
                                F.col("key").asc())
            .limit(k)
            .collect()
        ]

    once = publish(p)
    naive = publish(p.unionAll(p))
    assert set(naive) != set(once), (
        "naive top-k over duplicated partials should lose rank-k rows — "
        "if this starts passing, the fixture no longer exercises crowding"
    )
    deduped = publish(p.unionAll(p).dropDuplicates(["key", "ord"]))
    assert deduped == once


def test_zonemap_store_duplicate_replay_mixed_units(spark, tmp_path):
    """End-to-end for a MIXED-unit store (s19's exact fold): after a
    checkpoint wipe + full replay, the max-merged zone bounds are
    bit-identical (replay-safe) while the count doubles (at-least-once —
    what the checkpoint protects). Same live-stream methodology as the
    HLL/CMS pair above."""
    import shutil

    src = str(tmp_path / "in")
    target = str(tmp_path / "stats")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(
        [(i % 5, 100 + i, 10_000 + i) for i in range(200)],
        "day bigint, cents bigint, ts_us bigint",
    ).coalesce(1).write.parquet(src)

    def fold_batch(batch, epoch_id):
        (
            batch.groupBy("day")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.max("cents").alias("max_c"),
                F.max("ts_us").alias("day_max_ts"),
            )
            .write.mode("append")
            .parquet(target)
        )

    def run_once():
        stream = (
            spark.readStream.schema("day bigint, cents bigint, ts_us bigint")
            .format("parquet")
            .load(src)
        )
        q = (
            stream.writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    def published():
        return {
            r.day: (r.n, r.max_c, r.day_max_ts)
            for r in spark.read.parquet(target)
            .groupBy("day")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.max("max_c").alias("max_c"),
                F.max("day_max_ts").alias("day_max_ts"),
            )
            .collect()
        }

    run_once()
    once = published()
    shutil.rmtree(ck)
    run_once()
    replayed = published()
    assert set(replayed) == set(once)
    for day, (n, mc, mts) in once.items():
        rn, rmc, rmts = replayed[day]
        assert rn == 2 * n, "count is at-least-once without the checkpoint"
        assert (rmc, rmts) == (mc, mts), "zone bounds are replay-idempotent"


def test_drain_reraises_fold_error_and_stops_the_stream(spark, tmp_path):
    """A fold that raises inside ``foreachBatch`` surfaces to the caller,
    and the store's query is stopped anyway: no stream outlives a failed
    store."""
    import pytest

    from cassandra_analytics_example_spark.streaming.windows import (
        _fold_store,
    )

    src = tmp_path / "src"
    src.mkdir()
    _write_batch(str(src / "b0.parquet"), [(1, 0)], time.time())
    stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(str(src))

    def fold(batch):
        raise RuntimeError("fold failed on purpose")

    with pytest.raises(Exception, match="fold failed on purpose"):
        _fold_store(stream, fold, "drain_raise_")
    assert spark.streams.active == []


@pytest.mark.parametrize(
    "store", ["run_stream_hll", "run_stream_dedup_to_files"]
)
def test_store_files_live_under_the_context_file_root(spark, sf_dir, store):
    """A store's temp root (its sink, and the stream checkpoint beside
    it) sits under ``SparkFiles.getRootDirectory()``, which Spark deletes
    when the context stops, so stores leave no directories behind the
    session that read them."""
    from pyspark import SparkFiles

    from cassandra_analytics_example_spark.streaming import windows as W

    root = os.path.realpath(SparkFiles.getRootDirectory())
    files = getattr(W, store)(spark, sf_dir).inputFiles()
    assert files
    for f in files:
        path = os.path.realpath(f.removeprefix("file:"))
        assert os.path.commonpath([root, path]) == root, (f, root)


def test_memory_sink_store_drops_its_table(spark, sf_dir):
    """A memory-sink store returns its rows without leaving its ``s_…``
    sink table in the session catalog: one such table per call would
    hold every result in driver memory for the session's life."""
    from cassandra_analytics_example_spark.streaming.windows import (
        run_tumbling_stream,
    )

    def sink_tables():
        return {
            t.name for t in spark.catalog.listTables() if t.name.startswith("s_")
        }

    before = sink_tables()
    out = run_tumbling_stream(spark, sf_dir)
    assert sink_tables() == before
    rows = out.collect()
    assert rows and len(rows) == len(out.collect())
    assert spark.streams.active == []


def test_events_stores_read_ns_vintage_fixture(spark, tmp_path, sf_dir):
    """The events fixture has shipped with ``ts`` as timestamp[ns], which
    Spark reads only with ``nanosAsLong`` set. Each events-fed store must
    set it itself (through ``stream_events`` / ``_tables.events``), not
    rely on an earlier query in the session: with the conf unset before
    every store, an ns copy of the fixture gives the µs original's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_cusum,
        run_stream_ks_drift,
        run_stream_lag_features,
        run_stream_metrics_layer,
        run_stream_psi_drift,
    )

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, str(tmp_path / "events.parquet"))
    assert pq.read_schema(str(tmp_path / "events.parquet")).field(
        "ts"
    ).type == pa.timestamp("ns")

    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key, None)
    try:
        for run in (
            run_stream_psi_drift,
            run_stream_ks_drift,
            run_stream_cusum,
            run_stream_lag_features,
            run_stream_metrics_layer,
        ):
            spark.conf.unset(key)
            want = sorted(run(spark, sf_dir).collect())
            spark.conf.unset(key)
            got = sorted(run(spark, str(tmp_path)).collect())
            assert got == want, run.__name__
            assert len(got) > 0, run.__name__
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
