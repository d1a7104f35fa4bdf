"""Structured Streaming over the events table (SURVEY.md §7 M3).

The reference has no streaming surface; this supplies the M3 layer the north
star demands: watermarked tumbling/sliding/session windows, stateful
streaming dedup, late-data handling. Each streaming transformation is a
plain function over an (un)bounded DataFrame, so the SAME logic runs:

* in streaming mode — ``readStream`` + watermark + ``writeStream``;
* in batch mode — the oracle-checked twins in queries/events.py.

Local smoke path: file-source readStream over the fixture parquet, memory
sink, ``availableNow`` trigger — bounded input drives the stream to
completion synchronously. At scale the source becomes Kafka/object-store
listing and sinks become parquet/Delta with checkpointing; the
transformations are unchanged.

The fixture's ``ts`` column has shipped either as ``timestamp[ns]``
(needing the same ``nanosAsLong`` handling as batch, queries/_tables.py)
or as native ``timestamp[us]``; ``readStream`` requires an explicit
schema, so the loader takes the fixture's schema from the table
catalog (``queries/_tables.py:schema``) and adapts — both vintages
surface an identical µs-timestamp ``ts`` column before watermarking.
Every events-fed store streams through ``stream_events``, and its batch
side (baselines, twins) reads through ``queries/_tables.py:events``.

Every store runs through two private helpers. ``_drain`` starts a
stream with the ``availableNow`` trigger, blocks until all input is
processed and stops it even when a microbatch raises, so no store leaves
a query running. ``_fold_store`` is the merge-on-read store shape: it
appends ``fold(batch)`` to a parquet store per microbatch (offsets
checkpointed beside it) and returns the un-merged partials, to which
each store applies its own merge. Stores that count their epochs (s09,
s14, s21) write their own sinks and call ``_drain`` directly. Every store
directory comes from ``session.temp_root``, so ``spark.stop()`` removes it.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from cassandra_analytics_example_spark.operators.checkpoints import truncate_plan
from cassandra_analytics_example_spark.queries import _tables
from cassandra_analytics_example_spark.session import temp_root

EVENTS_STREAM_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events fixture (one file = one microbatch)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # readStream needs a declared schema; the table catalog's (inferred
    # once per file) makes the declaration match the fixture vintage.
    probe = _tables.schema(spark, sf_dir, "events")
    ns_fixture = dict((f.name, f.dataType.simpleString()) for f in probe)[
        "ts"
    ] in ("bigint", "long")
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA if ns_fixture else probe)
        .format("parquet")
        .option("path", os.path.join(sf_dir))
        .option("pathGlobFilter", "events.parquet")
        .load()
    )
    ts = (
        F.expr("timestamp_micros(ts div 1000)")
        if ns_fixture
        else F.col("ts").cast("timestamp")
    )
    return raw.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        ts.alias("ts"),
    )


def _require_single_file_source(sf_dir: str, table: str, what: str) -> None:
    """Pin the ONE-MICROBATCH invariant some oracled streaming stores rest
    on (r12 ADVICE, s21 class): with the fixture as a single parquet file
    and no ``maxFilesPerTrigger``, ``availableNow`` plans exactly one
    microbatch, so arrival-order-dependent folds (watermark-expiring
    dedup state, first-touch emission, growing inventories) reduce to
    their batch formulation and the registered oracle is exact. A
    multi-file fixture would break that silently — later batches dedupe
    against expired state / drop cross-batch duplicates the oracle keeps —
    so the precondition is asserted loudly instead of assumed."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.isfile(path):
        raise ValueError(
            f"{what}: oracle requires a single-file {table} fixture "
            f"(one microbatch); {path} is not a single file - the "
            "registered value oracle does not hold for multi-batch arrival"
        )


def _drain(writer: DataStreamWriter) -> StreamingQuery:
    """Run a bounded stream to completion: ``availableNow`` plans every
    input present at start, the call blocks until the last microbatch
    commits (re-raising a failed batch's error), and the query is
    stopped either way. Returns the stopped query, whose
    ``recentProgress`` stays readable."""
    q = writer.trigger(availableNow=True).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    return q


def _fold_store(
    stream: DataFrame, fold: Callable[[DataFrame], DataFrame], prefix: str
) -> DataFrame:
    """Drain ``stream`` into an append-only parquet store: each
    microbatch appends ``fold(batch)`` under a fresh temp root named by
    ``prefix``, with the source offsets checkpointed beside it. Returns
    the appended partials UN-merged; the caller's merge-on-read (sum,
    max, argmin, top-k ...) publishes the store."""
    root = temp_root(prefix)
    target = os.path.join(root, "store")

    def append(batch: DataFrame, epoch_id: int) -> None:
        fold(batch).write.mode("append").parquet(target)

    _drain(
        stream.writeStream.foreachBatch(append).option(
            "checkpointLocation", os.path.join(root, "ck")
        )
    )
    return stream.sparkSession.read.parquet(target)


def tumbling_aggregate(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event type. Late rows
    beyond the watermark are dropped; in append mode a window emits once
    its watermark passes.

    ``sum_value`` is an EXACT decimal fold (``money_sum``), not a float
    sum: the published aggregate is order-independent across microbatch
    merge order and shuffle partitioning, so the store is hash-comparable
    against the batch twin q15's oracle (round-13 upgrade — the float
    publish was the only blocker keeping s01 rows-only)."""
    from cassandra_analytics_example_spark.functions.numeric import money_sum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), money_sum("value", "sum_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_aggregate(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked SLIDING-window counts/sums per event type (each event
    lands in width/slide overlapping windows — the streaming twin of batch
    q38). Same append/watermark semantics as the tumbling variant."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_aggregate_exact(
    events: DataFrame,
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """``sliding_aggregate`` with the EXACT decimal sum publish
    (``money_sum``) — the hash-comparable form s05 registers with q38's
    oracle (round-13 upgrade). A separate symbol rather than a flag on
    ``sliding_aggregate`` so s20's evidence (which consumes only the
    count column of the float variant) is untouched; the count/window
    algebra is identical by construction."""
    from cassandra_analytics_example_spark.functions.numeric import money_sum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), money_sum("value", "sum_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows (gap-merged) per user — the streaming twin of the
    batch ``sessionize`` operator (stateful merge via F.session_window).

    Publishes epoch-µs session bounds (not timestamp strings) so the
    output is column-for-column the shape of the oracled batch twin q107
    (round-13 upgrade: the string-formatted bounds were the only blocker
    keeping s02 rows-only)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type): first occurrence
    wins; state for a key expires once the watermark passes it."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def _run_to_memory(
    stream_df: DataFrame, spark: SparkSession, output_mode: str = "append"
) -> DataFrame:
    """Drive a bounded stream to completion into a memory sink; return the
    materialized result as a batch DataFrame.

    Aggregates run in ``complete`` mode here: with a single bounded
    microbatch nothing passes the watermark before input ends, so
    append-mode would emit nothing; complete shows the full aggregate
    state — matching the batch twins minus the watermark drop (no late
    data in the fixture).

    The sink's temp view is dropped once the frame is resolved: the frame
    keeps reading the sink's rows, and the session catalog no longer holds
    one ``s_…`` table per call."""
    name = f"s_{uuid.uuid4().hex[:12]}"
    _drain(
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
    )
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df


def run_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the watermarked tumbling aggregate end-to-end in streaming mode."""
    agg = tumbling_aggregate(stream_events(spark, sf_dir))
    return _run_to_memory(agg, spark, "complete")


def run_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the watermarked sliding-window aggregate (1h window / 30min
    slide) end-to-end in streaming mode — streaming twin of batch q38,
    exact-decimal publish (oracled since round 13)."""
    agg = sliding_aggregate_exact(stream_events(spark, sf_dir))
    return _run_to_memory(agg, spark, "complete")


def run_sessionized_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = sessionized_counts(stream_events(spark, sf_dir))
    return _run_to_memory(agg, spark, "complete")


def run_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the per-type count oracle (s03) counts DISTINCT keys, which the
    # watermark-expiring dedup state only guarantees within one microbatch
    _require_single_file_source(sf_dir, "events", "run_stream_dedup")
    deduped = dedup_within_watermark(stream_events(spark, sf_dir))
    return _run_to_memory(
        deduped.select("event_id", "user_id", "event_type"), spark
    )


def stream_stream_attribution(
    events: DataFrame, watermark: str = "2 hours", within: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to the same user's
    view within ``within`` — the canonical two-unbounded-sides join.

    Both sides carry a watermark and the join predicate bounds the event
    time difference, so Spark can expire buffered state: a view older than
    (watermark + within) can never match a future purchase and is evicted.
    Without the time-range condition the state store grows without bound —
    that is the 100 TB failure mode this shape exists to avoid. State is
    hash-partitioned on user_id by the stream-stream join exchange."""
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
        .alias("v")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
        .alias("p")
    )
    return views.join(
        purchases,
        F.expr(
            f"""v.user_id = p.user_id AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + interval {within}"""
        ),
    ).select(
        F.col("v.user_id").alias("user_id"),
        "view_id",
        "purchase_id",
        F.col("purchase_value").cast("double").alias("purchase_value"),
        F.unix_micros(F.col("view_ts")).alias("view_ts_us"),
        F.unix_micros(F.col("purchase_ts")).alias("purchase_ts_us"),
    )
    # epoch-µs bounds + raw-double pass-through (no arithmetic, so the
    # floats are bitwise the parquet values): column-for-column the shape
    # of the oracled batch twin q45 (round-13 upgrade — the formatted
    # timestamp strings were the only blocker keeping s06 rows-only)


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the watermarked stream-stream attribution join end-to-end.

    Oracled against the batch interval join q45: exact only under
    one-microbatch arrival (a cross-batch pair whose view aged past the
    watermark before the purchase arrived would be dropped — correct
    streaming semantics, but not what the batch oracle computes)."""
    _require_single_file_source(sf_dir, "events", "run_stream_stream_join")
    joined = stream_stream_attribution(stream_events(spark, sf_dir))
    return _run_to_memory(joined, spark, "append")


def run_stream_dedup_to_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup → PARQUET FILE SINK with a checkpoint location —
    the production sink shape (exactly-once via the file-sink commit log +
    checkpointed state), where the memory-sink entries are smoke-only.

    Uses the dedup stream because the file sink requires append mode, and
    watermarked aggregates emit nothing in append mode on a single bounded
    microbatch (nothing passes the watermark before input ends) — row-level
    streams append immediately. Returns the sink read back, re-aggregated
    to match s03's output shape. On a cluster the paths become object-store
    URIs; the checkpoint makes restarts resume, not recompute."""
    out = temp_root("spark_graft_stream_sink_")
    ckpt = temp_root("spark_graft_stream_ckpt_")
    deduped = dedup_within_watermark(stream_events(spark, sf_dir)).select(
        "event_id", "user_id", "event_type"
    )
    _require_single_file_source(
        sf_dir, "events", "run_stream_dedup_to_files"
    )
    q = _drain(
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
    )
    # count DATA batches, not batch ids: a watermark-advancing no-data
    # commit batch trails the data batch under availableNow with stateful
    # operators (numInputRows == 0), and is not an arrival-order hazard
    data_batches = [
        p for p in q.recentProgress if int(p.get("numInputRows", 0)) > 0
    ]
    if len(data_batches) != 1:
        raise ValueError(
            "run_stream_dedup_to_files: oracle requires exactly one "
            f"data microbatch, saw {len(data_batches)}"
        )
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_first_seen"))
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (event count, value sum) carried in explicit group
    state across microbatches — the escape hatch for stateful logic the
    built-in windowed aggregates can't express (counters, custom sessions,
    ML feature state).

    State is one (bigint, bigint) tuple per user — fixed-size, keyed,
    partitioned by the stream's groupBy hash shuffle, so state volume
    scales with distinct users, not event volume. Emits the updated totals
    for every user seen in the microbatch (update semantics).

    The running sum is carried in integer CENTS, not a float accumulator
    (round-13 upgrade): the fixture values are 2-decimal money, so the
    state fold is exact and order-independent across microbatches and
    chunk iteration — the published ``sum_value`` (cents / 100, one
    correctly-rounded division) is bit-identical to the batch twin's
    exact-decimal ``money_sum`` publish, which is what lets s04 register
    a value oracle. Per-row cents come from ``round(value * 100)``: the
    doubles are nearest-representations of 2-decimal values, so the
    product is within an ulp of an integer and rounds exactly."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [cents / 100.0],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the custom stateful operator over the bounded fixture stream."""
    totals = running_user_totals(stream_events(spark, sf_dir))
    return _run_to_memory(totals, spark, "update")


def first_seen_per_type(events: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Custom stateful streaming operator with BOUNDED state: emit only the
    FIRST event seen for each (user_id, event_type) pair across
    microbatches — streaming first-touch dedup.

    The state store holds one timestamp per distinct key, which on an
    unbounded key domain (user ids on a 100 TB/day stream) grows forever
    unless evicted: ``ProcessingTimeTimeout`` + ``state.remove()`` gives
    each key a ``ttl_ms`` lease, the same bounded-state discipline
    ``dropDuplicatesWithinWatermark`` applies internally and the knob that
    makes first-touch viable at scale (keys recur within hours, not weeks).
    Spark 4's state-v2 API (``transformWithStateInPandas``) expresses this
    as a per-state ``ttlDurationMs`` instead; it needs the protobuf runtime
    for its state-server protocol, so this engine uses the v1 API that
    runs everywhere.

    ``ttl_ms=None`` disables eviction (NoTimeout): pending processing-time
    leases keep scheduling empty microbatches after a bounded source
    drains, so ``availableNow`` runs over finite fixtures never terminate
    with a live TTL — enable it only on genuinely continuous streams.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _first(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        # struct-min over (ts_us, value): the value tiebreak makes the
        # published first_value deterministic under equal-timestamp rows
        # regardless of chunk/arrival order within the batch — the same
        # total order the batch twin's min(struct(ts_us, value)) and the
        # registered oracle's row_number(ORDER BY ts, value) use (r13)
        first_ts = None
        first_val = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            sub = pdf[pdf["ts_us"] == pdf["ts_us"].min()]
            i = sub["value"].idxmin()
            cand = (int(sub["ts_us"][i]), float(sub["value"][i]))
            if first_ts is None or cand < (first_ts, first_val):
                first_ts, first_val = cand
        if first_ts is not None and not state.exists:
            state.update((first_ts,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "first_ts_us": [first_ts],
                    "first_value": [first_val],
                }
            )

    keyed = events.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )
    return keyed.groupBy("user_id", "event_type").applyInPandasWithState(
        _first,
        outputStructType=(
            "user_id bigint, event_type string, first_ts_us bigint, "
            "first_value double"
        ),
        stateStructType="first_ts_us bigint",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def run_first_seen_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the stateful first-seen operator over the bounded fixture
    stream; returns one row per distinct (user, event_type).

    Oracled against the batch min-struct fold: exact only under
    one-microbatch arrival — across batches the FIRST ARRIVAL wins (the
    operator's contract), which equals the event-time minimum only when
    every row of a key shares a batch."""
    _require_single_file_source(sf_dir, "events", "run_first_seen_stream")
    out = first_seen_per_type(stream_events(spark, sf_dir))
    return _run_to_memory(out, spark, "append")


def run_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-sink streaming via ``foreachBatch``: each microbatch is
    merged into a parquet target as an UPSERT — new keys append, already-
    present keys are skipped — by anti-joining the batch against the
    current target key inventory inside the batch function.

    ``foreachBatch`` is the production escape hatch for sinks without a
    native streaming writer (JDBC upserts, bulk loaders, the reference's
    Cassandra bulk write — a natural fit for its SSTable writer, which is
    batch-shaped): the function receives a BATCH DataFrame plus the epoch
    id and may use the full batch API. Exactly-once comes from the pair
    (checkpointed source offsets, idempotent merge) — a replayed batch
    anti-joins to zero new rows, which the test exercises by re-running
    the stream over the same input.
    """
    out = temp_root("upsert_sink_")
    target = os.path.join(out, "target")
    ck = os.path.join(out, "ck")

    latest = dedup_within_watermark(stream_events(spark, sf_dir))
    epochs: list[int] = []

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        # the stateful dedup upstream makes availableNow schedule a
        # trailing watermark-finalization batch with NO rows — it reaches
        # foreachBatch too; skip it (merging empty adds nothing) and
        # count only DATA batches toward the one-microbatch invariant
        if batch.isEmpty():
            return
        epochs.append(epoch_id)
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

    _drain(
        latest.writeStream.foreachBatch(merge_batch).option(
            "checkpointLocation", ck
        )
    )
    # the per-type upsert-count oracle (s09, r13) counts DISTINCT
    # (user, type) keys, exact only when the dedup feeding the upsert saw
    # all rows in one microbatch — same invariant class as s03/s07/s21,
    # asserted rather than assumed (r12 ADVICE)
    if len(epochs) != 1:
        raise ValueError(
            "run_foreach_batch_upsert: oracle requires exactly one "
            f"data microbatch, saw epochs {epochs}"
        )
    return (
        spark.read.parquet(target)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_upserted"))
    )


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension enrichment: the unbounded events stream
    joined to a bounded dimension snapshot — the everyday production
    shape (facts stream in, dimensions sit in a table). The join is
    STATELESS on the stream side (no watermark, no state store): each
    microbatch joins against the static side, which Spark plans as a
    broadcast when it fits — so the stream never shuffles on the join
    key. The dimension here is a per-user segment table derived
    deterministically from the fixture (user_id mod 5); in production it
    is any slowly-changing table re-read per microbatch.

    Returns per-(segment, event_type) counts re-aggregated in batch from
    the enriched row stream (append mode — row-level joins emit
    immediately; only the summary is small enough to assert on)."""
    ev = stream_events(spark, sf_dir)
    users = (
        _tables.events(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 5).cast("bigint"))
    )
    enriched = ev.join(F.broadcast(users), "user_id").select(
        "event_id", "user_id", "segment", "event_type"
    )
    rows = _run_to_memory(enriched, spark, "append")
    return (
        rows.groupBy("segment", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def tws_available() -> bool:
    """True when the environment can run ``transformWithStateInPandas``:
    the state-v2 API talks to a driver-side state server over protobuf,
    so the Python ``google.protobuf`` runtime must be importable."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def transform_with_state_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (count, sum) via ``transformWithStateInPandas`` —
    the Spark 4 arbitrary-stateful API (successor of
    ``applyInPandasWithState``, s04): typed state handles (ValueState /
    ListState / MapState), timers, and per-state TTL live on a
    ``StatefulProcessor`` object instead of one callback signature.
    State is one (n, total) pair per user — O(distinct keys), the same
    bound as s04/s08 — hash-partitioned by the grouping key.

    Environment gate: the state-v2 protocol requires the Python protobuf
    runtime (``tws_available``); where it is absent (this sandbox), the
    SAME semantics run through the v1 ``applyInPandasWithState`` path —
    the processor class and wiring above it stay real, and the batch-twin
    test (tests/test_streaming_batch_twins.py) pins the values of
    whichever path executed.

    Update output mode: each microbatch emits the keys it touched with
    their latest totals; on the bounded fixture (one microbatch) that is
    one row per user."""
    if not tws_available():
        totals = running_user_totals(stream_events(spark, sf_dir)).select(
            "user_id",
            F.col("n_events").alias("n"),
            F.col("sum_value").alias("total"),
        )
        return _run_to_memory(totals, spark, "update")

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        # state carries exact integer CENTS (r13, in lockstep with the
        # v1 fallback path running_user_totals) so both paths publish
        # the identical bit-exact totals the twin test compares
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._totals.exists():
                n, cents = self._totals.get()
            else:
                n, cents = 0, 0
            for pdf in rows:
                n += len(pdf)
                cents += int(
                    (pdf["value"] * 100).round().astype("int64").sum()
                )
            self._totals.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n": [n], "total": [cents / 100.0]}
            )

        def close(self) -> None:
            pass

    ev = stream_events(spark, sf_dir).select("user_id", "value")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id BIGINT, n BIGINT, total DOUBLE",
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState requires the RocksDB state store provider (its
    # state layout is not supported by the default HDFS-backed provider);
    # scope the switch to this query and restore afterwards.
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        return _run_to_memory(out, spark, "update")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def run_stream_countmin(
    spark: SparkSession, sf_dir: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Streaming count-min sketch maintenance: each microbatch's keys are
    folded into partial CMS cells and APPENDED to a parquet cell store via
    ``foreachBatch``; the live sketch is the merge-on-read aggregate
    ``sum(c) GROUP BY (d, cell)`` — cells are the associative-merge unit,
    so partial appends commute and the store never needs read-modify-write
    (crash-safe: checkpointed offsets + append-only partials; sum-merge is
    NOT idempotent — with the checkpoint lost a replayed batch doubles the
    published counts, measured in tests/test_streaming_semantics.py
    ``test_countmin_store_duplicate_replay_doubles_without_checkpoint`` —
    offset tracking is exactly what buys exactly-once here).

    This is the production shape for continuous frequency monitoring at
    100 TB/day: the per-batch partial is depth*width rows regardless of
    batch size, the store grows by one tiny partial per microbatch, and a
    compaction job may re-aggregate it at leisure. The batch twin
    (``operators/sketches.countmin_cells`` over the same events) must
    produce the IDENTICAL final cell table — the determinism/mergeability
    property tests/test_streaming_batch_twins.py pins.
    """
    from cassandra_analytics_example_spark.operators.sketches import (
        countmin_cells,
    )

    keys = stream_events(spark, sf_dir).select(
        F.col("event_type").alias("__k")
    )
    cells = _fold_store(
        keys,
        lambda batch: countmin_cells(batch, "__k", depth=depth, width=width),
        "cms_sink_",
    )
    return cells.groupBy("d", "cell").agg(F.sum("c").cast("bigint").alias("c"))


def jsonl_ingest_accounting(stream_df: DataFrame) -> DataFrame:
    """Ingestion accounting aggregate over a PERMISSIVE JSONL stream:
    clean/corrupt row counts and a clean-row digest — the
    count-everything-drop-nothing bookkeeping of a continuously-ingesting
    pipeline, as one global streaming aggregate (complete mode; state is
    a single row)."""
    from cassandra_analytics_example_spark.sources.files import CORRUPT_COL

    corrupt = F.col(CORRUPT_COL).isNotNull()
    return stream_df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(corrupt, 0).otherwise(1)).cast("bigint").alias("n_clean"),
        F.sum(F.when(corrupt, 1).otherwise(0)).cast("bigint").alias(
            "n_corrupt"
        ),
        F.sum(F.when(corrupt, 0).otherwise(F.col("doc_id")))
        .cast("bigint")
        .alias("id_sum"),
    )


def run_jsonl_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming JSONL ingestion: export the documents fixture
    to JSON-lines (plus one deliberately malformed file), stream it back
    through the explicit-schema PERMISSIVE reader, and aggregate the
    clean/corrupt accounting — the streaming twin of q123's batch round
    trip, proving the quarantine contract holds under the file-source
    microbatch model."""
    from cassandra_analytics_example_spark.sources.files import (
        CORRUPT_COL,
        write_jsonl,
    )

    docs = _tables.table(spark, sf_dir, "documents")
    out = temp_root("s13_jsonl_")
    write_jsonl(docs, out)
    with open(os.path.join(out, "part-corrupt.json"), "w") as f:
        f.write("this line is not json\n{broken\n")
    schema = (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        f"n_chars BIGINT, {CORRUPT_COL} STRING"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(out)
    )
    return _run_to_memory(jsonl_ingest_accounting(stream), spark, "complete")


def stage_out_of_order_events(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> tuple[int, int]:
    """Stage the events fixture as a deterministic two-microbatch arrival
    sequence: the NEWEST quarter of event time lands first (advancing the
    watermark), the older three quarters arrive second (late relative to
    it). Returns ``(split_us, lateness_us)`` — the staging threshold and
    the lateness allowance sized to the fixture's time range, so both
    on-time and late rows exist in the second batch regardless of fixture
    vintage.

    The file-source orders microbatches by file modification time; the two
    staged files get explicit mtimes to pin batch order.
    """
    ev = _tables.events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts_us"
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    span = hi - lo
    split_us = lo + (3 * span) // 4
    lateness_us = span // 2
    first = os.path.join(out_dir, "batch0")
    second = os.path.join(out_dir, "batch1")
    ev.where(F.col("ts_us") >= split_us).coalesce(1).write.mode(
        "overwrite"
    ).parquet(first)
    ev.where(F.col("ts_us") < split_us).coalesce(1).write.mode(
        "overwrite"
    ).parquet(second)
    now = 1_700_000_000  # fixed epoch: only the ORDER matters
    for d, t in ((first, now), (second, now + 60)):
        for f in os.listdir(d):
            p = os.path.join(d, f)
            os.utime(p, (t, t))
    return split_us, lateness_us


def late_data_audit(
    spark: SparkSession, sf_dir: str, lateness_us: int | None = None
) -> DataFrame:
    """Streaming late-data DEAD-LETTER audit — the side output Spark's
    native watermarking lacks (late rows are silently dropped; production
    pipelines route them to a quarantine sink and account for them).

    A ``foreachBatch`` sink keeps an explicit high-watermark (max event
    time seen across completed microbatches) in a one-row parquet state;
    each batch splits on ``ts_us < watermark - lateness`` — late rows go
    to the quarantine sink, on-time rows to the main sink — then advances
    the watermark. Exactly-once per sink comes from (checkpointed source
    offsets, append-only sinks keyed by epoch overwrite semantics).

    100 TB shape: the split is a partition-parallel filter (no shuffle);
    the per-batch state read/write is ONE row; the max-ts reduction is a
    map-side-combinable aggregate collapsing to a scalar.

    Returns per-event-type accounting: ``n_ontime`` / ``n_late`` counts.
    """
    root = temp_root("s14_late_audit_")
    staged = os.path.join(root, "staged")
    os.makedirs(staged, exist_ok=True)
    _split, auto_lateness = stage_out_of_order_events(spark, sf_dir, staged)
    if lateness_us is None:
        lateness_us = auto_lateness
    ontime_dir = os.path.join(root, "ontime")
    late_dir = os.path.join(root, "late")
    wm_dir = os.path.join(root, "wm")
    ck = os.path.join(root, "ck")

    stream = (
        spark.readStream.schema(
            "event_id BIGINT, user_id BIGINT, event_type STRING, "
            "value DOUBLE, ts_us BIGINT"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(staged, "*"))
    )

    audit_epochs: list[int] = []

    def audit_batch(batch: DataFrame, epoch_id: int) -> None:
        audit_epochs.append(epoch_id)
        sess = batch.sparkSession
        # existence probe first: a plain read of the not-yet-written state
        # dir would log a scary (but caught) FileNotFoundException
        wm = (
            sess.read.parquet(wm_dir).first()[0]
            if os.path.isdir(wm_dir)
            else None
        )
        late = (
            F.col("ts_us") < F.lit(wm - lateness_us)
            if wm is not None
            else F.lit(False)
        )
        tagged = truncate_plan(batch.withColumn("__late", late))
        tagged.where(F.col("__late")).drop("__late").write.mode(
            "append"
        ).parquet(late_dir)
        tagged.where(~F.col("__late")).drop("__late").write.mode(
            "append"
        ).parquet(ontime_dir)
        batch_max = tagged.agg(F.max("ts_us")).first()[0]
        if batch_max is not None:
            new_wm = batch_max if wm is None else max(wm, batch_max)
            sess.createDataFrame([(new_wm,)], "wm BIGINT").coalesce(
                1
            ).write.mode("overwrite").parquet(wm_dir)

    _drain(
        stream.writeStream.foreachBatch(audit_batch).option(
            "checkpointLocation", ck
        )
    )

    # the registered oracle (r13) encodes EXACTLY the staged two-batch
    # plan: batch0 = newest quarter (advances the explicit watermark to
    # the global max), batch1 = the rest, late iff ts < max - lateness.
    # A different batchization routes differently — assert, don't assume
    # (the staging pins mtimes and maxFilesPerTrigger=1, so this is a
    # tripwire for environment drift, not an expected path)
    if len(audit_epochs) != 2:
        raise ValueError(
            "late_data_audit: oracle requires the staged two-microbatch "
            f"arrival, saw epochs {audit_epochs}"
        )

    def counts(path: str, col: str) -> DataFrame:
        try:
            df = spark.read.parquet(path)
        except Exception:
            return spark.createDataFrame(
                [], f"event_type STRING, {col} BIGINT"
            )
        return df.groupBy("event_type").agg(F.count(F.lit(1)).alias(col))

    return (
        counts(ontime_dir, "n_ontime")
        .join(counts(late_dir, "n_late"), "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("n_ontime", F.lit(0)).cast("bigint").alias("n_ontime"),
            F.coalesce("n_late", F.lit(0)).cast("bigint").alias("n_late"),
        )
    )


def run_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-count maintenance via mergeable HyperLogLog:
    each microbatch's keys fold into a 256-register partial APPENDED to a
    parquet register store via ``foreachBatch``; the live sketch is the
    merge-on-read ``max(r) GROUP BY bucket`` — max is associative,
    commutative AND idempotent, so partial appends commute and a REPLAYED
    batch is harmless even without the checkpoint (stronger than the
    count-min sum-merge, which needs offset tracking for exactly-once).
    Not just a docstring claim: tests/test_streaming_semantics.py
    (``test_hll_store_duplicate_replay_is_idempotent``) deletes the
    checkpoint, replays the identical batch so the store really holds
    duplicate partials, and asserts the published registers bit-identical.

    The batch twin (``operators/sketches.hll_registers`` over the same
    keys) must produce the IDENTICAL register table — pinned by
    tests/test_streaming_batch_twins.py. Returns (bucket, r).
    """
    from cassandra_analytics_example_spark.operators.sketches import (
        hll_registers,
    )

    keys = stream_events(spark, sf_dir).select(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.col("event_type"),
        ).alias("__k")
    )

    regs = _fold_store(
        keys, lambda batch: hll_registers(batch, "__k"), "hll_sink_"
    )
    return regs.groupBy("bucket").agg(F.max("r").alias("r"))


def run_stream_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming volume-anomaly monitoring: each microbatch folds to
    partial (event_type, hr, n) hourly counts APPENDED to a parquet count
    store via ``foreachBatch`` (associative sum-merge unit — same
    exactly-once caveat as the count-min store: replay protection comes
    from the checkpoint's offset tracking, documented at s12); the live
    hourly table is the merge-on-read ``sum(n) GROUP BY type, hr``, and
    the anomaly layer is the SAME exact-integer 2-sigma algebra as the
    batch audit (operators/profiling.py:hourly_anomaly_flags), so the
    streaming-maintained flags are bit-identical to q144's — pinned by
    tests/test_streaming_batch_twins.py. Returns (event_type, hr, n, side).
    """
    from cassandra_analytics_example_spark.operators.profiling import (
        hourly_anomaly_flags,
    )

    ev = stream_events(spark, sf_dir).select(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("hr"),
    )
    partials = _fold_store(
        ev,
        lambda batch: batch.groupBy("event_type", "hr").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ),
        "hourly_anom_",
    )
    hourly = partials.groupBy("event_type", "hr").agg(
        F.sum("n").cast("bigint").alias("n")
    )
    return hourly_anomaly_flags(hourly)


def run_stream_chunk_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming content-addressable chunk-store maintenance: each
    microbatch of documents folds its payload chunks to partial
    (digest, refcount, bytes) rows APPENDED to a parquet store via
    ``foreachBatch`` (sum-merge unit, same exactly-once stance as the
    count-min store s12); the live store is the merge-on-read
    ``sum(refcount) GROUP BY digest`` and the published report is the
    refcount histogram — BIT-IDENTICAL to the batch accounting (q155,
    operators/multimodal.py:chunk_dedup_stats), pinned by
    tests/test_streaming_batch_twins.py.
    """
    from cassandra_analytics_example_spark.operators.multimodal import (
        attach_audio_payload,
    )

    probe = _tables.schema(spark, sf_dir, "documents")
    docs = (
        spark.readStream.schema(probe)
        .format("parquet")
        .option("path", sf_dir)
        .option("pathGlobFilter", "documents.parquet")
        .load()
    )
    payloads = attach_audio_payload(docs).select("doc_id", "payload")

    def fold(batch: DataFrame) -> DataFrame:
        ln = F.length(F.col("payload"))
        idx = F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(ln.cast("double") / F.lit(64)).cast("int") - F.lit(1),
            )
        ).alias("i")
        return (
            batch.where(ln > 0)
            .select(F.col("payload"), idx)
            .select(
                F.md5(F.expr("substring(payload, 1 + 64 * i, 64)")).alias(
                    "h"
                ),
                F.length(
                    F.expr("substring(payload, 1 + 64 * i, 64)")
                ).alias("b"),
            )
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"), F.max("b").alias("b"))
        )

    store = (
        _fold_store(payloads, fold, "chunk_store_")
        .groupBy("h")
        .agg(F.sum("n").alias("refcount"), F.max("b").alias("b"))
    )
    return store.groupBy("refcount").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("b").cast("bigint").alias("unique_bytes"),
        (F.sum("b") * F.col("refcount")).cast("bigint").alias("logical_bytes"),
    ).select(
        F.col("refcount").cast("bigint").alias("refcount"),
        "n_chunks",
        "unique_bytes",
        "logical_bytes",
    )


def run_stream_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-freshness monitoring: each microbatch folds to
    partial (event_type, newest, n) rows APPENDED to a parquet store via
    ``foreachBatch`` — max and count are both associative merge units, so
    the live per-type state is the merge-on-read ``max(newest), sum(n)``
    and the global high-water mark is the max over types.  The published
    report is the SAME exact-integer minute-lag + 24h staleness row as
    the batch audit q162, bit-identical to it (pinned by
    tests/test_streaming_batch_twins.py).  Returns
    (event_type, n_events, lag_minutes, stale).
    """
    ev = stream_events(spark, sf_dir).select(
        "event_type", F.unix_micros("ts").alias("ts_us")
    )
    partials = _fold_store(
        ev,
        lambda batch: batch.groupBy("event_type").agg(
            F.max("ts_us").alias("newest"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        ),
        "freshness_",
    )
    state = partials.groupBy("event_type").agg(
        F.max("newest").alias("newest"),
        F.sum("n").cast("bigint").alias("n_events"),
    )
    hw = state.agg(F.max("newest").alias("hwm"))
    return state.crossJoin(F.broadcast(hw)).select(
        "event_type",
        "n_events",
        F.expr("(hwm - newest) div 60000000").cast("bigint").alias(
            "lag_minutes"
        ),
        (F.col("hwm") - F.col("newest") > F.lit(86_400_000_000)).alias(
            "stale"
        ),
    )


def run_stream_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming zone-map maintenance: each microbatch folds to partial
    per-day (n, max_cents, max_ts) rows APPENDED via ``foreachBatch`` —
    count merges by sum, the zone bounds by max, so the live stats table
    is the merge-on-read ``sum/max GROUP BY day`` and feeds the same
    pruning audit as the batch layer (q175).  The maintained stats are
    BIT-IDENTICAL to a batch recompute (pinned by
    tests/test_streaming_batch_twins.py).  Returns
    (day, n, max_c, day_max_ts).
    """
    ev = stream_events(spark, sf_dir).select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
        F.unix_micros("ts").alias("ts_us"),
    )

    partials = _fold_store(
        ev,
        lambda batch: batch.groupBy("day").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("cents").alias("max_c"),
            F.max("ts_us").alias("day_max_ts"),
        ),
        "zonemap_",
    )
    return partials.groupBy("day").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.max("max_c").alias("max_c"),
        F.max("day_max_ts").alias("day_max_ts"),
    )


def run_stream_sliding_topk(
    spark: SparkSession, sf_dir: str, k: int = 3
) -> DataFrame:
    """Sliding-window heavy hitters: the watermarked 1h/30min sliding
    counts run in streaming mode (same operator as s05), then the top-k
    event types per window are ranked on the MATERIALIZED aggregate — a
    window function over a streaming aggregate is not executable
    mid-stream, and the published top-k is the same merge-on-read publish
    pattern as s15/s17–s19: the stream maintains mergeable per-window
    counts, the report pass is bounded by (windows × types), never by the
    event volume. Ranking carries the event-type tiebreak so the top-k is
    total-ordered and deterministic."""
    from pyspark.sql import Window

    agg = sliding_aggregate(stream_events(spark, sf_dir))
    mat = _run_to_memory(agg, spark, "complete")
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        mat.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "window_start",
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def run_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental ingest dedup: a recrawl stream (doc_id % 3)
    checked against a PERSISTED md5 inventory (seeded from doc_id % 7 —
    the q61 scenario in streaming form). Each microbatch anti-joins its
    content hashes against the current inventory, appends the survivors
    to the accepted store, and appends their hashes to the inventory —
    so later microbatches also dedupe against earlier accepted ones
    (the inventory GROWS with the stream, which the batch operator
    can't express). The inventory is a hash-only table (32 bytes/doc);
    the anti-join is hash-keyed, never corpus-wide. Offsets are
    checkpointed (availableNow), so each file is folded once; replays
    after a checkpoint wipe would re-append — the same
    at-least-once-without-checkpoint stance as s12/s15, documented.

    Batch twin: q61 (single-file source = one microbatch, so the
    stream's extra within-stream growth is a no-op on the fixture and
    the accepted set is BIT-IDENTICAL to the batch anti-join)."""
    out = temp_root("stream_inc_dedup_")
    inv = os.path.join(out, "inventory")
    acc = os.path.join(out, "accepted")
    ck = os.path.join(out, "ck")
    base = _tables.table(spark, sf_dir, "documents")
    (
        base.where(F.col("doc_id") % 7 == 0)
        .select(F.md5("text").alias("content_hash"))
        .write.mode("overwrite")
        .parquet(inv)
    )
    probe = base.schema
    stream = (
        spark.readStream.schema(probe)
        .format("parquet")
        .option("path", sf_dir)
        .option("pathGlobFilter", "documents.parquet")
        .load()
        .where(F.col("doc_id") % 3 == 0)
        .select("doc_id", F.md5("text").alias("content_hash"))
    )

    epochs: list[int] = []

    def fold_batch(batch: DataFrame, epoch_id: int) -> None:
        epochs.append(epoch_id)
        seen = batch.sparkSession.read.parquet(inv)
        fresh = batch.join(seen, "content_hash", "left_anti")
        fresh = fresh.persist()
        try:
            fresh.write.mode("append").parquet(acc)
            fresh.select("content_hash").write.mode("append").parquet(inv)
        finally:
            fresh.unpersist()

    _drain(
        stream.writeStream.foreachBatch(fold_batch).option(
            "checkpointLocation", ck
        )
    )
    # the registered oracle is q61's STATIC anti-join, sound only because
    # the single-file source makes the stream exactly one microbatch (with
    # several, the growing inventory would also drop cross-batch duplicate
    # texts that q61 keeps) — assert the invariant instead of assuming it
    # (r12 ADVICE)
    if len(epochs) != 1:
        raise ValueError(
            "run_stream_incremental_dedup: q61 oracle requires exactly one "
            f"microbatch, saw epochs {epochs}"
        )
    return spark.read.parquet(acc)


def run_stream_stream_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every view joins its
    user's purchases within 1 hour; views that never match are emitted
    null-padded ONLY once the watermark passes their last possible match
    time (view_ts + 1h) — before that the row might still match a late
    purchase, so outer results are held in state. This
    emit-on-state-expiry behavior is the defining difference from the
    inner join (s06): the unmatched-side output is watermark-gated, and
    views younger than (final watermark - 1h) are legitimately ABSENT
    from a bounded run's output. State stays bounded by the same
    time-range condition as s06.

    Batch twin: left join + the same watermark inequality
    (tests/test_streaming_batch_twins.py pins matched AND null-padded
    rows to the batch recompute). Oracled (r13) under the one-microbatch
    invariant: with a single data batch, the finalization watermark is
    (global max ts - 2h) and the emitted set is exactly the twin formula;
    multi-batch arrival would gate null-side emission on intermediate
    watermarks the batch oracle cannot see — asserted, not assumed."""
    _require_single_file_source(
        sf_dir, "events", "run_stream_stream_outer_join"
    )
    events = stream_events(spark, sf_dir)
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
        .alias("v")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
        .alias("p")
    )
    joined = views.join(
        purchases,
        F.expr(
            """v.user_id = p.user_id AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + interval 1 hour"""
        ),
        "leftOuter",
    ).select(
        F.col("v.user_id").alias("user_id"),
        "view_id",
        "purchase_id",
        F.unix_micros(F.col("view_ts")).alias("view_ts_us"),
    )
    return _run_to_memory(joined, spark, "append")


def run_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor: the monitoring setup pins a baseline
    histogram (first time-half, the q192 split) once; the stream folds
    the second half's per-(type, bucket) COUNT PARTIALS into an appended
    store via ``foreachBatch`` (sum is the merge unit — the s12/s16
    stance), and the published report joins baseline with the
    merged-on-read live histogram and computes the same
    micro-unit-quantized PSI as the batch monitor. Because sum-merge is
    exact and the per-bucket terms quantize BEFORE summation, the
    published table is BIT-IDENTICAL to q192's batch recompute
    (tests/test_streaming_batch_twins.py)."""
    bb = _tables.events(spark, sf_dir).select("event_type", "ts_us", "value")
    mid = bb.agg(
        ((F.min("ts_us") + F.max("ts_us")) / F.lit(2))
        .cast("bigint")
        .alias("m")
    ).first()["m"]
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / 10).cast("bigint"), F.lit(0)),
        F.lit(9),
    )
    base_h = truncate_plan(
        bb.where(F.col("ts_us") < mid)
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    live_stream = (
        stream_events(spark, sf_dir)
        .select("event_type", F.unix_micros("ts").alias("ts_us"), "value")
        .where(F.col("ts_us") >= mid)
    )
    live_h = (
        _fold_store(
            live_stream,
            lambda batch: batch.select("event_type", bucket.alias("bucket"))
            .groupBy("event_type", "bucket")
            .agg(F.count(F.lit(1)).alias("c2")),
            "stream_psi_",
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("c2").alias("c2"))
    )
    c = (
        base_h.join(live_h, ["event_type", "bucket"], "full_outer")
        .select(
            "event_type",
            "bucket",
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
            F.coalesce(F.col("c2"), F.lit(0)).alias("c2"),
        )
    )
    n = c.groupBy("event_type").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    terms = c.join(n, "event_type").select(
        "event_type",
        F.floor(
            F.lit(1000000.0)
            * (
                (F.col("c1") + 1.0) / (F.col("n1") + 10.0)
                - (F.col("c2") + 1.0) / (F.col("n2") + 10.0)
            )
            * F.log(
                ((F.col("c1") + 1.0) / (F.col("n1") + 10.0))
                / ((F.col("c2") + 1.0) / (F.col("n2") + 10.0))
            )
        )
        .cast("bigint")
        .alias("t_micro"),
    )
    return terms.groupBy("event_type").agg(
        F.sum("t_micro").cast("bigint").alias("psi_micro"),
        (F.sum("t_micro") > 100000).alias("drifted"),
    )


def run_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bar maintenance: each microbatch folds its events
    to per-(type, hour) PARTIAL bars — (first ord, open), (last ord,
    close), high, low, count — appended via ``foreachBatch``. Every
    component is a mergeable unit: open = value at the MIN ordering key
    across partials (argmin of argmins), close = at the MAX, high/low =
    max/min, n = sum — so the merged-on-read published table is
    BIT-IDENTICAL to the batch q200 at any microbatch split (twin gate:
    tests/test_streaming_batch_twins.py). The ordering key is the same
    wide-decimal (ts, event_id) total order as q200."""
    base = stream_events(spark, sf_dir).select(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000")
        .cast("bigint")
        .alias("hour_bucket"),
        (
            F.unix_micros("ts").cast("decimal(38,0)") * 10000000
            + F.col("event_id")
        ).alias("ord"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )

    partials = _fold_store(
        base,
        lambda batch: batch.groupBy("event_type", "hour_bucket").agg(
            F.min("ord").alias("o_ord"),
            F.min_by("cents", "ord").alias("o_cents"),
            F.max("cents").alias("high"),
            F.min("cents").alias("low"),
            F.max("ord").alias("c_ord"),
            F.max_by("cents", "ord").alias("c_cents"),
            F.count(F.lit(1)).alias("n"),
        ),
        "stream_ohlc_",
    )
    return partials.groupBy("event_type", "hour_bucket").agg(
        F.min_by("o_cents", "o_ord").cast("bigint").alias("open_cents"),
        F.max("high").cast("bigint").alias("high_cents"),
        F.min("low").cast("bigint").alias("low_cents"),
        F.max_by("c_cents", "c_ord").cast("bigint").alias("close_cents"),
        F.sum("n").cast("bigint").alias("n"),
    )


def replay_safe_partials(appended: DataFrame) -> DataFrame:
    """Collapse at-least-once-replayed top-k partials to one row per
    document. foreachBatch replays append a batch's local top-k AGAIN,
    and a naive top-k over duplicated partials keeps two copies of each
    winner, crowding real rank-k rows out (pinned by
    tests/test_streaming_semantics.py::test_replay_topk_*) — so dedupe
    on the ROW IDENTITY KEY (doc_id), not full-row ``distinct()``:
    es_key goes through ``java.lang.Math.log``, which is not guaranteed
    bit-reproducible across JVMs/executors, so a replay on a
    heterogeneous cluster could re-emit a last-ulp-divergent duplicate
    that full-row distinct would keep (r12 ADVICE; the ulp case is
    pinned by tests/test_streaming_semantics.py::test_replay_ulp_*).
    ``min()`` over the replicas is deterministic either way; w is exact
    bigint. (The Spark 4.1 INTERNAL_ERROR previously noted here was
    triggered by exceptAll in the test harness, not by this groupBy
    publish.)"""
    return appended.groupBy("doc_id").agg(
        F.min("w").alias("w"), F.min("es_key").alias("es_key")
    )


def run_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming weighted sampling without replacement: each microbatch
    computes the deterministic Efraimidis–Spirakis key (ln(md5-uniform)/w,
    the q185 formula) for its documents and appends its LOCAL top-k; the
    published sample is the top-k of the appended partials. Top-k is a
    mergeable unit (the global top-k is always contained in the union of
    per-batch top-ks), and the key is deterministic, so the published
    sample is BIT-IDENTICAL to the batch q185 at any microbatch split —
    the resumable-sampling property a training pipeline needs (twin
    gate: tests/test_streaming_batch_twins.py)."""
    from pyspark.sql import Window

    k = 50
    den = float(1 << 60)
    probe = _tables.schema(spark, sf_dir, "documents")
    docs = (
        spark.readStream.schema(probe)
        .format("parquet")
        .option("path", sf_dir)
        .option("pathGlobFilter", "documents.parquet")
        .load()
    )
    keyed = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("w"),
        (
            F.log(
                (
                    F.expr(
                        "cast(conv(substring(md5(cast(doc_id as string)), "
                        "1, 15), 16, 10) as bigint)"
                    )
                    + F.lit(1)
                )
                / F.lit(den)
            )
            / F.col("n_chars")
        ).alias("es_key"),
    )

    partials = replay_safe_partials(
        _fold_store(
            keyed,
            lambda batch: batch.orderBy(
                F.col("es_key").desc(), F.col("doc_id").asc()
            ).limit(k),
            "stream_wsample_",
        )
    )
    top = partials.orderBy(
        F.col("es_key").desc(), F.col("doc_id").asc()
    ).limit(k)
    w = Window.orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", "w", F.row_number().over(w).cast("int").alias("rnk")
    )


def threshold_alerts(events: DataFrame) -> DataFrame:
    """Stateful threshold up-crossing detection (streaming twin of q228):
    per (user_id, event_type) key, an alert fires when the value crosses
    from below to at-or-above the type's threshold between consecutive
    events in (ts, event_id) order.

    State per key is ONE integer — the side (below/above) of the key's
    last-seen event — so state size is O(live keys), independent of
    stream length. Each microbatch sorts its own rows for the key (batch-
    local, bounded) and counts in-batch crossings plus the boundary
    crossing against the carried side.

    Cross-batch correctness assumes per-key ord-monotonic arrival — the
    contract a Kafka topic keyed by user gives (per-partition order);
    the file-source harness satisfies it trivially. This is the same
    assumption every last-write-wins streaming consumer makes, stated
    here instead of hidden."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    thresholds = {
        "error": 100.0,
        "signup": 150.0,
        "view": 200.0,
        "click": 250.0,
        "purchase": 300.0,
    }

    def _alerts(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        chunks = [p for p in pdfs if len(p) > 0]
        if not chunks:
            return
        pdf = (
            pd.concat(chunks)
            .sort_values(["ts_us", "event_id"])
            .reset_index(drop=True)
        )
        thr = thresholds.get(key[1], 300.0)
        side = (pdf["value"] >= thr).astype("int64")
        n_up = int(((side.shift(1) == 0) & (side == 1)).sum())
        if state.exists:
            (last_side,) = state.get
            if last_side == 0 and int(side.iloc[0]) == 1:
                n_up += 1
        state.update((int(side.iloc[-1]),))
        if n_up > 0:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_type": [key[1]],
                    "n_up": [n_up],
                }
            )

    keyed = events.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        "value",
    )
    return keyed.groupBy("user_id", "event_type").applyInPandasWithState(
        _alerts,
        outputStructType="user_id bigint, event_type string, n_up bigint",
        stateStructType="last_side bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_threshold_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the threshold-alert operator over the bounded fixture stream
    and summarize: per event type, total alerts and distinct alerted
    users (keys emit at most one row per microbatch, so the distinct is
    over a per-batch-emissions table, not raw events)."""
    out = threshold_alerts(stream_events(spark, sf_dir))
    per_batch = _run_to_memory(out, spark, "append")
    return per_batch.groupBy("event_type").agg(
        F.sum("n_up").cast("bigint").alias("n_alerts"),
        F.count_distinct("user_id").cast("bigint").alias("n_users_alerted"),
    )


def run_stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming two-sample KS drift monitor: the baseline per-value
    count table (first time-half of purchase values, the q246 split) is
    pinned once; the stream folds the second half's per-value COUNT
    PARTIALS into an appended store via ``foreachBatch`` (sum is the
    merge unit — the s12/s16/s23 stance), and the published report runs
    the count-level KS algebra (``operators/rankstats.py:
    ks_from_counts``) on baseline ⋈ merged-on-read live counts.
    Count partials sum-merge exactly and the KS layer is pure integer
    cross-multiplication, so the published row is BIT-IDENTICAL to the
    batch q246 at any microbatch split
    (tests/test_streaming_batch_twins.py)."""
    from cassandra_analytics_example_spark.operators.rankstats import (
        ks_from_counts,
    )

    bb = (
        _tables.events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            "ts_us", F.round(F.col("value") * 100).cast("bigint").alias("v")
        )
    )
    mid = bb.agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2").alias("m")
    ).first()["m"]
    base_h = truncate_plan(
        bb.where(F.col("ts_us") < mid)
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    )
    live_stream = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.unix_micros("ts").alias("ts_us"),
            F.round(F.col("value") * 100).cast("bigint").alias("v"),
        )
        .where(F.col("ts_us") >= mid)
    )
    live_h = (
        _fold_store(
            live_stream,
            lambda batch: batch.groupBy("v").agg(
                F.count(F.lit(1)).cast("bigint").alias("nb")
            ),
            "stream_ks_",
        )
        .groupBy("v")
        .agg(F.sum("nb").alias("nb"))
    )
    g = (
        base_h.join(live_h, ["v"], "full_outer")
        .select(
            F.col("v").alias("__v"),
            F.coalesce(F.col("na"), F.lit(0)).cast("bigint").alias("__na"),
            F.coalesce(F.col("nb"), F.lit(0)).cast("bigint").alias("__nb"),
        )
    )
    return ks_from_counts(g)


def run_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM changepoint monitor: each microbatch folds its
    events to per-hour COUNT PARTIALS appended via ``foreachBatch``
    (sum is the merge unit); the published report densifies the
    merged-on-read hourly table over the observed range and runs the
    integer CUSUM scan (``operators/rankstats.py:
    cusum_changepoint_from_counts``).  Count partials sum-merge exactly
    and the scan is pure integer arithmetic, so the published row is
    BIT-IDENTICAL to the batch q249 at any microbatch split
    (tests/test_streaming_batch_twins.py)."""
    from cassandra_analytics_example_spark.operators.rankstats import (
        cusum_changepoint_from_counts,
        densify_counts,
    )

    ts_us = stream_events(spark, sf_dir).select(
        F.unix_micros("ts").alias("ts_us")
    )
    partials = _fold_store(
        ts_us,
        lambda batch: batch.groupBy(
            F.expr("ts_us div 3600000000").alias("h")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("c")),
        "stream_cusum_",
    )
    e = partials.groupBy("h").agg(F.sum("c").cast("bigint").alias("c"))
    return cusum_changepoint_from_counts(densify_counts(e))


def run_stream_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming serving-feature maintenance: each user's q269 feature
    row (latest purchase, two lags, trailing-3 mean) depends only on the
    user's THREE most recent purchases — and per-user top-3-by-recency
    is a MERGEABLE partial (the global top-3 is contained in the union
    of per-microbatch top-3s). Each batch appends its per-user top-3
    candidates via ``foreachBatch``; the publish step re-selects the
    global top-3 per user from the merged-on-read candidate store and
    assembles the exact feature row — BIT-IDENTICAL to the batch q269
    at any microbatch split (tests/test_streaming_batch_twins.py)."""
    from pyspark.sql import Window

    purchases = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    partials = _fold_store(
        purchases,
        lambda batch: batch.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= 3)
        .drop("__r"),
        "stream_lagf_",
    )
    # foreachBatch is at-least-once: a retried batch may append its
    # candidates twice, so dedupe on the event identity before ranking —
    # otherwise two copies of the same purchase would occupy rk 1 and 2
    cand = partials.dropDuplicates(["user_id", "event_id"])
    top3 = cand.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= 3
    )
    return (
        top3.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("cents"))).alias("cents"),
            F.max(F.when(F.col("rk") == 2, F.col("cents"))).alias("l1"),
            F.max(F.when(F.col("rk") == 3, F.col("cents"))).alias("l2"),
            F.sum("cents").cast("bigint").alias("sum3"),
            F.count("*").cast("bigint").alias("cnt3"),
        )
        .select(
            "user_id",
            F.col("cents").cast("bigint").alias("cents"),
            F.coalesce(F.col("l1"), F.lit(-1))
            .cast("bigint")
            .alias("lag1_cents"),
            F.coalesce(F.col("l2"), F.lit(-1))
            .cast("bigint")
            .alias("lag2_cents"),
            F.expr("cast(sum3 * 100 div cnt3 as bigint)").alias(
                "mean3_centicents"
            ),
        )
    )


def run_stream_metrics_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming semantic-layer maintenance with EXACT medians: each
    microbatch folds its purchase/click events to per-(type, day, cents)
    COUNT PARTIALS appended via ``foreachBatch`` (sum is the merge
    unit); the publish step derives BOTH the additive metrics (count,
    sum, min, max — all recoverable from the count table) AND the exact
    interpolated p50 (``operators/quantiles.py:
    group_quantiles_from_counts`` — same rank arithmetic and
    interpolation as the row-level selector) from the merged-on-read
    table, so the published metrics table is BIT-IDENTICAL to the batch
    q272 at any microbatch split
    (tests/test_streaming_batch_twins.py)."""
    from cassandra_analytics_example_spark.operators.quantiles import (
        group_quantiles_from_counts,
    )

    rows = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type").isin("purchase", "click"))
        .select(
            "event_type",
            F.floor(F.unix_micros("ts") / F.lit(86_400_000_000))
            .cast("bigint")
            .alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    merged = (
        _fold_store(
            rows,
            lambda batch: batch.groupBy("event_type", "day", "cents").agg(
                F.count(F.lit(1)).cast("bigint").alias("c")
            ),
            "stream_metrics_",
        )
        .groupBy("event_type", "day", "cents")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    add_m = merged.groupBy("event_type", "day").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("cents") * F.col("c")).cast("bigint").alias(
            "total_cents"
        ),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
    )
    med = group_quantiles_from_counts(
        merged.withColumn(
            "gkey",
            F.concat_ws("|", "event_type", F.col("day").cast("string")),
        ),
        "gkey",
        "cents",
        "c",
        {"p50_cents": 0.5},
    ).select(
        F.split("gkey", "\\|").getItem(0).alias("event_type"),
        F.split("gkey", "\\|").getItem(1).cast("bigint").alias("day"),
        "p50_cents",
    )
    return add_m.join(med, ["event_type", "day"]).select(
        "event_type",
        F.col("day").cast("bigint").alias("day"),
        "n",
        "total_cents",
        "min_cents",
        "max_cents",
        "p50_cents",
    )
