"""Value-level batch-twin equivalence for the streaming operators at
sf0.01 (VERDICT r2 #6): every streaming query whose driver row is
rows-only gets a full-value gate against its deterministic batch twin on
the oracle-scale fixture — s01↔q15, s02↔q107, s03↔batch distinct,
s04↔batch groupBy, s05↔q38, s06↔q45, s07↔batch first-occurrence
counts, s08↔batch min-ts, s10↔batch join, s12↔batch countmin_cells.

Equality is exact on keys/counts AND — since round 13 — on the money
aggregates: the streaming publishes fold in exact decimal / integer
cents (the oracle upgrade), so the twin compare needs no rounding
anywhere. The batch sides use the same money_sum fold.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF01 = os.environ.get("SPARK_GRAFT_TWIN_DIR", "/root/testdata/sf0.01")


def _assert_same(got, want) -> None:
    # every store drains its stream before returning: nothing left running
    assert got.sparkSession.streams.active == []
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0




def test_s05_sliding_stream_matches_q38(spark):
    from cassandra_analytics_example_spark.queries.events import (
        q38_sliding_windows,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_sliding_stream,
    )

    got = run_sliding_stream(spark, SF01)
    want = q38_sliding_windows(spark, SF01)
    _assert_same(got, want.select(*got.columns))


def test_s06_stream_stream_join_matches_q45(spark):
    from cassandra_analytics_example_spark.queries.events import (
        q45_view_purchase_attribution,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_stream_join,
    )

    # r13: the stream publishes epoch-µs times and the raw double value
    # (the oracled shape) — exact column-for-column compare, no rounding
    got = run_stream_stream_join(spark, SF01)
    want = q45_view_purchase_attribution(spark, SF01)
    _assert_same(got, want.select(*got.columns))


def test_s08_first_seen_matches_batch_min_ts(spark):
    from cassandra_analytics_example_spark.queries._tables import events
    from cassandra_analytics_example_spark.streaming.windows import (
        run_first_seen_stream,
    )

    got = run_first_seen_stream(spark, SF01)
    want = (
        events(spark, SF01)
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
    _assert_same(got, want.select(*got.columns))


def test_s01_tumbling_stream_matches_q15_counts(spark):
    """Tumbling twin at oracle scale: the streaming complete-mode output
    must agree with the batch windowed aggregate on every (window,
    event_type) count and rounded sum."""
    from cassandra_analytics_example_spark.queries._tables import events
    from cassandra_analytics_example_spark.streaming.windows import (
        run_tumbling_stream,
    )

    from cassandra_analytics_example_spark.functions.numeric import money_sum

    got = run_tumbling_stream(spark, SF01)
    want = (
        events(spark, SF01)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), money_sum("value", "sum_value"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    _assert_same(got, want.select(*got.columns))


def test_s10_stream_static_join_matches_batch(spark):
    from cassandra_analytics_example_spark.queries._tables import events
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_static_join,
    )

    got = run_stream_static_join(spark, SF01)
    ev = events(spark, SF01)
    users = (
        ev.select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 5).cast("bigint"))
    )
    want = (
        ev.join(users, "user_id")
        .groupBy("segment", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    _assert_same(got, want.select(*got.columns))


def test_s11_transform_with_state_matches_batch(spark):
    from cassandra_analytics_example_spark.queries._tables import events
    from cassandra_analytics_example_spark.streaming.windows import (
        transform_with_state_totals,
    )

    from cassandra_analytics_example_spark.functions.numeric import money_sum

    # r13: both state paths accumulate exact cents — exact compare
    got = transform_with_state_totals(spark, SF01)
    want = (
        events(spark, SF01)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            money_sum("value", "total"),
        )
    )
    _assert_same(got, want.select(*got.columns))


def test_s12_stream_countmin_matches_batch_sketch(spark):
    """The incrementally-maintained CMS cell table (per-microbatch partial
    appends, merge-on-read sum) must equal the single-pass batch sketch
    cell-for-cell — the associative-merge property that makes the sketch
    maintainable over an unbounded stream."""
    from cassandra_analytics_example_spark.operators.sketches import (
        countmin_cells,
    )
    from cassandra_analytics_example_spark.queries._tables import table
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_countmin,
    )

    got = run_stream_countmin(spark, SF01, depth=4, width=64)
    ev = table(spark, SF01, "events").select(
        F.col("event_type").alias("__k")
    )
    want = countmin_cells(ev, "__k", depth=4, width=64).withColumn(
        "c", F.col("c").cast("bigint")
    )
    _assert_same(got, want)


def test_s02_session_stream_matches_q107(spark):
    """Session-window twin: the streaming F.session_window gap-merge
    (complete mode over the bounded fixture) must reproduce the batch
    session_window aggregate (q107, itself oracle-gated against the SQL
    gap-and-islands formulation) on every (user, start, end, count)."""
    from cassandra_analytics_example_spark.queries.events import (
        q107_batch_session_window,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_sessionized_stream,
    )

    # r13: the stream publishes epoch-µs bounds directly (the oracled
    # shape) — the twin compare is now column-for-column, no conversion
    got = run_sessionized_stream(spark, SF01)
    want = q107_batch_session_window(spark, SF01)
    _assert_same(got, want.select(*got.columns))


def test_s03_stream_dedup_matches_batch_distinct(spark):
    """Streaming first-occurrence dedup twin: with the bounded fixture in
    one microbatch no state expires mid-run, so the per-type count of
    first-seen rows must equal the batch count of distinct users per
    event_type — and the deduped rows themselves must be one per
    (user_id, event_type)."""
    from cassandra_analytics_example_spark.queries._tables import events
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_dedup,
    )

    rows = run_stream_dedup(spark, SF01)
    assert (
        rows.groupBy("user_id", "event_type").count().filter("count > 1").count()
        == 0
    )
    got = rows.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_first_seen")
    )
    want = events(spark, SF01).groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_first_seen")
    )
    _assert_same(got, want.select(*got.columns))


def test_s04_stateful_totals_match_batch_groupby(spark):
    """Custom-stateful-operator twin: the FINAL state per user emitted by
    applyInPandasWithState (update mode; take the max-count update per
    user to stay correct under any microbatch split) must equal the batch
    per-user count/sum."""
    from cassandra_analytics_example_spark.queries._tables import events
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stateful_totals,
    )

    updates = run_stateful_totals(spark, SF01)
    got = (
        updates.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_events").alias("n_events"),
                    F.col("sum_value").alias("sum_value"),
                )
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.n_events").alias("n_events"),
            F.col("m.sum_value").alias("sum_value"),
        )
    )
    from cassandra_analytics_example_spark.functions.numeric import money_sum

    want = (
        events(spark, SF01)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            money_sum("value", "sum_value"),
        )
    )
    _assert_same(got, want.select(*got.columns))


def test_s07_file_sink_contents_match_batch(spark):
    """File-sink twin: the parquet the checkpointed streaming sink commits
    (read back and re-aggregated by s07's runner) must carry exactly the
    batch first-occurrence counts — the exactly-once commit log neither
    drops nor duplicates rows."""
    from cassandra_analytics_example_spark.queries._tables import events
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_dedup_to_files,
    )

    got = run_stream_dedup_to_files(spark, SF01)
    want = events(spark, SF01).groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_first_seen")
    )
    _assert_same(got, want.select(*got.columns))


def test_s13_jsonl_ingest_matches_batch_digest(spark):
    """Streaming ingestion twin: the clean/corrupt accounting the streaming
    PERMISSIVE reader aggregates must equal the batch round trip's digest —
    clean count and id sum match the parquet fixture exactly, and exactly
    the two planted malformed lines land in quarantine."""
    from cassandra_analytics_example_spark.streaming.windows import (
        run_jsonl_ingest_stream,
    )

    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    want_n = docs.count()
    want_sum = docs.agg(F.sum("doc_id")).collect()[0][0]
    got = run_jsonl_ingest_stream(spark, SF01).collect()
    assert len(got) == 1
    row = got[0]
    assert row.n_clean == want_n
    assert row.n_corrupt == 2
    assert row.n_rows == want_n + 2
    assert row.id_sum == want_sum


def test_s14_late_audit_matches_batch_watermark_math(spark):
    """s14's on-time/late routing must equal the batch computation of the
    same two-phase arrival: batch0 = newest quarter of event time (all
    on-time, watermark -> global max ts), batch1 = the rest, late iff
    ts < max - lateness with lateness = span/2."""
    from cassandra_analytics_example_spark.queries._tables import events
    from cassandra_analytics_example_spark.streaming.windows import (
        late_data_audit,
    )

    got = late_data_audit(spark, SF01)

    ev = events(spark, SF01)
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()
    span = hi - lo
    split_us = lo + (3 * span) // 4
    lateness_us = span // 2
    # batch0 rows are on-time by construction; batch1 rows are late iff
    # below the advanced watermark (hi, since batch0 contains the max)
    # minus the lateness allowance
    want = (
        ev.withColumn(
            "is_late",
            (F.col("ts_us") < split_us)
            & (F.col("ts_us") < F.lit(hi - lateness_us)),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(~F.col("is_late"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ontime"),
            F.sum(F.when(F.col("is_late"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_late"),
        )
    )
    _assert_same(got, want)
    # both routes must be non-degenerate: the audit exists to SHOW late data
    tot = got.agg(F.sum("n_ontime"), F.sum("n_late")).first()
    assert tot[0] > 0 and tot[1] > 0


def test_s15_stream_hll_matches_batch_registers(spark):
    """The streaming max-merged register table must be BIT-IDENTICAL to
    the batch hll_registers over the same keys, and the estimate must
    track the exact distinct count within the m=256 error envelope."""
    from cassandra_analytics_example_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from cassandra_analytics_example_spark.queries._tables import events
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_hll,
    )

    got = {
        (r.bucket, r.r) for r in run_stream_hll(spark, SF01).collect()
    }
    keys = events(spark, SF01).select(
        F.concat(
            F.col("user_id").cast("string"), F.lit(":"), F.col("event_type")
        ).alias("__k")
    )
    want_df = hll_registers(keys, "__k")
    want = {(r.bucket, r.r) for r in want_df.collect()}
    assert got == want
    exact = keys.distinct().count()
    est = hll_estimate(want_df).first().est
    assert abs(est - exact) / exact < 0.20


def test_s16_stream_anomalies_match_q144(spark):
    """The streaming-maintained hourly store, merged on read, must yield
    BIT-IDENTICAL anomaly flags to the batch audit q144 — integer algebra
    end to end, so the compare is exact set equality."""
    from cassandra_analytics_example_spark.queries import load_all
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_hourly_anomalies,
    )

    got = {
        (r.event_type, r.hr, r.n, r.side)
        for r in run_stream_hourly_anomalies(spark, SF01).collect()
    }
    registry = load_all()
    want = {
        (r.event_type, r.hr, r.n, r.side)
        for r in registry["q144_hourly_anomalies"].fn(spark, SF01).collect()
    }
    assert got == want
    assert len(want) > 0


def test_s17_stream_chunk_store_matches_q155(spark):
    """The streaming-maintained chunk store, merged on read, must publish
    the exact batch refcount histogram — integer algebra end to end."""
    from cassandra_analytics_example_spark.queries import load_all
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_chunk_store,
    )

    got = {
        (r.refcount, r.n_chunks, r.unique_bytes, r.logical_bytes)
        for r in run_stream_chunk_store(spark, SF01).collect()
    }
    registry = load_all()
    want = {
        (r.refcount, r.n_chunks, r.unique_bytes, r.logical_bytes)
        for r in registry["q155_chunk_store_dedup"].fn(spark, SF01).collect()
    }
    assert got == want
    assert any(rc >= 2 for rc, *_ in want)  # real dedup present


def test_s18_stream_freshness_matches_q162(spark):
    """The streaming-maintained freshness state (max/sum merge-on-read),
    reduced to minute lags against the high-water mark, must be
    BIT-IDENTICAL to the batch SLA audit q162 — exact integers end to
    end, so the compare is exact set equality."""
    from cassandra_analytics_example_spark.queries import load_all
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_freshness,
    )

    got = {
        (r.event_type, r.n_events, r.lag_minutes, r.stale)
        for r in run_stream_freshness(spark, SF01).collect()
    }
    want = {
        (r.event_type, r.n_events, r.lag_minutes, r.stale)
        for r in load_all()["q162_freshness_sla"].fn(spark, SF01).collect()
    }
    assert got == want
    assert len(want) > 0


def test_s19_stream_zonemap_matches_batch_stats(spark):
    """The streaming-maintained per-day zone maps (sum/max merge-on-read)
    must be BIT-IDENTICAL to a batch recompute over the same fixture —
    exact integers, exact set equality."""
    from cassandra_analytics_example_spark.queries._tables import events
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_zonemap,
    )

    got = {
        (r.day, r.n, r.max_c, r.day_max_ts)
        for r in run_stream_zonemap(spark, SF01).collect()
    }
    ev = events(spark, SF01)
    want = {
        (r.day, r.n, r.max_c, r.day_max_ts)
        for r in ev.select(
            F.expr("ts_us div 86400000000").alias("day"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
            "ts_us",
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("cents").alias("max_c"),
            F.max("ts_us").alias("day_max_ts"),
        )
        .collect()
    }
    assert got == want
    assert len(want) > 0


def test_s20_sliding_topk_matches_ranked_q38(spark):
    from pyspark.sql import Window
    from cassandra_analytics_example_spark.queries.events import (
        q38_sliding_windows,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_sliding_topk,
    )

    got = run_stream_sliding_topk(spark, SF01)
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    want = (
        q38_sliding_windows(spark, SF01)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "window_start",
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
    _assert_same(got, want)


def test_s21_incremental_dedup_matches_q61(spark):
    from cassandra_analytics_example_spark.queries.llm import (
        q61_incremental_dedup,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_incremental_dedup,
    )

    got = run_stream_incremental_dedup(spark, SF01).select(
        "doc_id", "content_hash"
    )
    want = q61_incremental_dedup(spark, SF01)
    _assert_same(got, want)


def test_s22_outer_join_matches_batch_watermark_math(spark):
    from cassandra_analytics_example_spark.queries._tables import table
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_stream_outer_join,
    )

    got = run_stream_stream_outer_join(spark, SF01).select(
        "user_id", "view_id", "purchase_id", "view_ts_us"
    )
    ev = table(spark, SF01, "events")
    hour_us = 3_600_000_000
    wm_us = ev.agg(F.max("ts_us")).first()[0] - 2 * hour_us
    v = ev.where(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts_us").alias("view_ts_us"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("pt"),
    )
    j = v.join(
        p,
        (v.user_id == p.p_user_id)
        & (F.col("pt") >= F.col("view_ts_us"))
        & (F.col("pt") <= F.col("view_ts_us") + hour_us),
        "left",
    )
    # matched rows always emit; unmatched views emit null-padded only
    # once the watermark passed view_ts + 1h (state expiry)
    want = j.where(
        F.col("purchase_id").isNotNull()
        | (F.col("view_ts_us") + hour_us < wm_us)
    ).select("user_id", "view_id", "purchase_id", "view_ts_us")
    _assert_same(got, want)


def test_s23_psi_drift_matches_q192(spark):
    from cassandra_analytics_example_spark.queries.events import (
        q192_psi_value_drift,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_psi_drift,
    )

    got = run_stream_psi_drift(spark, SF01)
    want = q192_psi_value_drift(spark, SF01)
    _assert_same(got, want)


def test_s24_stream_ohlc_matches_q200(spark):
    from cassandra_analytics_example_spark.queries.events import (
        q200_ohlc_bars,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_ohlc,
    )

    got = run_stream_ohlc(spark, SF01)
    want = q200_ohlc_bars(spark, SF01)
    _assert_same(got, want)


def test_s25_weighted_sample_matches_q185(spark):
    from cassandra_analytics_example_spark.queries.llm import (
        q185_weighted_sample,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_weighted_sample,
    )

    got = run_stream_weighted_sample(spark, SF01).select(
        "doc_id", "w", "rnk"
    )
    want = q185_weighted_sample(spark, SF01)
    _assert_same(got, want)


def test_s26_threshold_alerts_match_q228(spark):
    """Equality holds at THIS fixture scale because every event type has
    at least one crossing at sf0.01. It is NOT scale-universal: the
    stateful processor emits only keys whose state produced output, so a
    type with zero crossings is absent from the stream result while
    q228's batch aggregate emits its (type, 0, 0) row (measured at
    sf0.001: 'purchase' missing, 4 vs 5 rows) — which is why s26 stays
    rows-only in the driver registry (round 12 upgrade audit)."""
    from cassandra_analytics_example_spark.queries.events import (
        q228_threshold_crossings,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_threshold_alerts,
    )

    got = run_stream_threshold_alerts(spark, SF01)
    want = q228_threshold_crossings(spark, SF01)
    _assert_same(got, want)


def test_s27_ks_drift_matches_q246(spark):
    from cassandra_analytics_example_spark.queries.events import (
        q246_ks_time_drift,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_ks_drift,
    )

    got = run_stream_ks_drift(spark, SF01)
    want = q246_ks_time_drift(spark, SF01)
    _assert_same(got, want)


def test_s28_cusum_matches_q249(spark):
    from cassandra_analytics_example_spark.queries.events import (
        q249_cusum_changepoint,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_cusum,
    )

    got = run_stream_cusum(spark, SF01)
    want = q249_cusum_changepoint(spark, SF01)
    _assert_same(got, want)


def test_s29_lag_features_matches_q269(spark):
    from cassandra_analytics_example_spark.queries.events import (
        q269_lag_features,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_lag_features,
    )

    got = run_stream_lag_features(spark, SF01)
    want = q269_lag_features(spark, SF01)
    _assert_same(got, want)


def test_s30_metrics_layer_matches_q272(spark):
    from cassandra_analytics_example_spark.queries.events import (
        q272_metrics_layer,
    )
    from cassandra_analytics_example_spark.streaming.windows import (
        run_stream_metrics_layer,
    )

    got = run_stream_metrics_layer(spark, SF01)
    want = q272_metrics_layer(spark, SF01)
    _assert_same(got, want)
