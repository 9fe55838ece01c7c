"""Structured Streaming operators over event streams (SURVEY.md §2.7).

The reference's Kafka/AQ layer moves job configs, not data (§1.4); these
operators are the data-plane extension: watermarked event-time windows
(tumbling / sliding / session), within-watermark dedup, and stateful
sessionization — expressed so the *same* aggregation runs in batch mode for
oracle checks and incrementally under a streaming trigger.

Test strategy (§5.5): every streaming query here is executed with
``Trigger.AvailableNow`` into a memory sink and must equal its batch
formulation; session windows additionally match a gaps-and-islands SQL
oracle (tests/test_streaming.py).

This module has no stream reader or writer of its own: streams open through
``sources.readers.read_stream_source`` and start through
``sources.writers.write_stream_sink``, as a streaming job's do.

Scale: streaming state is keyed by (window, group) — state store size is
bounded by watermark horizon × key cardinality, not stream length; late
data beyond the watermark is dropped deterministically.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from etl_load_spark.session import read_events
from etl_load_spark.sources.readers import read_stream_source
from etl_load_spark.sources.writers import write_stream_sink


def open_event_stream(spark: SparkSession, sf_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """readStream over the events parquet through ``sources.readers.
    read_stream_source``, with ``ts`` normalized by
    ``session.read_events``, as the batch ``read_table`` does."""
    d = {"path": f"{sf_dir}/events.parquet",
         "max_files_per_trigger": max_files_per_trigger}
    return read_events(
        spark, lambda: read_stream_source(spark, "PARQUET", d))


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window counts per event_type."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (src.groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                  .alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "total_value"))


def sliding_counts(events: DataFrame, window: str = "1 hour",
                   slide: str = "30 minutes",
                   watermark: str = "30 minutes") -> DataFrame:
    """Watermarked sliding (hopping) window counts."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (src.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events"))


def session_windows(events: DataFrame, gap: str = "10 minutes",
                    watermark: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. Works in both batch and streaming mode (session_window is
    supported for both); the batch result equals the classic
    gaps-and-islands SQL formulation."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "n_events"))


def dedup_within_watermark(events: DataFrame, keys: list[str],
                           watermark: str = "30 minutes") -> DataFrame:
    """Streaming dedup with bounded state: duplicates arriving within the
    watermark horizon are dropped; state for old keys is evicted."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark) \
                     .dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def stream_static_enrich(events: DataFrame, dim: DataFrame,
                         on_left: str = "user_id", on_right: str = "c_custkey",
                         attr: str = "c_mktsegment",
                         window: str = "1 day",
                         watermark: str = "1 hour") -> DataFrame:
    """Stream-static enrichment: left-join a (possibly streaming) event
    stream to a static dimension, then aggregate per tumbling window and
    dimension attribute. Unmatched keys keep their events under 'UNKNOWN'.

    100 TB posture: the dim side is broadcast — a stream-static join never
    shuffles the stream and holds no join state (the static side is rebuilt
    per micro-batch from the broadcast). The windowed aggregate's state is
    bounded by the watermark horizon. Same body serves batch and streaming;
    equivalence proven with Trigger.AvailableNow in tests/test_streaming.py.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    d = F.broadcast(dim.select(F.col(on_right).alias("_dim_key"),
                               F.col(attr).alias("_dim_attr")))
    enriched = (src.join(d, F.col(on_left) == F.col("_dim_key"), "left")
                .withColumn("segment",
                            F.coalesce(F.col("_dim_attr"), F.lit("UNKNOWN"))))
    return (enriched.groupBy(F.window("ts", window).alias("w"), "segment")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                  .alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "segment",
                    "n_events", "total_value"))


def stream_interval_join(left: DataFrame, right: DataFrame,
                         key: str = "user_id",
                         left_ts: str = "ts", right_ts: str = "r_ts",
                         lookback: str = "1 hour",
                         watermark: str = "30 minutes",
                         how: str = "inner") -> DataFrame:
    """Stream-stream interval join (``how``: inner/leftOuter/rightOuter/
    fullOuter): each left event joined to right events with the same key
    whose timestamp falls in ``[left_ts − lookback, left_ts]``.

    Outer variants require both watermarks + the time-range condition (both
    present here): an unmatched row emits its null-padded result only once
    the watermark guarantees no future match — rows closer to the head of
    the stream than the watermark horizon stay buffered, so a live outer
    join's tail is intentionally incomplete until the stream advances
    (tested with an early-window filter in tests/test_streaming.py).

    In streaming mode both sides are watermarked and the time-range
    condition bounds the join state: Spark evicts buffered rows once the
    watermark passes ``left_ts − lookback`` (state ∝ watermark + lookback
    horizon × arrival rate, not stream length). In batch mode the same
    expression is an equi-join on the key with a range residual — one
    shuffle, partition-local range filtering (skewed keys: pre-salt via
    operators.skew). The SAME function body serves both; equivalence is
    proven with Trigger.AvailableNow in tests/test_streaming.py.
    """
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    rk = "_r_" + key
    right = right.withColumnRenamed(key, rk)
    cond = ((left[key] == right[rk])
            & (right[right_ts] >= left[left_ts] - F.expr(f"INTERVAL {lookback}"))
            & (right[right_ts] <= left[left_ts]))
    # coalesced key survives every join type (right/full outer rows have a
    # null left key)
    return (left.join(right, cond, how)
            .withColumn(key, F.coalesce(F.col(key), F.col(rk)))
            .drop(rk))


def run_available_now(stream_df: DataFrame, query_name: str | None = None,
                      output_mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame with Trigger.AvailableNow into a memory
    sink and return the final result as a batch DataFrame (test harness for
    batch-equivalence). ``output_mode`` "complete" makes aggregates final;
    row-level streams like dedup run in "append"."""
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    q = write_stream_sink(stream_df, "MEMORY", {"table": name},
                          {"output_mode": output_mode}, name)
    q.awaitTermination(300)
    return stream_df.sparkSession.table(name)


def time_bucket_rollup(events: DataFrame, bucket: str = "15 minutes",
                       watermark: str = "30 minutes") -> DataFrame:
    """The q53 hypertable-style rollup in streaming-compatible form:
    (bucket_start, event_type) → count/total. Same aggregation runs batch
    or incremental."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (src.groupBy(F.window("ts", bucket).start.alias("bucket_start"),
                        "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.col("value").cast("decimal(12,2)")).cast("double")
                 .alias("total_value")))


def streaming_ohlc(events: DataFrame, type_col: str = "event_type",
                   ts_col: str = "ts", value_col: str = "value",
                   order_col: str = "event_id", bucket: str = "1 day",
                   watermark: str = "30 minutes") -> DataFrame:
    """Incremental candlestick rollup — operators/timeseries.ohlc_rollup
    with a watermark: min_by/max_by/min/max/count are all declarative
    aggregates over one watermark-evictable window group, so the BATCH
    aggregation runs unchanged as a stream (the r10 batch-only note's
    'finalize open/close downstream' recipe turned into shipped code —
    no downstream pass needed, the aggregate IS streamable). Append
    mode emits each candle once, when its window closes past the
    watermark; update mode emits evolving candles. State: one candle
    per open (type, window) — candle-sized, watermark-bounded."""
    from etl_load_spark.operators.timeseries import ohlc_rollup
    src = events.withWatermark(ts_col, watermark) if events.isStreaming \
        else events
    return ohlc_rollup(src, type_col, ts_col, value_col, order_col,
                       bucket)


def streaming_trend(events: DataFrame, key_col: str = "user_id",
                    ts_col: str = "ts", value_col: str = "value",
                    bucket: str = "1 day",
                    watermark: str = "30 minutes") -> DataFrame:
    """Incremental per-bucket OLS trend — operators/timeseries.
    trend_rollup with a watermark: five integer sums per (key, window)
    group, all map-side-combinable and watermark-evictable; the
    fixed-point slope renders per emitted row. State: one 5-tuple per
    open (key, window)."""
    from etl_load_spark.operators.timeseries import trend_rollup
    src = events.withWatermark(ts_col, watermark) if events.isStreaming \
        else events
    return trend_rollup(src, key_col, ts_col, value_col, bucket)


def streaming_value_histogram(events: DataFrame,
                              key_col: str = "user_id",
                              ts_col: str = "ts",
                              value_col: str = "value",
                              bucket: str = "1 day", lo: float = 0.0,
                              hi: float = 100.0, nbins: int = 10,
                              watermark: str = "30 minutes") -> DataFrame:
    """Incremental per-bucket value histogram — operators/timeseries.
    value_histogram_rollup with a watermark: one COUNT per (key,
    window, bin) group (bin = integer floor division on cents,
    computed map-side). State: ≤ nbins+2 counters per open (key,
    window)."""
    from etl_load_spark.operators.timeseries import (
        value_histogram_rollup,
    )
    src = events.withWatermark(ts_col, watermark) if events.isStreaming \
        else events
    return value_histogram_rollup(src, key_col, ts_col, value_col,
                                  bucket, lo, hi, nbins)


def streaming_delta(events: DataFrame, key_col: str = "user_id",
                    ts_col: str = "ts", value_col: str = "value",
                    order_col: str = "event_id", bucket: str = "1 day",
                    watermark: str = "30 minutes") -> DataFrame:
    """Incremental gauge delta — operators/timeseries.delta_rollup with
    a watermark: min_by/max_by over the padded ordering key are
    declarative aggregates, so the batch aggregation runs unchanged as
    a stream. State: one (first, last) pair per open (key, window)."""
    from etl_load_spark.operators.timeseries import delta_rollup
    src = events.withWatermark(ts_col, watermark) if events.isStreaming \
        else events
    return delta_rollup(src, key_col, ts_col, value_col, order_col,
                        bucket)


def streaming_value_stats(events: DataFrame, key_col: str = "user_id",
                          ts_col: str = "ts", value_col: str = "value",
                          bucket: str = "1 day",
                          watermark: str = "30 minutes") -> DataFrame:
    """Incremental mean/variance — operators/timeseries.
    value_stats_rollup with a watermark: three integer sums per open
    (key, window) group, map-side-combinable; the fixed-point
    mean/variance render per emitted row."""
    from etl_load_spark.operators.timeseries import value_stats_rollup
    src = events.withWatermark(ts_col, watermark) if events.isStreaming \
        else events
    return value_stats_rollup(src, key_col, ts_col, value_col, bucket)


def streaming_changes(events: DataFrame, key_col: str = "user_id",
                      ts_col: str = "ts", value_col: str = "value",
                      order_col: str = "event_id", bucket: str = "1 day",
                      watermark: str = "30 minutes") -> DataFrame:
    """Incremental change count — the streaming twin of
    operators/timeseries.changes via the round-12 collect_list recipe
    (see streaming_state_durations): one watermarked aggregation
    collects the bucket's (ts, order, cents) samples, a stateless fold
    counts adjacent differing cents in the sorted array. State: the
    open buckets' sample lists, watermark-evicted."""
    from etl_load_spark.operators.timeseries import validate_bucket
    validate_bucket(bucket)
    src = events.withWatermark(ts_col, watermark) if events.isStreaming \
        else events
    e = src.filter(F.col(ts_col).isNotNull()
                   & F.col(value_col).isNotNull())
    c = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    agg = (e.groupBy(F.col(key_col),
                     F.window(ts_col, bucket).start.alias("bucket_ts"))
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"), F.col(order_col).alias("o"),
               c.alias("c")))).alias("_vv")))
    n_changes = F.expr("""
        aggregate(
            transform(_vv, (x, i) -> CASE WHEN i > 0
                 AND element_at(_vv, i).c <> x.c THEN 1L ELSE 0L END),
            0L, (acc, x) -> acc + x)""")
    return (agg.select(key_col, "bucket_ts",
                       F.size("_vv").cast("bigint").alias("n_samples"),
                       n_changes.alias("n_changes")))


def streaming_instant_rate(events: DataFrame, key_col: str = "user_id",
                           ts_col: str = "ts", value_col: str = "value",
                           order_col: str = "event_id",
                           bucket: str = "1 day",
                           watermark: str = "30 minutes") -> DataFrame:
    """Incremental irate — the streaming twin of operators/timeseries.
    instant_rate via the round-12 collect_list recipe: the batch form's
    in-bucket lag is replayed on the sorted array's last two elements
    (Prometheus reset rule on the final step, the same unsigned
    half-up fixed-point quotient rendered in SQL so both engines
    bit-agree). The negative-counter guard raises inside the fold
    exactly like the batch raise_error. State: the open buckets'
    sample lists, watermark-evicted."""
    from etl_load_spark.operators.timeseries import validate_bucket
    validate_bucket(bucket)
    src = events.withWatermark(ts_col, watermark) if events.isStreaming \
        else events
    e = src.filter(F.col(ts_col).isNotNull()
                   & F.col(value_col).isNotNull())
    c = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    cg = F.when(c < 0, F.raise_error(F.format_string(
        "instant_rate: negative counter value (%s cents): irate's "
        "unsigned half-up quotient needs non-negative counters",
        c))).otherwise(c)
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    agg = (e.groupBy(F.col(key_col),
                     F.window(ts_col, bucket).start.alias("bucket_ts"))
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"), F.col(order_col).alias("o"),
               cg.alias("c"), tms.alias("tm")))).alias("_vv")))
    n = F.size("_vv")
    rate4 = F.expr("(2 * _inc * 10 * 10000 + _dms) DIV (2 * _dms)")
    picked = (agg.select(
        key_col, "bucket_ts", n.cast("bigint").alias("n_samples"),
        # ANSI element_at(-2) raises on a 1-element array — the when()
        # guards evaluation (CASE branches are conditional)
        F.element_at("_vv", -1).alias("_last"),
        F.when(n >= 2, F.element_at("_vv", -2)).alias("_prev")))
    last, prev = F.col("_last"), F.col("_prev")
    inc = F.when(last["c"] >= prev["c"], last["c"] - prev["c"]) \
        .otherwise(last["c"])
    return (picked
            .select(key_col, "bucket_ts", "n_samples",
                    inc.alias("_inc"),
                    (last["tm"] - prev["tm"]).alias("_dms"))
            .select(key_col, "bucket_ts", "n_samples",
                    F.when(F.col("_dms") > 0,
                           rate4.cast("double") / 10000.0)
                    .alias("irate_per_sec")))


def streaming_time_weighted_avg(events: DataFrame,
                                key_col: str = "user_id",
                                ts_col: str = "ts",
                                value_col: str = "value",
                                order_col: str = "event_id",
                                bucket: str = "1 day",
                                watermark: str = "30 minutes"
                                ) -> DataFrame:
    """Incremental time-weighted average — the streaming twin of
    operators/timeseries.time_weighted_avg's SELF-CONTAINED form
    (carry_in=False) via the collect_list recipe: each sample's weight
    is the gap to its in-array successor (or the bucket end), folded
    into the same Σ(c·dt)/Σdt fixed-point quotient. The carry form
    stays batch-only (the carried sample is watermark-evicted state).
    State: the open buckets' sample lists."""
    from etl_load_spark.operators.timeseries import (
        bucket_width_seconds, validate_bucket,
    )
    validate_bucket(bucket)
    width_ms = bucket_width_seconds(bucket) * 1000
    src = events.withWatermark(ts_col, watermark) if events.isStreaming \
        else events
    e = src.filter(F.col(ts_col).isNotNull()
                   & F.col(value_col).isNotNull())
    c = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    agg = (e.groupBy(F.col(key_col),
                     F.window(ts_col, bucket).start.alias("bucket_ts"))
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"), F.col(order_col).alias("o"),
               c.alias("c"), tms.alias("tm")))).alias("_vv")))
    end_ms = (f"unix_millis(CAST(bucket_ts AS TIMESTAMP_LTZ)) "
              f"+ {width_ms}")
    sums = F.expr(f"""
        aggregate(
            transform(_vv, (x, i) -> named_struct(
                'num', x.c * ((CASE WHEN i < size(_vv) - 1
                                    THEN element_at(_vv, i + 2).tm
                                    ELSE {end_ms} END) - x.tm),
                'den', (CASE WHEN i < size(_vv) - 1
                             THEN element_at(_vv, i + 2).tm
                             ELSE {end_ms} END) - x.tm)),
            named_struct('num', 0L, 'den', 0L),
            (acc, x) -> named_struct('num', acc.num + x.num,
                                     'den', acc.den + x.den))""")
    twa4 = F.expr("(200 * _num + _den) DIV (2 * _den)")
    return (agg.select(key_col, "bucket_ts",
                       F.size("_vv").cast("bigint").alias("n_samples"),
                       sums.alias("_s"))
            .select(key_col, "bucket_ts", "n_samples",
                    F.col("_s.num").alias("_num"),
                    F.col("_s.den").alias("_den"))
            .select(key_col, "bucket_ts", "n_samples",
                    (twa4.cast("double") / 10000.0).alias("twa")))


def streaming_state_durations(events: DataFrame,
                              key_col: str = "user_id",
                              ts_col: str = "ts",
                              state_col: str = "event_type",
                              order_col: str = "event_id",
                              bucket: str = "1 day",
                              watermark: str = "30 minutes") -> DataFrame:
    """Incremental per-bucket state durations — the streaming twin of
    operators/timeseries.state_durations (non-carry form; VERDICT r11
    #3). The batch operator's in-bucket lead/lag windows are not
    streamable, but the SAME semantics are: ONE watermark-evictable
    aggregation collects the bucket's samples (sort_array ∘
    collect_list over the (ts, order) total order — collect_list is a
    declarative aggregate, so this runs as a plain streaming agg, no
    transformWithState needed), then a stateless projection folds the
    sorted array into per-state (held_ms, n_entries, n_samples) and
    explodes — hold finalization against the NEXT sample happens
    inside the array, where the future is already visible.

    State bound: the open (key, bucket) groups' sample lists — exactly
    the rows a bucket must see before it can close, evicted at the
    watermark. The per-element HOF fold is interpreted (not codegen'd)
    but touches only each group's own array; for batch backfills use
    the batch operator (window lag, whole-stage codegen).

    ``carry_in`` is deliberately absent: the carried state is the
    previous bucket's LAST sample, which the watermark has already
    evicted when the next bucket opens — interpolate carries on the
    landed table downstream (the batch operator's carry_in=True).

    Update-mode materialization merge key: (key, bucket_ts, state) —
    a state's row never disappears as its bucket accumulates samples,
    so the group-key upsert is complete."""
    from etl_load_spark.operators.timeseries import (
        bucket_width_seconds, validate_bucket,
    )
    validate_bucket(bucket)
    if dict(events.dtypes).get(state_col) != "string":
        raise ValueError(
            f"streaming_state_durations: state column {state_col!r} must "
            "be string (the per-bucket fold keys a map on it); cast "
            "upstream")
    width_ms = bucket_width_seconds(bucket) * 1000
    src = events.withWatermark(ts_col, watermark) if events.isStreaming \
        else events
    e = src.filter(F.col(ts_col).isNotNull()
                   & F.col(state_col).isNotNull())
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    agg = (e.groupBy(F.col(key_col),
                     F.window(ts_col, bucket).start.alias("bucket_ts"))
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"), F.col(order_col).alias("o"),
               tms.alias("tm"), F.col(state_col).alias("st"))))
               .alias("_ss")))
    end_ms = (f"unix_millis(CAST(bucket_ts AS TIMESTAMP_LTZ)) "
              f"+ {width_ms}")
    # durations + transition flags per element (the lead/lag of the
    # batch form, replayed inside the sorted array; element_at is
    # 1-based and the CASE guards evaluation order)
    elems = F.expr(f"""
        transform(_ss, (x, i) -> named_struct(
            'st', x.st,
            'dt', (CASE WHEN i < size(_ss) - 1
                        THEN element_at(_ss, i + 2).tm
                        ELSE {end_ms} END) - x.tm,
            'en', CASE WHEN i = 0 THEN 1
                       WHEN element_at(_ss, i).st <> x.st THEN 1
                       ELSE 0 END))""")
    folded = F.aggregate(
        elems,
        F.expr("cast(map() as map<string, "
               "struct<held: bigint, en: bigint, n: bigint>>)"),
        lambda acc, x: F.map_concat(
            F.map_filter(acc, lambda k, _v: k != x["st"]),
            F.create_map(
                x["st"],
                F.struct(
                    (F.coalesce(F.try_element_at(acc, x["st"])["held"],
                                F.lit(0)) + x["dt"]).alias("held"),
                    (F.coalesce(F.try_element_at(acc, x["st"])["en"],
                                F.lit(0)) + x["en"]).alias("en"),
                    (F.coalesce(F.try_element_at(acc, x["st"])["n"],
                                F.lit(0)) + F.lit(1)).alias("n")))))
    return (agg.select(key_col, "bucket_ts", folded.alias("_m"))
            .select(key_col, "bucket_ts",
                    F.explode("_m").alias(state_col, "_v"))
            .select(key_col, "bucket_ts", state_col,
                    F.col("_v.held").alias("held_ms"),
                    F.col("_v.en").alias("n_entries"),
                    F.col("_v.n").alias("n_samples")))


def streaming_heartbeat_uptime(events: DataFrame,
                               key_col: str = "user_id",
                               ts_col: str = "ts",
                               order_col: str = "event_id",
                               bucket: str = "1 day",
                               tolerance: str = "15 minutes",
                               emit_downtime: bool = False,
                               watermark: str = "30 minutes") -> DataFrame:
    """Incremental per-bucket liveness — the streaming twin of
    operators/timeseries.heartbeat_uptime (non-carry form; VERDICT r11
    #3). Same recipe as streaming_state_durations: one watermarked
    collect_list aggregation over the (ts, order) total order, then a
    stateless fold clips each beat against its in-array successor (or
    the bucket end) at the tolerance — the batch form's lead window,
    replayed where the future is visible. carry_in is deliberately
    absent (the carried beat is watermark-evicted state; interpolate
    downstream on the landed table). Update-mode merge key:
    (key, bucket_ts)."""
    from etl_load_spark.operators.timeseries import (
        bucket_width_seconds, validate_bucket,
    )
    validate_bucket(bucket)
    width_ms = bucket_width_seconds(bucket) * 1000
    tol_us = validate_bucket(tolerance)
    if tol_us % 1000:
        raise ValueError(
            f"tolerance {tolerance!r} is not a whole number of "
            "milliseconds (liveness is measured in ms)")
    tol_ms = tol_us // 1000
    src = events.withWatermark(ts_col, watermark) if events.isStreaming \
        else events
    e = src.filter(F.col(ts_col).isNotNull())
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    agg = (e.groupBy(F.col(key_col),
                     F.window(ts_col, bucket).start.alias("bucket_ts"))
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"), F.col(order_col).alias("o"),
               tms.alias("tm")))).alias("_bb")))
    end_ms = (f"unix_millis(CAST(bucket_ts AS TIMESTAMP_LTZ)) "
              f"+ {width_ms}")
    stats = F.expr(f"""
        aggregate(
            transform(_bb, (x, i) -> named_struct(
                'lv', least((CASE WHEN i < size(_bb) - 1
                                  THEN element_at(_bb, i + 2).tm
                                  ELSE {end_ms} END) - x.tm,
                            {tol_ms}L),
                'gp', CASE WHEN i < size(_bb) - 1
                            AND element_at(_bb, i + 2).tm - x.tm
                                > {tol_ms} THEN 1 ELSE 0 END)),
            named_struct('lv', 0L, 'gp', 0L),
            (acc, x) -> named_struct('lv', acc.lv + x.lv,
                                     'gp', acc.gp + x.gp))""")
    cols = [F.col(key_col), F.col("bucket_ts"),
            F.size("_bb").cast("bigint").alias("n_beats"),
            F.col("_s.lv").alias("uptime_ms"),
            F.col("_s.gp").alias("n_gaps")]
    if emit_downtime:
        cols.append((F.lit(width_ms) - F.col("_s.lv"))
                    .alias("downtime_ms"))
    return agg.select(key_col, "bucket_ts", stats.alias("_s"), "_bb") \
              .select(*cols)


def materialize_rollup(rollup_stream: DataFrame, path: str,
                       checkpoint: str, partition_col: str = "bucket_start",
                       key_cols: list[str] | None = None):
    """Incrementally materialize a streaming rollup to a partitioned
    parquet table: update-mode micro-batches MERGE with the current
    contents of the partitions they touch, keyed on the rollup's full
    group key (``key_cols``, batch rows win), then overwrite those
    partitions (dynamic partition overwrite).

    ``key_cols`` is required and must include ``partition_col``: update
    mode emits only the groups changed per micro-batch, so overwriting
    a touched partition with the batch rows alone would delete its
    sibling groups (other event_types in the same bucket) on any
    multi-batch run — ``sources.writers.write_stream_sink`` starts the
    stream and ``rollup_upsert_writer`` owns the merge.

    This is the continuous-aggregate maintenance pattern SCALE.md
    describes for q53: at 100 TB the bucket column partitions the
    materialization, each micro-batch touches (and reads back) only the
    few open buckets, and re-emitted (late-updated) groups replace their
    prior versions atomically. Returns the StreamingQuery
    (AvailableNow-compatible).
    """
    if not key_cols:
        raise ValueError(
            "materialize_rollup needs the rollup's full group-key "
            "columns (key_cols) to merge micro-batches — e.g. "
            "['bucket_start', 'event_type'] for time_bucket_rollup")
    return write_stream_sink(
        rollup_stream, "PARQUET",
        {"path": path, "partition_by": [partition_col],
         "merge_keys": list(key_cols)},
        {"checkpoint": checkpoint, "output_mode": "update"},
        "materialize_rollup")


def stream_block_dedup(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       block_tokens: int = 16) -> DataFrame:
    """Incremental corpus ingestion — the streaming face of
    operators/corpus.passage_dedup's first-occurrence rule: documents
    arriving on a stream are decomposed into token blocks (same JVM-only
    decomposition, operators/corpus.doc_blocks) and a block is emitted
    only the FIRST time it is ever seen, across all micro-batches —
    ``dropDuplicates`` keeps the seen-set in the checkpointed state store,
    so each new crawl increment dedups against the whole ingested history
    without rescanning it.

    Survivor attribution differs from the batch operator by design: batch
    resolves first-occurrence in (doc_id, block_no) order, the stream in
    arrival order — the SURVIVING BLOCK SET is identical (equivalence
    pinned in tests/test_streaming.py). Emits (id, block_no, block_text)
    append-mode; document reassembly is a downstream batch step over the
    materialized survivors.

    State: one state-store row per DISTINCT block — the same key space the
    batch aggregate shuffles. Deliberately NO watermark: corpus dedup is
    global by definition. At 100 TB use the RocksDB state store provider
    (state spills off-heap) and changelog checkpointing; if the product
    defines an eviction horizon, switch to dropDuplicatesWithinWatermark
    for bounded state."""
    from etl_load_spark.operators.corpus import doc_blocks
    blocks = doc_blocks(docs, id_col, text_col, block_tokens)
    return (blocks.dropDuplicates(["_bhash", "_btext"])
            .select(id_col, F.col("_bno").alias("block_no"),
                    F.col("_btext").alias("block_text")))


def stream_content_dedup(docs: DataFrame, history_df: DataFrame | None = None,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Streaming content-level admission — the streaming face of
    operators/dedup.incremental_dedup: documents arriving on a stream are
    keyed on dedup.content_key (md5 of normalized text, md5 of RAW text
    when the normalization empties it — the chained dedup convention,
    non-latin-safe: without the fallback one checkpointed CJK doc would
    silently drop every future CJK doc forever);
    content already in the STATIC admitted index (``history_df``, the
    maintained table a batch pipeline appends each round) is dropped via
    a stream-static LEFT ANTI join, and within the stream each content
    emits exactly once across ALL micro-batches (``dropDuplicates`` on
    the key — checkpointed state, so each crawl increment dedups against
    everything already ingested without rescanning it).

    Survivor attribution differs from the batch operator by design:
    batch resolves the within-batch survivor by MIN id, the stream by
    arrival order — the admitted CONTENT SET is identical (equivalence
    pinned in tests/test_streaming.py). Emits (content_md5, id)
    append-mode; there is no n_batch_copies (a stream has no batch to
    count over — run the batch operator on landed data when copy counts
    matter).

    State: one state-store row per distinct ADMITTED content — the same
    key space the batch aggregate shuffles; the history index never
    enters state (it stays a static relation, re-read per micro-batch
    and broadcast when small). Deliberately NO watermark: content dedup
    is global by definition; at 100 TB use the RocksDB state store
    provider, or dropDuplicatesWithinWatermark if the product defines
    an eviction horizon."""
    from etl_load_spark.operators.dedup import content_key

    keyed = (docs.filter(F.col(text_col).isNotNull())
             .select(content_key(F.col(text_col)).alias("content_md5"),
                     F.col(id_col).alias(id_col)))
    if history_df is not None:
        hist = (history_df.filter(F.col(text_col).isNotNull())
                .select(content_key(F.col(text_col)).alias("content_md5"))
                .distinct())
        keyed = keyed.join(hist, "content_md5", "left_anti")
    return keyed.dropDuplicates(["content_md5"])
