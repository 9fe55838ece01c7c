"""Streaming equivalence (SURVEY.md §5.5): every streaming query under
Trigger.AvailableNow must equal its batch formulation; session windows also
match the gaps-and-islands SQL oracle."""

import pytest
from pyspark.sql import functions as F

from etl_load_spark.session import read_table
from etl_load_spark.sources.writers import start_stream
from etl_load_spark.streaming.windows import (
    dedup_within_watermark, open_event_stream, run_available_now,
    session_windows, sliding_counts, tumbling_counts,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    return read_table(spark, sf_dir, "events")


@pytest.fixture(scope="module")
def stream_events(spark, sf_dir):
    return open_event_stream(spark, sf_dir)


def test_tumbling_stream_equals_batch(batch_events, stream_events):
    batch = tumbling_counts(batch_events)
    stream = run_available_now(tumbling_counts(stream_events))
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_sliding_stream_equals_batch(batch_events, stream_events):
    batch = sliding_counts(batch_events)
    stream = run_available_now(sliding_counts(stream_events))
    cols = ["window_start", "event_type", "n_events"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_session_stream_equals_batch(batch_events, stream_events):
    batch = session_windows(batch_events, gap="10 minutes")
    stream = run_available_now(session_windows(stream_events, gap="10 minutes"))
    cols = ["user_id", "session_start", "n_events"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_ohlc_stream_equals_batch(batch_events, stream_events):
    """The q174 candlestick rollup run INCREMENTALLY (ohlc_rollup,
    watermark + availableNow) equals the batch operator exactly —
    min_by/max_by over the guarded padded key are declarative
    aggregates, so the same plan streams (round 11: the r10 batch-only
    'finalize downstream' recipe, shipped)."""
    from etl_load_spark.operators.timeseries import ohlc, ohlc_rollup
    batch = ohlc(batch_events)
    stream = run_available_now(ohlc_rollup(
        stream_events.withWatermark("ts", "30 minutes")))
    cols = ["event_type", "bucket_ts", "open", "high", "low", "close",
            "n_events"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_trend_stream_equals_batch(batch_events, stream_events):
    """q183's five-integer-sum OLS trend streams unchanged
    (trend_rollup): the fixed-point slope per emitted row equals
    the batch operator bit-for-bit."""
    from etl_load_spark.operators.timeseries import trend, trend_rollup
    batch = trend(batch_events)
    stream = run_available_now(trend_rollup(
        stream_events.withWatermark("ts", "30 minutes")))
    cols = ["user_id", "bucket_ts", "n_samples", "slope_per_sec"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_value_histogram_stream_equals_batch(batch_events, stream_events):
    """q185's per-bin counts stream unchanged
    (value_histogram_rollup) — bin assignment is map-side integer
    arithmetic, the state is nbins+2 counters per open (key, window)."""
    from etl_load_spark.operators.timeseries import (
        value_histogram, value_histogram_rollup,
    )
    batch = value_histogram(batch_events, lo=0.0, hi=500.0, nbins=10)
    stream = run_available_now(value_histogram_rollup(
        stream_events.withWatermark("ts", "30 minutes"), lo=0.0, hi=500.0,
        nbins=10))
    cols = ["user_id", "bucket_ts", "bin", "n_samples"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_delta_stats_changes_stream_equal_batch(batch_events,
                                                stream_events):
    """Round-12 operators stream: delta and value_stats are pure
    aggregates (delta_rollup / value_stats_rollup run the
    identical rollup under a watermark); changes streams via the
    collect_list fold twin. Each must equal its batch operator
    exactly."""
    from etl_load_spark.operators.timeseries import (
        changes, changes_rollup, delta, delta_rollup, value_stats,
        value_stats_rollup,
    )
    cases = [
        (delta, delta_rollup,
         ["user_id", "bucket_ts", "n_samples", "delta"]),
        (value_stats, value_stats_rollup,
         ["user_id", "bucket_ts", "n_samples", "mean", "variance"]),
        (changes, changes_rollup,
         ["user_id", "bucket_ts", "n_samples", "n_changes"]),
    ]
    for batch_fn, stream_fn, cols in cases:
        batch = batch_fn(batch_events)
        stream = run_available_now(stream_fn(
            stream_events.withWatermark("ts", "30 minutes")))
        got, want = _rows(stream, cols), _rows(batch, cols)
        assert got == want and len(got) > 0, batch_fn.__name__


def test_irate_twa_stream_equal_batch(batch_events, stream_events):
    """instant_rate and the self-contained time_weighted_avg stream via
    the round-12 collect_list fold twins and must equal their batch
    operators exactly (the carry TWA stays batch-only by design)."""
    from etl_load_spark.operators.timeseries import (
        instant_rate, instant_rate_rollup, time_weighted_avg,
        time_weighted_avg_rollup,
    )
    cases = [
        (instant_rate, instant_rate_rollup,
         ["user_id", "bucket_ts", "n_samples", "irate_per_sec"]),
        (time_weighted_avg, time_weighted_avg_rollup,
         ["user_id", "bucket_ts", "n_samples", "twa"]),
    ]
    for batch_fn, stream_fn, cols in cases:
        batch = batch_fn(batch_events)
        stream = run_available_now(stream_fn(
            stream_events.withWatermark("ts", "30 minutes")))
        got, want = _rows(stream, cols), _rows(batch, cols)
        assert got == want and len(got) > 0, batch_fn.__name__


def test_session_matches_gaps_and_islands_sql(spark, batch_events):
    """session_window == classic SQL sessionization (lag + cumulative gap
    count) — the portable formulation a DuckDB oracle can run."""
    batch_events.createOrReplaceTempView("ev")
    sql = spark.sql("""
      WITH g AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 10 MINUTES
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM ev),
      s AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g)
      SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
      FROM s GROUP BY user_id, session_id
    """)
    got = session_windows(batch_events, gap="10 minutes")
    cols = ["user_id", "session_start", "n_events"]
    assert _rows(got, cols) == _rows(sql, cols)


def test_dedup_within_watermark(spark, stream_events, batch_events):
    stream = run_available_now(
        dedup_within_watermark(stream_events, ["user_id", "event_type"]),
        output_mode="append")
    # every (user_id, event_type) appears exactly once
    dups = (stream.groupBy("user_id", "event_type")
            .count().filter(F.col("count") > 1).count())
    assert dups == 0
    assert stream.count() == (batch_events
                              .select("user_id", "event_type")
                              .distinct().count())


def test_late_data_dropped_beyond_watermark(spark, tmp_path):
    """Two micro-batches: the second delivers an event older than the
    watermark horizon → it must be dropped from the aggregate."""
    import time
    src_dir = tmp_path / "stream_src"
    src_dir.mkdir()
    chk = str(tmp_path / "chk")
    from datetime import datetime
    sch = "ts timestamp, k string"
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    b1 = spark.createDataFrame(
        [(ts("2024-01-01 10:00:00"), "a"), (ts("2024-01-01 12:00:00"), "a")], sch)
    b1.write.mode("append").parquet(str(src_dir))
    out_dir = str(tmp_path / "out")
    stream = (spark.readStream.schema(b1.schema).parquet(str(src_dir))
              .withWatermark("ts", "30 minutes")
              .groupBy(F.window("ts", "1 hour").alias("w"), "k")
              .agg(F.count(F.lit(1)).alias("n"))
              .select(F.col("w.start").alias("ws"), "k", "n"))

    def run_once():
        q = start_stream(stream.writeStream.format("parquet")
                         .option("path", out_dir)
                         .option("checkpointLocation", chk)
                         .outputMode("append").trigger(availableNow=True),
                         spark)
        q.awaitTermination(120)

    run_once()
    # late event: 10:30 is older than max_ts(12:00) - 30min watermark
    b2 = spark.createDataFrame([(ts("2024-01-01 10:30:00"), "a")], sch)
    b2.write.mode("append").parquet(str(src_dir))
    run_once()
    time.sleep(1)
    out = [(str(r["ws"]), r["k"], r["n"])
           for r in spark.read.parquet(out_dir).collect()]
    # the 10:00 window was finalized with exactly 1 event; the late 10:30
    # event must not re-open it or create a second emission
    assert out.count(("2024-01-01 10:00:00", "a", 1)) == 1
    assert ("2024-01-01 10:00:00", "a", 2) not in out


def test_stateful_stats_stream_equals_batch(spark, batch_events, stream_events):
    """applyInPandasWithState final emissions == batch aggregate (exact:
    totals ride as integer micro-units, order-independent)."""
    from pyspark.sql import Window as W
    from etl_load_spark.streaming.stateful import stateful_user_stats

    out = run_available_now(stateful_user_stats(stream_events),
                            output_mode="append")
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (out.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1)
             .select("user_id", "n_events", "total_micros", "max_value"))
    batch = stateful_user_stats(batch_events)
    got = sorted(map(tuple, final.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_interval_join_stream_equals_batch(spark, batch_events, sf_dir):
    """Stream-stream interval join under AvailableNow == the batch
    formulation of the same function body (inner join emits only matured
    matches; with the full file processed in one availableNow pass, every
    match is emitted)."""
    from etl_load_spark.streaming.windows import stream_interval_join

    def sides(e):
        clicks = (e.filter(F.col("event_type") == "click")
                  .select(F.col("event_id").alias("click_id"), "user_id", "ts"))
        errors = (e.filter(F.col("event_type") == "error")
                  .select(F.col("event_id").alias("err_id"), "user_id",
                          F.col("ts").alias("r_ts")))
        return clicks, errors

    batch = stream_interval_join(*sides(read_table(spark, sf_dir, "events")))
    s1 = open_event_stream(spark, sf_dir)
    s2 = open_event_stream(spark, sf_dir)
    stream = run_available_now(
        stream_interval_join(sides(s1)[0], sides(s2)[1]), output_mode="append")
    cols = ["click_id", "err_id", "user_id"]
    got, want = _rows(stream, cols), _rows(batch, cols)
    assert got == want and len(got) > 0


def test_streaming_state_durations_equals_batch(spark, batch_events,
                                                stream_events):
    """The q177 state rollup run INCREMENTALLY (round 12 twin: one
    watermarked collect_list aggregation + a stateless per-bucket fold
    — the batch lead/lag replayed inside the sorted sample array) must
    equal the batch operator exactly."""
    from etl_load_spark.operators.timeseries import (
        state_durations, state_durations_rollup,
    )
    stream = run_available_now(state_durations_rollup(
        stream_events.withWatermark("ts", "30 minutes")))
    batch = state_durations(batch_events)
    cols = ["user_id", "bucket_ts", "event_type", "held_ms", "n_entries",
            "n_samples"]
    got, want = _rows(stream, cols), _rows(batch, cols)
    assert got == want and len(got) > 0


def test_streaming_heartbeat_uptime_equals_batch(spark, batch_events,
                                                 stream_events):
    """The q178 liveness rollup (+ downtime complement) run
    INCREMENTALLY via the round-12 collect_list twin must equal the
    batch operator exactly."""
    from etl_load_spark.operators.timeseries import (
        heartbeat_uptime, heartbeat_uptime_rollup,
    )
    stream = run_available_now(heartbeat_uptime_rollup(
        stream_events.withWatermark("ts", "30 minutes"), emit_downtime=True))
    batch = heartbeat_uptime(batch_events, emit_downtime=True)
    cols = ["user_id", "bucket_ts", "n_beats", "uptime_ms", "n_gaps",
            "downtime_ms"]
    got, want = _rows(stream, cols), _rows(batch, cols)
    assert got == want and len(got) > 0


def test_materialized_rollup_equals_batch(spark, batch_events, sf_dir, tmp_path):
    """foreachBatch dynamic-partition upsert of the streaming 15-min
    rollup == the batch rollup over the same data (the q53 continuous
    aggregate, maintained incrementally)."""
    from etl_load_spark.streaming.windows import (
        materialize_rollup, time_bucket_rollup,
    )

    stream = open_event_stream(spark, sf_dir)
    q = materialize_rollup(time_bucket_rollup(stream),
                           path=str(tmp_path / "rollup"),
                           checkpoint=str(tmp_path / "ckpt"),
                           key_cols=["bucket_start", "event_type"])
    q.awaitTermination(300)
    got = spark.read.parquet(str(tmp_path / "rollup"))
    want = time_bucket_rollup(batch_events)
    cols = ["bucket_start", "event_type", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)
    assert got.count() > 0


def test_streaming_rollup_then_batch_gapfill_pipeline(spark, batch_events,
                                                      sf_dir, tmp_path):
    """The GAPFILL stage's streaming refusal points users at 'run the
    streaming rollup to land bucket aggregates incrementally, then
    gap-fill the landed table downstream' — prove that composed
    pipeline, not just the error text: materialize the 15-min rollup
    from the stream, run gapfill over the LANDED aggregates (series =
    event_type, value = total_value), and get exactly the fill that
    batch gapfill over the batch rollup produces."""
    from etl_load_spark.operators.timeseries import gapfill
    from etl_load_spark.streaming.windows import (
        materialize_rollup, time_bucket_rollup,
    )

    stream = open_event_stream(spark, sf_dir)
    q = materialize_rollup(time_bucket_rollup(stream),
                           path=str(tmp_path / "rollup"),
                           checkpoint=str(tmp_path / "ckpt"),
                           key_cols=["bucket_start", "event_type"])
    q.awaitTermination(300)
    landed = spark.read.parquet(str(tmp_path / "rollup"))

    def fill(rollup_df):
        return gapfill(rollup_df, key_col="event_type",
                       ts_col="bucket_start", value_col="total_value",
                       bucket="15 minutes")

    got = fill(landed)
    want = fill(time_bucket_rollup(batch_events))
    cols = ["event_type", "bucket_ts", "val", "locf_val", "interp_val"]
    assert _rows(got, cols) == _rows(want, cols)
    # the landed rollup has real 15-min gaps at this SF — the fill
    # must actually fill, not pass rows through
    assert got.filter("val IS NULL AND locf_val IS NOT NULL").count() > 0


def test_stream_static_enrich_equals_batch(spark, batch_events, stream_events, sf_dir):
    from etl_load_spark.session import read_table
    from etl_load_spark.streaming.windows import (run_available_now,
                                                  stream_static_enrich)
    from pyspark.sql import functions as SF
    # sf0.001 user_ids span 0-14; dim cut at 10 leaves 10-14 unmatched
    dim = read_table(spark, sf_dir, "customer").filter(SF.col("c_custkey") < 10)
    batch = stream_static_enrich(batch_events, dim)
    streamed = run_available_now(stream_static_enrich(stream_events, dim))
    key = lambda r: (r.window_start, r.segment)
    b = sorted(batch.collect(), key=key)
    s = sorted(streamed.collect(), key=key)
    assert [tuple(r) for r in b] == [tuple(r) for r in s]
    assert any(r.segment == "UNKNOWN" for r in b)


def test_interval_left_outer_stream_equals_batch(spark, sf_dir):
    """Left-outer interval join: null-padded rows for a left row emit only
    once the watermark passes it, so restrict the left side to an early
    window (2h before stream end > watermark 30m + lookback 1h) where
    every outcome is final by end-of-stream — there streamed == batch."""
    from etl_load_spark.session import read_table
    from etl_load_spark.streaming.windows import (open_event_stream,
                                                  run_available_now,
                                                  stream_interval_join)
    ev = read_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    cutoff = F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")

    def sides(e):
        clicks = (e.filter((F.col("event_type") == "click") & (F.col("ts") < cutoff))
                  .select(F.col("event_id").alias("click_id"), "user_id", "ts"))
        errors = (e.filter(F.col("event_type") == "error")
                  .select(F.col("event_id").alias("err_id"), "user_id",
                          F.col("ts").alias("r_ts")))
        return clicks, errors

    batch = stream_interval_join(*sides(ev), how="leftOuter")
    s1, s2 = open_event_stream(spark, sf_dir), open_event_stream(spark, sf_dir)
    stream = run_available_now(
        stream_interval_join(sides(s1)[0], sides(s2)[1], how="leftOuter"),
        output_mode="append")
    # final watermark = (max surviving click ts) - 30m delay; only clicks
    # strictly past it have final outcomes. 1-min margin for boundary rows.
    import datetime as _dt
    max_click_ts = sides(ev)[0].agg(F.max("ts")).collect()[0][0]
    final_cutoff = max_click_ts - _dt.timedelta(minutes=31)
    cols = ["click_id", "err_id", "user_id", "ts"]
    got = [r for r in _rows(stream, cols) if r[3] < final_cutoff]
    want = [r for r in _rows(batch, cols) if r[3] < final_cutoff]
    assert got == want and len(got) > 0
    assert any(r[1] is None for r in want)  # unmatched clicks present


def test_stateful_stats_tws_stream_equals_batch(spark, batch_events,
                                                stream_events):
    """transformWithStateInPandas (the current-generation arbitrary-state
    API, ValueState-backed) must produce the same final per-key stats as
    the applyInPandasWithState form and the batch aggregate. Requires the
    RocksDB state store provider, and its worker protocol needs protobuf
    (absent in this container -> skip; the operator itself is pickled
    module-level code with no extra deps)."""
    pytest.importorskip("google.protobuf.descriptor")
    from pyspark.sql import Window as W
    from etl_load_spark.streaming.stateful import (stateful_user_stats,
                                                   stateful_user_stats_tws)
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state."
                        "RocksDBStateStoreProvider")
    try:
        out = run_available_now(stateful_user_stats_tws(stream_events),
                                output_mode="append")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (out.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1)
             .select("user_id", "n_events", "total_micros", "max_value"))
    batch = stateful_user_stats(batch_events)
    got = sorted(map(tuple, final.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_stream_block_dedup_incremental_history(spark, tmp_path):
    """Streaming passage-level dedup (stream_block_dedup): batch 1 emits
    its distinct blocks; batch 2, resumed from the same checkpoint, emits
    ONLY blocks never seen in batch 1 — the seen-set lives in the state
    store, so a crawl increment dedups against the whole ingested history.
    The union of survivors equals the batch operator's distinct-block set."""
    from etl_load_spark.operators.corpus import doc_blocks
    from etl_load_spark.streaming.windows import stream_block_dedup

    a16 = " ".join(f"a{i}" for i in range(16))
    b16 = " ".join(f"b{i}" for i in range(16))
    c16 = " ".join(f"c{i}" for i in range(16))
    in_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")  # file sink path is fixed per checkpoint
    schema = "doc_id bigint, text string"

    def run_increment():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = start_stream(stream_block_dedup(stream)
                         .writeStream.format("parquet")
                         .option("path", out_dir)
                         .option("checkpointLocation", chk)
                         .outputMode("append")
                         .trigger(availableNow=True), spark)
        q.awaitTermination(300)
        return {(r.doc_id, r.block_text)
                for r in spark.read.parquet(out_dir).collect()}

    batch1 = [(1, f"{a16} {b16}"), (2, a16)]
    spark.createDataFrame(batch1, schema).coalesce(1) \
         .write.mode("append").parquet(in_dir)
    out1 = run_increment()
    assert sorted(b for _, b in out1) == sorted([a16, b16])

    # batch 2: one block already ingested in batch 1, one genuinely new —
    # the resumed checkpoint's state filters the repeat
    batch2 = [(3, f"{b16} {c16}")]
    spark.createDataFrame(batch2, schema).coalesce(1) \
         .write.mode("append").parquet(in_dir)
    out2 = run_increment()
    assert out2 - out1 == {(3, c16)}  # b16 filtered against history

    # block-set equivalence with the batch operator over the full corpus
    full = spark.createDataFrame(batch1 + batch2, schema)
    want = {r._btext for r in doc_blocks(full).select("_btext")
            .distinct().collect()}
    assert {b for _, b in out2} == want


def test_stateful_stats_null_values_stream_equals_batch(spark, tmp_path):
    """Null-injected events fixture (VERDICT r2 #7): the driver testdata has
    zero NULL `value` rows, so the r2-found NaN divergence
    (np.floor(NaN).astype("int64") poisoning total_micros vs the batch
    twin's SQL NULL-skipping SUM) was invisible to every oracle. Streaming
    and batch must agree on NULL input, including the all-NULL-key case
    where SQL SUM/MAX are NULL, not 0."""
    from datetime import datetime
    from pyspark.sql import Window as W
    from etl_load_spark.streaming.stateful import stateful_user_stats

    ts = datetime(2024, 1, 1, 10, 0, 0)
    rows = [(1, ts, 1.5), (1, ts, None), (1, ts, 2.25),
            (2, ts, None),                      # all-NULL user
            (3, ts, 0.125)]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
    src = str(tmp_path / "null_events")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = run_available_now(stateful_user_stats(stream),
                            output_mode="append")
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (out.withColumn("_rn", F.row_number().over(w))
             .filter(F.col("_rn") == 1)
             .select("user_id", "n_events", "total_micros", "max_value"))
    batch = stateful_user_stats(spark.read.parquet(src))
    got = sorted(map(tuple, final.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want
    by_user = {r.user_id: r for r in batch.collect()}
    assert by_user[1].n_events == 3                      # NULL rows count
    assert by_user[1].total_micros == 1_500_000 + 2_250_000  # NULLs skipped
    assert by_user[2].total_micros is None               # SQL SUM(all NULL)
    assert by_user[2].max_value is None
    assert by_user[3].total_micros == 125_000


def test_stream_content_dedup_rocksdb_state_store(spark, tmp_path):
    """The documented 100 TB state path (stream_content_dedup /
    stream_block_dedup docstrings: 'use the RocksDB state store
    provider') actually runs here, not just in prose: the same
    checkpointed first-seen-wins admission under
    RocksDBStateStoreProvider admits the identical content set across
    two increments. The provider class is captured at stream start and
    an unloadable class fails the query, so green = RocksDB really
    held the dedup state (the JVM-side store needs no protobuf, unlike
    transformWithState)."""
    from etl_load_spark.streaming.windows import stream_content_dedup

    schema = "doc_id bigint, text string"
    in_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    conf = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = ("org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider")
    prev = spark.conf.get(conf, None)

    def run_increment():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = start_stream(stream_content_dedup(stream)
                         .writeStream.format("parquet")
                         .option("path", out_dir)
                         .option("checkpointLocation", chk)
                         .outputMode("append")
                         .trigger(availableNow=True), spark)
        q.awaitTermination(300)
        return {r.content_md5 for r in spark.read.parquet(out_dir).collect()}

    spark.conf.set(conf, rocksdb)
    try:
        spark.createDataFrame(
            [(1, "doc one"), (2, "doc two"), (3, "DOC   ONE")], schema) \
            .coalesce(1).write.mode("append").parquet(in_dir)
        out1 = run_increment()
        assert len(out1) == 2               # the case variant collapsed
        # increment 2 resumes the RocksDB-backed checkpoint: the repeat
        # is filtered by restored state, the new content admits
        spark.createDataFrame(
            [(4, "doc two"), (5, "doc three")], schema) \
            .coalesce(1).write.mode("append").parquet(in_dir)
        out2 = run_increment()
        assert len(out2) == 3 and out1 < out2
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def test_stream_content_dedup_against_history_and_state(spark, tmp_path):
    """Streaming content-level admission (stream_content_dedup): content
    in the static admitted index never emits; within the stream each
    content emits exactly once ACROSS micro-batches (checkpointed
    state); whitespace/case variants collapse (the chained content_key
    convention, with the md5(raw) non-latin fallback); and the admitted
    content SET equals
    the batch operator's (incremental_dedup) — survivor attribution
    differs by design (arrival order vs min id)."""
    from etl_load_spark.operators.dedup import incremental_dedup
    from etl_load_spark.streaming.windows import stream_content_dedup

    schema = "doc_id bigint, text string"
    hist = spark.createDataFrame(
        [(0, "an admitted document")], schema)
    in_dir, chk = str(tmp_path / "in"), str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")

    def run_increment():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = start_stream(stream_content_dedup(stream, hist)
                         .writeStream.format("parquet")
                         .option("path", out_dir)
                         .option("checkpointLocation", chk)
                         .outputMode("append")
                         .trigger(availableNow=True), spark)
        q.awaitTermination(300)
        return {r.content_md5 for r in spark.read.parquet(out_dir).collect()}

    batch1 = [(1, "An  Admitted DOCUMENT"),   # history variant → dropped
              (2, "a fresh document"),
              (3, "A FRESH document"),        # in-stream variant of 2
              (10, "你好世界"),                # CJK doc A (normalizes empty)
              (11, "完全不同的文档")]          # CJK doc B — must NOT collapse
    spark.createDataFrame(batch1, schema).coalesce(1) \
         .write.mode("append").parquet(in_dir)
    out1 = run_increment()
    assert len(out1) == 3                     # fresh + BOTH CJK docs

    # increment 2: a repeat of already-admitted content + one new —
    # the resumed checkpoint's state filters the repeat (incl. the CJK
    # repeat, via the md5(raw) fallback key in checkpointed state)
    batch2 = [(4, "a fresh document"), (5, "another new one"),
              (12, "你好世界")]
    spark.createDataFrame(batch2, schema).coalesce(1) \
         .write.mode("append").parquet(in_dir)
    out2 = run_increment()
    assert len(out2) == 4 and out1 < out2

    # content-set equivalence with the batch operator over the full feed
    full = spark.createDataFrame(batch1 + batch2, schema)
    want = {r.content_md5
            for r in incremental_dedup(full, hist).collect()}
    assert out2 == want
