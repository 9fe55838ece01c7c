"""Streaming mode through the job spec (SURVEY §7 step 7): the same spec
runs incrementally — a checkpointed AvailableNow job processes existing
files, terminates, and a re-run after new files arrive processes ONLY the
delta. Also: watermarked windowed aggregation via the spec's query field."""

import pytest

from etl_load_spark.runner import run_job
from etl_load_spark.spec import JobSpec


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, "k bigint, v string").write.mode(
        "append").parquet(path)


def _spec(src, dest, ckpt):
    return JobSpec.from_dict({
        "job_id": "stream-demo",
        "source": {"type": "PARQUET", "details": {"path": src}},
        "mappings": [
            {"sourceFieldName": "k", "destinationFieldName": "key",
             "sourceFieldType": "NUMBER", "destFieldType": "LONG"},
            {"sourceFieldName": "v", "destinationFieldName": "val",
             "sourceFieldType": "VARCHAR2", "destFieldType": "STRING",
             "transformationRule": "UPPERCASE"},
        ],
        "filter": "k >= 0",
        "destination": {"type": "PARQUET", "details": {"path": dest}},
        "streaming": {"checkpoint": ckpt},
        "steps": ["LOAD"],
    })


def test_incremental_ingest_via_checkpoint(spark, tmp_path):
    src = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")

    _write_batch(spark, src, [[1, "a"], [2, "b"]])
    r1 = run_job(spark, _spec(src, dest, ckpt))
    assert r1.status == "COMPLETED", r1.error
    out1 = {(r.key, r.val) for r in spark.read.parquet(dest).collect()}
    assert out1 == {(1, "A"), (2, "B")}

    # second run with NO new files: nothing reprocessed (no duplicates)
    r2 = run_job(spark, _spec(src, dest, ckpt))
    assert r2.status == "COMPLETED", r2.error
    assert spark.read.parquet(dest).count() == 2

    # new file arrives -> only the delta is appended
    _write_batch(spark, src, [[3, "c"]])
    r3 = run_job(spark, _spec(src, dest, ckpt))
    assert r3.status == "COMPLETED", r3.error
    out3 = {(r.key, r.val) for r in spark.read.parquet(dest).collect()}
    assert out3 == {(1, "A"), (2, "B"), (3, "C")}
    assert spark.read.parquet(dest).count() == 3


def test_streaming_query_applies_filter_and_mappings(spark, tmp_path):
    """A streaming query job runs the same stages as a batch one: the
    filter and mappings apply to the query's output."""
    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    _write_batch(spark, src, [[1, "a"], [2, "b"], [-1, "c"]])
    spec = _spec(src, dest, str(tmp_path / "ckpt"))
    spec.query = "SELECT k, v FROM src"
    r = run_job(spark, spec)
    assert r.status == "COMPLETED", r.error
    out = spark.read.parquet(dest)
    assert out.columns == ["key", "val"]
    assert {(x.key, x.val) for x in out.collect()} == {(1, "A"), (2, "B")}


def test_streaming_csv_sink_writes_header(spark, tmp_path):
    """A streamed FILE_CSV sink writes the batch writer's dialect, so the
    job's own VALIDATE_LOAD reads every row back with header=true."""
    import glob

    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    _write_batch(spark, src, [[i, str(i * 10)] for i in range(10)])
    r = run_job(spark, JobSpec.from_dict({
        "job_id": "stream-csv-sink",
        "source": {"type": "PARQUET", "details": {"path": src}},
        "destination": {"type": "FILE_CSV", "details": {"path": dest}},
        "streaming": {"checkpoint": str(tmp_path / "ckpt")},
        "expectations": [{"check": "row_count_min", "value": 10}],
        "steps": ["LOAD", "VALIDATE_LOAD"],
    }))
    assert r.status == "COMPLETED", r.error
    parts = glob.glob(dest + "/part-*.csv")
    assert parts
    for part in parts:
        with open(part) as f:
            assert f.readline().strip() == "k,v"


def test_streaming_windowed_query_with_watermark(spark, tmp_path):
    src = str(tmp_path / "events")
    dest = str(tmp_path / "agg")
    spark.createDataFrame(
        [("2024-01-01 00:05:00", "click"), ("2024-01-01 00:20:00", "click"),
         ("2024-01-01 01:10:00", "view")],
        "ts_s string, etype string"
    ).selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "etype").write.parquet(src)
    spec = JobSpec.from_dict({
        "job_id": "stream-window",
        "source": {"type": "PARQUET", "details": {"path": src}},
        "query": ("SELECT window(ts, '1 hour').start AS ws, etype, "
                  "COUNT(*) AS n FROM src GROUP BY window(ts, '1 hour'), etype"),
        "destination": {"type": "PARQUET", "details": {"path": dest}},
        "streaming": {"checkpoint": str(tmp_path / "ckpt2"),
                      "watermark": {"column": "ts", "delay": "10 minutes"}},
        "steps": ["LOAD"],
    })
    r = run_job(spark, spec)
    assert r.status == "COMPLETED", r.error
    got = {(str(x.ws), x.etype, x.n) for x in spark.read.parquet(dest).collect()}
    # append mode emits a window only once the watermark passes its END:
    # after batch 1 the watermark is 01:00, so [01:00,02:00) is still open
    assert got == {("2024-01-01 00:00:00", "click", 2)}

    # a later event advances the watermark past 02:00 -> the open window
    # closes and emits on the next incremental run
    spark.createDataFrame([("2024-01-01 02:30:00", "view")],
                          "ts_s string, etype string") \
        .selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "etype") \
        .write.mode("append").parquet(src)
    r2 = run_job(spark, spec)
    assert r2.status == "COMPLETED", r2.error
    got2 = {(str(x.ws), x.etype, x.n) for x in spark.read.parquet(dest).collect()}
    assert got2 == {("2024-01-01 00:00:00", "click", 2),
                    ("2024-01-01 01:00:00", "view", 1)}


def test_streaming_requires_checkpoint(spark, tmp_path):
    spec = _spec(str(tmp_path / "s"), str(tmp_path / "d"), "")
    spec.streaming = {"trigger": "availableNow"}
    r = run_job(spark, spec)
    assert r.status == "FAILED" and "checkpoint" in r.error


def test_streaming_quality_filter_and_mixture_work_passage_dedup_refuses(
        spark, tmp_path):
    """Corpus stages on streaming jobs: the per-row stages (QUALITY_FILTER,
    MIXTURE_SAMPLE) run incrementally; PASSAGE_DEDUP (two stateful stages)
    refuses with a pointer to stream_block_dedup instead of Spark's opaque
    output-mode error."""
    import json
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    rows = [(1, "web", "the quick brown fox jumps over the lazy dog today"),
            (2, "books", "tiny"),
            (3, "web", "a stream of tokens long enough to pass the gate ok")]
    spark.createDataFrame(rows, "doc_id bigint, source string, text string") \
         .write.parquet(str(tmp_path / "in"))

    def spec(tr_type, params, out):
        return JobSpec.from_dict({
            "jobId": f"stream-{tr_type.lower()}-{out}",
            "source": {"type": "PARQUET",
                       "details": {"path": str(tmp_path / "in"),
                                   "schema": ("doc_id bigint, source string,"
                                              " text string")}},
            "transformation": {"type": tr_type, "parameters": params},
            "destination": {"type": "PARQUET",
                            "details": {"path": str(tmp_path / out)}},
            "streaming": {"checkpoint": str(tmp_path / f"chk_{out}")},
        })

    r = run_job(spark, spec("QUALITY_FILTER",
                            {"minWords": 5, "minStopwords": 0}, "q"))
    assert r.status == "COMPLETED", r.error
    got = {x.doc_id for x in spark.read.parquet(str(tmp_path / "q")).collect()}
    assert got == {1, 3}  # doc 2 fails minWords

    r = run_job(spark, spec("MIXTURE_SAMPLE",
                            {"weights": {"web": 1.0, "books": 0.0}}, "m"))
    assert r.status == "COMPLETED", r.error
    got = {x.doc_id for x in spark.read.parquet(str(tmp_path / "m")).collect()}
    assert got == {1, 3}

    r = run_job(spark, spec("PASSAGE_DEDUP", {"blockTokens": 4}, "p"))
    assert r.status == "FAILED"
    assert "stream_block_dedup" in (r.error or "")

    r = run_job(spark, spec("WINDOW_MINHASH_DEDUP", {}, "wm"))
    assert r.status == "FAILED"
    assert "stream_content_dedup" in (r.error or "")

    # GAPFILL's grid bounds are feed-global: refuses with the
    # incremental-rollup-then-batch-fill pointer
    r = run_job(spark, spec("GAPFILL", {"keyColumn": "doc_id",
                                        "tsColumn": "ts",
                                        "valueColumn": "v"}, "gf"))
    assert r.status == "FAILED"
    assert "time_bucket_rollup" in (r.error or "")

    # COUNTER_RATE's lag needs full per-series history: refuses with
    # the keyed-state pointer
    r = run_job(spark, spec("COUNTER_RATE", {"keyColumn": "doc_id",
                                             "tsColumn": "ts",
                                             "valueColumn": "v",
                                             "orderColumn": "doc_id"},
                            "cr"))
    assert r.status == "FAILED"
    assert "applyInPandasWithState" in (r.error or "")


    # TIME_WEIGHTED_AVG streams via the round-12 collect_list twin;
    # only the carry form refuses (watermark-evicted carry sample)
    r = run_job(spark, spec("TIME_WEIGHTED_AVG",
                            {"keyColumn": "doc_id", "tsColumn": "ts",
                             "valueColumn": "v", "orderColumn": "doc_id",
                             "carryIn": True},
                            "tw"))
    assert r.status == "FAILED"
    assert "watermark has already evicted" in (r.error or "")

    # STATE_DURATIONS / HEARTBEAT_UPTIME stream via their round-12
    # collect_list twins (success path pinned in
    # test_streaming_state_heartbeat_stages_stream); only the CARRY
    # form still refuses — the carried sample is watermark-evicted
    # state (the hotSplit knob rides the carry form and refuses too)
    r = run_job(spark, spec("STATE_DURATIONS",
                            {"keyColumn": "doc_id", "tsColumn": "ts",
                             "stateColumn": "source",
                             "orderColumn": "doc_id",
                             "carryIn": True}, "sd"))
    assert r.status == "FAILED"
    assert "watermark has already evicted" in (r.error or "")

    r = run_job(spark, spec("HEARTBEAT_UPTIME",
                            {"keyColumn": "doc_id", "tsColumn": "ts",
                             "orderColumn": "doc_id",
                             "carryIn": True}, "hb"))
    assert r.status == "FAILED"
    assert "watermark has already evicted" in (r.error or "")

    r = run_job(spark, spec("HEARTBEAT_UPTIME",
                            {"keyColumn": "doc_id", "tsColumn": "ts",
                             "orderColumn": "doc_id",
                             "hotSplit": "6 hours"}, "hb2"))
    assert r.status == "FAILED"
    assert "per-bucket-parallel" in (r.error or "")

    # LTTB's selection is sequential over the complete series:
    # land-then-downsample pointer
    r = run_job(spark, spec("LTTB", {"keyColumn": "doc_id",
                                     "tsColumn": "ts",
                                     "valueColumn": "v",
                                     "orderColumn": "doc_id"}, "lt"))
    assert r.status == "FAILED"
    assert "downsample" in (r.error or "")

    # the snapshot-needing curation stages refuse with their batch pointer
    r = run_job(spark, spec("DECONTAMINATE", {}, "d"))
    assert r.status == "FAILED" and "batch" in (r.error or "")
    r = run_job(spark, spec("CLUSTER_BALANCE", {}, "c"))
    assert r.status == "FAILED" and "anchor" in (r.error or "")
    r = run_job(spark, spec("LM_SURPRISAL", {"maxBits": 8.0}, "l"))
    assert r.status == "FAILED" and "stream-static" in (r.error or "")

    # CHUNK_DOCUMENTS is stateless per row — it must RUN incrementally
    # and produce exactly the batch operator's chunk relation
    r = run_job(spark, spec("CHUNK_DOCUMENTS",
                            {"chunkTokens": 4, "overlap": 1}, "ch"))
    assert r.status == "COMPLETED", r.error
    from etl_load_spark.operators.corpus import chunk_documents
    got = sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "ch")).collect()))
    want = sorted(map(tuple, chunk_documents(
        spark.read.parquet(str(tmp_path / "in")),
        chunk_tokens=4, overlap=1).collect()))
    assert got == want and len(got) > 3

    # the corpus-global training-assembly stages refuse with pointers
    r = run_job(spark, spec("SEQUENCE_PACK", {"seqLen": 8}, "sp"))
    assert r.status == "FAILED" and "prefix sum" in (r.error or "")
    r = run_job(spark, spec("STRATIFIED_SAMPLE",
                            {"stratumColumn": "source"}, "ss"))
    assert r.status == "FAILED" and "MIXTURE_SAMPLE" in (r.error or "")
    r = run_job(spark, spec("INCREMENTAL_DEDUP", {}, "inc"))
    assert r.status == "FAILED" and "stream_content_dedup" in (r.error or "")

    # URL_CANONICALIZE is a pure projection — it must RUN incrementally
    r = run_job(spark, spec("URL_CANONICALIZE",
                            {"urlColumn": "text",
                             "outputColumn": "canon"}, "url"))
    assert r.status == "COMPLETED", r.error
    assert "canon" in spark.read.parquet(str(tmp_path / "url")).columns


def test_streaming_quantize_embeddings_runs(spark, tmp_path):
    """QUANTIZE_EMBEDDINGS is a pure Arrow-batched projection — it must
    run incrementally and match the batch kernel byte-for-byte."""
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    rows = [(1, [0.0, 1.0, 2.0, 4.0]), (2, [3.0, 3.0, 3.0, 3.0])]
    spark.createDataFrame(rows, "vec_id bigint, embedding array<double>") \
         .write.parquet(str(tmp_path / "in"))
    r = run_job(spark, JobSpec.from_dict({
        "jobId": "stream-quantize",
        "source": {"type": "PARQUET",
                   "details": {"path": str(tmp_path / "in"),
                               "schema": ("vec_id bigint,"
                                          " embedding array<double>")}},
        "transformation": {"type": "QUANTIZE_EMBEDDINGS", "parameters": {}},
        "destination": {"type": "PARQUET",
                        "details": {"path": str(tmp_path / "out")}},
        "streaming": {"checkpoint": str(tmp_path / "chk")},
    }))
    assert r.status == "COMPLETED", r.error
    got = {x.vec_id: x.codes for x in
           spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {1: "0,63,127,255", 2: "0,0,0,0"}


def test_streaming_markup_strip_runs(spark, tmp_path):
    """MARKUP_STRIP is a pure map-side projection — it must run
    incrementally and match the batch operator."""
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    rows = [(1, "<p>Hello <b>world</b></p>"), (2, "plain")]
    spark.createDataFrame(rows, "doc_id bigint, text string") \
         .write.parquet(str(tmp_path / "in"))
    r = run_job(spark, JobSpec.from_dict({
        "jobId": "stream-markup",
        "source": {"type": "PARQUET",
                   "details": {"path": str(tmp_path / "in"),
                               "schema": "doc_id bigint, text string"}},
        "transformation": {"type": "MARKUP_STRIP", "parameters": {}},
        "destination": {"type": "PARQUET",
                        "details": {"path": str(tmp_path / "out")}},
        "streaming": {"checkpoint": str(tmp_path / "chk")},
    }))
    assert r.status == "COMPLETED", r.error
    got = {x.doc_id: x.clean_text for x in
           spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {1: "Hello world", 2: "plain"}


def test_streaming_rollup_stages_materialize_continuous_aggregate(
        spark, tmp_path):
    """Round 11: the pure-aggregate rollup stages (OHLC, TREND,
    VALUE_HISTOGRAM) run on STREAMING jobs via their watermark twins,
    and a parquet destination with streaming.output_mode=update
    materializes through the continuous-aggregate upsert (dynamic
    partition overwrite per micro-batch, partitioned by the bucket
    column). The materialized table must equal the batch operator."""
    import datetime as dt
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    from etl_load_spark.operators.timeseries import (
        ohlc, trend, value_histogram,
    )
    rows = [(i, "t%d" % (i % 2), 1 + i % 3,
             dt.datetime(2024, 1, 1 + i % 4, i % 24, 0, 0),
             float((i * 13) % 90))
            for i in range(48)]
    feed = spark.createDataFrame(
        rows, "event_id bigint, event_type string, user_id bigint,"
              " ts timestamp, value double")
    feed.write.parquet(str(tmp_path / "in"))

    def spec(tr_type, params, out):
        return JobSpec.from_dict({
            "jobId": f"stream-{tr_type.lower()}",
            "source": {"type": "PARQUET",
                       "details": {"path": str(tmp_path / "in"),
                                   "schema": ("event_id bigint, event_type"
                                              " string, user_id bigint,"
                                              " ts timestamp,"
                                              " value double")}},
            "transformation": {"type": tr_type, "parameters": params},
            "destination": {"type": "PARQUET",
                            "details": {"path": str(tmp_path / out),
                                        "partition_by": ["bucket_ts"]}},
            "streaming": {"checkpoint": str(tmp_path / f"chk_{out}"),
                          "output_mode": "update"},
        })

    cases = [
        ("OHLC", {}, "oh", ohlc(feed),
         ["event_type", "bucket_ts", "open", "high", "low", "close",
          "n_events"]),
        ("TREND", {}, "tr", trend(feed),
         ["user_id", "bucket_ts", "n_samples", "slope_per_sec"]),
        ("VALUE_HISTOGRAM", {"lo": 0.0, "hi": 90.0, "nbins": 9}, "vh",
         value_histogram(feed, lo=0.0, hi=90.0, nbins=9),
         ["user_id", "bucket_ts", "bin", "n_samples"]),
    ]
    for tr_type, params, out, batch, cols in cases:
        r = run_job(spark, spec(tr_type, params, out))
        assert r.status == "COMPLETED", (tr_type, r.error)
        got = spark.read.parquet(str(tmp_path / out))
        srt = lambda df: sorted(  # noqa: E731
            tuple(x[c] for c in cols) for x in df.collect())
        assert srt(got) == srt(batch), tr_type


def test_streaming_rollup_upsert_survives_multiple_micro_batches(
        spark, tmp_path):
    """ADVICE r11 (high): update mode emits only the groups changed per
    micro-batch, so the continuous-aggregate upsert must MERGE each
    batch with the partitions it touches — a bare dynamic partition
    overwrite deletes sibling groups written by earlier batches. Feed
    three files through maxFilesPerTrigger=1 (three micro-batches) into
    one shared day bucket: file 1 holds event_type 'a', file 2 holds
    ONLY 'b' (so the 'a' candle is NOT re-emitted in batch 2 — the bare
    overwrite deletes it), file 3 updates 'a' again (the re-emitted
    candle must REPLACE the stale 'a' row and keep the 'b' sibling).
    The final table must equal the batch OHLC over everything."""
    import datetime as dt
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    from etl_load_spark.operators.timeseries import ohlc

    day = dt.datetime(2024, 3, 1)
    f1 = [(1, "a", 1, day.replace(hour=1), 10.0),
          (2, "a", 1, day.replace(hour=2), 20.0)]
    f2 = [(3, "b", 1, day.replace(hour=3), 30.0)]
    f3 = [(4, "a", 1, day.replace(hour=4), 40.0)]   # late 'a' update
    schema = ("event_id bigint, event_type string, user_id bigint,"
              " ts timestamp, value double")
    spark.createDataFrame(f1, schema).coalesce(1) \
         .write.parquet(str(tmp_path / "in"))
    spark.createDataFrame(f2, schema).coalesce(1) \
         .write.mode("append").parquet(str(tmp_path / "in"))
    spark.createDataFrame(f3, schema).coalesce(1) \
         .write.mode("append").parquet(str(tmp_path / "in"))
    r = run_job(spark, JobSpec.from_dict({
        "jobId": "stream-ohlc-multibatch",
        "source": {"type": "PARQUET",
                   "details": {"path": str(tmp_path / "in"),
                               "schema": schema,
                               "max_files_per_trigger": 1}},
        "transformation": {"type": "OHLC", "parameters": {}},
        "destination": {"type": "PARQUET",
                        "details": {"path": str(tmp_path / "out"),
                                    "partition_by": ["bucket_ts"]}},
        "streaming": {"checkpoint": str(tmp_path / "chk"),
                      "output_mode": "update"},
    }))
    assert r.status == "COMPLETED", r.error
    batch = ohlc(spark.createDataFrame(f1 + f2 + f3, schema))
    cols = ["event_type", "bucket_ts", "open", "high", "low", "close",
            "n_events"]
    srt = lambda df: sorted(  # noqa: E731
        tuple(x[c] for c in cols) for x in df.collect())
    got = spark.read.parquet(str(tmp_path / "out"))
    assert srt(got) == srt(batch)
    # both event types present in the shared bucket — the sibling-group
    # deletion regression collapses this to one
    assert got.select("event_type").distinct().count() == 2


def test_streaming_state_heartbeat_stages_stream(spark, tmp_path):
    """Round 12 (VERDICT r11 #3): STATE_DURATIONS and HEARTBEAT_UPTIME
    run on STREAMING jobs via their collect_list twins (non-carry
    form) and materialize through the update-mode group-key upsert;
    the landed tables must equal the batch operators."""
    import datetime as dt
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    from etl_load_spark.operators.timeseries import (
        heartbeat_uptime, state_durations,
    )
    rows = [(i, "s%d" % (i % 3), 1 + i % 2,
             dt.datetime(2024, 2, 1 + i % 3, (i * 5) % 24, i % 60),
             float(i)) for i in range(40)]
    schema = ("event_id bigint, event_type string, user_id bigint,"
              " ts timestamp, value double")
    feed = spark.createDataFrame(rows, schema)
    feed.write.parquet(str(tmp_path / "in"))

    def spec(tr_type, params, out):
        return JobSpec.from_dict({
            "jobId": f"stream-{out}",
            "source": {"type": "PARQUET",
                       "details": {"path": str(tmp_path / "in"),
                                   "schema": schema}},
            "transformation": {"type": tr_type, "parameters": params},
            "destination": {"type": "PARQUET",
                            "details": {"path": str(tmp_path / out),
                                        "partition_by": ["bucket_ts"]}},
            "streaming": {"checkpoint": str(tmp_path / f"chk_{out}"),
                          "output_mode": "update"},
        })

    cases = [
        ("STATE_DURATIONS", {}, "sd", state_durations(feed),
         ["user_id", "bucket_ts", "event_type", "held_ms", "n_entries",
          "n_samples"]),
        ("HEARTBEAT_UPTIME", {"emitDowntime": True}, "hb",
         heartbeat_uptime(feed, emit_downtime=True),
         ["user_id", "bucket_ts", "n_beats", "uptime_ms", "n_gaps",
          "downtime_ms"]),
    ]
    for tr_type, params, out, batch, cols in cases:
        r = run_job(spark, spec(tr_type, params, out))
        assert r.status == "COMPLETED", (tr_type, r.error)
        got = spark.read.parquet(str(tmp_path / out))
        srt = lambda df: sorted(  # noqa: E731
            tuple(x[c] for c in cols) for x in df.collect())
        assert srt(got) == srt(batch), tr_type


def test_continuous_rollup_maintained_across_job_runs(spark, tmp_path):
    """VERDICT r11 #4: a job spec maintains a downsampled hypertable
    END-TO-END — the TREND rollup streams through the update-mode
    upsert, COMPACT_DESTINATION keeps the table's file count healthy,
    and RE-RUNNING the same spec after new data lands processes ONLY
    the new files (checkpoint-incremental) while the materialization
    stays equal to the batch rollup over everything ingested so far."""
    import datetime as dt
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    from etl_load_spark.operators.timeseries import trend

    schema = ("event_id bigint, user_id bigint, ts timestamp,"
              " value double")
    day = dt.datetime(2024, 5, 1)
    r1 = [(i, i % 3, day + dt.timedelta(hours=i), float(i * 7 % 50))
          for i in range(24)]
    r2 = [(100 + i, i % 3, day + dt.timedelta(days=1, hours=i),
           float(i * 11 % 50)) for i in range(12)]
    spark.createDataFrame(r1, schema).coalesce(1) \
         .write.parquet(str(tmp_path / "in"))

    spec = {
        "jobId": "trend-hypertable",
        "source": {"type": "PARQUET",
                   "details": {"path": str(tmp_path / "in"),
                               "schema": schema}},
        "transformation": {"type": "TREND", "parameters": {}},
        "destination": {"type": "PARQUET",
                        "details": {"path": str(tmp_path / "out"),
                                    "partition_by": ["bucket_ts"],
                                    "compact_target_mb": 64}},
        "streaming": {"checkpoint": str(tmp_path / "chk"),
                      "output_mode": "update"},
        "steps": ["VALIDATE_SOURCE", "LOAD", "COMPACT_DESTINATION",
                  "VALIDATE_LOAD"],
        "expectations": [{"check": "not_null", "column": "bucket_ts"}],
    }
    cols = ["user_id", "bucket_ts", "n_samples", "slope_per_sec"]
    srt = lambda df: sorted(  # noqa: E731
        tuple(x[c] for c in cols) for x in df.collect())

    res1 = run_job(spark, JobSpec.from_dict(spec))
    assert res1.status == "COMPLETED", res1.error
    assert res1.records_read == len(r1)
    got1 = spark.read.parquet(str(tmp_path / "out"))
    assert srt(got1) == srt(trend(spark.createDataFrame(r1, schema)))

    # round 2: new files land; the checkpoint makes the re-run
    # process only them, and the upsert folds them into the table
    spark.createDataFrame(r2, schema).coalesce(1) \
         .write.mode("append").parquet(str(tmp_path / "in"))
    res2 = run_job(spark, JobSpec.from_dict(spec))
    assert res2.status == "COMPLETED", res2.error
    assert res2.records_read == len(r2)   # incremental, not a rescan
    got2 = spark.read.parquet(str(tmp_path / "out"))
    assert srt(got2) == srt(trend(spark.createDataFrame(r1 + r2, schema)))


def test_update_mode_file_sink_without_merge_keys_raises(spark, tmp_path):
    """A raw update-mode aggregate (no rollup stage → no derivable group
    key) must refuse the file materialization loudly, naming
    destination.details.merge_keys — not silently drop sibling groups."""
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    spark.createDataFrame(
        [(1, "a", 1.0, __import__("datetime").datetime(2024, 1, 1))],
        "event_id bigint, event_type string, value double, ts timestamp",
    ).write.parquet(str(tmp_path / "in"))
    r = run_job(spark, JobSpec.from_dict({
        "jobId": "stream-raw-update",
        "source": {"type": "PARQUET",
                   "details": {"path": str(tmp_path / "in"),
                               "schema": ("event_id bigint, event_type "
                                          "string, value double, "
                                          "ts timestamp")}},
        "query": ("SELECT event_type, window(ts, '1 day').start AS "
                  "bucket_ts, count(*) AS n FROM src "
                  "GROUP BY event_type, window(ts, '1 day')"),
        "destination": {"type": "PARQUET",
                        "details": {"path": str(tmp_path / "out"),
                                    "partition_by": ["bucket_ts"]}},
        "streaming": {"checkpoint": str(tmp_path / "chk"),
                      "output_mode": "update",
                      "watermark": {"column": "ts",
                                    "delay": "30 minutes"}},
    }))
    assert r.status == "FAILED"
    assert "merge_keys" in (r.error or "")


def test_single_file_stream_source_checkpoint_survives_reruns(spark,
                                                              tmp_path):
    """ADVICE r12: a SINGLE-FILE streaming source is listed through a
    one-name glob, and the file-stream checkpoint keys its seen-files log
    on the listed path — so that path must be the same across runs. A
    re-run with a retained checkpoint and no new data must ingest ZERO
    rows (a per-run listing directory re-ingested the whole file,
    double-counting into retained update-mode state)."""
    import datetime as dt
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    from etl_load_spark.operators.timeseries import trend

    schema = ("event_id bigint, user_id bigint, ts timestamp,"
              " value double")
    day = dt.datetime(2024, 5, 1)
    rows = [(i, i % 3, day + dt.timedelta(hours=i), float(i * 7 % 50))
            for i in range(24)]
    spark.createDataFrame(rows, schema).coalesce(1) \
         .write.parquet(str(tmp_path / "in"))
    part = next((tmp_path / "in").glob("part-*.parquet"))

    spec = {
        "jobId": "trend-single-file",
        "source": {"type": "PARQUET",
                   "details": {"path": str(part), "schema": schema}},
        "transformation": {"type": "TREND", "parameters": {}},
        "destination": {"type": "PARQUET",
                        "details": {"path": str(tmp_path / "out"),
                                    "partition_by": ["bucket_ts"]}},
        "streaming": {"checkpoint": str(tmp_path / "chk"),
                      "output_mode": "update"},
    }
    cols = ["user_id", "bucket_ts", "n_samples", "slope_per_sec"]
    srt = lambda df: sorted(  # noqa: E731
        tuple(x[c] for c in cols) for x in df.collect())

    res1 = run_job(spark, JobSpec.from_dict(spec))
    assert res1.status == "COMPLETED", res1.error
    assert res1.records_read == len(rows)
    expected = srt(trend(spark.createDataFrame(rows, schema)))
    assert srt(spark.read.parquet(str(tmp_path / "out"))) == expected

    # re-run with the RETAINED checkpoint and no new data: nothing new
    # to ingest, and the materialization must not double-count
    res2 = run_job(spark, JobSpec.from_dict(spec))
    assert res2.status == "COMPLETED", res2.error
    assert res2.records_read == 0
    assert srt(spark.read.parquet(str(tmp_path / "out"))) == expected


def test_update_mode_csv_sink_rejected_loudly(spark, tmp_path):
    """ADVICE r12: update-mode file materialization to a
    non-self-describing format must fail naming the fix (parquet/orc)
    — headerless CSV read-back cannot round-trip the rollup schema for
    the micro-batch merge."""
    import datetime as dt
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    schema = ("event_id bigint, user_id bigint, ts timestamp,"
              " value double")
    spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), 1.0)], schema,
    ).write.parquet(str(tmp_path / "in"))
    r = run_job(spark, JobSpec.from_dict({
        "jobId": "stream-update-csv",
        "source": {"type": "PARQUET",
                   "details": {"path": str(tmp_path / "in"),
                               "schema": schema}},
        "transformation": {"type": "TREND", "parameters": {}},
        "destination": {"type": "CSV",
                        "details": {"path": str(tmp_path / "out"),
                                    "partition_by": ["bucket_ts"]}},
        "streaming": {"checkpoint": str(tmp_path / "chk"),
                      "output_mode": "update"},
    }))
    assert r.status == "FAILED"
    assert "self-describing" in (r.error or "")


def test_update_mode_narrower_merge_keys_rejected(spark, tmp_path):
    """ADVICE r12: user merge_keys may widen but never NARROW the
    derived rollup group key — ['bucket_ts'] for TREND (true key
    [user_id, bucket_ts]) would delete sibling users' rows per
    micro-batch."""
    import datetime as dt
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    schema = ("event_id bigint, user_id bigint, ts timestamp,"
              " value double")
    spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1), 1.0)], schema,
    ).write.parquet(str(tmp_path / "in"))
    r = run_job(spark, JobSpec.from_dict({
        "jobId": "stream-update-narrow-keys",
        "source": {"type": "PARQUET",
                   "details": {"path": str(tmp_path / "in"),
                               "schema": schema}},
        "transformation": {"type": "TREND", "parameters": {}},
        "destination": {"type": "PARQUET",
                        "details": {"path": str(tmp_path / "out"),
                                    "partition_by": ["bucket_ts"],
                                    "merge_keys": ["bucket_ts"]}},
        "streaming": {"checkpoint": str(tmp_path / "chk"),
                      "output_mode": "update"},
    }))
    assert r.status == "FAILED"
    assert "narrower" in (r.error or "")


def test_streaming_csv_source_parses_like_batch(spark, tmp_path):
    """A streaming CSV source takes the batch reader's options: with
    ``null_value: "NA"`` the stream lands NULL exactly where the batch read
    of the same file does."""
    from etl_load_spark.sources.registry import read_source
    from etl_load_spark.spec import EndpointConfig
    src = tmp_path / "src"
    src.mkdir()
    (src / "in.csv").write_text("k,v\n1,a\n2,NA\n3,\n")
    details = {"path": str(src), "schema": "k bigint, v string",
               "null_value": "NA"}
    dest = str(tmp_path / "dest")
    r = run_job(spark, JobSpec.from_dict({
        "job_id": "stream-csv-na",
        "source": {"type": "FILE_CSV", "details": details},
        "destination": {"type": "PARQUET", "details": {"path": dest}},
        "streaming": {"checkpoint": str(tmp_path / "ckpt")},
    }))
    assert r.status == "COMPLETED", r.error
    batch = read_source(spark, EndpointConfig(type="FILE_CSV",
                                              details=details))
    want = sorted(tuple(x) for x in batch.collect())
    assert want[1] == (2, None)
    assert sorted(tuple(x) for x in spark.read.parquet(dest).collect()) \
        == want


_PARTITIONS = "spark.sql.shuffle.partitions"
_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
_TREND_SCHEMA = ("event_id bigint, user_id bigint, ts timestamp,"
                 " value double")
_TREND_COLS = ["user_id", "bucket_ts", "n_samples", "slope_per_sec"]


def _trend_rows(day_offset, n):
    import datetime as dt
    day = dt.datetime(2024, 5, 1) + dt.timedelta(days=day_offset)
    return [(100 * day_offset + i, i % 3, day + dt.timedelta(hours=i),
             float(i * 7 % 50)) for i in range(n)]


def _trend_spec(tmp_path, chk="chk"):
    return {
        "jobId": "trend-state-partitions",
        "source": {"type": "PARQUET",
                   "details": {"path": str(tmp_path / "in"),
                               "schema": _TREND_SCHEMA}},
        "transformation": {"type": "TREND", "parameters": {}},
        "destination": {"type": "PARQUET",
                        "details": {"path": str(tmp_path / "out"),
                                    "partition_by": ["bucket_ts"]}},
        "streaming": {"checkpoint": str(tmp_path / chk),
                      "output_mode": "update"},
    }


def _recorded_partitions(chk) -> set[str]:
    """The shuffle partition count every batch of a checkpoint's offset
    log records (line 2 of each offsets file is the batch metadata)."""
    import json
    import pathlib
    files = [f for f in pathlib.Path(chk, "offsets").iterdir()
             if f.name.isdigit()]
    assert files, f"no offset log under {chk}"
    return {json.loads(f.read_text().splitlines()[1])["conf"][_PARTITIONS]
            for f in files}


def _sorted_trend(df):
    return sorted(tuple(x[c] for c in _TREND_COLS) for x in df.collect())


def test_new_checkpoint_gets_one_state_partition_per_core(spark, tmp_path):
    """A new checkpoint records min(session shuffle partitions,
    defaultParallelism) — above and below the core count — and the
    session keeps its own value."""
    from etl_load_spark.operators.timeseries import trend

    rows = _trend_rows(0, 24)
    spark.createDataFrame(rows, _TREND_SCHEMA).coalesce(1) \
         .write.parquet(str(tmp_path / "in"))
    cores = spark.sparkContext.defaultParallelism
    prev = spark.conf.get(_PARTITIONS)
    try:
        for session_n in (2 * cores, 1):
            spark.conf.set(_PARTITIONS, str(session_n))
            spec = _trend_spec(tmp_path, chk=f"chk_{session_n}")
            spec["destination"]["details"]["path"] = str(
                tmp_path / f"out_{session_n}")
            r = run_job(spark, JobSpec.from_dict(spec))
            assert r.status == "COMPLETED", r.error
            assert _recorded_partitions(tmp_path / f"chk_{session_n}") \
                == {str(min(session_n, cores))}
            assert spark.conf.get(_PARTITIONS) == str(session_n)
            assert _sorted_trend(spark.read.parquet(
                str(tmp_path / f"out_{session_n}"))) \
                == _sorted_trend(trend(spark.createDataFrame(
                    rows, _TREND_SCHEMA)))
    finally:
        spark.conf.set(_PARTITIONS, prev)


def test_old_checkpoint_resumes_with_its_partition_count(spark, tmp_path):
    """A checkpoint created with the batch default of 32 state partitions
    (the TREND rollup started without start_stream) keeps 32 when
    run_job resumes it, and the rollup equals its batch oracle."""
    from etl_load_spark.operators.timeseries import trend
    from etl_load_spark.plans.builder import (apply_transformation,
                                              streaming_merge_keys)
    from etl_load_spark.sources.readers import read_stream_source
    from etl_load_spark.sources.writers import rollup_upsert_writer

    r1, r2 = _trend_rows(0, 24), _trend_rows(1, 12)
    spark.createDataFrame(r1, _TREND_SCHEMA).coalesce(1) \
         .write.parquet(str(tmp_path / "in"))
    spec = JobSpec.from_dict(_trend_spec(tmp_path))
    prev = spark.conf.get(_PARTITIONS)
    spark.conf.set(_PARTITIONS, "32")
    try:
        df = apply_transformation(
            read_stream_source(spark, "PARQUET", spec.source.details),
            spark, spec)
        q = (df.writeStream.outputMode("update")
             .option("checkpointLocation", str(tmp_path / "chk"))
             .foreachBatch(rollup_upsert_writer(
                 str(tmp_path / "out"), "parquet", "bucket_ts",
                 streaming_merge_keys(spec)))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    finally:
        spark.conf.set(_PARTITIONS, prev)
    assert _recorded_partitions(tmp_path / "chk") == {"32"}

    spark.createDataFrame(r2, _TREND_SCHEMA).coalesce(1) \
         .write.mode("append").parquet(str(tmp_path / "in"))
    res = run_job(spark, spec)
    assert res.status == "COMPLETED", res.error
    assert res.records_read == len(r2)
    assert _recorded_partitions(tmp_path / "chk") == {"32"}
    assert _sorted_trend(spark.read.parquet(str(tmp_path / "out"))) \
        == _sorted_trend(trend(spark.createDataFrame(r1 + r2,
                                                     _TREND_SCHEMA)))


def test_concurrent_stream_starts_restore_session_partitions(spark,
                                                            tmp_path):
    """Two threads start stateful streams at the same moment: each new
    checkpoint gets one partition per core, and afterwards the session
    reads its original values — the partition count and the start-time
    confs the caller passed (the lock keeps one start from restoring the
    other's changed values). A failing start restores them too."""
    import threading
    import uuid

    from etl_load_spark.sources.writers import start_stream

    spark.createDataFrame([(i % 5, "x") for i in range(20)],
                          "k bigint, v string") \
         .write.parquet(str(tmp_path / "in"))
    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get(_PARTITIONS)
    no_data_before = spark.conf.get(_NO_DATA)
    barrier = threading.Barrier(2)
    queries, errors = [], []

    def start(i):
        counts = (spark.readStream.schema("k bigint, v string")
                  .parquet(str(tmp_path / "in")).groupBy("k").count())
        w = (counts.writeStream.format("memory")
             .queryName(f"conc_{i}_{uuid.uuid4().hex[:8]}")
             .outputMode("complete")
             .option("checkpointLocation", str(tmp_path / f"chk{i}"))
             .trigger(availableNow=True))
        barrier.wait()
        try:
            queries.append(start_stream(w, spark, {_NO_DATA: "false"}))
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=start, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    for q in queries:
        q.awaitTermination(120)
    assert not errors, errors
    assert spark.conf.get(_PARTITIONS) == before
    assert spark.conf.get(_NO_DATA) == no_data_before
    for i in range(2):
        assert _recorded_partitions(tmp_path / f"chk{i}") \
            == {str(min(int(before), cores))}

    # a parquet sink without a path fails inside start()
    bad = (spark.readStream.schema("k bigint, v string")
           .parquet(str(tmp_path / "in")).writeStream.format("parquet")
           .option("checkpointLocation", str(tmp_path / "chk_bad")))
    with pytest.raises(Exception):
        start_stream(bad, spark, {_NO_DATA: "false"})
    assert spark.conf.get(_PARTITIONS) == before
    assert spark.conf.get(_NO_DATA) == no_data_before


def test_path_exists_asks_the_filesystem(spark, tmp_path):
    """The upsert's first-batch check: a missing materialization reads
    False without a failed Spark read, an existing one True (plain and
    file:// paths)."""
    from etl_load_spark.sources.writers import path_exists

    assert not path_exists(spark, str(tmp_path / "missing"))
    spark.range(3).write.parquet(str(tmp_path / "t"))
    assert path_exists(spark, str(tmp_path / "t"))
    assert path_exists(spark, f"file://{tmp_path / 't'}")


def _single_file(tmp_path, name, rows):
    """Write ``rows`` as ONE parquet file named ``name`` in tmp_path/in."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    (tmp_path / "in").mkdir(exist_ok=True)
    path = tmp_path / "in" / name
    pq.write_table(pa.table({"k": pa.array([r[0] for r in rows], pa.int64()),
                             "v": [r[1] for r in rows]}), str(path))
    return str(path)


def test_kafka_stream_sink_reaches_the_connector(spark, tmp_path):
    """A streaming PARQUET → KAFKA job builds a Kafka stream writer: it
    fails with Spark's data-source error naming kafka (the connector is
    not on this classpath), not on a file sink's missing ``path``."""
    src = str(tmp_path / "src")
    _write_batch(spark, src, [[1, "a"]])
    r = run_job(spark, JobSpec.from_dict({
        "job_id": "stream-kafka",
        "source": {"type": "PARQUET", "details": {"path": src}},
        "destination": {"type": "KAFKA",
                        "details": {"bootstrap_servers": "b:9092",
                                    "topic": "t"}},
        "streaming": {"checkpoint": str(tmp_path / "chk")},
        "steps": ["LOAD"],
    }))
    assert r.status == "FAILED"
    assert "find data source: kafka" in r.error, r.error


def test_single_file_stream_makes_no_temp_directory_and_resumes(
        spark, tmp_path, monkeypatch):
    """A single-file source streams in place: nothing is made under the
    temp directory, and a re-run on the retained checkpoint reads 0
    rows."""
    import os
    import tempfile
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    src = _single_file(tmp_path, "one.parquet", [[1, "a"], [2, "b"]])
    spec = _spec(src, str(tmp_path / "dest"), str(tmp_path / "chk"))

    r1 = run_job(spark, spec)
    assert r1.status == "COMPLETED", r1.error
    assert r1.records_read == 2
    r2 = run_job(spark, spec)
    assert r2.status == "COMPLETED", r2.error
    assert r2.records_read == 0
    assert spark.read.parquet(str(tmp_path / "dest")).count() == 2
    assert os.listdir(tmp_path / "tmp") == []


def test_single_file_stream_name_with_comma_reads_that_file(spark,
                                                            tmp_path):
    """A comma is a glob alternation inside braces: the file name is
    escaped, so ``o, x.parquet`` streams all its rows and neither the
    sibling ``o`` nor ``o, x.parquet2``."""
    src = _single_file(tmp_path, "o, x.parquet",
                       [[1, "a"], [2, "b"], [3, "c"]])
    _single_file(tmp_path, "o", [[10, "x"]])
    _single_file(tmp_path, "o, x.parquet2", [[20, "y"]])
    r = run_job(spark, _spec(src, str(tmp_path / "dest"),
                             str(tmp_path / "chk")))
    assert r.status == "COMPLETED", r.error
    assert r.records_read == 3
    got = {x.key for x in spark.read.parquet(str(tmp_path / "dest")).collect()}
    assert got == {1, 2, 3}


def test_one_stream_reader_and_one_stream_writer():
    """Only ``read_stream_source`` and ``read_kafka`` use ``.readStream``,
    and only ``write_stream_sink`` uses ``.writeStream``, anywhere in the
    package: every stream reads and writes through one path each."""
    import ast
    import pathlib

    import etl_load_spark
    allowed = {"readStream": {"read_stream_source", "read_kafka"},
               "writeStream": {"write_stream_sink"}}
    root = pathlib.Path(etl_load_spark.__file__).parent
    stray = []
    for path in sorted(root.rglob("*.py")):
        for top in ast.parse(path.read_text(), str(path)).body:
            owner = getattr(top, "name", None)
            stray += [f"{path.relative_to(root)}:{n.lineno} .{n.attr} "
                      f"in {owner}" for n in ast.walk(top)
                      if isinstance(n, ast.Attribute) and n.attr in allowed
                      and owner not in allowed[n.attr]]
    assert not stray, stray

def _six_trend_groups(spark, tmp_path):
    """48 rows in 6 TREND groups (3 users × 2 day buckets), one file per
    day under tmp_path/in; returns the rows."""
    rows = []
    for day in (0, 1):
        rows += _trend_rows(day, 24)
        spark.createDataFrame(_trend_rows(day, 24), _TREND_SCHEMA) \
             .coalesce(1).write.mode("append").parquet(str(tmp_path / "in"))
    return rows


def test_rollup_micro_batch_runs_its_stateful_plan_once(spark, tmp_path):
    """The update-mode upsert runs each micro-batch's stateful plan once:
    6 groups update 6 state rows (12 when the plan ran twice), the
    observation counts the 6 rows written, and no empty no-data batch
    follows the data batch."""
    from etl_load_spark.plans.builder import build_plan, streaming_merge_keys
    from etl_load_spark.sources.readers import read_stream_source
    from etl_load_spark.sources.writers import (STREAM_WRITTEN,
                                                write_stream_sink)

    _six_trend_groups(spark, tmp_path)
    spec = JobSpec.from_dict(_trend_spec(tmp_path))
    df = build_plan(spark, spec, source_df=read_stream_source(
        spark, "PARQUET", spec.source.details))
    q = write_stream_sink(df, "PARQUET", spec.destination.details,
                          spec.streaming, spec.job_id,
                          merge_keys=streaming_merge_keys(spec))
    q.awaitTermination(120)
    progress = q.recentProgress
    assert [p["numInputRows"] for p in progress] == [48]
    assert progress[0]["stateOperators"][0]["numRowsUpdated"] == 6
    assert progress[0]["observedMetrics"][STREAM_WRITTEN]["n"] == 6


def test_rollup_writes_one_file_per_bucket_partition(spark, tmp_path):
    """Each micro-batch writes every touched bucket partition as one file,
    also when a later batch merges into it, so the table needs no
    compaction; the rollup still equals the batch TREND."""
    import datetime as dt
    from etl_load_spark.operators.timeseries import trend

    rows = _six_trend_groups(spark, tmp_path)
    # a third batch updates two of day 1's three groups, within the
    # watermark: it merges into that bucket's partition
    more = [(900 + i, i, dt.datetime(2024, 5, 2, 23, 40 + 10 * i), 5.0)
            for i in range(2)]
    spark.createDataFrame(more, _TREND_SCHEMA).coalesce(1) \
         .write.mode("append").parquet(str(tmp_path / "in"))
    spec = _trend_spec(tmp_path)
    spec["source"]["details"]["max_files_per_trigger"] = 1
    spec["steps"] = ["LOAD"]
    r = run_job(spark, JobSpec.from_dict(spec))
    assert r.status == "COMPLETED", r.error
    assert r.records_read == 50
    buckets = sorted((tmp_path / "out").glob("bucket_ts=*"))
    assert len(buckets) == 2
    for b in buckets:
        data = [f.name for f in b.iterdir()
                if not f.name.startswith(("_", "."))]
        assert len(data) == 1, (b.name, data)
    assert _sorted_trend(spark.read.parquet(str(tmp_path / "out"))) \
        == _sorted_trend(trend(spark.createDataFrame(rows + more,
                                                     _TREND_SCHEMA)))


def test_streaming_jobs_report_records_written(spark, tmp_path):
    """A streaming job's records_written counts the rows its sink took:
    one per emitted group for a rollup, one per row read for an append
    parquet → parquet stream."""
    _six_trend_groups(spark, tmp_path)
    r = run_job(spark, JobSpec.from_dict(_trend_spec(tmp_path)))
    assert r.status == "COMPLETED", r.error
    assert (r.records_read, r.records_written) == (48, 6)

    src = str(tmp_path / "src")
    spec = _spec(src, str(tmp_path / "dest"), str(tmp_path / "chk_append"))
    _write_batch(spark, src, [[1, "a"], [2, "b"], [3, "c"]])
    r1 = run_job(spark, spec)
    _write_batch(spark, src, [[4, "d"]])
    r2 = run_job(spark, spec)
    assert [(x.status, x.records_read, x.records_written)
            for x in (r1, r2)] == [("COMPLETED", 3, 3), ("COMPLETED", 1, 1)]


def test_streaming_job_reuses_validate_source_schema(spark, tmp_path,
                                                     monkeypatch):
    """A streaming job that opens its source in VALIDATE_SOURCE streams
    under that read's schema and infers it no second time."""
    from etl_load_spark.sources import readers

    def no_second_read(*_a, **_k):
        raise AssertionError("the stream source inferred its schema again")

    src = str(tmp_path / "src")
    _write_batch(spark, src, [[1, "a"], [2, "b"]])
    spec = _spec(src, str(tmp_path / "dest"), str(tmp_path / "chk"))
    spec.steps = ["VALIDATE_SOURCE", "LOAD"]
    monkeypatch.setattr(readers, "read_file", no_second_read)
    r = run_job(spark, spec)
    assert r.status == "COMPLETED", r.error
    assert r.records_read == 2
