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
``sources.writers.write_stream_sink``, as a streaming job's do. Nor does it
hold the job-spec rollups: each stream-safe rollup is
``operators.timeseries.<op>_rollup``, beside its batch operator.

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
