"""Sink writers (SURVEY.md §2.1 S7-S10).

Each writer takes (df, details-dict, counters=()), writes, and returns
``records_written`` and the values of the ``counters`` aggregates, both from
one fresh ``df.observe`` per attempt, placed above the layout and the sort
(no second scan, SURVEY.md §4).

Every file format has one writer, ``write_file(df, d, fmt)``, with ``fmt``
taken from the registry's ``FILE_FORMATS`` table: layout, save mode and
file options apply to every format alike, and only the CSV, XML and Avro
dialects differ (``_dialect_options``). On a sink, the details key ``mode``
is the save mode (on a source it is the parse mode).

``write_stream_sink`` is the only place that builds a stream writer: file,
MEMORY and KAFKA sinks and the update-mode rollup upsert. Every stream
starts through ``start_stream``, which sizes a new checkpoint's state to the
cores.
"""

from __future__ import annotations

import threading
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def _observed(df: DataFrame, counters=()):
    obs = Observation(f"write_{uuid.uuid4().hex[:8]}")
    return df.observe(obs, F.count(F.lit(1)).alias("n"), *counters), obs


def _finish(obs) -> dict:
    counters = obs.get
    return {"records_written": counters.pop("n"), "counters": counters}


def _apply_layout(df: DataFrame, d: dict) -> DataFrame:
    """Output layout knobs shared by file sinks.

    ``single_file=True`` coalesces to one partition for deterministic small
    exports (documented non-100TB path, SURVEY.md §7.5); ``partition_by``
    produces hive-style partitioned layout for scale.
    """
    if d.get("repartition"):
        df = df.repartition(int(d["repartition"]))
    if d.get("range_by"):
        # range-partition + in-file sort on the key: files hold disjoint
        # key ranges and row groups carry tight min/max stats, so readers
        # filtering on the key skip whole files/row groups (the poor-man's
        # clustering index; at 100 TB this is the difference between a
        # full scan and touching one file per key range)
        cols = d["range_by"]
        n = int(d.get("repartition") or df.sparkSession.sparkContext.defaultParallelism)
        df = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    if d.get("zorder_by"):
        # multi-column generalization of range_by: Morton-code clustering
        # so predicates on ANY clustered column skip files
        # (operators/clustering.py)
        from etl_load_spark.operators.clustering import zorder_layout
        n = int(d.get("repartition")
                or df.sparkSession.sparkContext.defaultParallelism)
        df = zorder_layout(df, d["zorder_by"], n,
                           bits=int(d.get("zorder_bits", 8)),
                           method=d.get("zorder_method", "linear"))
    if d.get("single_file"):
        df = df.coalesce(1)
    return df


def _dialect_options(d: dict, fmt: str) -> dict:
    """The per-format part of a file write: the CSV, XML and Avro dialects.

    - csv (S8): header from dest names, RFC-4180 quoting, null→empty —
      Spark's CSV writer natively matches ETLCoreCsvFileWriter.java:46-185.
    - xml (Spark 4 built-in): one ``row_tag`` element per row under
      ``root_tag``. Null columns are omitted (standard XML absent-element
      semantics — the read side restores them as NULL against a schema).
    - avro: optional ``avro_schema`` (writer schema JSON).
    """
    if fmt == "csv":
        return {"header": str(d.get("header", True)).lower(),
                "sep": d.get("delimiter", ","),
                "encoding": d.get("encoding", "UTF-8"),
                "emptyValue": "", "nullValue": "",
                # the reference writer never trims values (only quotes
                # them, ETLCoreCsvFileWriter.java:174-185); Spark's writer
                # trims unquoted whitespace unless told otherwise
                "ignoreLeadingWhiteSpace": "false",
                "ignoreTrailingWhiteSpace": "false"}
    if fmt == "xml":
        return {"rootTag": d.get("root_tag", "rows"),
                "rowTag": d.get("row_tag", "row")}
    if fmt == "avro" and d.get("avro_schema"):
        return {"avroSchema": d["avro_schema"]}
    return {}


def write_file(df: DataFrame, d: dict, fmt: str, counters=()) -> dict:
    """File sink in Spark format ``fmt`` (the registry's ``FILE_FORMATS``
    value). Avro is package-gated on the external spark-avro module (its
    absence raises Spark's standard data-source error naming it); text
    needs a single string column.

    Every format takes the same layout knobs (``_apply_layout`` plus):

    - ``mode``: the save mode (default overwrite).
    - ``partition_by``: hive-style directory partitioning (partition
      pruning on read).
    - ``bucket_by`` (+ ``n_buckets``, optional ``sort_by``, requires
      ``table``): pre-shuffled bucketed table — equi-joins and aggregations
      on the bucket key then run with NO exchange (co-located join), the
      pattern that keeps a repeated 100 TB join from re-shuffling the fact
      table every query. Bucketed writes go through the catalog
      (``saveAsTable``), as Spark requires.
    - ``overwrite_partitions``: dynamic partition overwrite — an overwrite
      write replaces ONLY the partitions present in this batch and leaves
      every other partition untouched. The idempotent daily-reload pattern
      at 100 TB: re-running a day's load rewrites that day's directories,
      never the whole table (static overwrite mode would truncate it all).
    - ``compression``: the format's codec (e.g. snappy, gzip).
    - ``max_records_per_file``: bounds output file size at scale (a
      partition writing 10 GB rolls into N files instead of one
      unsplittable-to-list monster).
    """
    df, obs = _observed(_apply_layout(df, d), counters)
    w = (df.write.format(fmt).mode(d.get("mode", "overwrite"))
         .options(**_dialect_options(d, fmt)))
    if d.get("overwrite_partitions"):
        w = w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    if d.get("compression"):
        w = w.option("compression", d["compression"])
    if d.get("max_records_per_file"):
        w = w.option("maxRecordsPerFile", int(d["max_records_per_file"]))
    if d.get("partition_by"):
        w = w.partitionBy(*d["partition_by"])
    if d.get("bucket_by"):
        w = w.bucketBy(int(d.get("n_buckets", 8)), *d["bucket_by"])
        if d.get("sort_by"):
            w = w.sortBy(*d["sort_by"])
        if d.get("path"):
            w = w.option("path", d["path"])
        w.saveAsTable(d["table"])
    else:
        w.save(d["path"])
    return _finish(obs)


def write_jdbc(df: DataFrame, d: dict, counters=()) -> dict:
    """JDBC batch-insert sink (S7) + truncate-before-load (S10).

    ``truncate=True`` with overwrite mode issues TRUNCATE TABLE instead of
    DROP (TruncateTasklet.java:54-111 semantics). ``batch_size`` maps to the
    JDBC ``batchsize`` option (ItemWriterFactory.java batching)."""
    df, obs = _observed(df, counters)
    w = (df.write.format("jdbc")
         .option("url", d["url"])
         .option("dbtable", d["table"])
         .option("batchsize", str(d.get("batch_size", 1000)))
         .mode(d.get("mode", "append")))
    if d.get("truncate"):
        w = w.option("truncate", "true").mode("overwrite")
    for k in ("user", "password", "driver", "isolationLevel"):
        if d.get(k):
            w = w.option(k, d[k])
    w.save()
    return _finish(obs)


def write_rest(df: DataFrame, d: dict, counters=()) -> dict:
    """API_REST sink (S9): per-partition batched HTTP POST.

    Executor-side POSTs via foreachPartition — never a driver collect. The
    HTTP call is injectable (``poster``) so tests run without a network.
    """
    url = d["url"]
    batch = int(d.get("batch_size", 500))
    poster = d.get("poster")  # injectable for tests

    def send(rows_iter):
        import itertools
        import json as _json
        import urllib.request
        while True:
            chunk = list(itertools.islice(rows_iter, batch))
            if not chunk:
                break
            payload = _json.dumps([r.asDict(recursive=True) for r in chunk]).encode()
            if poster is not None:
                poster(url, payload)
            else:
                req = urllib.request.Request(
                    url, data=payload, headers={"Content-Type": "application/json"})
                urllib.request.urlopen(req, timeout=30)

    df, obs = _observed(df, counters)
    df.foreachPartition(send)
    return _finish(obs)


def write_memory(df: DataFrame, d: dict, counters=()) -> dict:
    """Run the plan and keep nothing: the ``noop`` format executes every
    row and carries the write's observation (tests only)."""
    df, obs = _observed(df, counters)
    df.write.format("noop").mode("overwrite").save()
    return _finish(obs)


def _kafka_payload(df: DataFrame, d: dict) -> tuple[DataFrame, dict]:
    """Each row as a JSON ``value``, and the connector options: the one
    shape of a batch (``write_kafka``) and a streaming
    (``write_stream_sink``) Kafka write."""
    return (df.select(F.to_json(F.struct(*df.columns)).alias("value")),
            {"kafka.bootstrap.servers": d["bootstrap_servers"],
             "topic": d["topic"]})


def write_kafka(df: DataFrame, d: dict, counters=()) -> dict:
    """KAFKA batch sink: rows serialized to JSON values (S9-style declared
    slot); KAFKA streams go through ``write_stream_sink``. Requires the
    spark-sql-kafka package on the classpath.
    """
    df, obs = _observed(df, counters)
    payload, opts = _kafka_payload(df, d)
    payload.write.format("kafka").options(**opts).save()
    return _finish(obs)


def es_options(d: dict) -> dict:
    """ELASTICSEARCH sink/source option map (the destination type the
    reference declares but never implements — CoreLibInterfaces.java:436,
    wfqueuelistener.java:51; client deps in etlcorepom.xml:124-127).
    Maps the spec's neutral names onto the es-hadoop connector's."""
    opts = {"es.nodes": d.get("nodes", "localhost"),
            "es.port": str(d.get("port", 9200)),
            "es.resource": d["index"],
            "es.batch.size.entries": str(d.get("batch_size", 1000)),
            "es.nodes.wan.only": str(d.get("wan_only", False)).lower()}
    if d.get("id_column"):       # idempotent upserts keyed by a column
        opts["es.mapping.id"] = d["id_column"]
        opts["es.write.operation"] = d.get("write_operation", "upsert")
    if d.get("user"):
        opts["es.net.http.auth.user"] = d["user"]
        opts["es.net.http.auth.pass"] = d.get("password", "")
    if d.get("query"):           # source-side pushdown
        opts["es.query"] = d["query"]
    return opts


def write_elasticsearch(df: DataFrame, d: dict, counters=()) -> dict:
    """ELASTICSEARCH sink via the es-hadoop Spark connector (distributed
    per-partition bulk writes — never a driver-side client loop). The
    connector jar isn't bundled in this container; a missing package
    raises Spark's standard DATA_SOURCE_NOT_FOUND naming the coordinates.

    details: nodes, port, index (as "index/type" resource), batch_size,
    id_column (+write_operation upsert/index), user/password, wan_only."""
    df, obs = _observed(df, counters)
    (df.write.format("org.elasticsearch.spark.sql")
     .options(**es_options(d))
     .mode(d.get("mode", "append"))
     .save())
    return _finish(obs)


def mongo_options(d: dict) -> dict:
    """MONGODB sink/source option map (declared alongside ES in the
    reference: mongodb-driver-sync in etlcorepom.xml:119-121)."""
    opts = {"connection.uri": d.get("uri", "mongodb://localhost:27017"),
            "database": d["database"],
            "collection": d["collection"]}
    if d.get("id_column"):
        opts["idFieldList"] = d["id_column"]
        opts["operationType"] = d.get("write_operation", "replace")
    if d.get("max_batch_size") or d.get("batch_size"):
        opts["maxBatchSize"] = str(d.get("max_batch_size",
                                         d.get("batch_size")))
    return opts


def write_mongodb(df: DataFrame, d: dict, counters=()) -> dict:
    """MONGODB sink via the official mongo-spark connector (v10 "mongodb"
    format; executors write partitions in parallel). Package-gated like
    KAFKA/ELASTICSEARCH.

    details: uri, database, collection, id_column (+write_operation
    replace/update), batch_size."""
    df, obs = _observed(df, counters)
    (df.write.format("mongodb")
     .options(**mongo_options(d))
     .mode(d.get("mode", "append"))
     .save())
    return _finish(obs)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of its Hadoop FileSystem.

    Cheaper and quieter than catching ``PATH_NOT_FOUND`` from a read: the
    failed analysis of such a read makes Spark's observation listener log
    a long ERROR stack trace.
    """
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return p.getFileSystem(conf).exists(p)


def rollup_upsert_writer(path: str, fmt: str, partition_col: str,
                         key_cols: list[str]):
    """Build the foreachBatch upsert for update-mode streaming rollups.

    Update mode emits ONLY the (group-key) rows changed in each
    micro-batch, so a naive dynamic partition overwrite would delete
    every sibling group previously materialized in the same
    ``partition_col`` partition (other event_types in an OHLC bucket,
    other user_ids in a TREND bucket) on any multi-batch run. The
    upsert therefore merges each batch with the CURRENT contents of the
    partitions it touches, keyed on the rollup's full group key
    (``key_cols`` — batch rows win), before overwriting those
    partitions.

    One pass per micro-batch: the batch is localCheckpoint'ed first, so
    the stateful plan (planning, shuffle, state-store commit) runs once
    and the touched-value collect, the merge and the write all read the
    checkpoint. ``persist()`` is not a substitute: on some rollup plans
    (the OHLC twin) a persisted micro-batch fails Spark's
    ``assertOptimized`` with ``key not found``.

    Scale posture: per micro-batch this reads back only the touched
    (open) bucket partitions — bounded by the watermark horizon, never
    the full materialization — and the anti-join's build side is the
    batch's distinct key set (micro-batch-sized, broadcastable). The
    merged slice is localCheckpoint'ed so no lazy read of ``path``
    survives into the overwrite of the same path. The write hashes on
    ``partition_col``, so every touched partition lands as exactly one
    file and a later ``compact_files`` has nothing to rewrite.

    NULL handling: group keys join null-safely (NULL event_type is a
    legitimate rollup group — the q71 eqNullSafe lesson) and a NULL
    partition value (hive __HIVE_DEFAULT_PARTITION__) is matched with
    an explicit isNull branch, never isin(None).
    """
    if partition_col not in key_cols:
        raise ValueError(
            f"rollup upsert: partition column {partition_col!r} must be "
            f"part of the group key {key_cols} — a group that can move "
            "between partitions cannot be upserted by partition overwrite")

    from functools import reduce

    def upsert(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()
        # the touched partition values, which the merge needs anyway,
        # double as the empty-batch check
        touched = [r[0] for r in
                   batch_df.select(partition_col).distinct().collect()]
        if not touched:
            return
        spark = batch_df.sparkSession
        out = batch_df
        if path_exists(spark, path):
            # read back under the BATCH's schema (ADVICE r12): headerless
            # CSV would otherwise come back as _c0.. (unionByName fails on
            # the second micro-batch) and JSON would re-infer types (e.g.
            # bucket_ts as string), making the anti-join type-unstable;
            # for self-describing parquet/orc the schema is a no-op.
            existing = (spark.read.schema(batch_df.schema)
                        .format(fmt).load(path))
            non_null = [t for t in touched if t is not None]
            pcol = F.col(partition_col)
            pred = pcol.isin(non_null) if non_null else F.lit(False)
            if len(non_null) < len(touched):
                pred = pred | pcol.isNull()
            batch_keys = batch_df.select(*key_cols).distinct()
            cond = reduce(lambda a, b: a & b,
                          [existing[k].eqNullSafe(batch_keys[k])
                           for k in key_cols])
            kept = existing.where(pred).join(
                F.broadcast(batch_keys), cond, "left_anti")
            out = batch_df.unionByName(kept).localCheckpoint()
        (out.repartition(partition_col).write.mode("overwrite")
         .format(fmt)
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(partition_col)
         .save(path))

    return upsert


#: held while ``start_stream`` has the session's confs changed
_START_LOCK = threading.Lock()


def start_stream(writer: DataStreamWriter, spark: SparkSession,
                 confs: dict | None = None) -> StreamingQuery:
    """Start a streaming query; a new checkpoint gets one state partition
    per core, and the query runs under the caller's ``confs``.

    A stateful operator's shuffle keeps the partition count its checkpoint
    was created with, and AQE never coalesces it. Under the batch default
    (``spark.sql.shuffle.partitions``) every micro-batch of a small stream
    would run that many state-store tasks and commits. A new checkpoint
    therefore takes ``min(spark.sql.shuffle.partitions,
    defaultParallelism)``; a checkpoint that exists resumes with the count
    its offset log records, which Spark restores over the session value.

    The query clones the session inside ``start()``, so the lowered value
    and ``confs`` (start-time SQL confs of this query only, e.g. no
    no-data micro-batches) are set only for the length of that call, and
    restored after it. The lock keeps two concurrent starts from restoring
    each other's values. A batch job that plans on another thread during
    the call sees them too, and shuffles into at most one partition per
    core.
    """
    key = "spark.sql.shuffle.partitions"
    confs = confs or {}
    with _START_LOCK:
        prev = {k: spark.conf.get(k) for k in (key, *confs)}
        spark.conf.set(key, str(min(int(prev[key]),
                                    spark.sparkContext.defaultParallelism)))
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            return writer.start()
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)


#: the non-file streaming sinks; file sinks resolve through the registry
_STREAM_SINK_FORMATS = {"MEMORY": "memory", "KAFKA": "kafka"}

#: the named observation that counts each micro-batch's written rows: a
#: stream's progress reads it under ``observedMetrics`` (file and
#: foreachBatch sinks report ``numOutputRows`` as -1)
STREAM_WRITTEN = "etl_written"


def write_stream_sink(df: DataFrame, type_name: str, d: dict,
                      streaming: dict, job_id: str,
                      merge_keys: list[str] | None = None):
    """Start a streaming write of the planned DataFrame (SURVEY §7 step 7).

    Returns the StreamingQuery; the caller owns awaitTermination. Trigger
    defaults to AvailableNow (process everything present, then stop — the
    incremental-batch form the driver and tests use); a processing-time
    string ("30 seconds") runs continuous micro-batches.

    ``merge_keys``: the full group key of an update-mode rollup — required
    for update-mode file materialization (the runner derives it from the
    rollup stage; a raw SQL aggregate sets destination.details.merge_keys).

    ``streaming["checkpoint"]`` is set as the checkpoint location when
    given; jobs always give one (``runner._load_streaming`` requires it).
    A KAFKA stream writes the same JSON ``value`` as the batch
    ``write_kafka``. Every micro-batch counts the rows it writes in the
    ``STREAM_WRITTEN`` observation of its progress. The update-mode upsert
    runs without no-data micro-batches; other streams keep them, because
    an append-mode window closes in one.
    """
    from etl_load_spark.sources.registry import STREAM_FORMATS, file_format
    t = type_name.upper()
    fmt = _STREAM_SINK_FORMATS.get(t) or file_format(t)
    if fmt not in (*STREAM_FORMATS, *_STREAM_SINK_FORMATS.values()):
        raise ValueError(f"destination type {type_name!r} does not support "
                         f"streaming (known: file formats {STREAM_FORMATS}, "
                         f"{sorted(_STREAM_SINK_FORMATS)})")
    mode = streaming.get("output_mode",
                         streaming.get("outputMode", "append"))
    df = df.observe(STREAM_WRITTEN, F.count(F.lit(1)).alias("n"))
    confs = {}
    if mode == "update" and fmt in ("csv", "json"):
        # the upsert merge reads the materialization back each batch;
        # a non-self-describing format cannot round-trip the rollup
        # schema (headerless CSV → _c0.., JSON re-infers types) — fail
        # with the fix named instead of Spark's append-only sink error
        raise ValueError(
            f"update-mode file materialization to {t} is not supported: "
            "the micro-batch merge must read the materialization back "
            "under a stable schema — use a self-describing format "
            "(PARQUET or ORC) for update-mode rollups")
    if mode == "update" and fmt in ("parquet", "orc"):
        # File sinks are append-only in Spark; update-mode aggregates
        # (the streaming rollup stages — OHLC/TREND/VALUE_HISTOGRAM)
        # materialize via the continuous-aggregate upsert instead:
        # each micro-batch merges with the current contents of the
        # bucket partitions it touched (keyed on the rollup's FULL
        # group key — update mode emits only the changed groups, so a
        # bare partition overwrite would delete sibling groups written
        # by earlier micro-batches) and overwrites those partitions
        # atomically (rollup_upsert_writer). Partition column = the
        # first partition_by entry, default bucket_ts.
        part = (d.get("partition_by") or ["bucket_ts"])[0]
        if part not in df.columns:
            raise ValueError(
                f"update-mode streaming write to {t} needs the rollup's "
                f"bucket column to partition the materialization — "
                f"{part!r} is not in the plan's columns {df.columns}; "
                "set destination.details.partition_by to the bucket "
                "column")
        keys = d.get("merge_keys") or merge_keys
        if d.get("merge_keys") and merge_keys:
            # user-declared keys may widen but never NARROW the derived
            # rollup group key (ADVICE r12): an upsert keyed below the
            # true group key deletes sibling state rows per micro-batch
            # — exactly the regression the upsert exists to prevent
            narrower = [k for k in merge_keys if k not in d["merge_keys"]]
            if narrower:
                raise ValueError(
                    f"destination.details.merge_keys {d['merge_keys']} is "
                    f"narrower than the rollup's group key {merge_keys} "
                    f"(missing {narrower}) — an upsert keyed below the "
                    "full group key deletes sibling rows per micro-batch; "
                    "drop merge_keys or make it a superset of the derived "
                    "key")
        if not keys:
            raise ValueError(
                f"update-mode streaming write to {t} needs the rollup's "
                "full group-key columns to merge micro-batches (update "
                "mode emits only the groups changed per batch; without "
                "the key, sibling groups in a touched partition would "
                "be deleted) — set destination.details.merge_keys, e.g. "
                "['event_type', 'bucket_ts']")
        missing = [k for k in keys if k not in df.columns]
        if missing:
            raise ValueError(
                f"update-mode merge_keys {missing} not in the plan's "
                f"columns {df.columns}")
        w = (df.writeStream.outputMode("update")
             .foreachBatch(rollup_upsert_writer(d["path"], fmt, part,
                                                list(keys))))
        # an update-mode eviction emits nothing, and the next data batch
        # evicts by the persisted watermark anyway: the no-data batch
        # after every AvailableNow run would only plan and commit state
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    else:
        opts = _dialect_options(d, fmt)
        if t == "KAFKA":
            df, opts = _kafka_payload(df, d)
        elif t != "MEMORY":
            opts["path"] = d["path"]
        w = df.writeStream.format(fmt).outputMode(mode).options(**opts)
        if t == "MEMORY":
            w = w.queryName(d.get("table", job_id))
        if d.get("partition_by"):
            w = w.partitionBy(*d["partition_by"])
    if streaming.get("checkpoint"):
        w = w.option("checkpointLocation", streaming["checkpoint"])
    trigger = streaming.get("trigger", "availableNow")
    if trigger == "availableNow":
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=trigger)
    return start_stream(w, df.sparkSession, confs)
