"""Source readers (SURVEY.md §2.1 S1-S6).

Each reader takes (spark, details-dict) and returns a DataFrame. Details are
the job-spec endpoint detail keys; schemas come from the mapping list (via
``schema`` DDL string) or source inference, mirroring the reference's
declared-schema-with-ResultSetMetaData-fallback model (§1.2).

Every file format has one reader, ``read_file(spark, d, fmt)``, with ``fmt``
taken from the registry's ``FILE_FORMATS`` table. Each format's read options
live in ``_file_options``, and ``read_stream_source`` applies the same
options to ``spark.readStream``, so a batch and a streaming read of one
endpoint parse alike. ``read_stream_source`` is the only place that opens a
file stream; a single local file streams through a one-name glob. On a
source, the details key ``mode`` is the parse mode (on a sink it is the
save mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _file_options(d: dict, fmt: str) -> tuple[dict, str | None]:
    """Spark read options and schema DDL of one file endpoint — the single
    place the batch (``read_file``) and the streaming
    (``read_stream_source``) reads take them from.

    - csv (S5: ItemReaderFactory.java:170-224 semantics): comma delimiter,
      header on, UTF-8. With ``all_string=True`` (the default) the
      reference's read-everything-as-string behavior applies
      (ItemReaderFactory.java:212-221); typing then happens in the mapping
      cast.
    - csv / json (S6 FILE_JSON, etlModel.java:187): malformed-line handling
      is the U3 parse-error path. Default PERMISSIVE; with
      ``corrupt_column`` set the raw unparseable line lands in that column
      (appended to the declared schema as string) and everything else
      nulls — the error-routing split then sends those rows to the error
      sink exactly like cast failures. ``mode`` may also be DROPMALFORMED
      or FAILFAST.
    - xml (Spark 4 built-in; the reference's type bridge handles SQLXML,
      JdbcTypeHandler.java:126-128, and its FLAT_FILE world implies
      document interchange): one row per ``row_tag`` element (default
      "row"), optional ``attribute_prefix``. Without a ``schema`` the
      source samples and infers, an extra pass to avoid at scale.
    - avro: ``avro_schema`` is an optional reader-schema JSON for evolution.
    - parquet / orc: ``merge_schema=True`` enables schema evolution: the
      schemas of all files union (columns added over time null-fill in old
      files); the merge cost is per-file footer metadata only, not data.
    """
    opts = {}
    schema = d.get("schema")
    if fmt == "csv":
        opts.update(sep=d.get("delimiter", ","),
                    header=str(d.get("header", True)).lower(),
                    encoding=d.get("encoding", "UTF-8"),
                    emptyValue="", nullValue=d.get("null_value", ""),
                    # RFC-4180 embedded newlines (quoted) need multiLine
                    # parsing; off by default because it disables
                    # line-split parallel reads
                    multiLine=str(d.get("multiline", False)).lower())
        if not schema and not d.get("all_string", True):
            opts["inferSchema"] = "true"
    if fmt in ("csv", "json"):
        opts["mode"] = d.get("mode", "PERMISSIVE")
        cc = d.get("corrupt_column")
        if cc:
            opts["columnNameOfCorruptRecord"] = cc
            if schema and cc not in schema:
                schema = f"{schema}, {cc} string"
    elif fmt == "xml":
        opts["rowTag"] = d.get("row_tag", "row")
        if d.get("attribute_prefix"):
            opts["attributePrefix"] = d["attribute_prefix"]
    elif fmt == "avro" and d.get("avro_schema"):
        opts["avroSchema"] = d["avro_schema"]
    elif fmt in ("parquet", "orc") and d.get("merge_schema"):
        opts["mergeSchema"] = "true"
    return opts, schema


def read_file(spark: SparkSession, d: dict, fmt: str) -> DataFrame:
    """Batch scan of a file endpoint in Spark format ``fmt`` (the
    registry's ``FILE_FORMATS`` value): parquet, orc, csv, json, xml, avro
    (package-gated: without the external spark-avro module Spark raises its
    standard error naming the deployment coordinates) or text.

    text is fixed-width / raw lines: one ``value`` column per line (S6
    FILE_FIXED); field extraction happens in the mapping plan via
    ``fileColumnPosition`` substrings (plans.builder.mapping_column).
    """
    opts, schema = _file_options(d, fmt)
    reader = spark.read.format(fmt).options(**opts)
    if schema:
        reader = reader.schema(schema)
    return reader.load(d["path"])


def read_jdbc(spark: SparkSession, d: dict) -> DataFrame:
    """JDBC scan (S1-S4): table or raw-query source, partitioned when bounds
    are declared.

    Mirrors ETLCoreJdbcReader.java:131-162's build-SQL-or-passthrough, with
    Spark's partitioned read replacing the docx's paging design (S4).
    Executed for real against embedded Derby (Spark's own jars) in
    tests/test_jdbc.py: table scan, raw query, fetchsize, partitioned read.
    """
    reader = (spark.read.format("jdbc")
              .option("url", d["url"])
              .option("fetchsize", str(d.get("fetch_size", 1000))))
    if d.get("query"):
        reader = reader.option("query", d["query"])  # S2 raw-query scan
    else:
        reader = reader.option("dbtable", d["table"])
    for k in ("user", "password", "driver"):
        if d.get(k):
            reader = reader.option(k, d[k])
    if d.get("partition_column"):  # S4: parallel range-partitioned scan
        reader = (reader
                  .option("partitionColumn", d["partition_column"])
                  .option("lowerBound", str(d["lower_bound"]))
                  .option("upperBound", str(d["upper_bound"]))
                  .option("numPartitions", str(d.get("num_partitions", 8))))
    return reader.load()


def read_rest(spark: SparkSession, d: dict) -> DataFrame:
    """API_REST source (S6): driver-side fetch → createDataFrame.

    Control-plane-sized payloads only (the reference uses REST for job
    submission, not bulk data). Network access may be absent in tests, so a
    pre-fetched ``rows`` payload is accepted.
    """
    rows = d.get("rows")
    if rows is None:
        import json
        import urllib.request
        with urllib.request.urlopen(d["url"], timeout=d.get("timeout", 30)) as r:
            rows = json.loads(r.read())
    return spark.createDataFrame(rows, schema=d.get("schema"))


def read_memory(spark: SparkSession, d: dict) -> DataFrame:
    """Inline rows (tests / fixtures)."""
    return spark.createDataFrame(d["rows"], schema=d.get("schema"))


def read_kafka(spark: SparkSession, d: dict) -> DataFrame:
    """KAFKA source (S6 declared slot, etlModel.java:182-190 "// Add others
    like KAFKA"): batch or streaming read of a topic.

    The reference uses Kafka only as a job-config control plane
    (wfqueuelistener.java:130-155); this connector is the data-plane
    upgrade: value bytes + metadata columns, optionally JSON-decoded via
    ``value_schema`` (DDL string). Requires the spark-sql-kafka package on
    the classpath (not bundled in this container — the option plumbing is
    tested for shape; a missing package raises Spark's standard
    DATA_SOURCE_NOT_FOUND with the coordinates to add).

    details: bootstrap_servers, topic (or topics/pattern), streaming
    (bool, default False), starting_offsets (default "earliest"),
    value_schema (optional DDL for from_json on the value).
    """
    from pyspark.sql import functions as F
    src = spark.readStream if d.get("streaming") else spark.read
    reader = (src.format("kafka")
              .option("kafka.bootstrap.servers", d["bootstrap_servers"])
              .option("startingOffsets", d.get("starting_offsets", "earliest")))
    if d.get("topic"):
        reader = reader.option("subscribe", d["topic"])
    elif d.get("topics"):
        reader = reader.option("subscribe", ",".join(d["topics"]))
    elif d.get("pattern"):
        reader = reader.option("subscribePattern", d["pattern"])
    else:
        raise ValueError("KAFKA source needs topic, topics, or pattern")
    df = reader.load()
    out = df.select(F.col("key").cast("string").alias("key"),
                    F.col("value").cast("string").alias("value"),
                    "topic", "partition", "offset", "timestamp")
    if d.get("value_schema"):
        out = out.withColumn("data", F.from_json("value", d["value_schema"]))
    return out


def read_elasticsearch(spark: SparkSession, d: dict) -> DataFrame:
    """ELASTICSEARCH source via es-hadoop (one Spark partition per index
    shard; ``query`` pushes the ES query DSL down to the cluster so only
    matching docs cross the wire). Package-gated like KAFKA.

    details: nodes, port, index, query (ES DSL JSON), user/password."""
    from etl_load_spark.sources.writers import es_options
    return (spark.read.format("org.elasticsearch.spark.sql")
            .options(**es_options(d)).load())


def read_mongodb(spark: SparkSession, d: dict) -> DataFrame:
    """MONGODB source via the mongo-spark connector (partitioned by the
    connector's sample-based splitter; ``pipeline`` pushes an aggregation
    stage down so filtering/projection happen server-side).

    details: uri, database, collection, pipeline (JSON array string)."""
    from etl_load_spark.sources.writers import mongo_options
    reader = spark.read.format("mongodb").options(**mongo_options(d))
    if d.get("pipeline"):
        reader = reader.option("aggregation.pipeline", d["pipeline"])
    return reader.load()


def read_stream_source(spark: SparkSession, type_name: str, d: dict,
                       schema=None) -> DataFrame:
    """Streaming read of a source endpoint (SURVEY §7 step 7): the same
    endpoint details as the batch readers, executed incrementally — each
    micro-batch processes only files not yet recorded in the checkpoint,
    which is what turns a batch spec into an incremental ingest job.

    File streams need a schema up front: the spec's declared one, else
    ``schema`` (the schema a batch read of the same endpoint already
    found), else it is inferred ONCE from the existing files via the batch
    reader (driver-side metadata read, not a data scan for parquet/orc).
    """
    from etl_load_spark.sources.registry import STREAM_FORMATS, file_format
    if type_name.upper() == "KAFKA":
        return read_kafka(spark, dict(d, streaming=True))
    fmt = file_format(type_name)
    if fmt not in STREAM_FORMATS:
        raise ValueError(f"source type {type_name!r} does not support "
                         f"streaming (known: file formats {STREAM_FORMATS}, "
                         "KAFKA)")
    opts, declared = _file_options(d, fmt)
    reader = spark.readStream.format(fmt).options(**opts)
    if d.get("max_files_per_trigger"):
        # bounds micro-batch size — the streaming analogue of chunked loads
        reader = reader.option("maxFilesPerTrigger",
                               int(d["max_files_per_trigger"]))
    reader = reader.schema(declared or schema
                           or read_file(spark, d, fmt).schema)
    return reader.load(_stream_path(d["path"]))


def _stream_path(path: str) -> str:
    """The path the file-stream source lists for ``path``.

    A directory streams as it is. A local FILE streams as the one-name
    glob ``<dir>/{<name>}``: the stream source needs a directory
    ('basePath' must be a directory), and for a glob path Spark sets no
    basePath. The name's Hadoop glob characters are backslash-escaped, so
    the glob matches that file only, and the checkpoint's seen-files log
    records the file's real path.
    """
    import os
    import re
    if not os.path.isfile(path):
        return path
    parent, name = os.path.split(os.path.abspath(path))
    name = re.sub(r"([\\{}\[\]*?,])", r"\\\1", name)
    return f"{parent}/{{{name}}}"
