"""Connector round-trip matrix: one canonical typed DataFrame through every
file writer/reader pair — systematic null/type coverage that the per-query
round trips (q44-q46) sample piecemeal."""

import pytest

from pyspark.sql import functions as F

CANON_SCHEMA = ("id bigint, name string, price decimal(12,2), ratio double, "
                "flag boolean, born date, seen timestamp")

ROWS = [
    (1, "alpha", None, 0.5, True, None, None),
    (2, None, None, None, None, None, None),
    (3, "with,comma \"quoted\"", None, -1.25, False, None, None),
]


@pytest.fixture(scope="module")
def canon(spark):
    df = spark.createDataFrame(ROWS, CANON_SCHEMA)
    return (df
            .withColumn("price", F.when(F.col("id") == 1,
                                        F.lit("19.99").cast("decimal(12,2)")))
            .withColumn("born", F.when(F.col("id") == 1, F.to_date(F.lit("1999-12-31"))))
            .withColumn("seen", F.when(F.col("id") == 3,
                                       F.to_timestamp(F.lit("2024-06-01 12:34:56")))))


def _roundtrip(spark, canon, tmp_path, fmt):
    """Write and read back through the registry by endpoint type, so the
    matrix also covers the type → format table."""
    from etl_load_spark.sources.registry import read_source, write_sink
    from etl_load_spark.spec import EndpointConfig
    path = str(tmp_path / fmt)
    typ = f"FILE_{fmt.upper()}"
    write_sink(canon, EndpointConfig(type=typ, details={"path": path}))
    details = {"path": path}
    if fmt in ("csv", "json", "xml"):
        details["schema"] = CANON_SCHEMA
    return read_source(spark, EndpointConfig(type=typ, details=details))


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json", "xml"])
def test_typed_roundtrip(spark, canon, tmp_path, fmt):
    back = _roundtrip(spark, canon, tmp_path, fmt)
    assert dict(back.dtypes) == dict(canon.dtypes)
    want = {r.id: tuple(r) for r in canon.collect()}
    got = {r.id: tuple(r) for r in back.collect()}
    # CSV renders null as "" (the reference's null-as-empty contract) and
    # reads "" back as null, so even the null-heavy rows round-trip exactly
    assert got == want


def test_es_mongo_option_plumbing():
    """ELASTICSEARCH / MONGODB (the reference declares both types —
    CoreLibInterfaces.java:436, etlcorepom.xml:119-127 — and implements
    neither): the spec's neutral names must map onto the official
    connectors' option keys, including idempotent-upsert id mapping."""
    from etl_load_spark.sources.writers import es_options, mongo_options
    es = es_options({"nodes": "es1,es2", "port": 9201, "index": "docs/doc",
                     "id_column": "doc_id", "user": "u", "password": "p",
                     "batch_size": 500})
    assert es["es.nodes"] == "es1,es2" and es["es.port"] == "9201"
    assert es["es.resource"] == "docs/doc"
    assert es["es.mapping.id"] == "doc_id"
    assert es["es.write.operation"] == "upsert"
    assert es["es.batch.size.entries"] == "500"
    assert es["es.net.http.auth.user"] == "u"
    mg = mongo_options({"uri": "mongodb://h:27017", "database": "db",
                        "collection": "c", "id_column": "doc_id",
                        "batch_size": 256})
    assert mg["connection.uri"] == "mongodb://h:27017"
    assert mg["database"] == "db" and mg["collection"] == "c"
    assert mg["idFieldList"] == "doc_id"
    assert mg["operationType"] == "replace"
    assert mg["maxBatchSize"] == "256"


def test_es_mongo_package_gated_error_names_format(spark):
    """Without the connector jars, the write path must reach Spark's
    data-source resolution and fail with the standard DATA_SOURCE_NOT_FOUND
    naming the format — proving the plumbing is wired end-to-end (the same
    contract as the KAFKA gate)."""
    import pytest as _pt
    from etl_load_spark.sources.registry import write_sink
    from etl_load_spark.spec import EndpointConfig
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with _pt.raises(Exception, match="org.elasticsearch.spark.sql"):
        write_sink(df, EndpointConfig(
            type="ELASTICSEARCH", details={"index": "docs"}), max_attempts=1)
    with _pt.raises(Exception, match="(?i)mongodb"):
        write_sink(df, EndpointConfig(
            type="MONGODB", details={"database": "d", "collection": "c"}),
            max_attempts=1)


def test_avro_gate_or_roundtrip(spark, tmp_path):
    """Environment-independent AVRO contract: with the external spark-avro
    module absent (this container) the write reaches data-source
    resolution and raises Spark's standard error naming avro; where the
    jar IS deployed the same plumbing must round-trip instead."""
    from etl_load_spark.sources.registry import read_source, write_sink
    from etl_load_spark.spec import EndpointConfig
    df = spark.range(2).withColumnRenamed("id", "k")
    path = str(tmp_path / "a")
    try:
        write_sink(df, EndpointConfig(type="AVRO", details={"path": path}),
                   max_attempts=1)
    except Exception as e:
        assert "avro" in str(e).lower()
        return
    back = read_source(spark, EndpointConfig(type="AVRO",
                                             details={"path": path}))
    assert sorted(r.k for r in back.collect()) == [0, 1]


def test_csv_sink_honours_partition_by(spark, tmp_path):
    """Layout knobs apply to every file sink: a FILE_CSV sink with
    ``partition_by`` writes hive ``k=<v>`` directories, and reading the
    endpoint back returns the input rows."""
    from etl_load_spark.sources.registry import read_source, write_sink
    from etl_load_spark.spec import EndpointConfig
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")],
                               "id bigint, k string")
    path = tmp_path / "csv_by_k"
    ep = EndpointConfig(type="FILE_CSV",
                        details={"path": str(path), "partition_by": ["k"]})
    assert write_sink(df, ep)["records_written"] == 3
    assert sorted(p.name for p in path.glob("k=*")) == ["k=a", "k=b"]
    back = read_source(spark, EndpointConfig(type="FILE_CSV", details={
        "path": str(path), "schema": "id bigint, k string"}))
    assert sorted(tuple(r) for r in back.select("id", "k").collect()) \
        == sorted(tuple(r) for r in df.collect())


def test_json_sink_honours_compression(spark, tmp_path):
    """A FILE_JSON sink with ``compression: gzip`` writes gzip part files."""
    from etl_load_spark.sources.registry import write_sink
    from etl_load_spark.spec import EndpointConfig
    path = tmp_path / "json_gz"
    write_sink(spark.range(5), EndpointConfig(
        type="FILE_JSON", details={"path": str(path), "compression": "gzip"}))
    parts = list(path.glob("part-*"))
    assert parts and all(p.name.endswith(".gz") for p in parts)
    assert spark.read.json(str(path)).count() == 5
