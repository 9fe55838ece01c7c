"""Connector registry: endpoint ``type`` string → reader/writer callable.

The Spark-native replacement for the reference's factory-bean lookup
(CoreLibInterfaces.java:404-414/440-447: type → bean name → DataReader/
DataWriter). Registries are plain dicts; third-party connectors register
themselves via ``register_reader`` / ``register_writer``.

Covered source types (SURVEY.md §2.1 S1-S9):
  the ``FILE_FORMATS`` file types — PARQUET, ORC, CSV, JSON, XML (Spark 4
  built-in), AVRO (package-gated), FIXED/TEXT, each with or without the
  ``FILE_`` prefix — ORACLE_DB/MSSQL_DB/JDBC,
  API_REST (driver-side fetch), KAFKA (batch/stream, package-gated),
  ELASTICSEARCH / MONGODB (connector-format plumbing, package-gated — the
  reference declares both and implements neither), MEMORY (inline rows).
"""

from __future__ import annotations

from functools import partial
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_load_spark.spec import EndpointConfig
from etl_load_spark.sources import readers, writers

#: endpoint type → Spark file format: the one place a file connector is
#: named. Each type is accepted with or without the ``FILE_`` prefix and in
#: any case (``file_format``); both directions and both execution modes
#: (batch, streaming) resolve through it.
FILE_FORMATS = {"PARQUET": "parquet", "ORC": "orc", "CSV": "csv",
                "JSON": "json", "XML": "xml", "AVRO": "avro",
                "FIXED": "text", "TEXT": "text"}

#: the formats Spark's file-stream source and sink support
STREAM_FORMATS = ("parquet", "orc", "csv", "json")


def file_format(type_name: str) -> str | None:
    """Spark format of a file endpoint type; None for a non-file type."""
    return FILE_FORMATS.get(type_name.upper().removeprefix("FILE_"))


_FILE_TYPES = [p + t for t in FILE_FORMATS for p in ("", "FILE_")]


_READERS: dict[str, Callable[[SparkSession, dict], DataFrame]] = {
    **{t: partial(readers.read_file, fmt=file_format(t))
       for t in _FILE_TYPES},
    "ORACLE_DB": readers.read_jdbc,
    "MSSQL_DB": readers.read_jdbc,
    "JDBC": readers.read_jdbc,
    "API_REST": readers.read_rest,
    "KAFKA": readers.read_kafka,
    "ELASTICSEARCH": readers.read_elasticsearch,
    "MONGODB": readers.read_mongodb,
    "MEMORY": readers.read_memory,
}

_WRITERS: dict[str, Callable[..., dict]] = {
    **{t: partial(writers.write_file, fmt=file_format(t))
       for t in _FILE_TYPES},
    "ORACLE_DB": writers.write_jdbc,
    "MSSQL_DB": writers.write_jdbc,
    "JDBC": writers.write_jdbc,
    "API_REST": writers.write_rest,
    "KAFKA": writers.write_kafka,
    "ELASTICSEARCH": writers.write_elasticsearch,
    "MONGODB": writers.write_mongodb,
    "MEMORY": writers.write_memory,
}


def register_reader(type_name: str, fn) -> None:
    _READERS[type_name.upper()] = fn


def register_writer(type_name: str, fn) -> None:
    _WRITERS[type_name.upper()] = fn


def read_source(spark: SparkSession, ep: EndpointConfig) -> DataFrame:
    try:
        fn = _READERS[ep.type.upper()]
    except KeyError:
        raise ValueError(f"Unsupported source type: {ep.type!r} "
                         f"(known: {sorted(_READERS)})") from None
    return fn(spark, ep.details)


#: transient failure markers retried by write_sink — the Spark-visible
#: analogues of the reference's IOException / SQLTransientException filter
#: (ETLCoreMainJobExecution.java:229-249). Spark already retries *task*
#: failures (spark.task.maxFailures); this guards whole-action failures
#: (sink connection drops, commit races).
_TRANSIENT_MARKERS = ("IOException", "SQLTransientException",
                      "SQLRecoverableException", "Connection refused",
                      "timed out", "TimeoutException")


def _is_transient(err: Exception) -> bool:
    s = repr(err)
    return any(m in s for m in _TRANSIENT_MARKERS)


def write_sink(df: DataFrame, ep: EndpointConfig, max_attempts: int = 3,
               backoff_sec: float = 1.0, counters=()) -> dict:
    """Write with the reference's retry policy (U4): ``max_attempts`` tries,
    exponential backoff, transient errors only
    (ETLCoreMainJobExecution.java:184-221). File sinks commit atomically
    (Spark's commit protocol), so a retried attempt never double-writes;
    JDBC appends should use staging tables or idempotent keys (SURVEY §7.5.4).
    A writer that cannot observe ``counters`` is refused before it writes.
    """
    import inspect
    import time as _time

    try:
        fn = _WRITERS[ep.type.upper()]
    except KeyError:
        raise ValueError(f"Unsupported destination type: {ep.type!r} "
                         f"(known: {sorted(_WRITERS)})") from None
    kwargs = {"counters": counters} if counters else {}
    no_counters = ValueError(f"destination type {ep.type!r} cannot count "
                             "expectations")
    try:
        if counters:
            inspect.signature(fn).bind(df, ep.details, **kwargs)
    except TypeError:
        raise no_counters from None
    attempt = 0
    while True:
        try:
            out = fn(df, ep.details, **kwargs)
            if counters and "counters" not in out:
                raise no_counters
            return out
        except Exception as e:  # noqa: BLE001 — filtered below
            attempt += 1
            if attempt >= max_attempts or not _is_transient(e):
                raise
            _time.sleep(backoff_sec * 2 ** (attempt - 1))
