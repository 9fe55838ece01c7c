"""SparkSession factory with scale-appropriate defaults.

Local mode is the test harness; the config deliberately mirrors what we would
set on a real cluster (AQE on, skew handling on, Arrow on, sane shuffle
partition count) so plans exercised in tests are the plans we'd ship.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

# At 100 TB these would come from the cluster profile; locally they are sized
# for local[N] single-JVM runs (see SURVEY.md §6 / pyspark guide).
# spark.sql.shuffle.partitions sizes batch shuffles only; AQE coalesces them
# to the data. Streaming state is sized apart, by
# sources/writers.start_stream (one state partition per core on a new
# checkpoint): a stateful shuffle keeps the count its checkpoint recorded
# and AQE never coalesces it, so this default would make every micro-batch
# run 32 state-store tasks and commits however few rows it holds.
_DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    "spark.sql.files.maxPartitionBytes": "128MB",
    "spark.ui.enabled": "false",
    # the cap: get_spark lowers it to three quarters of physical RAM. A
    # heap that may outgrow the box gets the driver OOM-killed by the
    # kernel before AdmissionControl's heap probe can defer a job.
    "spark.driver.memory": "16g",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # PySpark 4's DataFrame debugging wraps EVERY DataFrame API call with a
    # Python stack inspection plus ~3 py4j round trips (conf.get + origin
    # set/clear) purely to enrich error messages with user call sites.
    # Measured r14 (guide §1): plan BUILD time across the 189-query surface
    # was 89 s/pass — a third of the quiet-box bench — and ~half of it is
    # this wrapper (q24 build 2.1 s → 0.17 s, q28 1.8 → 0.9, q31 1.6 → 0.7
    # with it off). Results and plans are identical; only error-message
    # query-context decoration is lost, which a production engine trades
    # away gladly at this price. Re-enable ad hoc when debugging a query.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "etl_load_spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    An already-active session is reused as-is (driver-owned sessions win).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(master or f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS, **{"spark.driver.memory": _driver_memory()})
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _driver_memory() -> str:
    """Three quarters of physical RAM in whole GiB, at most the
    ``_DEFAULTS`` cap; the cap itself if RAM cannot be read."""
    cap = _DEFAULTS["spark.driver.memory"]
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return cap
    if ram <= 0:
        return cap
    return f"{max(1, min(int(cap[:-1]), ram * 3 // 4 // 2**30))}g"


# ---------------------------------------------------------------------------
# Operator-internal cache registry.
#
# Some operators (bigram_surprisal; the runner's `unique` expectations, which
# a write's observation cannot count) must persist an intermediate relation —
# Catalyst would otherwise re-plan the shared subtree per consumer. A
# CacheManager-registered persist is held by a STRONG reference inside the
# session (never GC-collected), so an operator that persists and forgets
# pins executor memory for the life of a long-running session. Every
# operator-internal persist registers here; the materialization points (the
# job runner's epilogue, bench.py between queries, tests) call
# release_operator_caches() once the result is materialized. The registry
# is per thread: api.JobRegistry runs one thread per job over one session,
# and a job's epilogue must release only what its own thread registered.
# tests/test_session_hygiene.py asserts it for every declared query.
# ---------------------------------------------------------------------------


class _ThreadCaches(threading.local):
    def __init__(self):
        self.dfs: list = []


_OPERATOR_CACHES = _ThreadCaches()


def register_operator_cache(df):
    """Track an operator-internal persisted DataFrame for explicit release.

    Returns ``df`` so call sites can chain: ``register_operator_cache(
    rel.persist())``. Safe to call multiple times per operator invocation.
    """
    _OPERATOR_CACHES.dfs.append(df)
    return df


def release_operator_caches() -> int:
    """Unpersist every cache this thread registered; returns how many.

    Idempotent and exception-safe: cleanup must never mask the job result,
    and an already-unpersisted or dead-session DataFrame is a no-op.
    """
    n = 0
    while _OPERATOR_CACHES.dfs:
        df = _OPERATOR_CACHES.dfs.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — cleanup must not mask results
            pass
    return n


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver testdata table, normalizing physical-type quirks
    (``events``: see ``read_events``)."""
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    return read_events(spark, lambda: spark.read.parquet(path))


def read_events(spark: SparkSession, read):
    """Run ``read()`` — a batch or stream read of the ``events`` table —
    and normalize its ``ts`` column to TIMESTAMP_LTZ.

    ``events`` stores TIMESTAMP(NANOS), which Spark's vectorized parquet
    reader rejects: the read runs with ``spark.sql.legacy.parquet.nanosAsLong``
    on, and the int64 nanos are truncated to microseconds with integer
    division — the same µs truncation DuckDB applies, so oracle comparisons
    stay exact. A TIMESTAMP_NTZ ``ts`` is cast to LTZ (watermarks and epoch
    functions need it); with the session TZ pinned to UTC the cast is the
    identity on the underlying micros value.
    """
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = read()
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) -> dict:
    """Read the driver testdata tables and register them as temp views."""
    out = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
