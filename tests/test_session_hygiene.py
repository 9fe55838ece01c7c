"""Session-hygiene contract for operator-internal caches.

Round 3's bench regression traced to ``bigram_surprisal`` persisting its
(doc, bigram, count) relation and never releasing it: a CacheManager entry
is strongly referenced by the session (never GC-collected), so the cache
squatted on executor memory for every query that ran after q146 (+23%
measured on a subsequent q27). The contract: every operator-internal
persist registers with ``session.register_operator_cache``; materialization
points (runner epilogue, bench.py, tests) call
``session.release_operator_caches()``. ``tests/test_entry.py`` enforces the
contract for every declared query; this file pins the mechanism itself.
"""

from pyspark.sql import functions as F

from etl_load_spark.session import (register_operator_cache,
                                    release_operator_caches)


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def test_bigram_surprisal_releases_cache(spark, sf_dir):
    """q146's operator must leave no persistent relation behind once the
    result is materialized and the registered caches are released (the
    VERDICT r3 'done' criterion)."""
    from etl_load_spark.operators.text import bigram_surprisal
    from etl_load_spark.session import read_table

    out = bigram_surprisal(read_table(spark, sf_dir, "documents"),
                           "doc_id", "text")
    assert out.count() > 0
    assert release_operator_caches() >= 1
    # the authoritative gate is the CacheManager (localCheckpoint RDDs from
    # other operators are ContextCleaner-managed and may linger until GC,
    # so getPersistentRDDs() is not assertable here)
    assert _cache_manager(spark).isEmpty()


def test_deliberate_leak_is_caught(spark):
    """The mechanical gate must FAIL on a q146-class leak: a persist that
    bypasses the registry stays visible in the CacheManager after
    release_operator_caches()."""
    leaked = spark.range(100).select(F.col("id") * 2).persist()
    leaked.count()
    release_operator_caches()
    assert not _cache_manager(spark).isEmpty(), (
        "CacheManager should still hold the unregistered persist")
    leaked.unpersist()
    assert _cache_manager(spark).isEmpty()


def test_registry_release_is_idempotent(spark):
    df = register_operator_cache(spark.range(10).persist())
    df.count()
    assert release_operator_caches() == 1
    assert release_operator_caches() == 0
    assert _cache_manager(spark).isEmpty()


def test_registry_is_per_thread(spark):
    """Jobs run on their own threads over one session (api.JobRegistry):
    one thread's release must leave another thread's caches in place."""
    import threading

    mine = register_operator_cache(
        spark.range(10).select((F.col("id") * 3).alias("v")).persist())
    mine.count()
    released = []

    def other_job():
        theirs = register_operator_cache(
            spark.range(10).select((F.col("id") * 5).alias("v")).persist())
        theirs.count()
        released.append(release_operator_caches())

    t = threading.Thread(target=other_job)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive() and released == [1]
    assert not _cache_manager(spark).isEmpty()
    assert mine.storageLevel.useMemory
    assert release_operator_caches() == 1
    assert _cache_manager(spark).isEmpty()


def test_lm_surprisal_spec_stage_releases_via_runner(spark, tmp_path,
                                                     sf_dir):
    """The declarative LM_SURPRISAL stage runs inside run_job; the runner's
    epilogue releases operator caches after the write action."""
    import os

    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec

    out_dir = os.path.join(str(tmp_path), "out")
    spec = JobSpec.from_dict({
        "jobId": "hygiene_lm",
        "source": {"type": "PARQUET",
                   "details": {"path": os.path.join(sf_dir,
                                                    "documents.parquet")}},
        "transformation": {"type": "LM_SURPRISAL",
                           "parameters": {"mode": "annotate"}},
        "destination": {"type": "PARQUET",
                        "details": {"path": out_dir, "mode": "overwrite"}},
    })
    result = run_job(spark, spec)
    assert result.status == "COMPLETED", result.error
    assert _cache_manager(spark).isEmpty()


def test_lm_surprisal_annotate_rejects_cut_params(spark, sf_dir):
    """ADVICE r3: mode='annotate' with maxBits/keepQuantile must error
    loudly instead of silently ignoring the cut parameters."""
    import pytest

    from etl_load_spark.plans.builder import _lm_surprisal_transform
    from etl_load_spark.session import read_table

    df = read_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="annotate"):
        _lm_surprisal_transform(df, {"mode": "annotate", "maxBits": 12.0})
    with pytest.raises(ValueError, match="annotate"):
        _lm_surprisal_transform(df, {"mode": "annotate",
                                     "keepQuantile": 0.5})
    release_operator_caches()


def test_driver_memory_default_fits_physical_ram(monkeypatch):
    """The driver heap default is three quarters of physical RAM in whole
    GiB, capped at the ``_DEFAULTS`` value, and the cap when RAM cannot
    be read."""
    from etl_load_spark import session

    def ram(n_bytes):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": n_bytes // 4096}
        monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)

    ram(int(15.7e9))
    assert session._driver_memory() == "10g"
    ram(64 * 2**30)
    assert session._driver_memory() == "16g"
    ram(2**30)
    assert session._driver_memory() == "1g"

    def unreadable(_name):
        raise ValueError("unknown sysconf name")
    monkeypatch.setattr(session.os, "sysconf", unreadable)
    assert session._driver_memory() == "16g"
