"""Declarative data-quality expectations (VALIDATE_LOAD) and dynamic
partition overwrite (the idempotent daily-reload sink pattern)."""

import glob

import pytest

from etl_load_spark.runner import run_job
from etl_load_spark.spec import JobSpec


def _spec(sf_dir, tmp_path, expectations, query=None):
    return JobSpec.from_dict({
        "jobId": "exp_job",
        "source": {"type": "PARQUET", "path": f"{sf_dir}/orders.parquet"},
        "destination": {"type": "PARQUET", "path": str(tmp_path / "out")},
        "query": query or "SELECT * FROM src",
        "steps": ["VALIDATE_SOURCE", "LOAD", "VALIDATE_LOAD"],
        "expectations": expectations,
    })


def test_expectations_pass_and_record(spark, sf_dir, tmp_path):
    res = run_job(spark, _spec(sf_dir, tmp_path, [
        {"check": "not_null", "column": "o_orderkey"},
        {"check": "unique", "columns": ["o_orderkey"]},
        {"check": "range", "column": "o_totalprice", "min": 0},
        {"check": "accepted_values", "column": "o_orderstatus",
         "values": ["O", "F", "P"]},
        {"check": "expression", "sql": "o_custkey >= 0"},
        {"check": "row_count_min", "value": 1},
    ]))
    assert res.status == "COMPLETED", res.error
    assert len(res.expectation_results) == 6
    assert all(e["passed"] for e in res.expectation_results)


def test_expectation_error_fails_job(spark, sf_dir, tmp_path):
    res = run_job(spark, _spec(sf_dir, tmp_path, [
        {"check": "range", "column": "o_totalprice", "max": 10.0},
    ]))
    assert res.status == "FAILED"
    assert "expectations failed" in res.error
    assert res.expectation_results[0]["failed_rows"] > 0


def test_expectation_warn_records_but_completes(spark, sf_dir, tmp_path):
    res = run_job(spark, _spec(sf_dir, tmp_path, [
        {"check": "range", "column": "o_totalprice", "max": 10.0,
         "severity": "warn"},
        {"check": "not_null", "column": "o_orderkey"},
    ]))
    assert res.status == "COMPLETED", res.error
    warn, ok = res.expectation_results
    assert not warn["passed"] and warn["severity"] == "warn"
    assert ok["passed"]


def test_unique_violation_detected(spark, sf_dir, tmp_path):
    # o_orderpriority repeats across orders — uniqueness on it must fail
    res = run_job(spark, _spec(sf_dir, tmp_path, [
        {"check": "unique", "columns": ["o_orderpriority"]},
    ]))
    assert res.status == "FAILED"
    assert res.expectation_results[0]["failed_rows"] > 0


def test_row_count_bounds(spark, sf_dir, tmp_path):
    res = run_job(spark, _spec(sf_dir, tmp_path, [
        {"check": "row_count_max", "value": 3},
    ], query="SELECT * FROM src LIMIT 10"))
    assert res.status == "FAILED"
    res2 = run_job(spark, _spec(sf_dir, tmp_path, [
        {"check": "row_count_max", "value": 100},
        {"check": "row_count_min", "value": 5},
    ], query="SELECT * FROM src LIMIT 10"))
    assert res2.status == "COMPLETED", res2.error


def test_unknown_check_rejected(spark, sf_dir, tmp_path):
    res = run_job(spark, _spec(sf_dir, tmp_path, [
        {"check": "nope", "column": "o_orderkey"},
    ]))
    assert res.status == "FAILED"
    assert "unknown expectation check" in res.error


def test_dynamic_partition_overwrite(spark, tmp_path):
    """overwrite_partitions: a second load touching only one partition
    must replace that partition and leave the others intact — never the
    static-overwrite truncate-everything behavior."""
    from etl_load_spark.sources.writers import write_file

    path = str(tmp_path / "daily")
    full = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-01", 2, "b"),
         ("2024-01-02", 3, "c")], "day string, id int, v string")
    write_file(full, {"path": path, "partition_by": ["day"],
                      "overwrite_partitions": True}, "parquet")
    # reload ONLY day 2 with corrected rows
    fix = spark.createDataFrame(
        [("2024-01-02", 3, "c2"), ("2024-01-02", 4, "d")],
        "day string, id int, v string")
    write_file(fix, {"path": path, "partition_by": ["day"],
                     "overwrite_partitions": True}, "parquet")
    rows = sorted((str(r.day), r.id, r.v)
                  for r in spark.read.parquet(path).collect())
    assert rows == [("2024-01-01", 1, "a"), ("2024-01-01", 2, "b"),
                    ("2024-01-02", 3, "c2"), ("2024-01-02", 4, "d")]


def test_static_overwrite_truncates_other_partitions(spark, tmp_path):
    """Contrast pin: WITHOUT overwrite_partitions, overwrite mode replaces
    the whole dataset (documents why the knob exists)."""
    from etl_load_spark.sources.writers import write_file

    path = str(tmp_path / "daily_static")
    full = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-02", 3, "c")],
        "day string, id int, v string")
    write_file(full, {"path": path, "partition_by": ["day"]}, "parquet")
    fix = spark.createDataFrame(
        [("2024-01-02", 3, "c2")], "day string, id int, v string")
    write_file(fix, {"path": path, "partition_by": ["day"]}, "parquet")
    rows = sorted((str(r.day), r.id, r.v)
                  for r in spark.read.parquet(path).collect())
    assert rows == [("2024-01-02", 3, "c2")]


def test_streaming_load_validates_committed_sink(spark, tmp_path):
    """Expectations on a streaming spec evaluate against the SINK after
    the run — validating what committed, not the unbounded plan."""
    src = str(tmp_path / "stream_src")
    spark.createDataFrame([(1, "a"), (2, "b")],
                          "seq long, v string").write.parquet(src)
    spec = JobSpec.from_dict({
        "jobId": "stream_exp",
        "source": {"type": "PARQUET", "path": src},
        "destination": {"type": "PARQUET", "path": str(tmp_path / "out")},
        "steps": ["LOAD", "VALIDATE_LOAD"],
        "streaming": {"checkpoint": str(tmp_path / "chk")},
        "expectations": [
            {"check": "not_null", "column": "seq"},
            {"check": "row_count_min", "value": 2},
        ],
    })
    res = run_job(spark, spec)
    assert res.status == "COMPLETED", res.error
    assert all(e["passed"] for e in res.expectation_results)
    spec2 = JobSpec.from_dict({
        "jobId": "stream_exp2",
        "source": {"type": "PARQUET", "path": src},
        "destination": {"type": "PARQUET", "path": str(tmp_path / "out2")},
        "steps": ["LOAD", "VALIDATE_LOAD"],
        "streaming": {"checkpoint": str(tmp_path / "chk2")},
        "expectations": [{"check": "row_count_min", "value": 99}],
    })
    res2 = run_job(spark, spec2)
    assert res2.status == "FAILED"
    assert "expectations failed" in res2.error


def test_expectations_run_without_explicit_steps(spark, sf_dir, tmp_path):
    """Declaring expectations but no steps list must still evaluate them
    (the default gains VALIDATE_LOAD) — previously they were silently
    skipped because the spec default is steps=[LOAD]."""
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    r = run_job(spark, JobSpec.from_dict({
        "jobId": "exp_default_steps",
        "source": {"type": "PARQUET",
                   "details": {"path": f"{sf_dir}/orders.parquet"}},
        "destination": {"type": "PARQUET",
                        "details": {"path": str(tmp_path / "out")}},
        "expectations": [{"check": "not_null", "column": "o_orderkey"},
                         {"check": "row_count_min", "value": 10**9,
                          "severity": "warn"}],
    }))
    assert r.status == "COMPLETED", r.error
    assert [(e["check"], e["passed"]) for e in r.expectation_results] == \
        [("not_null", True), ("row_count_min", False)]


def test_partition_overwrite_expectations_are_batch_scoped(spark, tmp_path):
    """With dynamic partition overwrite, VALIDATE_LOAD must see THIS load's
    rows, not the accumulated table — a readback would include untouched
    historical partitions and fail batch-scoped bounds."""
    out = str(tmp_path / "dpo")

    def spec(day, n):
        rows = [(i, day) for i in range(n)]
        return JobSpec.from_dict({
            "jobId": f"dpo-{day}",
            "source": {"type": "MEMORY",
                       "details": {"rows": rows,
                                   "schema": "id long, day string"}},
            "destination": {"type": "PARQUET",
                            "details": {"path": out, "partition_by": ["day"],
                                        "overwrite_partitions": True}},
            "expectations": [{"check": "row_count_max", "value": n}],
        })

    r1 = run_job(spark, spec("d1", 5))
    assert r1.status == "COMPLETED", r1.error
    # second batch writes a DIFFERENT partition; the table now holds 5+3
    # rows but the row_count_max=3 expectation must only see batch 2
    r2 = run_job(spark, spec("d2", 3))
    assert r2.status == "COMPLETED", r2.error
    assert spark.read.parquet(out).count() == 8  # both partitions kept


def test_expectations_cache_released_when_validation_skipped(spark, sf_dir,
                                                             tmp_path):
    """Explicit steps without VALIDATE_LOAD (or a failed write) must not
    leak the expectations persist — one cached DataFrame per attempt would
    pin memory for a serve/listen session's lifetime."""
    spec = JobSpec.from_dict({
        "jobId": "skip-validate",
        "source": {"type": "MEMORY",
                   "details": {"rows": [(1, "a")],
                               "schema": "id long, v string"}},
        # non-path sink → the persist path (no readback)
        "destination": {"type": "MEMORY", "details": {"name": "skipv"}},
        "expectations": [{"check": "not_null", "column": "id"}],
        "steps": ["LOAD"],
    })
    r = run_job(spark, spec)
    assert r.status == "COMPLETED", r.error
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("expectation, message", [
    ({"check": "range", "column": "o_totalprice"},
     "expectation 'range' needs min or max"),
    ({"check": "row_count_min"}, "expectation 'row_count_min' needs value"),
    ({"check": "unique"}, "expectation 'unique' needs columns or column"),
    ({"check": "not_null"}, "expectation 'not_null' needs column"),
])
def test_malformed_expectation_fails_before_the_write(spark, sf_dir, tmp_path,
                                                      expectation, message):
    """An incomplete check fails the job with a message naming the check
    and the missing key, and nothing reaches the destination."""
    res = run_job(spark, _spec(sf_dir, tmp_path, [expectation]))
    assert res.status == "FAILED"
    assert res.error == message
    assert not glob.glob(str(tmp_path / "out" / "part-*"))


def _always_failing_count(res, sink_rows):
    """The `expression: false` warn check fails every row: its count must be
    the rows written, and the rows the sink holds."""
    assert res.status == "COMPLETED", res.error
    [entry] = res.expectation_results
    assert entry["failed_rows"] == res.records_written == sink_rows


_FALSE = [{"check": "expression", "sql": "false", "severity": "warn"}]


def test_counters_count_the_rows_of_a_nondeterministic_plan(spark, sf_dir,
                                                            tmp_path):
    res = run_job(spark, _spec(sf_dir, tmp_path, _FALSE,
                               query="SELECT * FROM src WHERE rand() < 0.5"))
    _always_failing_count(res,
                          spark.read.parquet(str(tmp_path / "out")).count())


def test_counters_count_once_under_a_sort_and_a_range_layout(spark, sf_dir,
                                                             tmp_path):
    """The range partitioner's sample job re-runs the plan below the sort;
    the counters sit above it and count each written row once."""
    out = str(tmp_path / "ranged")
    res = run_job(spark, JobSpec.from_dict({
        "jobId": "exp_sorted",
        "source": {"type": "PARQUET", "path": f"{sf_dir}/orders.parquet"},
        "query": "SELECT * FROM src",
        "orderBy": ["o_totalprice"],
        "destination": {"type": "PARQUET", "path": out,
                        "range_by": ["o_orderkey"], "repartition": 4},
        "expectations": _FALSE,
    }))
    _always_failing_count(res, spark.read.parquet(out).count())


def test_counters_count_the_retried_write_only(spark, sf_dir, tmp_path):
    """A transient failure retried by write_sink: the counters come from
    the attempt that committed."""
    from etl_load_spark.sources.registry import register_writer
    from etl_load_spark.sources.writers import write_file

    calls = []

    def flaky_parquet(df, details, **counters):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("java.io.IOException: connection reset")
        return write_file(df, details, "parquet", **counters)

    register_writer("FLAKY_PARQUET", flaky_parquet)
    out = str(tmp_path / "retried")
    res = run_job(spark, JobSpec.from_dict({
        "jobId": "exp_retried",
        "source": {"type": "PARQUET", "path": f"{sf_dir}/orders.parquet"},
        "destination": {"type": "FLAKY_PARQUET", "path": out},
        "expectations": _FALSE,
    }))
    assert len(calls) == 2
    _always_failing_count(res, spark.read.parquet(out).count())


def test_observable_checks_add_no_spark_job(spark, sf_dir, tmp_path):
    """Every check but `unique` rides the write's observation, so
    VALIDATE_LOAD runs no Spark job of its own."""
    tracker = spark.sparkContext.statusTracker()

    def jobs(job_id, expectations):
        res = run_job(spark, JobSpec.from_dict({
            "jobId": job_id,
            "source": {"type": "PARQUET", "path": f"{sf_dir}/orders.parquet"},
            "destination": {"type": "PARQUET",
                            "path": str(tmp_path / job_id)},
            "steps": ["VALIDATE_SOURCE", "LOAD", "VALIDATE_LOAD"],
            "expectations": expectations,
        }))
        assert res.status == "COMPLETED", res.error
        return len(tracker.getJobIdsForGroup(f"etl_load_{job_id}"))

    plain = jobs("exp_plain", [])
    checked = jobs("exp_checked", [
        {"check": "not_null", "column": "o_orderkey"},
        {"check": "range", "column": "o_totalprice", "min": 0},
        {"check": "accepted_values", "column": "o_orderstatus",
         "values": ["O", "F", "P"]},
        {"check": "expression", "sql": "o_custkey >= 0"},
        {"check": "row_count_min", "value": 1},
        {"check": "row_count_max", "value": 10**9},
    ])
    assert checked == plain


def test_writer_without_counters_is_refused_before_the_write(spark, sf_dir,
                                                             tmp_path):
    """A writer registered with the (df, details) signature cannot carry
    the counters: a job with expectations fails naming the destination
    type, and the writer never runs."""
    from etl_load_spark.sources.registry import register_writer

    calls = []
    register_writer("PLAIN_SINK", lambda df, details: calls.append(1))
    res = run_job(spark, JobSpec.from_dict({
        "jobId": "exp_plain_sink",
        "source": {"type": "PARQUET", "path": f"{sf_dir}/orders.parquet"},
        "destination": {"type": "PLAIN_SINK", "details": {}},
        "expectations": [{"check": "not_null", "column": "o_orderkey"}],
    }))
    assert res.status == "FAILED"
    assert "destination type 'PLAIN_SINK'" in res.error
    assert not calls
