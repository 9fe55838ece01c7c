"""Job-spec engine end-to-end (verify Surface 2, made durable).

Feeds a dirty CSV through a mapping spec and checks:
- reference cast semantics: trim-parse numerics, truthy booleans, defaults
  (ETLCoreMappingProcessor.java:149-253 behaviors, Spark-expressed)
- error routing U3: ROUTE_TO_FILE writes ``_error_reason`` rows, FAIL_JOB
  fails the job, LOG_ONLY drops bad rows
  (CoreLibInterfaces.java:91-96, ETLCoreMappingProcessor.java:100-135)
- maxErrorsAllowed budget boundary
- unknown source type -> FAILED with the known-types list
- step sequencing incl. VALIDATE_LOAD accounting (etlModel.java:166-174)
"""

import csv
import glob

import pytest

from etl_load_spark.runner import run_job
from etl_load_spark.spec import JobSpec

DIRTY_CSV = (
    "id,amount,active,note\n"
    "1, 42 ,y,ok\n"
    "2,7.5,TRUE,\n"
    "3,not-a-number,no,bad-amount\n"
    "4,,0,empty-amount\n"
)


def _spec_dict(src_path: str, dest_path: str, strategy: str,
               error_file: str | None = None, max_errors: int = 0) -> dict:
    return {
        "jobId": "runner-e2e",
        "source": {"type": "FILE_CSV",
                   "details": {"path": src_path, "header": True}},
        "destination": {"type": "FILE_CSV",
                        "details": {"path": dest_path, "header": True,
                                    "mode": "overwrite"}},
        "mappings": [
            {"sourceFieldName": "id", "destinationFieldName": "dest_id",
             "destFieldType": "LONG", "isDestNullable": False},
            {"sourceFieldName": "amount", "destinationFieldName": "amt",
             "destFieldType": "DOUBLE", "defaultValue": "0.0"},
            {"sourceFieldName": "active", "destinationFieldName": "is_active",
             "destFieldType": "BOOLEAN"},
            {"sourceFieldName": "note", "destinationFieldName": "note_up",
             "destFieldType": "STRING", "transformationRule": "UPPERCASE"},
        ],
        "errorHandling": {"strategy": strategy, "errorFilePath": error_file,
                          "maxErrorsAllowed": max_errors},
        "steps": ["VALIDATE_SOURCE", "LOAD", "VALIDATE_LOAD",
                  "NOTIFY_SUCCESS", "NOTIFY_FAILURE"],
        "orderBy": ["dest_id"],
    }


@pytest.fixture()
def dirty_csv(tmp_path):
    p = tmp_path / "dirty.csv"
    p.write_text(DIRTY_CSV)
    return str(p)


def _read_csv_rows(path_glob: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(path_glob)):
        with open(part) as f:
            rows.extend(csv.DictReader(f))
    return rows


def test_route_to_file_end_to_end(spark, dirty_csv, tmp_path):
    out, errs = str(tmp_path / "out"), str(tmp_path / "errs")
    notified = []
    res = run_job(spark, JobSpec.from_dict(
        _spec_dict(dirty_csv, out, "ROUTE_TO_FILE", errs, max_errors=10)),
        notify=notified.append)
    assert res.status == "COMPLETED", res.error
    # row 3: "not-a-number" fails the DOUBLE cast -> error path; row 4's
    # empty amount takes defaultValue 0.0 and stays good
    good = {r["dest_id"]: r for r in _read_csv_rows(out + "/part-*.csv")}
    assert set(good) == {"1", "2", "4"}
    assert float(good["1"]["amt"]) == 42.0       # " 42 " trim-parsed
    assert good["1"]["is_active"] == "true"      # "y" truthy
    assert good["2"]["is_active"] == "true"      # "TRUE" truthy
    assert good["4"]["is_active"] == "false"     # "0" falsy
    assert float(good["4"]["amt"]) == 0.0        # default substituted
    assert good["1"]["note_up"] == "OK"          # UPPERCASE rule
    bad = _read_csv_rows(errs + "/part-*.csv")
    assert len(bad) == 1 and bad[0]["id"] == "3"
    assert "cast failed" in bad[0]["_error_reason"]
    assert res.records_failed == 1 and res.records_written == 3
    assert notified and notified[0].status == "COMPLETED"


def test_fail_job_raises_on_first_error(spark, dirty_csv, tmp_path):
    res = run_job(spark, JobSpec.from_dict(
        _spec_dict(dirty_csv, str(tmp_path / "out"), "FAIL_JOB")))
    assert res.status == "FAILED"
    assert "FAIL_JOB" in res.error


def test_log_only_drops_bad_rows(spark, dirty_csv, tmp_path):
    out = str(tmp_path / "out")
    res = run_job(spark, JobSpec.from_dict(
        _spec_dict(dirty_csv, out, "LOG_ONLY", max_errors=10)))
    assert res.status == "COMPLETED", res.error
    assert {r["dest_id"] for r in _read_csv_rows(out + "/part-*.csv")} \
        == {"1", "2", "4"}


def test_max_errors_budget_exceeded(spark, dirty_csv, tmp_path):
    res = run_job(spark, JobSpec.from_dict(
        _spec_dict(dirty_csv, str(tmp_path / "out"), "LOG_ONLY",
                   max_errors=0)))
    # budget 0 means unlimited in the reference default
    assert res.status == "COMPLETED", res.error
    assert res.records_failed == 1
    # use a 1-error budget
    spec = _spec_dict(dirty_csv, str(tmp_path / "out2"), "LOG_ONLY")
    spec["errorHandling"]["maxErrorsAllowed"] = 1
    res = run_job(spark, JobSpec.from_dict(_two_bad_rows(spec)))
    assert res.status == "FAILED"
    assert "maxErrorsAllowed" in res.error


def _two_bad_rows(spec: dict) -> dict:
    # row 2's empty note becomes a second bad row next to row 3's amount
    spec["mappings"][3]["isDestNullable"] = False
    return spec


SRC_QUERY = "SELECT * FROM src"


@pytest.mark.parametrize("strategy,max_errors,query", [
    pytest.param(s, n, q, id=f"{s}-{n}" + ("-query" if q else ""))
    for s, n in (("FAIL_JOB", 0), ("LOG_ONLY", 1), ("ROUTE_TO_FILE", 1))
    for q in (None, SRC_QUERY)])
def test_failed_check_leaves_no_destination_files(spark, dirty_csv, tmp_path,
                                                  strategy, max_errors,
                                                  query):
    """FAIL_JOB and an exceeded maxErrorsAllowed fail the job before the
    destination write; ROUTE_TO_FILE still writes its error file. The
    mappings go through the same error accounting behind a query."""
    out, errs = str(tmp_path / "out"), str(tmp_path / "errs")
    spec = _two_bad_rows(
        _spec_dict(dirty_csv, out, strategy, errs, max_errors=max_errors))
    spec["query"] = query
    res = run_job(spark, JobSpec.from_dict(spec))
    assert res.status == "FAILED"
    assert glob.glob(out + "/part-*") == []
    bad = _read_csv_rows(errs + "/part-*.csv")
    if strategy == "ROUTE_TO_FILE":
        assert sorted(r["id"] for r in bad) == ["2", "3"]
    else:
        assert bad == []


def test_query_job_counts_failed_mappings(spark, dirty_csv, tmp_path):
    """LOG_ONLY behind a query drops and counts the bad row, as without
    one."""
    out = str(tmp_path / "out")
    spec = _spec_dict(dirty_csv, out, "LOG_ONLY", max_errors=10)
    spec["query"] = SRC_QUERY
    res = run_job(spark, JobSpec.from_dict(spec))
    assert res.status == "COMPLETED", res.error
    assert (res.records_read, res.records_written, res.records_failed) \
        == (4, 3, 1)
    assert {r["dest_id"] for r in _read_csv_rows(out + "/part-*.csv")} \
        == {"1", "2", "4"}


def test_query_job_applies_filter(spark, tmp_path):
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    spark.createDataFrame([("1", 10), ("2", 20), ("3", 30)],
                          "id string, v int").write.parquet(src)
    res = run_job(spark, JobSpec.from_dict({
        "jobId": "query-filter",
        "source": {"type": "PARQUET", "details": {"path": src}},
        "query": SRC_QUERY, "filter": "id = '1'",
        "destination": {"type": "PARQUET", "details": {"path": out}},
        "steps": ["LOAD"]}))
    assert res.status == "COMPLETED", res.error
    assert res.records_written == 1
    assert [tuple(r) for r in spark.read.parquet(out).collect()] == [("1", 10)]


def test_route_to_file_clean_rerun_empties_error_file(spark, dirty_csv,
                                                      tmp_path):
    """The error file is overwritten on every run: a clean re-run must not
    leave the previous run's error rows behind."""
    out, errs = str(tmp_path / "out"), str(tmp_path / "errs")
    res = run_job(spark, JobSpec.from_dict(
        _spec_dict(dirty_csv, out, "ROUTE_TO_FILE", errs, max_errors=10)))
    assert res.status == "COMPLETED", res.error
    assert len(_read_csv_rows(errs + "/part-*.csv")) == 1
    clean = tmp_path / "clean.csv"
    clean.write_text("id,amount,active,note\n1,2.5,y,ok\n")
    res = run_job(spark, JobSpec.from_dict(
        _spec_dict(str(clean), out, "ROUTE_TO_FILE", errs, max_errors=10)))
    assert res.status == "COMPLETED", res.error
    assert res.records_failed == 0 and res.records_written == 1
    assert glob.glob(errs + "/_SUCCESS")
    assert _read_csv_rows(errs + "/part-*.csv") == []


def test_failed_write_leaves_no_cache(spark, dirty_csv, tmp_path):
    """A sink failing permanently after the error split must leave nothing
    in the CacheManager."""
    from etl_load_spark.sources.registry import register_writer

    def broken(df, details):
        raise ValueError("schema mismatch")  # permanent: no retry

    register_writer("BROKEN_AFTER_SPLIT", broken)
    spec = _spec_dict(dirty_csv, str(tmp_path / "out"), "LOG_ONLY",
                      max_errors=10)
    spec["destination"] = {"type": "BROKEN_AFTER_SPLIT", "details": {}}
    res = run_job(spark, JobSpec.from_dict(spec))
    assert res.status == "FAILED" and "schema mismatch" in res.error
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_unknown_source_type_lists_known(spark, tmp_path):
    spec = _spec_dict("/nonexistent", str(tmp_path / "out"), "LOG_ONLY")
    spec["source"]["type"] = "GOPHER"
    res = run_job(spark, JobSpec.from_dict(spec))
    assert res.status == "FAILED"
    assert "FILE_CSV" in res.error  # known-types list surfaces in message


def test_validate_load_accounting(spark, dirty_csv, tmp_path):
    res = run_job(spark, JobSpec.from_dict(
        _spec_dict(dirty_csv, str(tmp_path / "out"), "ROUTE_TO_FILE",
                   str(tmp_path / "errs"), max_errors=10)))
    assert res.status == "COMPLETED", res.error
    assert res.records_read == res.records_written + res.records_failed == 4
    assert res.step_log == ["VALIDATE_SOURCE", "LOAD", "VALIDATE_LOAD",
                            "NOTIFY_SUCCESS", "NOTIFY_FAILURE"]


def test_write_retry_transient_only(spark, tmp_path):
    """U4: transient sink failures retry with backoff; permanent ones don't."""
    from etl_load_spark.sources.registry import register_writer, write_sink
    from etl_load_spark.spec import EndpointConfig

    calls = {"flaky": 0, "broken": 0}

    def flaky(df, details):
        calls["flaky"] += 1
        if calls["flaky"] < 3:
            raise RuntimeError("java.io.IOException: Connection refused")
        return {"records_written": df.count()}

    def broken(df, details):
        calls["broken"] += 1
        raise ValueError("schema mismatch")  # permanent

    register_writer("FLAKY", flaky)
    register_writer("BROKEN", broken)
    df = spark.range(5)
    out = write_sink(df, EndpointConfig("FLAKY", {}), backoff_sec=0.01)
    assert out == {"records_written": 5} and calls["flaky"] == 3
    with pytest.raises(ValueError):
        write_sink(df, EndpointConfig("BROKEN", {}), backoff_sec=0.01)
    assert calls["broken"] == 1  # no retry on permanent errors


def test_kafka_connector_shape(spark):
    """KAFKA connector option plumbing: the package isn't bundled here, so
    a read must fail with Spark's data-source-not-found (proving the
    options were accepted and the source was dispatched), and a missing
    topic must fail our validation first."""
    import pytest
    from etl_load_spark.sources.readers import read_kafka
    with pytest.raises(ValueError, match="topic"):
        read_kafka(spark, {"bootstrap_servers": "b:9092"})
    with pytest.raises(Exception) as ei:
        read_kafka(spark, {"bootstrap_servers": "b:9092", "topic": "t"})
    assert "kafka" in str(ei.value).lower()


def test_range_by_layout_writes_disjoint_files(spark, sf_dir, tmp_path):
    """range_by sink layout: output files hold disjoint key ranges (the
    data-skipping clustering layout; readers prune files by footer stats)."""
    from etl_load_spark.session import read_table
    from etl_load_spark.sources.writers import write_file
    out = str(tmp_path / "ranged")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_file(o, {"path": out, "range_by": ["o_orderkey"], "repartition": 4},
               "parquet")
    import glob
    from pyspark.sql import functions as F
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) >= 3
    bounds = []
    for f in files:
        r = (spark.read.parquet(f)
             .agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0])
        if r[0] is not None:
            bounds.append((r[0], r[1]))
    bounds.sort()
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2, bounds  # disjoint ranges
    # nothing lost
    assert spark.read.parquet(out).count() == o.count()


def test_json_corrupt_record_routing(spark, tmp_path):
    """Malformed JSONL lines land in the corrupt column (U3 parse-error
    path) and split cleanly from good rows; DROPMALFORMED silently drops."""
    from etl_load_spark.sources.readers import read_file
    p = tmp_path / "in.jsonl"
    p.write_text('{"id": 1, "v": "a"}\n'
                 '{oops not json\n'
                 '{"id": 2, "v": "b"}\n'
                 '{"id": "NaNope", "v": 3}\n')
    df = read_file(spark, {"path": str(p), "schema": "id bigint, v string",
                           "corrupt_column": "_corrupt"}, "json")
    rows = df.collect()
    assert len(rows) == 4
    bad = [r for r in rows if r["_corrupt"] is not None]
    good = [r for r in rows if r["_corrupt"] is None]
    assert len(bad) == 2  # the broken line and the type-mismatched id
    assert sorted((r.id, r.v) for r in good) == [(1, "a"), (2, "b")]
    # raw line preserved for the error sink
    assert any("oops" in r["_corrupt"] for r in bad)
    # DROPMALFORMED removes unparseable lines only; the type-mismatched row
    # survives with the bad field nulled (PERMISSIVE + corrupt_column is the
    # mode that catches both, which is why the engine defaults to it)
    dropped = read_file(spark, {"path": str(p), "schema": "id bigint, v string",
                                "mode": "DROPMALFORMED"}, "json")
    assert dropped.count() == 3


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """merge_schema unions file schemas; columns absent in old files null."""
    from etl_load_spark.sources.readers import read_file
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id bigint, v string") \
        .write.mode("append").parquet(out)
    spark.createDataFrame([(2, "b", 9.5)], "id bigint, v string, score double") \
        .write.mode("append").parquet(out)
    df = read_file(spark, {"path": out, "merge_schema": True}, "parquet")
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r.id: r for r in df.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_max_records_per_file(spark, sf_dir, tmp_path):
    from etl_load_spark.session import read_table
    from etl_load_spark.sources.writers import write_file
    import glob
    out = str(tmp_path / "capped")
    n = read_table(spark, sf_dir, "orders").count()
    write_file(read_table(spark, sf_dir, "orders").coalesce(1),
               {"path": out, "max_records_per_file": 500}, "parquet")
    files = glob.glob(out + "/part-*.parquet")
    assert len(files) >= n // 500
    assert spark.read.parquet(out).count() == n


def test_csv_corrupt_record_routing(spark, tmp_path):
    """CSV malformed rows (wrong column count / bad types) land in the
    corrupt column, mirroring the FILE_JSON U3 path."""
    from etl_load_spark.sources.readers import read_file
    p = tmp_path / "in.csv"
    p.write_text("id,v\n1,a\nnot_a_number,b\n2,c\n")
    df = read_file(spark, {"path": str(p), "schema": "id bigint, v string",
                           "corrupt_column": "_corrupt", "all_string": False},
                   "csv")
    rows = df.collect()
    bad = [r for r in rows if r["_corrupt"] is not None]
    good = [(r.id, r.v) for r in rows if r["_corrupt"] is None]
    assert sorted(good) == [(1, "a"), (2, "c")]
    assert len(bad) == 1 and "not_a_number" in bad[0]["_corrupt"]


def test_incremental_load_anti_join(spark, sf_dir, tmp_path):
    """Classic incremental ETL: append only keys missing from the target
    (LEFT ANTI JOIN through the spec's SQL path, append-mode sink). Run 1
    bootstraps a partial target; run 2 loads the delta; run 3 is a no-op."""
    from etl_load_spark.session import read_table
    target = str(tmp_path / "target")
    src = f"{sf_dir}/orders.parquet"

    def job(query, mode="append"):
        return JobSpec.from_dict({
            "jobId": "incr",
            "source": {"type": "PARQUET", "details": {"path": src}},
            "extraSources": {"target": {"type": "PARQUET",
                                        "details": {"path": target}}},
            "query": query,
            "destination": {"type": "PARQUET",
                            "details": {"path": target, "mode": mode}},
        })

    total = read_table(spark, sf_dir, "orders").count()
    boot = JobSpec.from_dict({
        "jobId": "bootstrap",
        "source": {"type": "PARQUET", "details": {"path": src}},
        "query": "SELECT * FROM src WHERE o_orderkey < 1000",
        "destination": {"type": "PARQUET", "details": {"path": target}},
    })
    r1 = run_job(spark, boot)
    assert r1.status == "COMPLETED", r1.error
    n_boot = spark.read.parquet(target).count()
    assert 0 < n_boot < total

    delta_sql = ("SELECT s.* FROM src s LEFT ANTI JOIN target t "
                 "ON s.o_orderkey = t.o_orderkey")
    r2 = run_job(spark, job(delta_sql))
    assert r2.status == "COMPLETED", r2.error
    assert r2.records_written == total - n_boot
    assert spark.read.parquet(target).count() == total
    assert (spark.read.parquet(target).select("o_orderkey").distinct().count()
            == total)

    r3 = run_job(spark, job(delta_sql))
    assert r3.status == "COMPLETED", r3.error
    assert r3.records_written == 0
    assert spark.read.parquet(target).count() == total


def test_explicit_empty_steps_is_a_noop(spark, tmp_path):
    """steps: [] is a deliberate no-op job — it must not silently default
    to LOAD and write the destination."""
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec
    out = tmp_path / "never_written"
    spec = JobSpec.from_dict({
        "jobId": "noop",
        "source": {"type": "MEMORY",
                   "details": {"rows": [(1,)], "schema": "id long"}},
        "destination": {"type": "PARQUET", "details": {"path": str(out)}},
        "steps": [],
    })
    r = run_job(spark, spec)
    assert r.status == "COMPLETED"
    assert r.records_written == 0
    assert not out.exists()
