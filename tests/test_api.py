"""REST surface (SURVEY §3.2): submit → 202 SUBMITTED, async execution,
status polling, duplicate-running refusal, file submit, 400/404 paths."""

import json
import time
import urllib.request
import urllib.error

import pytest


@pytest.fixture(scope="module")
def server(spark):
    from etl_load_spark.api import serve
    srv = serve(spark)
    yield f"http://{srv.server_address[0]}:{srv.server_address[1]}"
    srv.shutdown()


def _post(base, path, payload=None, raw=None):
    data = raw if raw is not None else json.dumps(payload or {}).encode()
    req = urllib.request.Request(base + path, data=data,
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(base, path):
    try:
        with urllib.request.urlopen(base + path) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _wait_done(base, job_id, timeout=120):
    deadline = time.time() + timeout
    while time.time() < deadline:
        code, st = _get(base, f"/api/etl/v1/jobs/{job_id}/status")
        if st["status"] in ("COMPLETED", "FAILED"):
            return st
        time.sleep(0.3)
    raise TimeoutError(st)


def _spec(sf_dir, tmp_path, job_id):
    return {
        "jobId": job_id,
        "source": {"type": "PARQUET", "details": {"path": f"{sf_dir}/nation.parquet"}},
        "query": "SELECT n_nationkey, upper(n_name) AS nation FROM src",
        "destination": {"type": "PARQUET", "details": {"path": str(tmp_path / job_id)}},
    }


def test_submit_and_poll_to_completion(server, sf_dir, tmp_path, spark):
    code, resp = _post(server, "/api/etl/v1/jobs/submit",
                       _spec(sf_dir, tmp_path, "api_job_1"))
    assert code == 202 and resp["status"] == "SUBMITTED"
    st = _wait_done(server, "api_job_1")
    assert st["status"] == "COMPLETED", st
    assert st["recordsWritten"] == 25
    assert spark.read.parquet(str(tmp_path / "api_job_1")).count() == 25


def test_duplicate_running_job_refused(server, sf_dir, tmp_path):
    spec = _spec(sf_dir, tmp_path, "api_job_dup")
    # slow the job enough to race a duplicate: big cross-join-ish query
    spec["query"] = ("SELECT a.n_nationkey, COUNT(*) AS n FROM src a, src b, "
                     "src c, src d, src e GROUP BY a.n_nationkey")
    code1, _ = _post(server, "/api/etl/v1/jobs/submit", spec)
    code2, resp2 = _post(server, "/api/etl/v1/jobs/submit", spec)
    assert code1 == 202
    assert code2 == 409 and "already running" in resp2["error"]
    st = _wait_done(server, "api_job_dup")
    assert st["status"] == "COMPLETED"
    # finished jobs may be resubmitted
    code3, _ = _post(server, "/api/etl/v1/jobs/submit", spec)
    assert code3 == 202
    _wait_done(server, "api_job_dup")


def test_submit_from_file(server, sf_dir, tmp_path):
    p = tmp_path / "spec.json"
    p.write_text(json.dumps(_spec(sf_dir, tmp_path, "api_job_file")))
    code, resp = _post(server, f"/api/etl/v1/jobs/submitFromFile?configPath={p}")
    assert code == 202, resp
    assert _wait_done(server, "api_job_file")["status"] == "COMPLETED"


def test_error_paths(server):
    code, resp = _get(server, "/api/etl/v1/jobs/nope/status")
    assert code == 404 and resp["status"] == "UNKNOWN"
    code, _ = _post(server, "/api/etl/v1/jobs/submit", raw=b"{not json")
    assert code == 400
    code, _ = _post(server, "/api/etl/v1/jobs/submitFromFile?configPath=/no/file")
    assert code == 400
    code, _ = _get(server, "/api/etl/v1/whatever")
    assert code == 404
    # unknown source type fails the job, not the server
    code, resp = _post(server, "/api/etl/v1/jobs/submit",
                       {"jobId": "api_bad_src",
                        "source": {"type": "GOPHER", "details": {}},
                        "destination": {"type": "MEMORY", "details": {"table": "t"}}})
    assert code == 202
    st = _wait_done(server, "api_bad_src")
    assert st["status"] == "FAILED"


def test_registry_keeps_a_bounded_number_of_finished_jobs(monkeypatch):
    """A long-lived registry keeps every active job but only the newest
    MAX_FINISHED_JOBS finished ones, and still refuses a RUNNING id."""
    from etl_load_spark import api
    from etl_load_spark.runner import JobResult
    monkeypatch.setattr(api, "run_job", lambda spark, spec: JobResult(
        spec.job_id, status="COMPLETED", records_written=7))
    reg = api.JobRegistry(spark=None)
    with reg._lock:
        reg._status["live"] = {"jobId": "live", "status": "RUNNING"}

    def spec(job_id):
        return {"jobId": job_id,
                "source": {"type": "PARQUET", "details": {"path": "unused"}}}

    n = api.MAX_FINISHED_JOBS + 5
    for i in range(n):
        code, st = reg.run_sync(spec(f"j{i}"))
        assert (code, st["status"]) == (200, "COMPLETED"), st
    assert len(reg._status) == api.MAX_FINISHED_JOBS + 1
    assert reg.status(f"j{n - 1}") == (200, st)
    assert st["recordsWritten"] == 7
    assert reg.status("j4")[0] == 404 and reg.status("j5")[0] == 200
    code, st = reg.run_sync(spec("live"))
    assert (code, st["error"]) == (409, "job already running")
