"""Queue-triggered control plane (S11 — the reference's primary entry
point, wfqueuelistener.java:130-155): end-to-end through the file-spool
transport, covering at-least-once redelivery, poison handling, the
admission dedupe shared with the REST registry, and the CLI drain mode."""

import json
import os

import pytest

from etl_load_spark.api import JobRegistry
from etl_load_spark.queue_listener import (FileQueueTransport, QueueListener,
                                           QueueMessage)


def _spec(tmp_path, job_id: str, n: int = 5) -> dict:
    return {
        "jobId": job_id,
        "source": {"type": "MEMORY",
                   "details": {"rows": [(i, f"r{i}") for i in range(n)],
                               "schema": "id long, name string"}},
        "destination": {"type": "PARQUET",
                        "details": {"path": str(tmp_path / f"out_{job_id}")}},
    }


def test_queue_submit_drain_completes(spark, tmp_path):
    q = FileQueueTransport(str(tmp_path / "q"))
    q.submit(_spec(tmp_path, "qa", 5))
    q.submit(_spec(tmp_path, "qb", 3))
    listener = QueueListener(spark, q)
    results = listener.drain()
    assert [r["status"] for r in results] == ["COMPLETED", "COMPLETED"]
    assert spark.read.parquet(str(tmp_path / "out_qa")).count() == 5
    assert spark.read.parquet(str(tmp_path / "out_qb")).count() == 3
    # acked: pending empty, both messages in done/
    assert os.listdir(tmp_path / "q" / "pending") == []
    assert len(os.listdir(tmp_path / "q" / "done")) == 2
    # status surface shared with the REST registry
    assert listener.registry.status("qa")[1]["status"] == "COMPLETED"


def test_queue_poison_message_goes_to_failed(spark, tmp_path):
    """Malformed JSON must not wedge the queue: acked into failed/ and the
    next message still processes (wfqueuelistener.java:141-154 logs-and-
    drops)."""
    q = FileQueueTransport(str(tmp_path / "q"))
    pending = tmp_path / "q" / "pending"
    (pending / "000-poison.json").write_text("{not json")
    q.submit(_spec(tmp_path, "after_poison"))
    results = QueueListener(spark, q).drain()
    assert results[0]["status"] == "REJECTED"
    assert results[1]["status"] == "COMPLETED"
    assert len(os.listdir(tmp_path / "q" / "failed")) == 1
    assert os.listdir(pending) == []


def test_queue_at_least_once_redelivery(spark, tmp_path):
    """Crash before ack (simulated by a transport whose ack is disabled)
    leaves the message pending; a healthy listener then redelivers and
    completes it — the at-least-once contract."""
    q = FileQueueTransport(str(tmp_path / "q"))
    q.submit(_spec(tmp_path, "redeliver"))

    class CrashBeforeAck(FileQueueTransport):
        def ack(self, msg, outcome="done"):
            raise RuntimeError("simulated crash before ack")

    crashy = CrashBeforeAck(str(tmp_path / "q"))
    listener = QueueListener(spark, crashy)
    with pytest.raises(RuntimeError):
        listener.process_one(crashy.poll()[0])
    # message still pending -> a fresh listener picks it up
    assert len(os.listdir(tmp_path / "q" / "pending")) == 1
    results = QueueListener(spark, q).drain()
    assert [r["status"] for r in results] == ["COMPLETED"]


def test_queue_duplicate_running_refused(spark, tmp_path):
    """The admission dedupe (wfqueuelistener.java:261-280): a spec whose
    jobId is currently RUNNING is refused; the message lands in failed/
    rather than double-launching."""
    q = FileQueueTransport(str(tmp_path / "q"))
    registry = JobRegistry(spark)
    with registry._lock:
        registry._status["dup"] = {"jobId": "dup", "status": "RUNNING"}
    q.submit(_spec(tmp_path, "dup"))
    results = QueueListener(spark, q, registry=registry).drain()
    assert results[0].get("error") == "job already running"
    assert len(os.listdir(tmp_path / "q" / "failed")) == 1
    # once the first run finishes, a re-submit is accepted again
    with registry._lock:
        registry._status["dup"]["status"] = "COMPLETED"
    q.submit(_spec(tmp_path, "dup"))
    results = QueueListener(spark, q, registry=registry).drain()
    assert results[0]["status"] == "COMPLETED"


def test_queue_ack_after_launch(spark, tmp_path):
    """The reference's own semantics: ack once validated + launched async
    (202), completion tracked by the registry."""
    import time
    q = FileQueueTransport(str(tmp_path / "q"))
    q.submit(_spec(tmp_path, "launchmode"))
    listener = QueueListener(spark, q, ack_after="launch")
    results = listener.drain()
    assert results[0]["status"] == "SUBMITTED"
    assert os.listdir(tmp_path / "q" / "pending") == []
    for _ in range(120):  # async completion
        if listener.registry.status("launchmode")[1]["status"] == "COMPLETED":
            break
        time.sleep(0.5)
    assert listener.registry.status("launchmode")[1]["status"] == "COMPLETED"


def test_queue_cli_drain(spark, tmp_path, capsys):
    """CLI cron mode: `etl_load_spark listen <dir> --drain` processes the
    backlog, prints JSON, exits 0 on all-COMPLETED. The CPU threshold is
    one no load reaches, so the box's own load cannot defer the job; the
    DEFERRED path is covered by the admission tests below."""
    from etl_load_spark.cli import main
    q = FileQueueTransport(str(tmp_path / "q"))
    q.submit(_spec(tmp_path, "cli_drain"))
    rc = main(["listen", str(tmp_path / "q"), "--drain", "--json",
               "--max-cpu-pct", "inf"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out)
    assert out["processed"] == 1
    assert out["results"][0]["status"] == "COMPLETED"


def test_admission_defers_then_redelivers(spark, tmp_path):
    """U10 (wfqueuelistener.java:344-375): under resource pressure the job
    is NOT started and the message is NOT acked — the spool is the waiting
    room; once pressure clears, redelivery runs it to completion."""
    from etl_load_spark.api import AdmissionControl, JobRegistry
    cpu = {"pct": 100.0}  # above the 90% threshold
    adm = AdmissionControl(cpu_pct_fn=lambda: cpu["pct"],
                           heap_pct_fn=lambda: 10.0)
    q = FileQueueTransport(str(tmp_path / "q"))
    q.submit(_spec(tmp_path, "deferred_job"))
    listener = QueueListener(spark, q,
                             registry=JobRegistry(spark, admission=adm))
    results = listener.drain()
    assert [r["status"] for r in results] == ["DEFERRED"]
    assert "cpu load" in results[0]["error"]
    # not acked: still pending, nothing in done/, no output written
    assert len(os.listdir(tmp_path / "q" / "pending")) == 1
    assert os.listdir(tmp_path / "q" / "done") == []
    assert not (tmp_path / "out_deferred_job").exists()
    assert listener.registry.status("deferred_job")[1]["status"] == "DEFERRED"
    cpu["pct"] = 5.0  # pressure clears → redelivery succeeds
    results = listener.drain()
    assert [r["status"] for r in results] == ["COMPLETED"]
    assert os.listdir(tmp_path / "q" / "pending") == []
    assert spark.read.parquet(str(tmp_path / "out_deferred_job")).count() == 5


def test_admission_max_running_bounds_concurrency(spark, tmp_path):
    """max_running is the TaskExecutor-pool analogue: the (n+1)th active
    job defers with 503 instead of starting."""
    from etl_load_spark.api import AdmissionControl, JobRegistry
    reg = JobRegistry(spark, admission=AdmissionControl(
        max_running=0, heap_pct_fn=lambda: 0.0, cpu_pct_fn=lambda: 0.0))
    code, payload = reg.submit(_spec(tmp_path, "never_starts"))
    assert code == 503 and payload["status"] == "DEFERRED"
    assert "active" in payload["error"]


def test_admission_live_probes_and_fail_safe(spark):
    """The default probes read the Spark JVM heap bean and os.getloadavg —
    they must return sane values; a broken probe must ADMIT (the
    reference's catch-all fail-safe), never block jobs."""
    from etl_load_spark.api import AdmissionControl
    adm = AdmissionControl()
    assert 0.0 < adm._heap_pct(spark) < 100.0
    assert adm._cpu_pct() >= 0.0
    broken = AdmissionControl(
        heap_pct_fn=lambda: (_ for _ in ()).throw(RuntimeError("probe down")))
    assert broken.deferral_reason(spark, n_active=0) is None


def test_admission_repeated_deferral_registry_is_bounded(spark, tmp_path):
    """Repeated deferrals (queue redelivery under sustained pressure) must
    not grow the status registry — at most one overwritten entry per job
    id, never a fresh generated id per retry."""
    from etl_load_spark.api import AdmissionControl, JobRegistry
    reg = JobRegistry(spark, admission=AdmissionControl(
        max_running=0, heap_pct_fn=lambda: 0.0, cpu_pct_fn=lambda: 0.0))
    anon = _spec(tmp_path, "x", 2)
    del anon["jobId"]
    for _ in range(5):
        code, payload = reg.run_sync(anon)
        assert code == 503 and payload["status"] == "DEFERRED"
    assert len(reg._status) <= 1
