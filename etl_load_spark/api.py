"""REST job-submission surface (SURVEY §3.2 / S11): the reference exposes
POST submit / POST submitFromFile / GET status over Spring MVC
(wfqueuelistener.java:504-581); here the same three endpoints are a thin
stdlib HTTP layer over the step runner — the engine stays a library, the
API is ~150 lines of plumbing.

Semantics mirrored from the reference:
  - submit returns 202 immediately with status SUBMITTED; execution is
    async (wfqueuelistener.java:515 @Async submitJob).
  - duplicate jobId while RUNNING is refused (the admission dedupe,
    wfqueuelistener.java:261-280) with 409.
  - status reads an in-memory registry (wfqueuelistener.java:564-566):
    UNKNOWN → SUBMITTED → RUNNING → COMPLETED/FAILED.

Spark note: one shared SparkSession serves all jobs — Spark schedules
concurrent actions from multiple threads; at cluster scale use FAIR pools
(documented in SCALE.md, not re-implemented)."""

from __future__ import annotations

import json
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from etl_load_spark.runner import run_job
from etl_load_spark.spec import JobSpec

API_PREFIX = "/api/etl/v1/jobs"
#: finished (COMPLETED, FAILED, DEFERRED) entries a JobRegistry keeps for
#: status reads; the oldest go first, active ones are never dropped
MAX_FINISHED_JOBS = 1000
_ACTIVE = ("SUBMITTED", "RUNNING")


class AdmissionControl:
    """Resource-based admission (U10, wfqueuelistener.java:344-375): refuse
    to start a job while the JVM heap is above ``max_heap_pct`` of its cap
    or the 1-minute system load exceeds ``max_cpu_pct`` of the core count —
    the reference's two `isResourceConstrained` probes, same default
    thresholds (85% heap / 90% CPU). ``max_running`` additionally bounds
    concurrent jobs (the reference delegates that to its TaskExecutor
    pool).

    Deferral, not failure: a constrained submit returns 503 and records
    DEFERRED — the queue listener then simply does NOT ack, so the broker
    redelivers and the spool becomes the waiting room (the queuing
    mechanism the reference leaves as a TODO at wfqueuelistener.java:272).
    Probes fail SAFE (monitoring error → admit), mirroring the reference's
    catch-all. At cluster scale this guards the driver/control plane only;
    executor-side capacity is the cluster manager's job (YARN/K8s queues,
    `spark.scheduler.mode=FAIR` — SURVEY §4)."""

    def __init__(self, max_heap_pct: float = 85.0, max_cpu_pct: float = 90.0,
                 max_running: int | None = None,
                 heap_pct_fn=None, cpu_pct_fn=None):
        self.max_heap_pct = max_heap_pct
        self.max_cpu_pct = max_cpu_pct
        self.max_running = max_running
        self._heap_pct_fn = heap_pct_fn
        self._cpu_pct_fn = cpu_pct_fn

    def _heap_pct(self, spark) -> float:
        if self._heap_pct_fn is not None:
            return self._heap_pct_fn()
        # the data plane's heap is the Spark JVM's, not this Python process
        mx = (spark._jvm.java.lang.management.ManagementFactory
              .getMemoryMXBean().getHeapMemoryUsage())
        cap = mx.getMax()
        return (mx.getUsed() / cap) * 100.0 if cap > 0 else 0.0

    def _cpu_pct(self) -> float:
        if self._cpu_pct_fn is not None:
            return self._cpu_pct_fn()
        import os
        load1, _, _ = os.getloadavg()
        cores = os.cpu_count() or 1
        return (load1 / cores) * 100.0 if load1 > 0 else 0.0

    def deferral_reason(self, spark, n_active: int) -> str | None:
        """None when the job may start, else a human-readable reason."""
        if self.max_running is not None and n_active >= self.max_running:
            return f"{n_active} jobs already active (max {self.max_running})"
        try:
            heap = self._heap_pct(spark)
            if heap > self.max_heap_pct:
                return (f"heap usage {heap:.1f}% above "
                        f"{self.max_heap_pct:.0f}% threshold")
            cpu = self._cpu_pct()
            if cpu > self.max_cpu_pct:
                return (f"cpu load {cpu:.1f}% above "
                        f"{self.max_cpu_pct:.0f}% threshold")
        except Exception:
            return None  # fail safe: monitoring breakage must not block jobs
        return None


class JobRegistry:
    """In-memory status/result maps (the reference's WorkflowManager maps).
    Every active job is kept; of the finished ones, the newest
    ``MAX_FINISHED_JOBS``, so a long-lived process holds a bounded map."""

    def __init__(self, spark, admission: AdmissionControl | None = None):
        self.spark = spark
        self.admission = admission
        self._lock = threading.Lock()
        self._status: dict[str, dict] = {}

    def _admit(self, spec_dict: dict):
        """Shared admission path: spec validation → duplicate-RUNNING dedupe
        → resource check → reserve SUBMITTED. Returns (job_id, spec, None)
        on admit, (None, None, (code, payload)) on refusal."""
        try:
            spec = JobSpec.from_dict(spec_dict)
        except Exception as e:  # malformed config → 400, like MVC binding
            return None, None, (400, {"error": f"invalid job spec: {e}"})
        job_id = spec.job_id or f"job-{uuid.uuid4().hex[:8]}"
        with self._lock:
            cur = self._status.get(job_id, {}).get("status")
            if cur in _ACTIVE:
                return None, None, (409, {"jobId": job_id,
                                          "error": "job already running"})
            if self.admission is not None:
                n_active = sum(1 for st in self._status.values()
                               if st.get("status") in _ACTIVE)
                reason = self.admission.deferral_reason(self.spark, n_active)
                if reason is not None:
                    payload = {"jobId": job_id, "status": "DEFERRED",
                               "error": reason}
                    # record only client-known ids (one entry, overwritten
                    # per retry). A generated id would add a fresh registry
                    # entry per queue redelivery — unbounded growth in a
                    # long-running listener under sustained pressure.
                    if spec.job_id:
                        self._finish(job_id, payload)
                    return None, None, (503, payload)
            self._status[job_id] = {"jobId": job_id, "status": "SUBMITTED"}
        return job_id, spec, None

    def submit(self, spec_dict: dict) -> tuple[int, dict]:
        job_id, spec, refusal = self._admit(spec_dict)
        if refusal is not None:
            return refusal
        t = threading.Thread(target=self._run, args=(job_id, spec), daemon=True)
        t.start()
        return 202, {"jobId": job_id, "status": "SUBMITTED"}

    def _finish(self, job_id: str, payload: dict) -> None:
        """Record a finished job's status as the newest entry, then drop
        the oldest finished entries beyond ``MAX_FINISHED_JOBS``. The
        caller holds the lock."""
        self._status.pop(job_id, None)
        self._status[job_id] = payload
        done = [j for j, st in self._status.items()
                if st["status"] not in _ACTIVE]
        for j in done[:max(0, len(done) - MAX_FINISHED_JOBS)]:
            del self._status[j]

    def _run(self, job_id: str, spec: JobSpec) -> dict:
        with self._lock:
            self._status[job_id]["status"] = "RUNNING"
        try:
            result = run_job(self.spark, spec)
            payload = {
                "jobId": job_id, "status": result.status,
                "recordsRead": result.records_read,
                "recordsWritten": result.records_written,
                "recordsFailed": result.records_failed,
                "stepLog": result.step_log, "error": result.error,
            }
        except Exception as e:
            payload = {"jobId": job_id, "status": "FAILED", "error": str(e)}
        with self._lock:
            self._finish(job_id, payload)
        return payload

    def run_sync(self, spec_dict: dict) -> tuple[int, dict]:
        """Validate + admission-dedupe like ``submit``, but execute the job
        on the calling thread and return its FINAL status — the queue
        listener's ack-after-completion mode needs the outcome before it
        may acknowledge the message (at-least-once)."""
        job_id, spec, refusal = self._admit(spec_dict)
        if refusal is not None:
            return refusal
        return 200, self._run(job_id, spec)

    def status(self, job_id: str) -> tuple[int, dict]:
        with self._lock:
            st = self._status.get(job_id)
        if st is None:
            return 404, {"jobId": job_id, "status": "UNKNOWN"}
        return 200, st


def _handler(registry: JobRegistry):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test output
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            url = urlparse(self.path)
            if url.path == f"{API_PREFIX}/submit":
                n = int(self.headers.get("Content-Length", 0))
                try:
                    spec = json.loads(self.rfile.read(n) or b"{}")
                except json.JSONDecodeError as e:
                    return self._reply(400, {"error": f"bad JSON: {e}"})
                return self._reply(*registry.submit(spec))
            if url.path == f"{API_PREFIX}/submitFromFile":
                q = parse_qs(url.query)
                path = (q.get("configPath") or [None])[0]
                if not path:
                    return self._reply(400, {"error": "configPath required"})
                try:
                    spec = json.load(open(path))
                except OSError as e:
                    return self._reply(400, {"error": f"cannot read config: {e}"})
                return self._reply(*registry.submit(spec))
            return self._reply(404, {"error": "unknown endpoint"})

        def do_GET(self):
            url = urlparse(self.path)
            parts = url.path.strip("/").split("/")
            # api/etl/v1/jobs/<jobId>/status
            if (url.path.startswith(API_PREFIX) and len(parts) == 6
                    and parts[5] == "status"):
                return self._reply(*registry.status(parts[4]))
            return self._reply(404, {"error": "unknown endpoint"})

    return Handler


def serve(spark, host: str = "127.0.0.1", port: int = 0,
          admission: AdmissionControl | None = None) -> ThreadingHTTPServer:
    """Start the API server on a background thread; returns the server
    (``server.server_address`` has the bound port; ``shutdown()`` stops it)."""
    registry = JobRegistry(spark, admission=admission)
    srv = ThreadingHTTPServer((host, port), _handler(registry))
    srv.registry = registry
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv
