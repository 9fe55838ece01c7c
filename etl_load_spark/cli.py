"""Control-plane entry point (SURVEY.md §2.1 S11).

The reference triggers jobs via Kafka messages, Oracle AQ, REST POST, or a
shell script wrapping curl (wfqueuelistener.java:130-155,504-558,
OracleAQListener.java:39-111, jobtrigger.sh:72-95) — all carrying the same
JSON job config. Here the control plane is a thin CLI over the same spec:

    python -m etl_load_spark run path/to/job.json [--json]
    python -m etl_load_spark validate path/to/job.json
    python -m etl_load_spark explain path/to/job.json

``run`` executes the spec through the step runner and prints the JobResult;
``validate`` parses the spec and checks endpoint types against the
connector registry without executing (the VALIDATE_SOURCE step's static
half); ``explain`` prints Catalyst's formatted physical plan without
executing — the pre-flight pushdown/broadcast/shuffle check SCALE.md
prescribes. Exit code 0 on COMPLETED/valid, 1 otherwise (jobtrigger.sh
exit-code contract).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys


def _build_spark(app: str):
    from etl_load_spark.session import get_spark
    return get_spark(app)


def cmd_validate(path: str) -> dict:
    from etl_load_spark.sources.registry import _READERS, _WRITERS
    from etl_load_spark.spec import JobSpec

    spec = JobSpec.from_file(path)
    problems = []
    if spec.source.type.upper() not in _READERS:
        problems.append(f"unknown source type {spec.source.type!r}")
    if spec.destination and spec.destination.type.upper() not in _WRITERS:
        problems.append(f"unknown destination type {spec.destination.type!r}")
    for m in spec.mappings:
        if not m.source:
            problems.append("mapping with empty sourceFieldName")
    return {"job_id": spec.job_id, "valid": not problems, "problems": problems,
            "n_mappings": len(spec.mappings), "steps": spec.steps}


def cmd_run(path: str) -> dict:
    from etl_load_spark.runner import run_job
    from etl_load_spark.spec import JobSpec

    spec = JobSpec.from_file(path)
    spark = _build_spark(f"etl_load_spark_{spec.job_id}")
    result = run_job(spark, spec)
    return dataclasses.asdict(result)


def cmd_explain(path: str) -> dict:
    """Build the spec's plan and return Catalyst's formatted physical plan
    WITHOUT executing — the pre-flight check for pushdown/broadcast/shuffle
    shape that SCALE.md prescribes before running at scale."""
    from etl_load_spark.plans.builder import build_plan
    from etl_load_spark.spec import JobSpec

    import contextlib
    import io

    spec = JobSpec.from_file(path)
    spark = _build_spark(f"etl_load_spark_explain_{spec.job_id}")
    df = build_plan(spark, spec)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return {"job_id": spec.job_id, "plan": buf.getvalue(),
            "columns": df.columns}


def cmd_compact(path: str, target_mb: int, fmt: str) -> dict:
    """Small-file compaction as an ops command (see
    operators/maintenance.py for the swap-safe protocol); the hive layout
    is read from the table's directories."""
    from etl_load_spark.operators.maintenance import compact_files
    spark = _build_spark("etl_load_spark_compact")
    return compact_files(spark, path, target_file_mb=target_mb, fmt=fmt)


def cmd_serve(host: str, port: int,
              max_heap_pct: float = 85.0, max_cpu_pct: float = 90.0,
              max_running: int | None = None) -> int:
    """Run the REST submit/status API (SURVEY §3.2) in the foreground."""
    from etl_load_spark.api import AdmissionControl, serve
    spark = _build_spark("etl_load_spark_api")
    srv = serve(spark, host=host, port=port,
                admission=AdmissionControl(max_heap_pct, max_cpu_pct,
                                           max_running))
    h, p = srv.server_address
    print(f"etl_load_spark API listening on http://{h}:{p}"
          f"  (POST {h}:{p}/api/etl/v1/jobs/submit)")
    try:
        while True:
            __import__("time").sleep(3600)
    except KeyboardInterrupt:
        srv.shutdown()
    return 0


def cmd_listen(queue_dir: str, ack_after: str, poll_interval: float,
               drain: bool, max_heap_pct: float = 85.0,
               max_cpu_pct: float = 90.0,
               max_running: int | None = None) -> dict:
    """Queue-triggered control plane (the reference's primary entry point,
    wfqueuelistener.java:130-155): consume job-spec JSON from a spool
    directory and run each job. ``--drain`` processes the backlog and
    exits (cron mode); without it the listener polls forever."""
    from etl_load_spark.api import AdmissionControl, JobRegistry
    from etl_load_spark.queue_listener import FileQueueTransport, QueueListener
    spark = _build_spark("etl_load_spark_listener")
    registry = JobRegistry(spark, admission=AdmissionControl(
        max_heap_pct, max_cpu_pct, max_running))
    listener = QueueListener(spark, FileQueueTransport(queue_dir),
                             ack_after=ack_after, registry=registry)
    if drain:
        results = listener.drain()
        return {"processed": len(results), "results": results}
    print(f"etl_load_spark queue listener polling {queue_dir}/pending "
          f"every {poll_interval}s (ack after {ack_after})")
    listener.run_forever(poll_interval)
    return {"processed": "interrupted"}


def _admission_args(sp) -> None:
    """U10 admission thresholds (reference defaults: 85% heap, 90% CPU)."""
    sp.add_argument("--max-heap-pct", type=float, default=85.0)
    sp.add_argument("--max-cpu-pct", type=float, default=90.0)
    sp.add_argument("--max-running", type=int, default=None,
                    help="bound concurrently active jobs (default: unbounded)")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_load_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("run", "validate", "explain"):
        sp = sub.add_parser(name)
        sp.add_argument("spec_path")
        sp.add_argument("--json", action="store_true",
                        help="print machine-readable JSON")
    sv = sub.add_parser("serve")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8080)
    _admission_args(sv)
    cp = sub.add_parser("compact")
    cp.add_argument("path")
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument("--format", default="parquet", choices=["parquet", "orc"])
    cp.add_argument("--json", action="store_true")
    ln = sub.add_parser("listen")
    ln.add_argument("queue_dir")
    ln.add_argument("--ack-after", default="completion",
                    choices=["completion", "launch"])
    ln.add_argument("--poll-interval", type=float, default=2.0)
    ln.add_argument("--drain", action="store_true",
                    help="process the backlog then exit (cron mode)")
    ln.add_argument("--json", action="store_true")
    _admission_args(ln)
    args = p.parse_args(argv)
    if args.cmd == "serve":
        return cmd_serve(args.host, args.port, args.max_heap_pct,
                         args.max_cpu_pct, args.max_running)
    if args.cmd == "listen":
        out = cmd_listen(args.queue_dir, args.ack_after, args.poll_interval,
                         args.drain, args.max_heap_pct, args.max_cpu_pct,
                         args.max_running)
    elif args.cmd == "compact":
        out = cmd_compact(args.path, args.target_mb, args.format)
    else:
        out = {"run": cmd_run, "validate": cmd_validate,
               "explain": cmd_explain}[args.cmd](args.spec_path)
    if args.json:
        print(json.dumps(out, default=str))
    else:
        for k, v in out.items():
            print(f"{k}: {v}")
    if args.cmd == "run":
        ok = out.get("status") == "COMPLETED"
    elif args.cmd == "validate":
        ok = out.get("valid", False)
    elif args.cmd == "compact":
        ok = out.get("files_after", 0) >= 1
    elif args.cmd == "listen":
        # drain mode: success = no message FAILED/REJECTED (empty queue ok).
        # SUBMITTED (ack-after-launch) and DEFERRED (admission; left queued
        # for the next cycle) are healthy outcomes, not failures.
        ok = all(r.get("status") not in ("FAILED", "REJECTED")
                 for r in out.get("results", []))
    else:
        ok = bool(out.get("plan"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
