"""Ordered step execution (U7) + status/metrics (U8, U9, A1-A3).

The reference assembles VALIDATE_SOURCE → TRUNCATE_DESTINATION → LOAD →
VALIDATE_LOAD → NOTIFY_* into a linear flow (etlModel.java:166-174,
DynamicJobService.java:90-123, StepFactory.java:64-126). Here each step is a
small function over the JobSpec; LOAD builds one DataFrame plan and performs
one write action — Catalyst/AQE own everything between scan and sink.

Status machine mirrors CoreLibInterfaces.java:115-139 (UNKNOWN … CANCELLED);
notifications mirror NotifyTasklet.java:45-93 as a callback.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession, functions as F

# perfbench/tracing.py wraps these by name on this module; keep them bound
from etl_load_spark.operators.errors import JobFailedError, split_errors
from etl_load_spark.plans.builder import apply_transformation, build_plan  # noqa: F401
from etl_load_spark.session import register_operator_cache
from etl_load_spark.sources.registry import (file_format, read_source,
                                             write_sink)
from etl_load_spark.spec import JobSpec

log = logging.getLogger(__name__)


@dataclass
class JobResult:
    job_id: str
    status: str = "UNKNOWN"            # SUBMITTED RUNNING COMPLETED FAILED
    #: a batch job's rows written + failed (the rows the error split saw);
    #: a stream's sum of ``numInputRows`` over its micro-batches
    records_read: int = 0
    records_written: int = 0
    records_failed: int = 0
    duration_sec: float = 0.0
    step_log: list = field(default_factory=list)
    error: str | None = None
    #: per-expectation outcome dicts ({"check", "column(s)", "failed_rows",
    #: "passed", "severity"}) recorded by VALIDATE_LOAD
    expectation_results: list = field(default_factory=list)


def cancel_job(spark: SparkSession, job_id: str) -> None:
    """Cooperative cancellation (U6): cancels every Spark job tagged with
    this job id (CoreLibInterfaces.java:224-242 semantics — running stages
    are interrupted, the step runner surfaces FAILED). Call from any thread.
    """
    spark.sparkContext.cancelJobGroup(f"etl_load_{job_id}")


def run_job(spark: SparkSession, spec: JobSpec,
            notify=None) -> JobResult:
    """Execute the spec's step list; returns the final JobResult."""
    result = JobResult(job_id=spec.job_id, status="RUNNING")
    t0 = time.monotonic()
    # tag all actions with a cancellable job group (U6)
    spark.sparkContext.setJobGroup(f"etl_load_{spec.job_id}",
                                   f"etl_load_spark job {spec.job_id}",
                                   interruptOnCancel=True)
    source_df = None   # VALIDATE_SOURCE's read, reused by a batch LOAD
    counters = None    # the expectation counters VALIDATE_LOAD judges
    wanted = {s.upper() for s in spec.steps}
    try:
        for step in spec.steps:
            s = step.upper()
            result.step_log.append(s)
            if s == "VALIDATE_SOURCE":
                # source must open and have a readable schema (etlModel.java:167)
                source_df = read_source(spark, spec.source)
                if not source_df.schema.fields:
                    raise JobFailedError("source has no columns")
            elif s == "TRUNCATE_DESTINATION":
                # file sinks truncate via overwrite mode at write time (S10);
                # JDBC sinks get truncate=true in their writer options
                if spec.destination is not None:
                    spec.destination.details.setdefault("mode", "overwrite")
                    spec.destination.details.setdefault("truncate", True)
            elif s == "LOAD":
                counters = _load(spark, spec, result, source_df,
                                 validate="VALIDATE_LOAD" in wanted)
            elif s == "VALIDATE_LOAD":
                # the declared expectations; a stream's read back from
                # its committed sink
                if spec.expectations:
                    if "LOAD" not in result.step_log:
                        raise JobFailedError("expectations require a LOAD "
                                             "step before VALIDATE_LOAD")
                    if spec.streaming:
                        observable, unique = _expectation_aggs(spec)
                        counters = read_source(spark, spec.destination).agg(
                            *observable, *unique).first().asDict()
                    _judge_expectations(spec, result, counters)
            elif s == "COMPACT_DESTINATION":
                # post-load small-file compaction (maintenance.py): rewrite
                # the just-written sink to ~target-size files. Path-based
                # parquet/orc sinks only — the sinks that fragment.
                from etl_load_spark.operators.maintenance import compact_files
                dest = spec.destination
                if dest is None or "path" not in dest.details:
                    raise JobFailedError(
                        "COMPACT_DESTINATION requires a path-based sink")
                fmt = file_format(dest.type)
                if fmt not in ("parquet", "orc"):
                    raise JobFailedError(
                        f"COMPACT_DESTINATION unsupported for {dest.type}")
                m = compact_files(
                    spark, dest.details["path"],
                    target_file_mb=int(dest.details.get(
                        "compact_target_mb", 128)),
                    fmt=fmt)
                result.step_log[-1] = (f"COMPACT_DESTINATION:"
                                       f"{m['files_before']}->"
                                       f"{m['files_after']}")
            elif s in ("NOTIFY_SUCCESS", "NOTIFY_FAILURE"):
                pass  # emitted in the finally-style epilogue below
            else:
                raise ValueError(f"unknown step: {step}")
        result.status = "COMPLETED"
    except Exception as e:  # noqa: BLE001 — job boundary
        result.status = "FAILED"
        result.error = str(e)
        log.error("job %s failed: %s", spec.job_id, e)
    result.duration_sec = time.monotonic() - t0
    # Every persist the job made (the LM_SURPRISAL stage's bigram relation,
    # the `unique` expectations persist) registered with the session cache
    # registry; release them whether the job completed or failed — a
    # serve/listen session must not accumulate one cache per job. The
    # registry is per thread, so concurrent jobs keep their own caches.
    from etl_load_spark.session import release_operator_caches
    release_operator_caches()
    if notify and (("NOTIFY_SUCCESS" in wanted and result.status == "COMPLETED")
                   or ("NOTIFY_FAILURE" in wanted and result.status == "FAILED")):
        notify(result)
    return result


def _load(spark: SparkSession, spec: JobSpec, result: JobResult,
          src_df=None, validate: bool = False) -> dict | None:
    """The LOAD step: take the source (``src_df``, the DataFrame
    VALIDATE_SOURCE opened, else a fresh read; HWM-filtered for
    incremental jobs), build the plan once through ``build_plan`` with the
    error split as its mapping stage, then perform one write action. A
    streaming LOAD reads its own stream, under ``src_df``'s schema when
    VALIDATE_SOURCE opened one. With ``validate``, returns the
    expectation counters of the rows written (batch only)."""
    observable, unique = (_expectation_aggs(spec)
                          if validate and spec.expectations else ([], []))
    if spec.streaming:
        _load_streaming(spark, spec, result, src_df)
        return None
    inc = spec.incremental
    if src_df is None:
        src_df = read_source(spark, spec.source)
    if inc:
        if spec.destination is not None:
            # appending deltas is the natural incremental sink mode
            spec.destination.details.setdefault("mode", "append")
        from etl_load_spark.operators.incremental import (
            attach_hwm_observation, hwm_predicate, load_mark)
        prev_mark = load_mark(inc["state_path"])
        if prev_mark is not None:
            src_df = src_df.filter(
                hwm_predicate(src_df, inc["column"], prev_mark))
        # the new mark is observed on the write's own scan — a re-executed
        # MAX against a live (JDBC) source would advance past rows
        # committed after the load and silently skip them forever
        src_df, hwm_obs = attach_hwm_observation(src_df, inc["column"])

    def map_with_errors(df, spec, source_is_line):
        # Every mapping job goes through error accounting: FAIL_JOB needs it
        # to detect bad rows at all (casts are null-on-failure), the routing
        # strategies need the good/bad split. The transformation and
        # order_by stages then apply to the GOOD rows only.
        split = split_errors(df, spec, source_is_line)
        result.records_failed = split.error_count
        return split.good

    df = build_plan(spark, spec, source_df=src_df, map_stage=map_with_errors)
    if unique:
        # `unique` must count the rows written, not a re-run of the plan;
        # run_job's epilogue releases the persist
        df = register_operator_cache(df.persist())
    if spec.destination is None:
        # query-only job: one aggregate counts the rows and the checks
        row = df.agg(F.count(F.lit(1)).alias("n"), *observable).first()
        metrics = {"records_written": row["n"], "counters": row.asDict()}
    else:  # the counters ride the write's own observation
        metrics = write_sink(df, spec.destination, counters=observable)
    result.records_written = metrics.get("records_written", 0)
    result.records_read = result.records_failed + result.records_written
    if inc:
        # advance the mark only AFTER the write committed (a failed write
        # leaves the old mark → the next run re-ingests the batch); the
        # value comes from the write's own observation, not a re-query
        from etl_load_spark.operators.incremental import (observed_mark,
                                                          save_mark)
        new_mark = observed_mark(hwm_obs)
        if new_mark is not None:
            save_mark(inc["state_path"], inc["column"], new_mark,
                      spec.job_id)
    counters = metrics.get("counters")
    if unique:
        counters.update(df.agg(*unique).first().asDict())
    return counters


#: each expectation check → the keys it needs ("a|b": either will do)
_CHECK_KEYS = {"not_null": ["column"], "range": ["column", "min|max"],
               "accepted_values": ["column", "values"],
               "expression": ["sql"], "unique": ["columns|column"],
               "row_count_min": ["value"], "row_count_max": ["value"]}


def _expectation_aggs(spec: JobSpec) -> tuple[list, list]:
    """Compile the expectations, before anything is written, into the
    ``observable`` aggregates a write's observation carries (``__n_rows``
    and a violation count ``__x<i>`` per column check) and the ``unique``
    ones it cannot (observed metrics reject DISTINCT). The reference checks
    row-count integrity only (etlModel.java:170); the column checks extend
    its per-field nullability route (ETLCoreMappingProcessor.java)."""
    observable = [F.count(F.lit(1)).alias("__n_rows")]
    unique = []
    for i, ex in enumerate(spec.expectations):
        check = ex.get("check")
        if check not in _CHECK_KEYS:
            raise ValueError(f"unknown expectation check: {check!r}")
        for need in _CHECK_KEYS[check]:
            if all(ex.get(k) in (None, "", []) for k in need.split("|")):
                raise ValueError(f"expectation {check!r} needs "
                                 f"{need.replace('|', ' or ')}")
        col = ex.get("column")
        if check == "not_null":
            bad = F.col(col).isNull()
        elif check == "range":
            c, lo, hi = F.col(col), ex.get("min"), ex.get("max")
            bad = c.isNotNull() & (
                (c < F.lit(lo) if lo is not None else F.lit(False))
                | (c > F.lit(hi) if hi is not None else F.lit(False)))
        elif check == "accepted_values":
            bad = F.col(col).isNotNull() & ~F.col(col).isin(ex["values"])
        elif check == "expression":
            # rows where the declared boolean SQL is false OR null
            bad = ~F.coalesce(F.expr(ex["sql"]), F.lit(False))
        elif check == "unique":
            cols = ex.get("columns") or [col]
            unique.append((F.count(F.lit(1))
                           - F.count_distinct(F.struct(*cols)))
                          .alias(f"__x{i}"))
            continue
        else:  # row_count_min / row_count_max read __n_rows
            continue
        observable.append(F.sum(bad.cast("long")).alias(f"__x{i}"))
    return observable, unique


def _judge_expectations(spec: JobSpec, result: JobResult,
                        counters: dict) -> None:
    """VALIDATE_LOAD's verdict over the counters: one result per check;
    error-severity violations fail the job, warn severity only records."""
    n_rows = counters["__n_rows"]
    failures = []
    for i, ex in enumerate(spec.expectations):
        check = ex.get("check")
        if check == "row_count_min":
            failed = max(0, ex["value"] - n_rows) and 1
        elif check == "row_count_max":
            failed = max(0, n_rows - ex["value"]) and 1
        else:
            failed = int(counters.get(f"__x{i}") or 0)
        severity = ex.get("severity", "error")
        entry = {"check": check,
                 "column": ex.get("column") or ex.get("columns"),
                 "failed_rows": failed, "passed": failed == 0,
                 "severity": severity}
        result.expectation_results.append(entry)
        if failed and severity == "error":
            failures.append(entry)
    if failures:
        raise JobFailedError(f"expectations failed: {failures}")


def _load_streaming(spark: SparkSession, spec: JobSpec,
                    result: JobResult, src_df=None) -> None:
    """Streaming LOAD (SURVEY §7 step 7): the same spec, executed
    incrementally. The stream is read, watermarked and handed to
    ``build_plan`` — query, filter, mappings and transformation apply
    unchanged to the unbounded DataFrame; the checkpoint makes re-running
    the job process ONLY new source files (incremental ingest).

    Constraints inherent to streaming (enforced here, not silently
    ignored): a checkpoint is required; order_by and the count-based
    error-routing strategies don't apply (the mapping stage is the plain
    projection, casts null-on-failure — route-and-count error handling
    belongs to a batch backfill or a foreachBatch sink); AvailableNow is
    the default trigger so the job terminates after draining what exists.

    The stream takes ``src_df``'s schema (VALIDATE_SOURCE's read) when
    there is one. Written rows are the sink's ``STREAM_WRITTEN``
    observation summed over the micro-batches — one per emitted group for
    a rollup; file and foreachBatch sinks report no ``numOutputRows``.
    """
    from etl_load_spark.plans.builder import streaming_merge_keys
    from etl_load_spark.sources.readers import read_stream_source
    from etl_load_spark.sources.writers import (STREAM_WRITTEN,
                                                write_stream_sink)

    if spec.incremental:
        raise ValueError("incremental (HWM) and streaming modes are "
                         "mutually exclusive — streaming checkpoints "
                         "already track progress")
    if not spec.streaming.get("checkpoint"):
        raise ValueError("streaming jobs require streaming.checkpoint")
    if spec.order_by:
        raise ValueError("order_by is undefined on an unbounded stream")
    if spec.destination is None:
        raise ValueError("streaming jobs require a destination")
    df = read_stream_source(spark, spec.source.type, spec.source.details,
                            None if src_df is None else src_df.schema)
    wm = spec.streaming.get("watermark")
    if wm:
        df = df.withWatermark(wm["column"], wm["delay"])
    df = build_plan(spark, spec, source_df=df)
    q = write_stream_sink(df, spec.destination.type, spec.destination.details,
                          spec.streaming, spec.job_id,
                          merge_keys=streaming_merge_keys(spec))
    try:
        if spec.streaming.get("trigger", "availableNow") == "availableNow":
            q.awaitTermination()
        else:
            q.awaitTermination(float(spec.streaming.get("timeout_sec", 60)))
            q.stop()
    finally:
        for p in q.recentProgress:
            result.records_read += int(p["numInputRows"])
            written = p["observedMetrics"].get(STREAM_WRITTEN)
            result.records_written += written["n"] if written else 0
