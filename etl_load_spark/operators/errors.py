"""Error routing (U3): FAIL_JOB / LOG_ONLY / ROUTE_TO_FILE with
``maxErrorsAllowed``.

Reference behavior (ETLCoreMappingProcessor.java:100-135,
CoreLibInterfaces.java:91-96): a row errors when a cast fails or a null
lands in a non-nullable destination field; the strategy decides whether the
job fails, the row is dropped+logged, or routed to an error file, with a
global error budget.

Spark-first reformulation (SURVEY.md §7.5.2): one plan computes an
``_error_reason`` column; good/bad are two filters over it. Nothing is
cached: each action re-runs the plan, so a failed job pins no memory.
ROUTE_TO_FILE with an error path takes the bad-row count from its error-file
write (``records_written``); every other strategy runs ``bad.count()``. The
FAIL_JOB and ``maxErrorsAllowed`` checks run before the caller writes the
destination, so a failed check leaves no destination output — a documented
divergence from the reference's abort-mid-stream. The error file is
overwritten on every ROUTE_TO_FILE run (header only on a clean run), in
``sources.writers.write_file``'s CSV dialect: values untrimmed, NULL as empty.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from etl_load_spark.plans.builder import mapping_column
from etl_load_spark.sources.writers import write_file
from etl_load_spark.spec import ErrorHandling, JobSpec

log = logging.getLogger(__name__)

ERROR_COL = "_error_reason"


class JobFailedError(RuntimeError):
    """Raised when strategy=FAIL_JOB hits any error, or the error count
    exceeds ``maxErrorsAllowed`` (ETLCoreMappingProcessor.java:117-135)."""


@dataclass
class ErrorSplit:
    good: DataFrame         # mapped rows, destination columns
    bad: DataFrame          # original source rows + _error_reason
    error_count: int


def annotate_errors(df: DataFrame, spec: JobSpec,
                    source_is_line: bool = False) -> DataFrame:
    """Add mapped columns ``__m_<dest>`` plus ``_error_reason`` naming the
    first mapping violation per row.

    A violation is (a) a cast that produced NULL from a non-null input, or
    (b) NULL (after default substitution) in a non-nullable destination
    field. Single declarative pass — stays in whole-stage codegen.
    """
    reasons = []
    for m in spec.mappings:
        df = df.withColumn(f"__m_{m.dest}", mapping_column(m, source_is_line))
        src = (F.col("value") if (source_is_line and m.file_column_position)
               else F.col(m.source))
        mapped = F.col(f"__m_{m.dest}")
        cast_failed = src.isNotNull() & mapped.isNull()
        null_violation = F.lit(not m.dest_nullable) & mapped.isNull()
        reasons.append(
            F.when(cast_failed, F.lit(f"cast failed: {m.source} -> {m.dest}"))
             .when(null_violation, F.lit(f"null in non-nullable field: {m.dest}")))
    reason = (F.coalesce(*reasons, F.lit(None).cast("string"))
              if reasons else F.lit(None).cast("string"))
    return df.withColumn(ERROR_COL, reason)


def split_errors(df: DataFrame, spec: JobSpec,
                 source_is_line: bool = False) -> ErrorSplit:
    """Run the mapping with error accounting; enforce the declared strategy.

    ``df`` is the relation the mappings apply to: ``build_plan`` has already
    run the query and ``spec.filter`` over it. Returns the good rows
    (destination shape) and bad rows (``df``'s shape + reason). Raises
    JobFailedError per strategy/budget.
    """
    eh: ErrorHandling = spec.error_handling
    annotated = annotate_errors(df, spec, source_is_line)
    bad = (annotated.filter(F.col(ERROR_COL).isNotNull())
           .select(*df.columns, ERROR_COL))
    good = (annotated.filter(F.col(ERROR_COL).isNull())
            .select(*[F.col(f"__m_{m.dest}").alias(m.dest)
                      for m in spec.mappings]))
    if eh.strategy == "ROUTE_TO_FILE" and eh.error_file_path:
        n_bad = write_file(bad, {"path": eh.error_file_path},
                           "csv")["records_written"]
    else:
        n_bad = bad.count()
    if n_bad > 0:
        if eh.strategy == "FAIL_JOB":
            raise JobFailedError(
                f"{n_bad} row(s) failed mapping and strategy=FAIL_JOB")
        if 0 < eh.max_errors_allowed < n_bad:
            raise JobFailedError(
                f"{n_bad} errors exceed maxErrorsAllowed={eh.max_errors_allowed}")
        log.warning("job %s: %d row(s) on error path (strategy=%s)",
                    spec.job_id, n_bad, eh.strategy)
    return ErrorSplit(good=good, bad=bad, error_count=n_bad)
