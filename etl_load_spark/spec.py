"""Declarative job specification — the reference's jobconfigex.json shape,
extended with ``query`` and ``steps``.

The reference executes its config literally ("config IS the plan",
SURVEY.md §3.1); here the spec is parsed into dataclasses and compiled by
``plans.builder`` into a DataFrame expression DAG that Catalyst optimizes.

Reference shapes mirrored:
  - JobConfig / SourceConfig / DestinationConfig / Mapping
    (CoreLibInterfaces.java:44-103, jobconfigex.json)
  - EtlTaskConfig / FieldMetadata / EtlStep (etlModel.java:20-204)
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any


@dataclass
class Mapping:
    """One field mapping: source column → destination column with cast.

    Mirrors Gen A ``Mapping`` (CoreLibInterfaces.java:81-89) plus Gen B
    ``FieldMetadata`` extras (etlModel.java:92-103): ``default_value``,
    ``transformation_rule``, ``format_pattern``, ``file_column_position``.
    """

    source: str
    dest: str | None = None
    source_type: Any = "string"
    dest_type: Any = "string"
    source_nullable: bool = True
    dest_nullable: bool = True
    default_value: Any = None
    transformation_rule: str | None = None   # e.g. "UPPERCASE", "TRIM"
    format_pattern: str | None = None        # date/number format
    file_column_position: str | None = None  # fixed-width "start-end"

    def __post_init__(self):
        if self.dest is None:
            self.dest = self.source


@dataclass
class EndpointConfig:
    """Source or destination endpoint: a type tag plus free-form details.

    ``type`` keys the connector registry (the reference's factory-bean
    pattern, CoreLibInterfaces.java:404-414 → a dict here). Common detail
    keys: path, table, query, filter, delimiter, header, encoding, schema,
    batch_size, fetch_size, mode, truncate.
    """

    type: str
    details: dict = field(default_factory=dict)


@dataclass
class ErrorHandling:
    """U3 strategy (CoreLibInterfaces.java:91-96, jobconfigex.json:32-36)."""

    strategy: str = "FAIL_JOB"        # FAIL_JOB | LOG_ONLY | ROUTE_TO_FILE
    max_errors_allowed: int = 0
    error_file_path: str | None = None


@dataclass
class Transformation:
    """U1 pluggable transform stage (CoreLibInterfaces.java:98-103,
    jobconfigex.json:37-45): a user Python script applied after the
    mapping pipeline. The script declares either

      - ``transform(df, spark, params) -> DataFrame`` — DataFrame-level
        (the idiomatic form: stays declarative, Catalyst keeps optimizing
        through it), or
      - ``transform_pandas(pdf, params) -> pandas.DataFrame`` — row-level
        logic, executed as Arrow-batched ``mapInPandas`` (the reference's
        per-row hook upgraded to vectorized batches; output schema must
        equal input schema).
    """

    # NONE | PYTHON_SCRIPT | a key of plans/builder.STAGES, the table of
    # built-in stages (case-insensitive)
    type: str = "NONE"
    script_path: str | None = None
    parameters: dict = field(default_factory=dict)


@dataclass
class JobSpec:
    """A full job: source → mappings/filter/query → destination, with steps.

    ``query`` (extension): a Spark SQL statement evaluated over the source
    registered as view ``src`` (plus any ``extra_sources``) — this is where
    joins/aggregations/windows arrive (SURVEY.md §2.3-2.5).
    ``steps`` mirrors EtlStep ordering (etlModel.java:166-174).
    """

    job_id: str
    source: EndpointConfig
    destination: EndpointConfig | None = None
    mappings: list[Mapping] = field(default_factory=list)
    filter: str | None = None
    query: str | None = None
    extra_sources: dict[str, EndpointConfig] = field(default_factory=dict)
    error_handling: ErrorHandling = field(default_factory=ErrorHandling)
    transformation: Transformation = field(default_factory=Transformation)
    steps: list[str] = field(default_factory=lambda: ["LOAD"])
    order_by: list[str] = field(default_factory=list)
    #: streaming mode (SURVEY §7 step 7): same spec semantics, incremental
    #: execution. Keys: checkpoint (required), trigger
    #: ("availableNow" default | processing time string), watermark
    #: ({"column", "delay"}), output_mode (default "append").
    streaming: dict = field(default_factory=dict)
    #: declarative data-quality expectations, counted on the load's write
    #: and judged by VALIDATE_LOAD (runner._expectation_aggs). Each entry:
    #:   {"check": "not_null"|"range"|"accepted_values"|"unique"|
    #:             "expression"|"row_count_min"|"row_count_max",
    #:    "column": ..., "columns": [...], "min"/"max"/"values"/"sql"/
    #:    "value": ..., "severity": "error" (default) | "warn"}
    #: error-severity violations FAIL the job; warn-severity ones are
    #: recorded in JobResult.expectation_results and the job completes.
    expectations: list[dict] = field(default_factory=list)
    #: batch high-water-mark incremental ingestion: {"column": <source
    #: column, monotonically increasing>, "state_path": <json file>}.
    #: Each run reads the persisted mark, ingests only source rows with
    #: column > mark, and advances the mark after a successful write.
    #: The JDBC-era "pull only new rows" pattern; the streaming block is
    #: the file-source equivalent (checkpoint-tracked).
    incremental: dict = field(default_factory=dict)

    @classmethod
    def from_dict(cls, d: dict) -> "JobSpec":
        def endpoint(e: dict | None) -> EndpointConfig | None:
            if e is None:
                return None
            e = dict(e)
            typ = e.pop("type")
            details = e.pop("details", {}) or {}
            details.update(e)  # tolerate flat detail keys
            return EndpointConfig(type=typ, details=details)

        mappings = [
            Mapping(
                source=m.get("sourceFieldName") or m.get("source"),
                dest=m.get("destinationFieldName") or m.get("dest"),
                source_type=m.get("sourceFieldType") or m.get("source_type", "string"),
                dest_type=m.get("destFieldType") or m.get("dest_type", "string"),
                source_nullable=m.get("isSourceNullable", m.get("source_nullable", True)),
                dest_nullable=m.get("isDestNullable", m.get("dest_nullable", True)),
                default_value=m.get("defaultValue", m.get("default_value")),
                transformation_rule=m.get("transformationRule", m.get("transformation_rule")),
                format_pattern=m.get("formatPattern", m.get("format_pattern")),
                file_column_position=m.get("fileColumnPosition", m.get("file_column_position")),
            )
            for m in d.get("mappings", [])
        ]
        eh = d.get("errorHandling") or d.get("error_handling") or {}
        return cls(
            job_id=d.get("jobId") or d.get("job_id") or "job",
            source=endpoint(d["source"]),
            destination=endpoint(d.get("destination")),
            mappings=mappings,
            filter=d.get("filter"),
            query=d.get("query"),
            extra_sources={k: endpoint(v) for k, v in (d.get("extraSources")
                           or d.get("extra_sources") or {}).items()},
            error_handling=ErrorHandling(
                strategy=eh.get("strategy", "FAIL_JOB"),
                max_errors_allowed=eh.get("maxErrorsAllowed",
                                          eh.get("max_errors_allowed", 0)),
                error_file_path=eh.get("errorFilePath", eh.get("error_file_path")),
            ),
            transformation=Transformation(
                type=(tr := d.get("transformation") or {}).get("type", "NONE"),
                script_path=tr.get("scriptPath", tr.get("script_path")),
                parameters=tr.get("parameters", {}) or {},
            ),
            # declaring expectations without declaring steps must not
            # silently skip them — default in the VALIDATE_LOAD step that
            # evaluates them; an explicit steps list is always respected,
            # INCLUDING an explicit empty list (a deliberate no-op job)
            steps=(d.get("steps") if d.get("steps") is not None else (
                ["LOAD", "VALIDATE_LOAD"] if d.get("expectations")
                else ["LOAD"])),
            order_by=d.get("orderBy", d.get("order_by", [])),
            streaming=d.get("streaming", {}) or {},
            expectations=d.get("expectations", []) or [],
            incremental=d.get("incremental", {}) or {},
        )

    @classmethod
    def from_json(cls, s: str) -> "JobSpec":
        return cls.from_dict(json.loads(s))

    @classmethod
    def from_file(cls, path: str) -> "JobSpec":
        with open(path) as f:
            return cls.from_dict(json.load(f))
