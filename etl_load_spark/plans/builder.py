"""Spec → DataFrame plan builder.

Compiles a ``JobSpec`` into a single declarative DataFrame expression — the
Spark replacement for the reference's row-at-a-time mapping processor
(ETLCoreMappingProcessor.java:56-107). Order of column-level stages mirrors
the reference's per-row pipeline:

    project (P1/P2) → filter (P3) → fixed-width extract (P8) →
    rule (U2/F1-F2) → default (P7) → cast (P5) → rename (P4)

Everything stays inside Catalyst (whole-stage codegen); projection and the
filter push down into the source scan automatically. The transformation
stage is one lookup in ``STAGES``, the table that declares each built-in
``transformation.type`` once, for batch and streaming alike.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from etl_load_spark.functions.casts import cast_column
from etl_load_spark.functions.rules import apply_rule
from etl_load_spark.spec import JobSpec, Mapping


def _positions(spec_str: str) -> tuple[int, int]:
    """Parse a fixed-width ``"start-end"`` 1-based inclusive position spec
    (etlModel.java:96-97)."""
    start, end = spec_str.split("-")
    return int(start), int(end)


def mapping_column(m: Mapping, source_is_line: bool = False) -> F.Column:
    """One destination column expression from one mapping entry."""
    if source_is_line and m.file_column_position:
        start, end = _positions(m.file_column_position)
        col = F.trim(F.substring(F.col("value"), start, end - start + 1))
    else:
        col = F.col(m.source)
    col = apply_rule(col, m.transformation_rule)
    if m.default_value is not None:
        # null/empty → default (etlModel.java:98-99)
        col = F.when(col.isNull() | (col.cast("string") == ""),
                     F.lit(m.default_value)).otherwise(col)
    col = cast_column(col, m.dest_type, m.format_pattern)
    return col.alias(m.dest)


def build_plan(spark: SparkSession, spec: JobSpec,
               source_df: DataFrame | None = None,
               map_stage=None) -> DataFrame:
    """The one assembly of a job's plan, used by batch, streaming and
    ``explain`` alike. Stages run in this order:

        source → query → filter → mappings → transformation → order_by

    - source: ``source_df`` when given (the runner passes its read, the
      HWM-filtered incremental source or the watermarked stream), else a
      read of ``spec.source``.
    - query: the source is registered as view ``src`` (plus
      ``extra_sources`` under their keys) and ``spec.query`` runs in Spark
      SQL — joins/aggs/windows/set-ops live here (§2.9 items 3-8). This is
      the only place those views are registered.
    - filter (P3): opaque SQL handed to Catalyst over the query's output
      (or the source), pushed down to the scan where possible.
    - mappings: ``map_stage(df, spec, source_is_line)`` when given (the
      batch runner passes the error split), else the plain
      ``mapping_column`` projection, where a failed cast gives NULL.
    - transformation: ``apply_transformation``.
    - order_by: always last, so no later stage can drop the sort.
    """
    from etl_load_spark.sources.registry import file_format, read_source

    df = source_df if source_df is not None else read_source(spark, spec.source)
    # fixed-width positions address the raw line, not a query's output
    source_is_line = (not spec.query
                      and file_format(spec.source.type) == "text")
    if spec.query:
        df.createOrReplaceTempView("src")
        for name, ep in spec.extra_sources.items():
            read_source(spark, ep).createOrReplaceTempView(name)
        df = spark.sql(spec.query)
    if spec.filter:
        df = df.filter(F.expr(spec.filter))
    if spec.mappings:
        df = (map_stage(df, spec, source_is_line) if map_stage else
              df.select(*[mapping_column(m, source_is_line)
                          for m in spec.mappings]))
    df = apply_transformation(df, spark, spec)
    if spec.order_by:
        df = df.orderBy(*spec.order_by)
    return df


def apply_transformation(df: DataFrame, spark: SparkSession,
                         spec: JobSpec) -> DataFrame:
    """The transformation stage: ``NONE`` passes the rows through,
    ``PYTHON_SCRIPT`` loads the user script and applies its ``transform``
    (DataFrame-level) or ``transform_pandas`` (Arrow-batched
    mapInPandas) hook, and every other type is one lookup in ``STAGES``,
    which builds the batch plan or applies the stage's streaming
    contract (``Stage.apply``)."""
    tr = spec.transformation
    if tr is None or tr.type.upper() == "NONE":
        return df
    if tr.type.upper() != "PYTHON_SCRIPT":
        stage = STAGES.get(tr.type.upper())
        if stage is None:
            raise ValueError(f"unknown transformation.type: {tr.type!r} "
                             f"(known: NONE, PYTHON_SCRIPT, "
                             f"{', '.join(STAGES)})")
        return stage.apply(df, spark, spec)
    if not tr.script_path:
        raise ValueError("transformation.type=PYTHON_SCRIPT requires scriptPath")
    import importlib.util
    mod_spec = importlib.util.spec_from_file_location("etl_user_transform",
                                                      tr.script_path)
    mod = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(mod)
    if hasattr(mod, "transform"):
        return mod.transform(df, spark, tr.parameters)
    if hasattr(mod, "transform_pandas"):
        fn, params = mod.transform_pandas, tr.parameters
        return df.mapInPandas(lambda it: (fn(pdf, params) for pdf in it),
                              schema=df.schema)
    raise ValueError(
        f"{tr.script_path} defines neither transform(df, spark, params) "
        f"nor transform_pandas(pdf, params)")


def _scd2_transform(df: DataFrame, spark: SparkSession,
                    spec: JobSpec) -> DataFrame:
    """Declarative SCD Type-2 merge stage (operators/scd.py wired into the
    job spec): the mapped source rows are the UPDATE batch; the existing
    dimension comes from ``extra_sources["dim"]`` — usually the same table
    the destination points at — or, if absent, the incoming batch is
    bootstrapped into SCD2 shape (initial load). Parameters:

      keyColumns:   list[str]  (required)
      attrColumns:  list[str]  (required)
      effectiveDate: 'YYYY-MM-DD' (required)

    Write the result with mode=overwrite: the merge re-emits the full
    dimension (history + current). At lake scale, partition the stored
    dimension by is_current so history files rewrite-free (SCALE.md).
    """
    from etl_load_spark.operators.scd import as_scd2, scd2_merge
    from etl_load_spark.sources.registry import read_source

    p = spec.transformation.parameters or {}
    missing = [k for k in ("keyColumns", "attrColumns", "effectiveDate")
               if not p.get(k)]
    if missing:
        raise ValueError(f"SCD2_MERGE parameters missing: {missing}")
    if "dim" not in spec.extra_sources:
        return as_scd2(df, p["effectiveDate"])
    dim = read_source(spark, spec.extra_sources["dim"])
    return scd2_merge(dim, df, list(p["keyColumns"]), list(p["attrColumns"]),
                      p["effectiveDate"])


def _cdc_scd2_transform(df: DataFrame, spark: SparkSession,
                        spec: JobSpec) -> DataFrame:
    """Declarative CDC→SCD2 stage (operators/scd.cdc_scd2_apply wired
    into the job spec): the mapped source rows are the CHANGE FEED
    (op column with I/U/D + a monotone seq column); the existing
    dimension comes from ``extraSources.dim``. Parameters: keyColumns,
    attrColumns, seqColumn (all required), opColumn ('op'). Write the
    result with mode=overwrite (the fold re-emits the full dimension)."""
    from etl_load_spark.operators.scd import cdc_scd2_apply
    from etl_load_spark.sources.registry import read_source

    p = spec.transformation.parameters or {}
    missing = [k for k in ("keyColumns", "attrColumns", "seqColumn")
               if not p.get(k)]
    if missing:
        raise ValueError(f"CDC_SCD2_APPLY parameters missing: {missing}")
    if "dim" not in spec.extra_sources:
        raise ValueError("CDC_SCD2_APPLY requires extraSources.dim "
                         "(the existing SCD2 dimension; bootstrap one "
                         "with SCD2_MERGE first)")
    dim = read_source(spark, spec.extra_sources["dim"])
    return cdc_scd2_apply(dim, df, list(p["keyColumns"]),
                          list(p["attrColumns"]), p["seqColumn"],
                          op_col=p.get("opColumn", "op"))


def _passage_dedup_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative passage-level dedup stage (operators/corpus.py wired
    into the job spec): replaces ``textColumn`` with its first-occurrence
    rebuild, preserving every other column. Parameters: idColumn
    ('doc_id'), textColumn ('text'), blockTokens (16), dropEmptied (True —
    drop documents whose every passage was seen earlier)."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.corpus import passage_dedup
    id_col = p.get("idColumn", "doc_id")
    text_col = p.get("textColumn", "text")
    pd_ = passage_dedup(df, id_col, text_col,
                        int(p.get("blockTokens", 16)))
    if p.get("dropEmptied", True):
        pd_ = pd_.filter(F.col("n_kept") > 0)
    return (df.drop(text_col)
            .join(pd_.select(id_col,
                             F.col("text_deduped").alias(text_col)),
                  id_col))


def _quality_filter_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative Gopher-rule quality stage. mode='filter' (default)
    keeps only rows passing every rule; mode='annotate' appends the rule
    booleans + ``keep`` so downstream steps can route on them. Threshold
    parameters mirror operators/corpus.quality_rules."""
    from etl_load_spark.operators.corpus import quality_rules
    rules = quality_rules(
        df[p.get("textColumn", "text")],
        min_words=int(p.get("minWords", 30)),
        max_words=int(p.get("maxWords", 100_000)),
        min_mean_len=float(p.get("minMeanWordLen", 2.0)),
        max_mean_len=float(p.get("maxMeanWordLen", 12.0)),
        min_stopwords=int(p.get("minStopwords", 1)),
        min_distinct_ratio=float(p.get("minDistinctRatio", 0.1)))
    keep = rules[0] & rules[1] & rules[2] & rules[3]
    if p.get("mode", "filter") == "annotate":
        return df.select("*", *rules, keep.alias("keep"))
    return df.filter(keep)


def _mixture_sample_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative data-mixture stage: deterministic weighted sampling by
    a key column. Parameters: weights (dict source→fraction, required),
    keyColumn ('source'), idColumn ('doc_id'), defaultWeight (0.0),
    salt ('mix' — rotate to draw an independent sample)."""
    from etl_load_spark.operators.corpus import mixture_sample
    if not p.get("weights"):
        raise ValueError("MIXTURE_SAMPLE requires parameters.weights")
    return mixture_sample(
        df, {str(k): float(v) for k, v in p["weights"].items()},
        id_col=p.get("idColumn", "doc_id"),
        key_col=p.get("keyColumn", "source"),
        default_weight=float(p.get("defaultWeight", 0.0)),
        salt=p.get("salt", "mix"))





def _quality_classifier_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative model-based quality stage (operators/corpus.
    quality_classifier): mode='filter' (default) keeps rows the classifier
    scores above keepThreshold; mode='annotate' appends
    (n_tokens, mean_weight, keep). Parameters: idColumn, textColumn,
    keepThreshold (0.0)."""
    from etl_load_spark.operators.corpus import quality_classifier
    id_col = p.get("idColumn", "doc_id")
    scored = quality_classifier(df, id_col, p.get("textColumn", "text"),
                                float(p.get("keepThreshold", 0.0)))
    if p.get("mode", "filter") == "annotate":
        return df.join(scored, id_col)
    keep_ids = scored.filter("keep").select(id_col)
    return df.join(keep_ids, id_col, "left_semi")


def _semantic_dedup_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative SemDeDup stage (operators/similarity.semantic_dedup):
    finds near-duplicate pairs via k-means-blocked exact cosine and drops
    the HIGHER id of every pair. Parameters: idColumn ('vec_id'),
    vectorColumn ('embedding'), threshold (0.95), nCells (16), seed (42)."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.similarity import semantic_dedup
    id_col = p.get("idColumn", "vec_id")
    pairs = semantic_dedup(
        df, threshold=float(p.get("threshold", 0.95)),
        id_col=id_col, vec_col=p.get("vectorColumn", "embedding"),
        n_cells=int(p.get("nCells", 16)), seed=int(p.get("seed", 42)))
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def _chunk_documents_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative chunking stage (operators/corpus.chunk_documents):
    REPLACES the row shape with the chunk relation (idColumn, chunk_no,
    chunk_text, n_tokens) — the shard step ahead of embedding/indexing.
    Stateless per row, so it runs on streams. Parameters: idColumn
    ('doc_id'), textColumn ('text'), chunkTokens (64), overlap (16)."""
    from etl_load_spark.operators.corpus import chunk_documents
    return chunk_documents(df, p.get("idColumn", "doc_id"),
                           p.get("textColumn", "text"),
                           int(p.get("chunkTokens", 64)),
                           int(p.get("overlap", 16)))


def _lm_surprisal_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative LM-surprisal stage (operators/text.bigram_surprisal —
    the CCNet perplexity filter): score each document's bits-per-bigram
    under the corpus-trained Laplace-smoothed bigram model.
    mode='filter' keeps the predictable head, cut by exactly ONE of
    maxBits (absolute bits-per-bigram ceiling) or keepQuantile (keep
    the lowest-scoring fraction — CCNet's own corpus-relative form; a
    self-trained model's absolute scores shift with corpus size, so
    there is no defaultable absolute threshold). mode='annotate'
    appends (n_bigrams, total_bits, bits_per_bigram); <2-token
    documents score no events and are DROPPED in filter mode /
    NULL-scored in annotate mode. The quantile is percentile_approx
    over the doc-level score relation — t-digest, distributed, bounded
    memory at any corpus size. Parameters: idColumn ('doc_id'),
    textColumn ('text'), maxBits | keepQuantile, mode."""
    from etl_load_spark.operators.text import bigram_surprisal
    id_col = p.get("idColumn", "doc_id")
    scored = bigram_surprisal(df, id_col, p.get("textColumn", "text"))
    if p.get("mode", "filter") == "annotate":
        # annotate mode computes scores only — a cut parameter here is a
        # misconfigured spec, not a silent no-op (mirrors the filter-mode
        # exactly-one check below)
        stray = sorted(k for k in ("maxBits", "keepQuantile") if k in p)
        if stray:
            raise ValueError(
                f"LM_SURPRISAL mode='annotate' does not cut; remove "
                f"{stray} or use mode='filter'")
        return df.join(scored, id_col, "left")
    if ("maxBits" in p) == ("keepQuantile" in p):
        raise ValueError("LM_SURPRISAL filter mode requires exactly one "
                         "of maxBits (absolute bits-per-bigram cut) or "
                         "keepQuantile (keep the most predictable "
                         "fraction); use mode='annotate' to inspect the "
                         "score distribution first")
    if "keepQuantile" in p:
        q = float(p["keepQuantile"])
        if not 0.0 < q <= 1.0:
            raise ValueError(f"keepQuantile must be in (0, 1], got {q}")
        cut = scored.agg(F.percentile_approx(
            "bits_per_bigram", F.lit(q), F.lit(10000)).alias("_cut"))
        keep = (scored.crossJoin(F.broadcast(cut))
                .filter(F.col("bits_per_bigram") <= F.col("_cut"))
                .select(id_col))
    else:
        keep = (scored.filter(F.col("bits_per_bigram")
                              <= float(p["maxBits"]))
                .select(id_col))
    return df.join(keep, id_col, "left_semi")


def _decontaminate_transform(df: DataFrame, spark: SparkSession,
                             spec: JobSpec) -> DataFrame:
    """Declarative eval-set decontamination stage (operators/bloom.
    decontaminate): the held-out benchmark comes from
    ``extra_sources["eval"]``; mode='filter' (default) DROPS every
    document sharing a verbatim n-gram with it, mode='annotate' appends
    ``n_shared_ngrams`` (0 for clean docs). Parameters: idColumn
    ('doc_id'), textColumn ('text'), ngram (8), fpp (0.01),
    evalTextColumn / evalIdColumn (default to the corpus names),
    evalFilter (optional SQL predicate narrowing the eval source —
    e.g. a held-out split carved from a shared table)."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.bloom import decontaminate
    from etl_load_spark.sources.registry import read_source
    if "eval" not in spec.extra_sources:
        raise ValueError("DECONTAMINATE requires extraSources.eval "
                         "(the held-out benchmark to scrub against)")
    p = spec.transformation.parameters or {}
    id_col = p.get("idColumn", "doc_id")
    ev = read_source(spark, spec.extra_sources["eval"])
    if p.get("evalFilter"):
        ev = ev.filter(p["evalFilter"])
    ev = ev.select(
        F.col(p.get("evalIdColumn", id_col)).alias(id_col),
        F.col(p.get("evalTextColumn",
                    p.get("textColumn", "text"))).alias("text"))
    hits = decontaminate(
        df.select(F.col(id_col), F.col(p.get("textColumn", "text"))
                  .alias("text")),
        ev, id_col=id_col, text_col="text",
        n=int(p.get("ngram", 8)), fpp=float(p.get("fpp", 0.01)))
    if p.get("mode", "filter") == "annotate":
        return (df.join(hits.withColumnRenamed("train_doc_id", id_col),
                        id_col, "left")
                .withColumn("n_shared_ngrams",
                            F.coalesce("n_shared_ngrams", F.lit(0))))
    return df.join(hits.withColumnRenamed("train_doc_id", id_col),
                   id_col, "left_anti")


def _cluster_balance_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative cluster-balanced selection stage (operators/similarity
    anchor_assign + cluster_balanced_sample): assign rows to their
    nearest label anchor by cosine, thin every cluster toward the
    smallest. mode='filter' (default) keeps the sampled rows (original
    columns + ``cluster``); mode='annotate' returns ALL rows with their
    ``cluster`` — assignment only, no thinning. Parameters: idColumn
    ('vec_id'), vectorColumn ('embedding'), labelColumn ('label'),
    salt ('bal')."""
    from etl_load_spark.operators.similarity import (
        anchor_assign, cluster_balanced_sample, min_id_anchors)
    id_col = p.get("idColumn", "vec_id")
    vec_col = p.get("vectorColumn", "embedding")
    anchors = min_id_anchors(df, p.get("labelColumn", "label"),
                             id_col, vec_col)
    asg = anchor_assign(df, anchors, id_col, vec_col)
    if p.get("mode", "filter") == "annotate":
        return df.join(asg.select(id_col, "cluster"), id_col)
    kept = cluster_balanced_sample(asg, id_col, salt=p.get("salt", "bal"))
    return df.join(kept.select(id_col, "cluster"), id_col)


def _cross_source_dedup_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative cross-source priority dedup: keep one survivor per
    identical normalized content, preferring sources in
    parameters.priority order (required, best first), min id as
    tie-break. NULL-text rows drop (nothing to deduplicate). Row shape is
    preserved — survivors keep every column."""
    from etl_load_spark.operators.corpus import cross_source_dedup
    if not p.get("priority"):
        raise ValueError("CROSS_SOURCE_DEDUP requires parameters.priority "
                         "(preferred sources, best first)")
    id_col = p.get("idColumn", "doc_id")
    surv = cross_source_dedup(
        df, [str(s) for s in p["priority"]], id_col=id_col,
        text_col=p.get("textColumn", "text"),
        source_col=p.get("sourceColumn", "source"))
    return df.join(surv.select(id_col), id_col, "semi")


def _token_budget_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative token-budget mixture realization: keep documents that
    fit each source's TOKEN budget (parameters.budgets, required), taken
    in deterministic md5 order with the boundary document included.
    NULL-text and unbudgeted-source rows drop. Row shape is preserved."""
    from etl_load_spark.operators.corpus import token_budget_kept
    if not p.get("budgets"):
        raise ValueError("TOKEN_BUDGET requires parameters.budgets "
                         "(source -> token budget)")
    id_col = p.get("idColumn", "doc_id")
    kept = token_budget_kept(
        df, {str(k): int(v) for k, v in p["budgets"].items()},
        id_col=id_col, text_col=p.get("textColumn", "text"),
        source_col=p.get("sourceColumn", "source"),
        n_buckets=int(p.get("nBuckets", 4096)),
        salt=p.get("salt", "budget"))
    return df.join(kept.select(F.col("_id").alias(id_col)), id_col, "semi")


def _assign_shards_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative shard assignment: append a deterministic shard column
    (portable id-hash mod nShards) for the destination's partitionBy —
    a pure projection, so it is stream-safe and adds no shuffle."""
    from etl_load_spark.operators.corpus import shard_assign
    return shard_assign(df, n_shards=int(p.get("nShards", 64)),
                        id_col=p.get("idColumn", "doc_id"),
                        salt=p.get("salt", "shard"),
                        shard_col=p.get("shardColumn", "shard"))


def _sequence_pack_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative sequence packing (operators/corpus.sequence_pack):
    concat-and-chunk the corpus into fixed ``seqLen`` training windows
    in a deterministic pseudo-random order. mode='annotate' (default)
    appends the packing manifest columns (n_tokens, start_off,
    first_seq, last_seq, n_seqs) to every row; mode='manifest' returns
    the doc-level manifest alone — the table a sequence writer consumes.
    NULL-text/id rows get NULL manifest columns in annotate mode and
    are absent from manifest mode (no position in the packed stream).
    Parameters: seqLen (2048), idColumn ('doc_id'), textColumn
    ('text'), nBuckets (4096), salt ('pack')."""
    from etl_load_spark.operators.corpus import sequence_pack
    id_col = p.get("idColumn", "doc_id")
    man = sequence_pack(df, seq_len=int(p.get("seqLen", 2048)),
                        id_col=id_col,
                        text_col=p.get("textColumn", "text"),
                        n_buckets=int(p.get("nBuckets", 4096)),
                        salt=p.get("salt", "pack"))
    if p.get("mode", "annotate") == "manifest":
        return man
    return df.join(man, id_col, "left")


def _incremental_dedup_transform(df: DataFrame, spark: SparkSession,
                                 spec: JobSpec) -> DataFrame:
    """Declarative batch admission against the already-admitted corpus
    (operators/dedup.incremental_dedup): the admitted-content index
    comes from ``extraSources.history``; rows whose normalized content
    is already admitted — or appears in the batch under a smaller id —
    drop; survivors keep every column. ``historyBloom: true`` switches
    to the bloom-prefiltered anti-join (the oversized-history shape;
    answer identical). Parameters: idColumn ('doc_id'), textColumn
    ('text'), historyTextColumn (defaults to textColumn), historyBloom
    (false), bloomFpp (0.01)."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.dedup import incremental_dedup
    from etl_load_spark.sources.registry import read_source
    if "history" not in spec.extra_sources:
        raise ValueError("INCREMENTAL_DEDUP requires extraSources.history "
                         "(the already-admitted corpus or its content "
                         "index)")
    p = spec.transformation.parameters or {}
    id_col = p.get("idColumn", "doc_id")
    text_col = p.get("textColumn", "text")
    hist = read_source(spark, spec.extra_sources["history"]).select(
        F.col(p.get("historyTextColumn", text_col)).alias(text_col))
    surv = incremental_dedup(
        df, hist, id_col=id_col, text_col=text_col,
        history_bloom=bool(p.get("historyBloom", False)),
        bloom_fpp=float(p.get("bloomFpp", 0.01)))
    return df.join(surv.select(id_col), id_col, "semi")


def _importance_resample_transform(df: DataFrame, spark: SparkSession,
                                   spec: JobSpec) -> DataFrame:
    """Declarative DSIR-style targeted selection (operators/corpus.
    importance_weights): score documents by the quantized
    log-likelihood ratio of their hashed n-gram features under the
    ``extraSources.target`` distribution vs the raw corpus.
    mode='annotate' appends (n_feats, total_bits, bits_per_feat);
    mode='filter' (default) keeps the most target-like ``keepQuantile``
    fraction (required in filter mode — a self-relative cut, since
    quantized LLR scales with corpus/target overlap). Parameters:
    idColumn ('doc_id'), textColumn ('text'), nBuckets (1024),
    targetFilter (optional SQL predicate narrowing the target source),
    keepQuantile, mode."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.corpus import importance_weights
    from etl_load_spark.sources.registry import read_source
    if "target" not in spec.extra_sources:
        raise ValueError("IMPORTANCE_RESAMPLE requires extraSources.target "
                         "(the distribution to select toward)")
    p = spec.transformation.parameters or {}
    id_col = p.get("idColumn", "doc_id")
    text_col = p.get("textColumn", "text")
    tgt = read_source(spark, spec.extra_sources["target"])
    if p.get("targetFilter"):
        tgt = tgt.filter(p["targetFilter"])
    # loud config check: an empty target distribution would NULL the
    # smoothing constant (SUM over zero rows) and silently NULL-score
    # the whole corpus
    if tgt.filter(F.col(text_col).isNotNull()).limit(1).count() == 0:
        raise ValueError(
            "IMPORTANCE_RESAMPLE: extraSources.target has no non-NULL "
            f"{text_col!r} rows" + (f" after targetFilter "
                                    f"{p['targetFilter']!r}"
                                    if p.get("targetFilter") else ""))
    scored = importance_weights(df, tgt, id_col=id_col, text_col=text_col,
                                n_buckets=int(p.get("nBuckets", 1024)))
    if p.get("mode", "filter") == "annotate":
        return df.join(scored, id_col, "left")
    if "keepQuantile" not in p:
        raise ValueError("IMPORTANCE_RESAMPLE filter mode requires "
                         "keepQuantile (the most target-like fraction to "
                         "keep); use mode='annotate' to inspect scores")
    q = float(p["keepQuantile"])
    if not 0.0 < q <= 1.0:
        raise ValueError(f"keepQuantile must be in (0, 1], got {q}")
    cut = scored.agg(F.percentile_approx(
        "bits_per_feat", F.lit(1.0 - q), F.lit(10000)).alias("_cut"))
    keep = (scored.crossJoin(F.broadcast(cut))
            .filter(F.col("bits_per_feat") >= F.col("_cut"))
            .select(id_col))
    return df.join(keep, id_col, "left_semi")


def _quantize_embeddings_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative int8 scalar quantization (operators/similarity.
    quantize_kernel_udf): appends q_min, q_max, q_sum, codes — the
    per-vector calibration range plus the full SQ8 code vector. A PURE
    PROJECTION (one Arrow-batched kernel fused into the scan — no
    shuffle, no state), so it is STREAM-SAFE; dirty rows (NULL/empty
    array, NULL/NaN/±inf element) get all-NULL quantization columns
    rather than dropping (keep row shape; filter downstream if
    desired). Parameters: vectorColumn ('embedding')."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.similarity import quantize_kernel_udf
    vec = p.get("vectorColumn", "embedding")
    q = quantize_kernel_udf()(F.col(vec)).alias("_q")
    return (df.withColumn("_q", q)
            .withColumn("q_min", F.col("_q.q_min"))
            .withColumn("q_max", F.col("_q.q_max"))
            .withColumn("q_sum", F.col("_q.q_sum"))
            .withColumn("codes", F.col("_q.codes"))
            .drop("_q"))


def _stratified_sample_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative minority-class balancing (operators/corpus.
    stratified_sample): keep the first min-stratum-size rows of every
    stratum in deterministic md5 order. NULL stratum/id rows drop (no
    deterministic position). Row shape is preserved. Parameters:
    stratumColumn ('lang'), idColumn ('doc_id'), nBuckets (4096),
    salt ('strat')."""
    from etl_load_spark.operators.corpus import stratified_sample
    id_col = p.get("idColumn", "doc_id")
    kept = stratified_sample(df,
                             stratum_col=p.get("stratumColumn", "lang"),
                             id_col=id_col,
                             n_buckets=int(p.get("nBuckets", 4096)),
                             salt=p.get("salt", "strat"))
    return df.join(kept.select(id_col), id_col, "semi")


def _assign_split_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative leakage-safe split assignment (operators/corpus.
    grouped_split): append a deterministic train/valid/test split keyed
    on ``groupColumn`` (required — e.g. a registered-domain column, so
    same-site near-duplicates never straddle splits; pass the id column
    to get the q60 doc-level behavior). Parameters: groupColumn,
    splits ([[name, percent], ...] summing to 100; default 80/10/10),
    outputColumn ('split'), salt ('gsplit'). Pure projection —
    STREAM-SAFE, no shuffle."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.corpus import DEFAULT_SPLITS, grouped_split
    if not p.get("groupColumn"):
        raise ValueError("ASSIGN_SPLIT requires parameters.groupColumn "
                         "(the leakage-grouping key)")
    splits = (tuple((str(n), int(w)) for n, w in p["splits"])
              if p.get("splits") else DEFAULT_SPLITS)
    return df.withColumn(
        p.get("outputColumn", "split"),
        grouped_split(F.col(p["groupColumn"]), splits=splits,
                      salt=p.get("salt", "gsplit")))


def _markup_strip_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative markup hygiene (operators/text.strip_markup): append
    the cleaned text as ``outputColumn`` ('clean_text'; set it to
    textColumn to clean in place) and — when ``withStats`` (default
    true) — the boilerplate signals n_tags / n_links / link_chars.
    Pure map-side regex — STREAM-SAFE, no shuffle."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.text import markup_stats, strip_markup
    text_col = p.get("textColumn", "text")
    out = df
    if p.get("withStats", True):
        out = out.select("*", *markup_stats(F.col(text_col)))
    return out.withColumn(p.get("outputColumn", "clean_text"),
                          strip_markup(F.col(text_col)))


def _url_canonicalize_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative URL key hygiene (operators/text.canonicalize_url):
    append the canonical form of ``urlColumn`` (required — no corpus
    convention to default to) as ``outputColumn`` ('canonical_url'),
    plus the registered domain as ``domainColumn`` when set. Pure
    map-side regex/array expressions — STREAM-SAFE, no shuffle."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.text import (canonicalize_url,
                                               registered_domain)
    if not p.get("urlColumn"):
        raise ValueError("URL_CANONICALIZE requires parameters.urlColumn")
    url = F.col(p["urlColumn"])
    out = df.withColumn(p.get("outputColumn", "canonical_url"),
                        canonicalize_url(url))
    if p.get("domainColumn"):
        out = out.withColumn(p["domainColumn"],
                             registered_domain(url, from_url=True))
    return out


def _priority_sample_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative exact-SIZE weighted sampling (operators/corpus.
    priority_sample — the q169 A-Res scheme): keep exactly ``size``
    rows, weight-proportionally without replacement, deterministic
    (hash-uniform draws, no RNG). The SIZE-budget complement of
    MIXTURE_SAMPLE's rate and IMPORTANCE_RESAMPLE's quantile modes —
    the form a fixed token/example budget needs. Rows with NULL or
    non-positive weight are excluded. Row shape is preserved.
    Parameters: size (required), weightColumn (required),
    idColumn ('doc_id'), salt ('ares')."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.corpus import priority_sample
    missing = [k for k in ("size", "weightColumn") if not p.get(k)]
    if missing:
        raise ValueError(f"PRIORITY_SAMPLE parameters missing: {missing}")
    return priority_sample(df, int(p["size"]),
                           F.col(p["weightColumn"]),
                           id_col=p.get("idColumn", "doc_id"),
                           salt=p.get("salt", "ares")).drop("_priority")


def _quota_sample_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative balanced fine-tune set (operators/corpus.
    quota_stratified_sample — q170): EXACTLY min(quota, stratum size)
    rows per listed stratum, unlisted strata excluded; per-stratum
    A-Res weight-proportional selection when ``weightColumn`` is given,
    uniform-deterministic otherwise. Row shape is preserved.
    Parameters: quotas (required — {stratum: size} object),
    stratumColumn ('lang'), idColumn ('doc_id'),
    weightColumn (optional), nBuckets (4096), salt ('quota')."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.corpus import quota_stratified_sample
    if not p.get("quotas"):
        raise ValueError("QUOTA_SAMPLE requires parameters.quotas "
                         "({stratum: size})")
    id_col = p.get("idColumn", "doc_id")
    kept = quota_stratified_sample(
        df, {str(s): int(q) for s, q in p["quotas"].items()},
        stratum_col=p.get("stratumColumn", "lang"), id_col=id_col,
        weight=(F.col(p["weightColumn"]) if p.get("weightColumn")
                else None),
        n_buckets=int(p.get("nBuckets", 4096)),
        salt=p.get("salt", "quota"))
    return df.join(kept.select(id_col), id_col, "semi")


def _window_minhash_dedup_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative paragraph-granularity near-dedup stage
    (operators/dedup.window_minhash_pairs — q171): finds document pairs
    sharing at least one NEAR-duplicate sliding token window (edited
    boilerplate, lightly-reworded quoted passages — invisible to
    whole-document MinHash and to exact passage dedup) and drops the
    HIGHER id of every pair, the SEMANTIC_DEDUP survivorship rule. Row
    shape is preserved. ``minWindowPairs`` optionally requires that
    many matching window pairs before a pair counts (1 = any shared
    near-dup paragraph); ``maxBucketWindows`` is the documented
    hot-bucket approximation knob for corpus scale. The id column must
    be integral (the operator refuses strings up front). Parameters:
    idColumn ('doc_id'), textColumn ('text'), windowTokens (32),
    stride (16), n (3), threshold (0.5), minWindowPairs (1),
    maxBucketWindows (None)."""
    from pyspark.sql import functions as F

    from etl_load_spark.operators.dedup import window_minhash_pairs
    id_col = p.get("idColumn", "doc_id")
    mbw = p.get("maxBucketWindows")
    pairs = window_minhash_pairs(
        df, id_col, p.get("textColumn", "text"),
        window_tokens=int(p.get("windowTokens", 32)),
        stride=int(p.get("stride", 16)), n=int(p.get("n", 3)),
        threshold=float(p.get("threshold", 0.5)),
        max_bucket_windows=(int(mbw) if mbw is not None else None))
    if int(p.get("minWindowPairs", 1)) > 1:
        pairs = pairs.filter(
            F.col("n_window_pairs") >= int(p["minWindowPairs"]))
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


#: the parameters the time-bucketed stages share: operator keyword →
#: (spec parameter, default)
_SERIES_PARAMS = {"key_col": ("keyColumn", "user_id"),
                  "ts_col": ("tsColumn", "ts"),
                  "value_col": ("valueColumn", "value"),
                  "order_col": ("orderColumn", "event_id"),
                  "bucket": ("bucket", "1 day")}


def _series(p: dict, *kwargs: str) -> dict:
    """The named shared time-series parameters of ``p`` as operator
    keywords."""
    return {k: p.get(*_SERIES_PARAMS[k]) for k in kwargs}


def _gapfill_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative time-series gap fill (operators/timeseries.gapfill —
    q172): bucket-resample a (key, ts, value) feed onto the dense
    global bucket grid and emit the actual per-bucket average plus the
    LOCF and linear-interpolation fills with the Timescale edge
    contract (leading buckets NULL for both fills; trailing buckets
    carry LOCF only). Row shape CHANGES to
    (key, bucket_ts, val, locf_val, interp_val). Values must be
    non-negative (the exact fixed-point half-up arithmetic is unsigned;
    the operator documents the restriction). Parameters:
    keyColumn ('user_id'), tsColumn ('ts'), valueColumn ('value'),
    bucket ('1 day')."""
    from etl_load_spark.operators.timeseries import gapfill
    return gapfill(df, **_series(p, "key_col", "ts_col", "value_col",
                                 "bucket"))


def _counter_rate_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative counter increase/rate with reset detection
    (operators/timeseries.counter_rate — q173): per-series
    sample-to-sample deltas ordered by (tsColumn, orderColumn), a
    decrease = counter restart (the post-reset value is the step),
    rolled up per bucket to (key, bucket_ts, n_samples, n_resets,
    increase, rate_per_sec). Row shape CHANGES to the rollup. Values
    must be non-negative (counters are). Parameters:
    keyColumn ('user_id'), tsColumn ('ts'), valueColumn ('value'),
    orderColumn ('event_id'), bucket ('1 day'), bucketSeconds (the
    rate denominator; defaults to the parsed bucket width, so it
    cannot silently drift from the bucket — set it only to rate
    against a different horizon), hotSplit (an interval string, e.g.
    '1 day': engages the parallel-prefix stitch for feeds where one
    series dwarfs the rest — identical results, the per-series sort
    parallelizes per time slice)."""
    from etl_load_spark.operators.timeseries import counter_rate
    bs = p.get("bucketSeconds")
    return counter_rate(df, **_series(p, "key_col", "ts_col", "value_col",
                                      "order_col", "bucket"),
                        bucket_seconds=int(bs) if bs is not None else None,
                        hot_split=p.get("hotSplit"))


def _ohlc_params(p: dict) -> dict:
    """Declarative OHLC / candlestick rollup (operators/timeseries.ohlc
    — q174): per (type, bucket) the open/high/low/close sample values
    and the sample count; open/close are deterministic via the
    raise-guarded padded (epoch_micros, orderColumn) key (non-negative
    timestamps and order ids only — a violating feed fails LOUDLY, it
    never mis-orders). Row shape CHANGES to (type, bucket_ts, open,
    high, low, close, n_events). One map-side-combinable hash
    aggregate: the shuffle is candle-sized, never sample-sized.
    Parameters: typeColumn ('event_type'), tsColumn ('ts'),
    valueColumn ('value'), orderColumn ('event_id'), bucket ('1 day')."""
    return {"type_col": p.get("typeColumn", "event_type"),
            **_series(p, "ts_col", "value_col", "order_col", "bucket")}


def _time_weighted_avg_params(p: dict) -> dict:
    """Declarative time-weighted average (operators/timeseries.
    time_weighted_avg — q175): each sample weighted by how long it HELD
    (the in-bucket LOCF integral), so burst sampling cannot bias the
    bucket mean the way a plain average can. Row shape CHANGES to
    (key, bucket_ts, n_samples, twa). By default the contract is
    self-contained per bucket; ``carryIn: true`` selects the
    Timescale interpolated_average contract (q176 — the previous
    bucket's value weights the bucket-start span). Parameters:
    keyColumn ('user_id'), tsColumn ('ts'), valueColumn ('value'),
    orderColumn ('event_id'), bucket ('1 day'), carryIn (false),
    hotSplit (interval string; with carryIn, parallelizes a dominant
    series' cross-bucket carry per time slice — identical results)."""
    return _series(p, "key_col", "ts_col", "value_col", "order_col",
                   "bucket")


def _state_durations_params(p: dict) -> dict:
    """Declarative time-in-state rollup (operators/timeseries.
    state_durations — q177): per (key, bucket, state) the
    integer-millisecond hold time (in-bucket LOCF), the entry count
    and the sample count. Row shape CHANGES to (key, bucket_ts,
    state, held_ms, n_entries, n_samples). Self-contained per bucket
    by default; ``carryIn: true`` selects the Timescale
    interpolated_duration_in contract (q180 — the previous recorded
    state holds from the bucket start to the first sample).
    Parameters: keyColumn ('user_id'), tsColumn ('ts'),
    stateColumn ('event_type'), orderColumn ('event_id'),
    bucket ('1 day'), carryIn (false), hotSplit (interval string;
    with carryIn, parallelizes a dominant series' cross-bucket carry
    per time slice — identical results)."""
    return {"state_col": p.get("stateColumn", "event_type"),
            **_series(p, "key_col", "ts_col", "order_col", "bucket")}


def _heartbeat_uptime_params(p: dict) -> dict:
    """Declarative heartbeat/liveness rollup (operators/timeseries.
    heartbeat_uptime — q178): each row is a heartbeat keeping its
    series live for ``tolerance``; per (key, bucket) the beat count,
    the uptime (union of tolerance-clipped in-bucket live intervals,
    integer ms) and the mid-bucket outage count. Row shape CHANGES to
    (key, bucket_ts, n_beats, uptime_ms, n_gaps). Self-contained per
    bucket by default; ``carryIn: true`` selects the Timescale
    interpolated_uptime contract (q181 — the previous beat's tolerance
    window extends across the bucket boundary). Parameters:
    keyColumn ('user_id'), tsColumn ('ts'), orderColumn ('event_id'),
    bucket ('1 day'), tolerance ('15 minutes'), carryIn (false),
    hotSplit (interval string; with carryIn, parallelizes a dominant
    series' cross-bucket carry per time slice — identical results),
    emitDowntime (false; appends downtime_ms = bucket width − uptime,
    the Timescale (interpolated_)downtime complement)."""
    return {"tolerance": p.get("tolerance", "15 minutes"),
            "emit_downtime": bool(p.get("emitDowntime", False)),
            **_series(p, "key_col", "ts_col", "order_col", "bucket")}


def _trend_params(p: dict) -> dict:
    """Declarative per-bucket least-squares trend (operators/
    timeseries.trend — q183): the OLS slope of value over time within
    each (key, bucket), in value units per second at 4 exact decimals
    (pure integer sums, sign-split half-up quotient); NULL when the
    bucket has zero time variance. Row shape CHANGES to (key,
    bucket_ts, n_samples, slope_per_sec). One map-side-combinable
    hash aggregate — the shuffle is trend-sized. Parameters:
    keyColumn ('user_id'), tsColumn ('ts'), valueColumn ('value'),
    bucket ('1 day')."""
    return _series(p, "key_col", "ts_col", "value_col", "bucket")


def _instant_rate_params(p: dict) -> dict:
    """Declarative instant rate (operators/timeseries.instant_rate —
    q184, Prometheus irate): per (key, bucket) the rate between the
    bucket's LAST TWO samples in value/second at 4 exact decimals,
    Prometheus reset rule on the final step; NULL under two samples or
    a zero time delta. Row shape CHANGES to (key, bucket_ts,
    n_samples, irate_per_sec). One exchange — lag window and max_by
    rollup share (key, bucket). Parameters: keyColumn ('user_id'),
    tsColumn ('ts'), valueColumn ('value'), orderColumn ('event_id'),
    bucket ('1 day')."""
    return _series(p, "key_col", "ts_col", "value_col", "order_col",
                   "bucket")


def _value_histogram_params(p: dict) -> dict:
    """Declarative per-bucket value histogram (operators/timeseries.
    value_histogram — q185, Timescale histogram()): nbins equal
    cent-exact bins over [lo, hi) plus underflow bin 0 and overflow
    bin nbins+1, one row per non-empty (key, bucket, bin) with its
    count. Row shape CHANGES to (key, bucket_ts, bin, n_samples). One
    map-side-combinable hash aggregate — the shuffle is
    histogram-sized. Parameters: keyColumn ('user_id'), tsColumn
    ('ts'), valueColumn ('value'), bucket ('1 day'), lo (0.0),
    hi (100.0), nbins (10)."""
    return {"lo": float(p.get("lo", 0.0)), "hi": float(p.get("hi", 100.0)),
            "nbins": int(p.get("nbins", 10)),
            **_series(p, "key_col", "ts_col", "value_col", "bucket")}


def _delta_params(p: dict) -> dict:
    """Declarative per-bucket gauge delta (operators/timeseries.delta —
    q186, Timescale delta()): last value − first value over the padded
    (epoch_micros, order) key, exact integer cents. Row shape CHANGES
    to (key, bucket_ts, n_samples, delta). One map-side-combinable
    min_by/max_by aggregate. Parameters: keyColumn ('user_id'),
    tsColumn ('ts'), valueColumn ('value'), orderColumn ('event_id'),
    bucket ('1 day')."""
    return _series(p, "key_col", "ts_col", "value_col", "order_col",
                   "bucket")


def _value_stats_params(p: dict) -> dict:
    """Declarative per-bucket exact mean/variance (operators/
    timeseries.value_stats — q187, Timescale stats_agg): 4-decimal
    fixed-point mean (sign-split half-up) and sample variance
    S/(n(n−1)) from three integer sums; variance NULL under two
    samples. Row shape CHANGES to (key, bucket_ts, n_samples, mean,
    variance). One map-side-combinable aggregate. Parameters:
    keyColumn ('user_id'), tsColumn ('ts'), valueColumn ('value'),
    bucket ('1 day')."""
    return _series(p, "key_col", "ts_col", "value_col", "bucket")


def _changes_params(p: dict) -> dict:
    """Declarative per-bucket change count (operators/timeseries.
    changes — q188, Prometheus changes()): consecutive differing cents
    over the (ts, order) total order; the bucket's first sample is a
    baseline. Row shape CHANGES to (key, bucket_ts, n_samples,
    n_changes). The in-bucket lag window and the rollup share one
    (key, bucket_ts) exchange. Parameters: keyColumn ('user_id'),
    tsColumn ('ts'), valueColumn ('value'), orderColumn ('event_id'),
    bucket ('1 day')."""
    return _series(p, "key_col", "ts_col", "value_col", "order_col",
                   "bucket")


def _value_topk_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative per-bucket top-k frequent values (operators/
    timeseries.value_topk — q189, ClickHouse topK exact form): one row
    per (key, bucket, rank ≤ k) with the value and its count,
    deterministic (count DESC, value ASC) order. Row shape CHANGES to
    (key, bucket_ts, rank, value, n_occurrences). Parameters:
    keyColumn ('user_id'), tsColumn ('ts'), valueColumn ('value'),
    bucket ('1 day'), k (3)."""
    from etl_load_spark.operators.timeseries import value_topk
    return value_topk(df, **_series(p, "key_col", "ts_col", "value_col",
                                    "bucket"),
                      k=int(p.get("k", 3)))


def _lttb_transform(df: DataFrame, p: dict) -> DataFrame:
    """Declarative LTTB visual downsampling (operators/timeseries.lttb
    — q179): per series keep exactly ``resolution`` points (first,
    last, and per equal-count bucket the largest-triangle point vs the
    previous selection and the next bucket's centroid); series with
    ≤ resolution points pass through. Row shape: a subset of
    (key, ts, order, value). The selection is sequential per series —
    a grouped Arrow kernel (the one Pandas-backed stage in the
    hypertable family; the task memory bound is one series' points,
    pre-slice upstream for unbounded series — maxPointsPerSeries
    turns that contract into a loud in-kernel guard). Parameters:
    keyColumn ('user_id'), tsColumn ('ts'), valueColumn ('value'),
    orderColumn ('event_id'), resolution (12),
    maxPointsPerSeries (int, optional)."""
    from etl_load_spark.operators.timeseries import lttb
    mps = p.get("maxPointsPerSeries")
    return lttb(df, **_series(p, "key_col", "ts_col", "value_col",
                              "order_col"),
                resolution=int(p.get("resolution", 12)),
                max_points_per_series=None if mps is None else int(mps))


def _hard_negatives_transform(df: DataFrame, spark: SparkSession,
                              spec: JobSpec) -> DataFrame:
    """Declarative hard-negative mining (operators/similarity.
    hard_negatives — q156): for each anchor, the k most-similar
    corpus vectors with a DIFFERENT label, plus the best same-label
    similarity and margin. The incoming (mapped) rows are the corpus;
    anchors come from ``extraSources.anchors`` or, if absent, from
    ``parameters.anchorPredicate`` applied to the corpus itself (one of
    the two is required). Output shape is the mining result
    (q_id, n_id, cosine_sim, pos_sim, margin, rank). Parameters:
    k (5), idColumn ('vec_id'), vectorColumn ('embedding'),
    labelColumn ('label'), anchorPredicate, dupCeiling (0.999)."""
    from etl_load_spark.operators.similarity import hard_negatives
    from etl_load_spark.sources.registry import read_source

    p = spec.transformation.parameters or {}
    if "anchors" in spec.extra_sources:
        anchors = read_source(spark, spec.extra_sources["anchors"])
        if p.get("anchorPredicate"):
            anchors = anchors.filter(p["anchorPredicate"])
    elif p.get("anchorPredicate"):
        anchors = df.filter(p["anchorPredicate"])
    else:
        raise ValueError(
            "HARD_NEGATIVES requires extraSources.anchors (the training-"
            "batch slice to mine for) or parameters.anchorPredicate "
            "(a predicate selecting anchors from the corpus)")
    return hard_negatives(df, anchors, k=int(p.get("k", 5)),
                          id_col=p.get("idColumn", "vec_id"),
                          vec_col=p.get("vectorColumn", "embedding"),
                          label_col=p.get("labelColumn", "label"),
                          dup_ceiling=float(p.get("dupCeiling", 0.999)))


def _asof_join_transform(df: DataFrame, spark: SparkSession,
                         spec: JobSpec) -> DataFrame:
    """Declarative backward as-of join (operators/asof_join — q51):
    attach to each row the most recent ``extraSources.<rightSource>``
    row at or before its timestamp, per key. Parameters: rightSource
    ('right' — an extraSources key), on (key column list,
    ['user_id']), leftTsColumn ('ts'), rightTsColumn (defaults to
    leftTsColumn), tolerance (optional day-time interval string,
    validated against the strict grammar — the injection-surface
    rule), how ('left' | 'inner'). Right payload columns must not
    collide with left columns (pre-alias in the right source's
    query/table). 100 TB: the operator unions the two sides and runs
    ONE window over (key, ts) — a single shuffle, no join operator,
    no candidate blow-up on hot keys (asof_join module docstring)."""
    from etl_load_spark.operators.asof_join import asof_join
    from etl_load_spark.sources.registry import read_source
    p = spec.transformation.parameters or {}
    src_key = p.get("rightSource", "right")
    if src_key not in spec.extra_sources:
        raise ValueError(
            f"ASOF_JOIN requires extraSources.{src_key!r} (the right "
            "side to attach); set parameters.rightSource to pick a "
            "different extraSources key")
    right = read_source(spark, spec.extra_sources[src_key])
    tol = None
    if p.get("tolerance"):
        from etl_load_spark.operators.timeseries import validate_bucket
        validate_bucket(p["tolerance"])
        tol = F.expr(f"INTERVAL {p['tolerance']}")
    return asof_join(df, right, on=p.get("on", ["user_id"]),
                     left_ts=p.get("leftTsColumn", "ts"),
                     right_ts=p.get("rightTsColumn"),
                     tolerance=tol, how=p.get("how", "left"))


@dataclass(frozen=True)
class Rollup:
    """A time-bucketed rollup stage with a streaming twin. One parameter
    reader (``params``: spec parameters → operator keywords) feeds the
    batch operator ``operators.timeseries.<op>``, its stream-safe twin
    ``operators.timeseries.<op>_rollup`` and the merge keys of the
    update-mode upsert. Both operators are looked up by name when the
    stage runs. ``stream`` watermarks the stream on its ``ts_col``
    (parameter ``watermark``) and hands it to the twin, which drops the
    batch output sort (streams cannot sort) and keeps its state bounded
    by that watermark; a file destination materializes it through the
    update-mode continuous-aggregate upsert
    (sources/writers.write_stream_sink)."""
    op: str
    params: Callable[[dict], dict]
    #: merge-key columns after (key, bucket_ts): an operator keyword
    #: stands for its parameter's column, any other name is an output
    #: column of the rollup
    merge_extra: tuple[str, ...] = ()
    #: set on the carry-class rollups, whose batch form takes carryIn and
    #: hotSplit: the carried value a stream cannot keep, for the refusal
    carried: str | None = None

    def batch(self, df: DataFrame, p: dict) -> DataFrame:
        from etl_load_spark.operators import timeseries
        kw = self.params(p)
        if self.carried:
            kw.update(carry_in=bool(p.get("carryIn", False)),
                      hot_split=p.get("hotSplit"))
        return getattr(timeseries, self.op)(df, **kw)

    def stream(self, df: DataFrame, p: dict, t: str) -> DataFrame:
        from etl_load_spark.operators import timeseries
        if self.carried and p.get("carryIn"):
            raise ValueError(
                f"{t} carryIn=true is batch-only on a stream: "
                f"{self.carried}, which the watermark has already evicted "
                "when the next bucket opens — land the self-contained "
                "rollup incrementally, then interpolate carries downstream "
                "(the batch operator's carry_in=True over the landed table)")
        if self.carried and p.get("hotSplit"):
            raise ValueError(
                f"{t} hotSplit only applies to the batch carry form (there "
                "is no per-key window to split on a stream — the streaming "
                "twin is already per-bucket-parallel)")
        kw = self.params(p)
        return getattr(timeseries, f"{self.op}_rollup")(
            df.withWatermark(kw["ts_col"], p.get("watermark", "30 minutes")),
            **kw)

    def merge_keys(self, p: dict) -> list[str]:
        kw = self.params(p)
        return [kw.get("key_col", kw.get("type_col")), "bucket_ts",
                *(kw.get(c, c) for c in self.merge_extra)]


@dataclass(frozen=True)
class Stage:
    """One ``transformation.type``. ``build`` makes the batch plan from
    ``(df, params)``, or from ``(df, spark, spec)`` when ``takes_spec``
    (stages that read ``extraSources``). The streaming contract is one
    of three: ``twin`` (a ``Rollup``, with its merge keys),
    ``batch_only`` (the refusal text after "is batch-only", naming the
    streaming-native alternative: the stage's plan needs more than one
    stateful step, which no single streaming query can run, so the
    refusal comes before Spark's output-mode error), or neither: a
    per-row stage, whose ``build`` runs on the stream unchanged."""
    build: Callable
    takes_spec: bool = False
    batch_only: str | None = None
    twin: Rollup | None = None

    def apply(self, df: DataFrame, spark: SparkSession,
              spec: JobSpec) -> DataFrame:
        t = spec.transformation.type.upper()
        p = spec.transformation.parameters or {}
        if (self.twin or self.batch_only) and df.isStreaming:
            if self.twin:
                return self.twin.stream(df, p, t)
            raise ValueError(
                f"transformation.type={t} is batch-only{self.batch_only}")
        return self.build(df, spark, spec) if self.takes_spec \
            else self.build(df, p)


def _rollup(op: str, params: Callable[[dict], dict], **kw) -> Stage:
    twin = Rollup(op, params, **kw)
    return Stage(twin.batch, twin=twin)


#: every built-in ``transformation.type`` besides NONE and PYTHON_SCRIPT,
#: in the order the unknown-type error lists them
STAGES: dict[str, Stage] = {
    "SCD2_MERGE": Stage(_scd2_transform, takes_spec=True),
    "PASSAGE_DEDUP": Stage(
        _passage_dedup_transform,
        batch_only="; streaming.windows.stream_block_dedup (checkpointed "
                   "first-occurrence block filter) and reassemble "
                   "documents in a downstream batch job"),
    "QUALITY_FILTER": Stage(_quality_filter_transform),
    "MIXTURE_SAMPLE": Stage(_mixture_sample_transform),
    "QUALITY_CLASSIFIER": Stage(
        _quality_classifier_transform,
        batch_only="; score incrementally with a watermarked aggregation, "
                   "or run the classifier as a downstream batch job over "
                   "the landed stream"),
    "SEMANTIC_DEDUP": Stage(
        _semantic_dedup_transform,
        batch_only="; dedup each landed increment in a downstream batch "
                   "job (k-means blocking needs a corpus snapshot)"),
    "DECONTAMINATE": Stage(
        _decontaminate_transform, takes_spec=True,
        batch_only="; the bloom probe and verify join are stream-safe "
                   "map-side stages, but the per-document shared-n-gram "
                   "aggregation needs a landed batch pass — land the "
                   "stream, then run DECONTAMINATE downstream"),
    "CLUSTER_BALANCE": Stage(
        _cluster_balance_transform,
        batch_only="; anchor fitting and cluster counts need a corpus "
                   "snapshot; fit anchors offline, then apply "
                   "anchor_assign (a map-side projection) in the stream "
                   "and balance in a downstream batch job"),
    "CHUNK_DOCUMENTS": Stage(_chunk_documents_transform),
    "LM_SURPRISAL": Stage(
        _lm_surprisal_transform,
        batch_only="; the bigram count table needs a corpus snapshot; "
                   "train offline with operators/text.bigram_model, then "
                   "score with score_with_bigram_model inside foreachBatch "
                   "(a stream-safe stream-static join feeding a "
                   "per-micro-batch reduction)"),
    "CROSS_SOURCE_DEDUP": Stage(
        _cross_source_dedup_transform,
        batch_only="; survivor choice needs the whole content group; "
                   "dedup each landed increment in a downstream batch "
                   "job, or use streaming.windows.stream_block_dedup for "
                   "checkpointed first-seen-wins without source "
                   "preference"),
    "TOKEN_BUDGET": Stage(
        _token_budget_transform,
        batch_only="; the running token total is corpus-global; land the "
                   "stream, then realize the budget in a downstream batch "
                   "job (ASSIGN_SHARDS is the stream-safe layout stage)"),
    "ASSIGN_SHARDS": Stage(_assign_shards_transform),
    "SEQUENCE_PACK": Stage(
        _sequence_pack_transform,
        batch_only="; the packed stream's offsets are a corpus-global "
                   "prefix sum; land the stream, then pack in a "
                   "downstream batch job (ASSIGN_SHARDS is the "
                   "stream-safe layout stage)"),
    "INCREMENTAL_DEDUP": Stage(
        _incremental_dedup_transform, takes_spec=True,
        batch_only=" (the within-batch survivor needs the whole content "
                   "group); use streaming.windows.stream_content_dedup "
                   "for checkpointed first-seen-wins content admission on "
                   "a live stream (stream-static anti join against the "
                   "admitted index + stateful in-stream dedup), or land "
                   "the stream and admit each landed batch downstream"),
    "QUANTIZE_EMBEDDINGS": Stage(_quantize_embeddings_transform),
    "STRATIFIED_SAMPLE": Stage(
        _stratified_sample_transform,
        batch_only="; the minority-stratum size is corpus-global; land "
                   "the stream, then balance in a downstream batch job "
                   "(MIXTURE_SAMPLE is the stream-safe fixed-rate "
                   "alternative)"),
    "URL_CANONICALIZE": Stage(_url_canonicalize_transform),
    "IMPORTANCE_RESAMPLE": Stage(
        _importance_resample_transform, takes_spec=True,
        batch_only=" (the raw-corpus feature histogram is corpus-global); "
                   "train the histograms offline, then score the stream "
                   "with a broadcast join against the frozen bucket-score "
                   "table"),
    "MARKUP_STRIP": Stage(_markup_strip_transform),
    "CDC_SCD2_APPLY": Stage(
        _cdc_scd2_transform, takes_spec=True,
        batch_only=" (version bounding needs the whole key group); land "
                   "the feed, then apply each landed batch downstream"),
    "ASSIGN_SPLIT": Stage(_assign_split_transform),
    "PRIORITY_SAMPLE": Stage(
        _priority_sample_transform,
        batch_only="; the exact-size cut is a corpus-global top-k; land "
                   "the stream, then sample the landed batch downstream "
                   "(MIXTURE_SAMPLE is the stream-safe fixed-rate "
                   "alternative)"),
    "QUOTA_SAMPLE": Stage(
        _quota_sample_transform,
        batch_only="; per-stratum exact sizes are corpus-global top-k "
                   "cuts; land the stream, then sample the landed batch "
                   "downstream (MIXTURE_SAMPLE is the stream-safe "
                   "fixed-rate alternative)"),
    "HARD_NEGATIVES": Stage(
        _hard_negatives_transform, takes_spec=True,
        batch_only=" (the per-anchor top-k and best-positive max need the "
                   "whole corpus snapshot); land the stream, then mine "
                   "each landed snapshot downstream"),
    "WINDOW_MINHASH_DEDUP": Stage(
        _window_minhash_dedup_transform,
        batch_only="; the banded LSH self-join and exact verify need a "
                   "corpus snapshot; land the stream, then dedup each "
                   "landed batch downstream "
                   "(streaming.windows.stream_content_dedup is the "
                   "stream-safe exact-content alternative)"),
    "GAPFILL": Stage(
        _gapfill_transform,
        batch_only="; the dense grid bounds and the LOCF/interpolation "
                   "windows are feed-global; run the streaming rollup "
                   "(streaming.windows.time_bucket_rollup) to land bucket "
                   "aggregates incrementally, then gap-fill the landed "
                   "table downstream"),
    "COUNTER_RATE": Stage(
        _counter_rate_transform,
        batch_only="; sample-to-sample lag needs each series' full "
                   "ordered history; keep the last sample per series in "
                   "keyed state (streaming.stateful, "
                   "applyInPandasWithState) to emit deltas incrementally, "
                   "or land the stream and roll up each landed batch "
                   "downstream"),
    "OHLC": _rollup("ohlc", _ohlc_params),
    "TIME_WEIGHTED_AVG": _rollup(
        "time_weighted_avg", _time_weighted_avg_params,
        carried="the carried sample is the previous bucket's last row"),
    "STATE_DURATIONS": _rollup(
        "state_durations", _state_durations_params,
        merge_extra=("state_col",),
        carried="the carried state is the previous bucket's last sample"),
    "HEARTBEAT_UPTIME": _rollup(
        "heartbeat_uptime", _heartbeat_uptime_params,
        carried="the carried beat is the previous bucket's last sample"),
    "LTTB": Stage(
        _lttb_transform,
        batch_only="; the largest-triangle selection is sequential over "
                   "each series' complete point set; land the stream, "
                   "then downsample each landed slice downstream (the "
                   "per-bucket rollups — OHLC, TIME_WEIGHTED_AVG — are "
                   "the incremental alternatives)"),
    "TREND": _rollup("trend", _trend_params),
    "INSTANT_RATE": _rollup("instant_rate", _instant_rate_params),
    "VALUE_HISTOGRAM": _rollup("value_histogram", _value_histogram_params,
                               merge_extra=("bin",)),
    "DELTA": _rollup("delta", _delta_params),
    "VALUE_STATS": _rollup("value_stats", _value_stats_params),
    "CHANGES": _rollup("changes", _changes_params),
    "VALUE_TOPK": Stage(
        _value_topk_transform,
        batch_only="; the frequency ranking is two chained aggregations "
                   "(per-value counts, then the rank cut) — not ONE "
                   "streaming query; land the stream, then rank each "
                   "landed batch downstream (VALUE_HISTOGRAM is the "
                   "stream-safe distribution rollup)"),
    "ASOF_JOIN": Stage(
        _asof_join_transform, takes_spec=True,
        batch_only=" (the union-window argmax needs each key's ordered "
                   "history); for bounded-lookback stream enrichment use "
                   "streaming.windows.stream_interval_join, or land the "
                   "stream and enrich each landed batch downstream"),
}


def streaming_merge_keys(spec) -> list[str] | None:
    """The FULL group key of a streaming rollup stage's output — what the
    update-mode continuous-aggregate upsert merges micro-batches on
    (sources/writers.rollup_upsert_writer), read from the stage's
    ``Rollup`` entry in ``STAGES``. Update mode emits only the groups
    changed per batch, so the sink must know the key to avoid deleting
    sibling groups in a touched bucket partition. Returns None for
    stages without a twin (a raw update-mode SQL aggregate declares
    destination.details.merge_keys itself)."""
    tr = getattr(spec, "transformation", None)
    stage = STAGES.get(tr.type.upper()) if tr is not None and tr.type \
        else None
    if stage is None or stage.twin is None:
        return None
    return stage.twin.merge_keys(tr.parameters or {})
