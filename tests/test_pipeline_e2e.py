"""End-to-end pretraining-corpus pipeline: the operators composed the way a
user of the engine would chain them. Asserts the funnel is monotone, the
output is deterministic across runs, and every stage uses the library
operators (no ad-hoc reimplementation)."""

from pyspark.sql import functions as F

from etl_load_spark.operators.corpus import (mixture_sample, passage_dedup,
                                             quality_rules)
from etl_load_spark.operators.dedup import (exact_dedup, minhash_near_dup_pairs,
                                            normalize_text)
from etl_load_spark.operators.text import (predict_lang, quality_score,
                                           token_count)
from etl_load_spark.session import read_table


def _run_pipeline(spark, sf_dir, out_dir):
    # each stage is persisted, so each count runs only its own stage
    # instead of re-running the pipeline prefix; released in the finally
    held = []

    def stage(df):
        held.append(df.persist())
        return held[-1]

    try:
        return _stages(spark, sf_dir, out_dir, stage)
    finally:
        for df in held:
            df.unpersist()


def _stages(spark, sf_dir, out_dir, stage):
    docs = stage(read_table(spark, sf_dir, "documents"))
    n0 = docs.count()

    # 1. language filter (marker-word language ID)
    lang_ok = stage(docs.withColumn("_lang", predict_lang(F.col("text")))
                    .filter(F.col("_lang") == "en"))
    n1 = lang_ok.count()

    # 2. quality gates: composite score + token bounds + Gopher-style rules
    scored = (lang_ok
              .withColumn("_q", quality_score(F.col("text")))
              .withColumn("_tok", token_count(F.col("text"))))
    r = quality_rules(F.col("text"), min_words=5)
    good = stage(scored.filter((F.col("_q") > 0) & (F.col("_tok") >= 5)
                               & r[0] & r[1] & r[2] & r[3]))
    n2 = good.count()

    # 3. exact dedup on normalized text (min doc_id survives)
    norm = good.withColumn("_norm", normalize_text(F.col("text")))
    exact = stage(exact_dedup(norm, ["_norm"], "doc_id")
                  .join(norm.select("doc_id", "text", "_tok", "source"),
                        "doc_id"))
    n3 = exact.count()

    # 3b. passage-level dedup: rebuild text from first-occurrence blocks,
    # drop documents emptied by it
    pd = passage_dedup(exact, "doc_id", "text", block_tokens=16)
    exact = stage(exact.drop("text")
                  .join(pd.filter(F.col("n_kept") > 0)
                        .select("doc_id",
                                F.col("text_deduped").alias("text")),
                        "doc_id"))
    n3b = exact.count()

    # 4. near-dedup: drop the higher id of every MinHash pair
    pairs = minhash_near_dup_pairs(exact, "doc_id", "text", threshold=0.5)
    losers = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = stage(exact.join(losers, "doc_id", "left_anti"))
    n4 = survivors.count()

    # 4b. data mixture: reweight sources (every source kept here at 1.0
    # except a 50% downsample of src0 — deterministic, reproducible)
    weights = {f"src{i}": (0.5 if i == 0 else 1.0) for i in range(20)}
    survivors = stage(mixture_sample(survivors, weights, "doc_id", "source"))
    n4b = survivors.count()

    # 5. deterministic split + write partitioned by split
    final = survivors.withColumn(
        "split",
        F.when(F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                  1, 2), 16, 10).cast("int") < 204,
               F.lit("train")).otherwise(F.lit("held_out")))
    final.write.mode("overwrite").partitionBy("split").parquet(out_dir)
    return n0, n1, n2, n3, n3b, n4, n4b


def test_corpus_pipeline_monotone_and_deterministic(spark, sf_dir, tmp_path):
    out1 = str(tmp_path / "corpus1")
    out2 = str(tmp_path / "corpus2")
    n0, n1, n2, n3, n3b, n4, n4b = _run_pipeline(spark, sf_dir, out1)
    assert n0 >= n1 >= n2 >= n3 >= n3b >= n4 >= n4b, "funnel must be monotone"
    assert n4b > 0, "pipeline must keep some documents"

    m = _run_pipeline(spark, sf_dir, out2)
    assert m == (n0, n1, n2, n3, n3b, n4, n4b), \
        "pipeline must be deterministic"
    r1 = sorted(r.doc_id for r in spark.read.parquet(out1).collect())
    r2 = sorted(r.doc_id for r in spark.read.parquet(out2).collect())
    assert r1 == r2
    splits = {r.split for r in spark.read.parquet(out1)
              .select("split").distinct().collect()}
    assert splits == {"train", "held_out"}
