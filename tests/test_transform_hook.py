"""U1 pluggable Python transform stage (CoreLibInterfaces.java:98-103):
DataFrame-level and Arrow-batched pandas hooks loaded from a script path."""
import textwrap

import pytest
from pyspark.sql import functions as F

from etl_load_spark.plans.builder import build_plan
from etl_load_spark.spec import JobSpec


def make_spec(tmp_path, script_body, rows="id long, v string"):
    script = tmp_path / "user_transform.py"
    script.write_text(textwrap.dedent(script_body))
    src = tmp_path / "src.json"
    src.write_text('{"id": 1, "v": "a"}\n{"id": 2, "v": "b"}\n')
    return JobSpec.from_dict({
        "jobId": "t",
        "source": {"type": "FILE_JSON", "details": {"path": str(src)}},
        "transformation": {"type": "PYTHON_SCRIPT",
                           "scriptPath": str(script),
                           "parameters": {"suffix": "_x"}},
    })


def test_dataframe_hook(spark, tmp_path):
    spec = make_spec(tmp_path, """
        from pyspark.sql import functions as F
        def transform(df, spark, params):
            return df.withColumn("v", F.concat("v", F.lit(params["suffix"])))
    """)
    out = {(r.id, r.v) for r in build_plan(spark, spec).collect()}
    assert out == {(1, "a_x"), (2, "b_x")}


def test_pandas_hook_arrow_batched(spark, tmp_path):
    spec = make_spec(tmp_path, """
        def transform_pandas(pdf, params):
            pdf["v"] = pdf["v"] + params["suffix"]
            return pdf
    """)
    df = build_plan(spark, spec)
    out = {(r.id, r.v) for r in df.collect()}
    assert out == {(1, "a_x"), (2, "b_x")}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_missing_hook_raises(spark, tmp_path):
    spec = make_spec(tmp_path, "x = 1\n")
    with pytest.raises(ValueError, match="neither transform"):
        build_plan(spark, spec)


def test_none_type_is_passthrough(spark, tmp_path):
    spec = make_spec(tmp_path, "def transform(df, spark, p): return None\n")
    spec.transformation.type = "NONE"
    out = {(r.id, r.v) for r in build_plan(spark, spec).collect()}
    assert out == {(1, "a"), (2, "b")}


def _corpus_spec(tmp_path, tr_type, params):
    a16 = " ".join(f"a{i}" for i in range(16))
    b16 = " ".join(f"b{i}" for i in range(16))
    rows = [
        {"doc_id": 1, "source": "web", "text": f"{a16} {b16}"},
        {"doc_id": 2, "source": "web", "text": a16},          # dup passage
        {"doc_id": 3, "source": "books", "text": "the " + b16},
        {"doc_id": 4, "source": "web", "text": "tiny"},
    ]
    import json as _json
    src = tmp_path / "docs.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))
    return JobSpec.from_dict({
        "jobId": "corpus-stage",
        "source": {"type": "FILE_JSON", "details": {"path": str(src)}},
        "transformation": {"type": tr_type, "parameters": params},
    })


def test_passage_dedup_stage(spark, tmp_path):
    """Declarative PASSAGE_DEDUP: repeated passages vanish, emptied docs
    drop, other columns survive."""
    spec = _corpus_spec(tmp_path, "PASSAGE_DEDUP", {"blockTokens": 16})
    out = {r.doc_id: r for r in build_plan(spark, spec).collect()}
    assert set(out) == {1, 3, 4}           # doc 2 fully deduped away
    assert out[1].text.startswith("a0 ") and "b0" in out[1].text
    assert out[3].source == "books"        # non-text columns preserved


def test_quality_filter_stage_modes(spark, tmp_path):
    """Declarative QUALITY_FILTER: filter mode drops failing rows;
    annotate mode appends per-rule booleans + keep."""
    spec = _corpus_spec(tmp_path, "QUALITY_FILTER",
                        {"minWords": 10, "minStopwords": 0})
    got = {r.doc_id for r in build_plan(spark, spec).collect()}
    assert got == {1, 2, 3}                # doc 4 ("tiny") fails minWords
    spec2 = _corpus_spec(tmp_path, "QUALITY_FILTER",
                         {"minWords": 10, "minStopwords": 0,
                          "mode": "annotate"})
    rows = {r.doc_id: r for r in build_plan(spark, spec2).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[4].keep is False and rows[4].r_word_count is False
    assert rows[1].keep is True


def test_mixture_sample_stage(spark, tmp_path):
    """Declarative MIXTURE_SAMPLE: weight-1 sources keep everything,
    weight-0 drop everything; missing weights raise."""
    spec = _corpus_spec(tmp_path, "MIXTURE_SAMPLE",
                        {"weights": {"web": 1.0, "books": 0.0}})
    got = {r.doc_id for r in build_plan(spark, spec).collect()}
    assert got == {1, 2, 4}
    with pytest.raises(ValueError, match="weights"):
        build_plan(spark, _corpus_spec(tmp_path, "MIXTURE_SAMPLE", {}))


def test_quality_classifier_stage(spark, tmp_path):
    """Declarative QUALITY_CLASSIFIER: filter mode keeps positively-scored
    docs only; annotate mode appends the score columns."""
    spec = _corpus_spec(tmp_path, "QUALITY_CLASSIFIER",
                        {"keepThreshold": -1.1, "mode": "annotate"})
    rows = {r.doc_id: r for r in build_plan(spark, spec).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert all(-1.0 <= r.mean_weight <= 1.0 for r in rows.values())
    assert all(r.keep for r in rows.values())  # threshold below range
    spec2 = _corpus_spec(tmp_path, "QUALITY_CLASSIFIER",
                         {"keepThreshold": 1.1})  # above range: drop all
    assert build_plan(spark, spec2).count() == 0


def test_semantic_dedup_stage(spark, tmp_path):
    """Declarative SEMANTIC_DEDUP: the higher id of each same-direction
    duplicate pair is dropped."""
    import json as _json
    rows = [{"vec_id": 1, "embedding": [1.0, 0.0, 0.0, 0.0]},
            {"vec_id": 2, "embedding": [2.0, 0.0, 0.0, 0.0]},  # dup of 1
            {"vec_id": 3, "embedding": [0.0, 1.0, 0.0, 0.0]}]
    src = tmp_path / "vecs.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))
    spec = JobSpec.from_dict({
        "jobId": "semdedup-stage",
        "source": {"type": "FILE_JSON",
                   "details": {"path": str(src),
                               "schema": "vec_id bigint, embedding array<float>"}},
        "transformation": {"type": "SEMANTIC_DEDUP",
                           "parameters": {"threshold": 0.95, "nCells": 2}},
    })
    got = {r.vec_id for r in build_plan(spark, spec).collect()}
    assert got == {1, 3}


def test_decontaminate_stage_modes(spark, tmp_path):
    """Declarative DECONTAMINATE: docs sharing a verbatim n-gram with
    extraSources.eval drop in filter mode and get counted in annotate
    mode; a missing eval source is a clear error."""
    import json as _json
    a16 = " ".join(f"a{i}" for i in range(16))
    ev = tmp_path / "eval.json"
    ev.write_text(_json.dumps({"doc_id": 100, "text": a16}))
    base = _corpus_spec(tmp_path, "DECONTAMINATE", {"ngram": 8})
    spec = JobSpec.from_dict({
        "jobId": "decontam-stage",
        "source": {"type": "FILE_JSON",
                   "details": {"path": str(tmp_path / "docs.json")}},
        "extraSources": {"eval": {"type": "FILE_JSON",
                                  "details": {"path": str(ev)}}},
        "transformation": {"type": "DECONTAMINATE",
                           "parameters": {"ngram": 8}},
    })
    got = {r.doc_id for r in build_plan(spark, spec).collect()}
    assert got == {3, 4}                   # docs 1/2 carry eval 8-grams
    spec.transformation.parameters["mode"] = "annotate"
    rows = {r.doc_id: r for r in build_plan(spark, spec).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].n_shared_ngrams > 0 and rows[2].n_shared_ngrams > 0
    assert rows[3].n_shared_ngrams == 0 and rows[4].n_shared_ngrams == 0
    with pytest.raises(ValueError, match="extraSources.eval"):
        build_plan(spark, base)


def test_cluster_balance_stage_modes(spark, tmp_path):
    """Declarative CLUSTER_BALANCE: annotate mode assigns every row a
    cluster; filter mode returns the balanced sample with the smallest
    cluster intact."""
    import json as _json
    rows = ([{"vec_id": i, "label": 0, "embedding": [1.0, float(i % 3)]}
             for i in range(40)]
            + [{"vec_id": 100 + i, "label": 1, "embedding": [0.0, 1.0]}
               for i in range(3)])
    src = tmp_path / "vecs.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))
    mk = lambda params: JobSpec.from_dict({
        "jobId": "balance-stage",
        "source": {"type": "FILE_JSON",
                   "details": {"path": str(src),
                               "schema": "vec_id bigint, label int,"
                                         " embedding array<float>"}},
        "transformation": {"type": "CLUSTER_BALANCE", "parameters": params},
    })
    ann = build_plan(spark, mk({"mode": "annotate"})).collect()
    assert len(ann) == 43 and all(r.cluster in (0, 1) for r in ann)
    small = {r.vec_id for r in ann if r.cluster == 1}
    kept = build_plan(spark, mk({})).collect()
    kept_ids = {r.vec_id for r in kept}
    assert small <= kept_ids               # smallest cluster survives whole
    assert len(kept_ids) < 43              # the big cluster was thinned


def test_chunk_documents_stage(spark, tmp_path):
    """Declarative CHUNK_DOCUMENTS: the row shape becomes the chunk
    relation; overlap repeats the shared tokens in consecutive chunks."""
    spec = _corpus_spec(tmp_path, "CHUNK_DOCUMENTS",
                        {"chunkTokens": 8, "overlap": 2})
    rows = build_plan(spark, spec).collect()
    assert set(rows[0].asDict()) == {"doc_id", "chunk_no", "chunk_text",
                                     "n_tokens"}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1 has 32 tokens -> chunks start at 0,6,12,... (stride 6)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_no)
    assert len(c1) == 5 and c1[0].n_tokens == 8
    t0, t1 = c1[0].chunk_text.split(" "), c1[1].chunk_text.split(" ")
    assert t0[-2:] == t1[:2]              # 2-token overlap
    # a tiny doc still yields exactly one (short) chunk
    assert len(by_doc[4]) == 1 and by_doc[4][0].n_tokens == 1


def test_lm_surprisal_stage(spark, tmp_path):
    """Declarative LM_SURPRISAL: annotate appends the surprisal columns
    (NULL for <2-token docs); filter keeps the predictable head and
    REQUIRES an explicit maxBits cut."""
    spec = _corpus_spec(tmp_path, "LM_SURPRISAL", {"mode": "annotate"})
    rows = {r.doc_id: r for r in build_plan(spark, spec).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[4].bits_per_bigram is None        # "tiny": no bigrams
    assert rows[1].n_bigrams == 31 and rows[1].bits_per_bigram > 0
    # doc 2 is a verbatim prefix of doc 1 -> at least as predictable
    assert rows[2].bits_per_bigram <= rows[1].bits_per_bigram
    cut = rows[2].bits_per_bigram
    spec2 = _corpus_spec(tmp_path, "LM_SURPRISAL", {"maxBits": cut})
    kept = {r.doc_id for r in build_plan(spark, spec2).collect()}
    assert 2 in kept and 4 not in kept            # scoreless docs drop
    assert all(rows[d].bits_per_bigram <= cut for d in kept)
    # corpus-relative cut (CCNet's form): keepQuantile 1.0 keeps every
    # SCORED doc; the scoreless doc still drops
    spec3 = _corpus_spec(tmp_path, "LM_SURPRISAL", {"keepQuantile": 1.0})
    assert ({r.doc_id for r in build_plan(spark, spec3).collect()}
            == {1, 2, 3})
    with pytest.raises(ValueError, match="exactly one"):
        build_plan(spark, _corpus_spec(tmp_path, "LM_SURPRISAL", {}))
    with pytest.raises(ValueError, match="exactly one"):
        build_plan(spark, _corpus_spec(
            tmp_path, "LM_SURPRISAL", {"maxBits": 5, "keepQuantile": 0.5}))
    with pytest.raises(ValueError, match="keepQuantile"):
        build_plan(spark, _corpus_spec(
            tmp_path, "LM_SURPRISAL", {"keepQuantile": 1.5}))


def test_cross_source_dedup_stage(spark, tmp_path):
    """Declarative CROSS_SOURCE_DEDUP: identical content keeps one
    survivor by source priority; distinct content and non-text columns
    survive; missing priority raises."""
    a16 = " ".join(f"a{i}" for i in range(16))
    rows = [
        {"doc_id": 1, "source": "web", "text": a16},
        {"doc_id": 2, "source": "books", "text": a16},   # dup, preferred src
        {"doc_id": 3, "source": "web", "text": "unique text here"},
    ]
    import json as _json
    src = tmp_path / "xs.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))
    spec = JobSpec.from_dict({
        "jobId": "xs", "source": {"type": "FILE_JSON",
                                  "details": {"path": str(src)}},
        "transformation": {"type": "CROSS_SOURCE_DEDUP",
                           "parameters": {"priority": ["books", "web"]}},
    })
    out = {r.doc_id: r for r in build_plan(spark, spec).collect()}
    assert set(out) == {2, 3}              # books copy beats web's min id
    assert out[2].source == "books"        # full row survives
    with pytest.raises(ValueError, match="priority"):
        build_plan(spark, JobSpec.from_dict({
            "jobId": "xs2", "source": {"type": "FILE_JSON",
                                       "details": {"path": str(src)}},
            "transformation": {"type": "CROSS_SOURCE_DEDUP",
                               "parameters": {}}}))


def test_token_budget_stage(spark, tmp_path):
    """Declarative TOKEN_BUDGET: a tiny budget keeps exactly the boundary
    document per source; unbudgeted sources drop; missing budgets
    raise."""
    spec = _corpus_spec(tmp_path, "TOKEN_BUDGET",
                        {"budgets": {"web": 1}})
    out = [r.doc_id for r in build_plan(spark, spec).collect()]
    assert len(out) == 1                   # budget 1 -> one boundary doc
    assert out[0] in {1, 2, 4}             # a web doc; books unbudgeted
    with pytest.raises(ValueError, match="budgets"):
        build_plan(spark, _corpus_spec(tmp_path, "TOKEN_BUDGET", {}))


def test_assign_shards_stage(spark, tmp_path):
    """Declarative ASSIGN_SHARDS: every row gains a stable shard in
    [0, nShards); re-running assigns identically (pure projection)."""
    spec = _corpus_spec(tmp_path, "ASSIGN_SHARDS", {"nShards": 4})
    a = {(r.doc_id, r.shard) for r in build_plan(spark, spec).collect()}
    b = {(r.doc_id, r.shard) for r in build_plan(spark, spec).collect()}
    assert a == b and len(a) == 4
    assert all(0 <= s < 4 for _, s in a)


def test_sequence_pack_stage_modes(spark, tmp_path):
    """Declarative SEQUENCE_PACK: annotate mode keeps every row and
    appends a gap-free packing manifest; manifest mode returns the
    doc-level manifest alone."""
    spec = _corpus_spec(tmp_path, "SEQUENCE_PACK", {"seqLen": 8})
    out = {r.doc_id: r for r in build_plan(spark, spec).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[3].source == "books"        # original columns survive
    width = sum(r.n_tokens + 1 for r in out.values())
    assert max(r.start_off + r.n_tokens + 1 for r in out.values()) == width
    assert all(r.n_seqs == r.last_seq - r.first_seq + 1
               for r in out.values())
    man = build_plan(spark, _corpus_spec(
        tmp_path, "SEQUENCE_PACK", {"seqLen": 8, "mode": "manifest"}))
    assert set(man.columns) == {"doc_id", "n_tokens", "start_off",
                                "first_seq", "last_seq", "n_seqs"}
    assert man.count() == 4


def test_incremental_dedup_stage(spark, tmp_path):
    """Declarative INCREMENTAL_DEDUP: content already admitted (even as
    a whitespace/case variant) drops; within-batch copies collapse to
    the min id; missing extraSources.history raises; historyBloom
    returns the identical set."""
    import json as _json
    hist = tmp_path / "hist.json"
    hist.write_text(_json.dumps({"doc_id": 0,
                                 "text": "an admitted document"}))
    batch = tmp_path / "batch.json"
    rows = [
        {"doc_id": 1, "text": "An  Admitted   DOCUMENT"},  # variant → drop
        {"doc_id": 2, "text": "a fresh document"},
        {"doc_id": 3, "text": "a fresh document"},         # batch copy
        {"doc_id": 4, "text": "another fresh one"},
    ]
    batch.write_text("\n".join(_json.dumps(r) for r in rows))

    def spec(extra, params=None):
        d = {
            "jobId": "inc-stage",
            "source": {"type": "FILE_JSON", "details": {"path": str(batch)}},
            "transformation": {"type": "INCREMENTAL_DEDUP",
                               "parameters": params or {}},
        }
        if extra:
            d["extraSources"] = {"history": {
                "type": "FILE_JSON", "details": {"path": str(hist)}}}
        return JobSpec.from_dict(d)

    got = {r.doc_id for r in build_plan(spark, spec(True)).collect()}
    assert got == {2, 4}
    bloomed = {r.doc_id for r in build_plan(
        spark, spec(True, {"historyBloom": True})).collect()}
    assert bloomed == got
    with pytest.raises(ValueError, match="history"):
        build_plan(spark, spec(False))


def test_quantize_embeddings_stage(spark, tmp_path):
    """Declarative QUANTIZE_EMBEDDINGS: a pure projection appending the
    SQ8 calibration + code columns; dirty rows (empty array, NaN-free
    contract) keep their row with NULL quantization fields."""
    import json as _json
    src = tmp_path / "emb.json"
    rows = [{"vec_id": 1, "embedding": [0.0, 1.0, 2.0, 4.0]},
            {"vec_id": 2, "embedding": [3.0, 3.0, 3.0, 3.0]},  # constant
            {"vec_id": 3, "embedding": []}]                    # degenerate
    src.write_text("\n".join(_json.dumps(r) for r in rows))
    spec = JobSpec.from_dict({
        "jobId": "quant-stage",
        "source": {"type": "FILE_JSON", "details": {"path": str(src)}},
        "transformation": {"type": "QUANTIZE_EMBEDDINGS", "parameters": {}},
    })
    out = {r.vec_id: r for r in build_plan(spark, spec).collect()}
    assert set(out) == {1, 2, 3}           # row shape preserved
    assert out[1].q_min == 0.0 and out[1].q_max == 4.0
    assert out[1].codes == "0,63,127,255"
    assert out[2].codes == "0,0,0,0"       # constant vector → all zeros
    assert out[3].q_min is None and out[3].codes is None


def test_stratified_sample_stage(spark, tmp_path):
    """Declarative STRATIFIED_SAMPLE: every stratum thins to the
    minority stratum's size; row shape preserved."""
    spec = _corpus_spec(tmp_path, "STRATIFIED_SAMPLE",
                        {"stratumColumn": "source"})
    out = [r for r in build_plan(spark, spec).collect()]
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.doc_id)
    # books has 1 doc (the minority) → exactly 1 doc kept per stratum
    assert {k: len(v) for k, v in by_src.items()} == {"web": 1, "books": 1}
    assert by_src["books"] == [3]


def test_url_canonicalize_stage(spark, tmp_path):
    """Declarative URL_CANONICALIZE: appends the canonical URL (and the
    registered domain when asked); missing urlColumn raises."""
    import json as _json
    src = tmp_path / "urls.json"
    rows = [{"doc_id": 1,
             "url": "HTTPS://WWW.Example.COM:443/a//?utm_source=x&b=1#f"},
            {"doc_id": 2, "url": "http://sub.site.org/path/"}]
    src.write_text("\n".join(_json.dumps(r) for r in rows))

    def spec(params):
        return JobSpec.from_dict({
            "jobId": "url-stage",
            "source": {"type": "FILE_JSON", "details": {"path": str(src)}},
            "transformation": {"type": "URL_CANONICALIZE",
                               "parameters": params},
        })

    out = {r.doc_id: r for r in build_plan(
        spark, spec({"urlColumn": "url",
                     "domainColumn": "domain"})).collect()}
    assert out[1].canonical_url == "https://example.com/a?b=1"
    assert out[1].domain == "example.com"
    assert out[2].canonical_url == "http://sub.site.org/path"
    assert out[2].domain == "site.org"
    with pytest.raises(ValueError, match="urlColumn"):
        build_plan(spark, spec({}))


def test_importance_resample_stage_modes(spark, tmp_path):
    """Declarative IMPORTANCE_RESAMPLE: annotate appends the DSIR score
    columns; filter keeps the most target-like keepQuantile fraction;
    missing extraSources.target / keepQuantile raise."""
    import json as _json
    src = tmp_path / "corpus.json"
    rows = (
        [{"doc_id": i,
          "text": "alpha beta gamma " + " ".join(
              f"t{i}w{j}" for j in range(6))} for i in range(8)]
        + [{"doc_id": 100 + i,
            "text": "zeta eta theta " + " ".join(
                f"u{i}w{j}" for j in range(6))} for i in range(8)])
    src.write_text("\n".join(_json.dumps(r) for r in rows))
    tgt = tmp_path / "target.json"
    tgt.write_text("\n".join(_json.dumps(
        {"doc_id": 1000 + i, "text": "alpha beta gamma alpha beta"})
        for i in range(4)))

    def spec(params, with_target=True):
        d = {
            "jobId": "dsir-stage",
            "source": {"type": "FILE_JSON", "details": {"path": str(src)}},
            "transformation": {"type": "IMPORTANCE_RESAMPLE",
                               "parameters": params},
        }
        if with_target:
            d["extraSources"] = {"target": {
                "type": "FILE_JSON", "details": {"path": str(tgt)}}}
        return JobSpec.from_dict(d)

    ann = {r.doc_id: r for r in build_plan(
        spark, spec({"mode": "annotate"})).collect()}
    assert len(ann) == 16 and ann[1].n_feats is not None
    # alpha/beta/gamma docs must out-score the zeta family
    lo = {r for r in ann if r >= 100}
    hi = {r for r in ann if r < 100}
    assert min(ann[r].bits_per_feat for r in hi) > \
        max(ann[r].bits_per_feat for r in lo)
    kept = {r.doc_id for r in build_plan(
        spark, spec({"keepQuantile": 0.5})).collect()}
    # the target-like half survives; the cut is an actual data value
    # (percentile), so docs TIED at the boundary score are included —
    # any extra survivor must sit exactly on the cut
    assert hi <= kept
    cut_score = max(ann[r].bits_per_feat for r in lo)
    assert all(ann[r].bits_per_feat == cut_score for r in kept - hi)
    with pytest.raises(ValueError, match="keepQuantile"):
        build_plan(spark, spec({}))
    with pytest.raises(ValueError, match="target"):
        build_plan(spark, spec({"keepQuantile": 0.5}, with_target=False))
    # an empty target must fail loudly, not NULL-score the corpus
    with pytest.raises(ValueError, match="no non-NULL"):
        build_plan(spark, spec({"keepQuantile": 0.5,
                                "targetFilter": "doc_id < 0"}))


def test_markup_strip_stage(spark, tmp_path):
    """Declarative MARKUP_STRIP: cleaned text + boilerplate stats
    appended; withStats=false skips the signal columns; in-place clean
    via outputColumn=textColumn."""
    import json as _json
    src = tmp_path / "pages.json"
    rows = [{"doc_id": 1,
             "text": '<p>Hello <b>world</b></p><a href="/x">nav</a>'},
            {"doc_id": 2, "text": "plain"}]
    src.write_text("\n".join(_json.dumps(r) for r in rows))

    def spec(params):
        return JobSpec.from_dict({
            "jobId": "strip-stage",
            "source": {"type": "FILE_JSON", "details": {"path": str(src)}},
            "transformation": {"type": "MARKUP_STRIP", "parameters": params},
        })

    out = {r.doc_id: r for r in build_plan(spark, spec({})).collect()}
    assert out[1].clean_text == "Hello world nav"
    assert out[1].n_tags == 6 and out[1].n_links == 1
    assert out[1].link_chars == 3
    assert out[2].clean_text == "plain" and out[2].n_tags == 0
    lean = build_plan(spark, spec({"withStats": False,
                                   "outputColumn": "text"}))
    assert set(lean.columns) == {"doc_id", "text"}
    assert {r.text for r in lean.collect()} == {"Hello world nav", "plain"}


def test_assign_split_stage(spark, tmp_path):
    """Declarative ASSIGN_SPLIT: deterministic group-keyed split — all
    rows of one group share a split across re-runs; custom splits must
    sum to 100; missing groupColumn raises."""
    spec = _corpus_spec(tmp_path, "ASSIGN_SPLIT",
                        {"groupColumn": "source"})
    a = {(r.doc_id, r.split) for r in build_plan(spark, spec).collect()}
    b = {(r.doc_id, r.split) for r in build_plan(spark, spec).collect()}
    assert a == b and len(a) == 4
    by_src = {}
    for r in build_plan(spark, spec).collect():
        by_src.setdefault(r.source, set()).add(r.split)
    assert all(len(v) == 1 for v in by_src.values())  # no group straddles
    with pytest.raises(ValueError, match="groupColumn"):
        build_plan(spark, _corpus_spec(tmp_path, "ASSIGN_SPLIT", {}))
    with pytest.raises(ValueError, match="sum to"):
        build_plan(spark, _corpus_spec(
            tmp_path, "ASSIGN_SPLIT",
            {"groupColumn": "source", "splits": [["train", 60],
                                                 ["test", 60]]}))


def test_priority_sample_stage(spark, tmp_path):
    """Declarative PRIORITY_SAMPLE: exactly `size` rows, row shape
    preserved, deterministic across runs; missing params raise."""
    import json as _json
    rows = [{"doc_id": i, "source": "web", "w": 10 + i} for i in range(40)]
    src = tmp_path / "wdocs.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))

    def spec(params):
        return JobSpec.from_dict({
            "jobId": "psample-stage",
            "source": {"type": "FILE_JSON", "details": {"path": str(src)}},
            "transformation": {"type": "PRIORITY_SAMPLE",
                               "parameters": params},
        })

    out = build_plan(spark, spec({"size": 12, "weightColumn": "w"}))
    got = out.collect()
    assert len(got) == 12 and len({r.doc_id for r in got}) == 12
    assert set(out.columns) == {"doc_id", "source", "w"}  # shape preserved
    again = build_plan(spark, spec({"size": 12, "weightColumn": "w"}))
    assert {r.doc_id for r in again.collect()} == {r.doc_id for r in got}
    with pytest.raises(ValueError, match="PRIORITY_SAMPLE parameters"):
        build_plan(spark, spec({"size": 12}))
    with pytest.raises(ValueError, match="PRIORITY_SAMPLE parameters"):
        build_plan(spark, spec({"weightColumn": "w"}))


def test_quota_sample_stage(spark, tmp_path):
    """Declarative QUOTA_SAMPLE: exact per-stratum sizes (clamped to the
    stratum), unlisted strata excluded, row shape preserved; missing
    quotas raises."""
    spec = _corpus_spec(tmp_path, "QUOTA_SAMPLE",
                        {"quotas": {"web": 2, "books": 5},
                         "stratumColumn": "source"})
    out = build_plan(spark, spec)
    by_src = {}
    for r in out.collect():
        by_src.setdefault(r.source, []).append(r.doc_id)
    assert {k: len(v) for k, v in by_src.items()} == {"web": 2, "books": 1}
    assert set(out.columns) == {"doc_id", "source", "text"}
    with pytest.raises(ValueError, match="quotas"):
        build_plan(spark, _corpus_spec(tmp_path, "QUOTA_SAMPLE",
                                       {"stratumColumn": "source"}))


def test_hard_negatives_stage(spark, tmp_path):
    """Declarative HARD_NEGATIVES: anchors from anchorPredicate over the
    corpus; per-anchor top-k cross-label rows, positives never mined;
    neither anchors source nor predicate raises."""
    import json as _json
    rows = [{"vec_id": i, "label": i % 2,
             "embedding": [1.0, float(i) / 10, 0.25 * (i % 4)]}
            for i in range(12)]
    src = tmp_path / "vecs.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))

    def spec(params):
        return JobSpec.from_dict({
            "jobId": "hardneg-stage",
            "source": {"type": "FILE_JSON", "details": {"path": str(src)}},
            "transformation": {"type": "HARD_NEGATIVES",
                               "parameters": params},
        })

    out = build_plan(spark, spec({"anchorPredicate": "vec_id < 2",
                                  "k": 3})).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {0, 1}
    for q, lst in by_q.items():
        assert len(lst) == 3
        assert all(r.n_id % 2 != q % 2 for r in lst)   # cross-label only
        assert [r.rank for r in sorted(lst, key=lambda r: r.rank)] == [1, 2, 3]
    with pytest.raises(ValueError, match="anchors"):
        build_plan(spark, spec({}))


def test_window_minhash_dedup_stage(spark, tmp_path):
    """Declarative WINDOW_MINHASH_DEDUP (VERDICT r6 #4 — q171 as product
    surface): docs sharing a near-dup PARAGRAPH pair up even when their
    whole-doc similarity is tiny; the higher id of each pair drops
    (SEMANTIC_DEDUP survivorship), row shape is preserved, and the
    operator's integral-id contract surfaces through the stage."""
    import json as _json
    para = " ".join(f"shared{i}" for i in range(16))     # >= window+stride
    uniq = lambda tag: " ".join(f"{tag}{i}" for i in range(24))  # noqa: E731
    rows = [
        {"doc_id": 1, "source": "web", "text": f"{uniq('a')} {para}"},
        {"doc_id": 2, "source": "books", "text": f"{para} {uniq('b')}"},
        {"doc_id": 3, "source": "web", "text": uniq("c")},
    ]
    src = tmp_path / "wmdocs.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))

    def spec(params, schema=None):
        d = {"path": str(src)}
        if schema:
            d["schema"] = schema
        return JobSpec.from_dict({
            "jobId": "wmdedup-stage",
            "source": {"type": "FILE_JSON", "details": d},
            "transformation": {"type": "WINDOW_MINHASH_DEDUP",
                               "parameters": params},
        })

    out = build_plan(spark, spec({"windowTokens": 8, "stride": 4}))
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 3}                 # doc 2 = higher id of the pair
    assert got[1].source == "web"             # non-text columns preserved
    assert set(out.columns) == {"doc_id", "source", "text"}
    # an impossible window-pair floor keeps everything
    all_kept = build_plan(spark, spec({"windowTokens": 8, "stride": 4,
                                       "minWindowPairs": 99}))
    assert {r.doc_id for r in all_kept.collect()} == {1, 2, 3}
    # the operator's integral-id contract surfaces through the stage
    with pytest.raises(ValueError, match="integral"):
        build_plan(spark, spec(
            {"windowTokens": 8, "stride": 4},
            schema="doc_id string, source string, text string"))


def test_gapfill_stage(spark, tmp_path):
    """Declarative GAPFILL (q172 as product surface): a (key, ts, value)
    feed resamples onto the dense GLOBAL bucket grid; interior gaps
    carry LOCF and interpolate linearly, leading buckets are NULL for
    both fills, and the non-default bucket/column parameters route
    through."""
    import json as _json
    rows = [
        {"uid": 1, "at": "2024-01-01T06:00:00", "v": 10.0},
        {"uid": 1, "at": "2024-01-03T06:00:00", "v": 30.0},
        {"uid": 2, "at": "2024-01-02T00:00:00", "v": 5.0},
    ]
    src = tmp_path / "gapfill_feed.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))

    def spec(params):
        return JobSpec.from_dict({
            "jobId": "gapfill-stage",
            "source": {"type": "FILE_JSON",
                       "details": {"path": str(src),
                                   "schema": "uid bigint, at timestamp,"
                                             " v double"}},
            "transformation": {"type": "GAPFILL", "parameters": params},
        })

    out = build_plan(spark, spec({"keyColumn": "uid", "tsColumn": "at",
                                  "valueColumn": "v"}))
    assert out.columns == ["uid", "bucket_ts", "val", "locf_val",
                           "interp_val"]
    got = {(r.uid, r.bucket_ts.day): (r.val, r.locf_val, r.interp_val)
           for r in out.collect()}
    assert len(got) == 6                       # 2 series x 3 global days
    assert got[(1, 2)] == (None, 10.0, 20.0)   # interior gap: locf+interp
    assert got[(2, 1)] == (None, None, None)   # leading gap: all NULL
    assert got[(2, 3)] == (None, 5.0, None)    # trailing: locf only


def test_counter_rate_stage(spark, tmp_path):
    """Declarative COUNTER_RATE (q173 as product surface): reset
    detection and the bucketed increase/rate route through the spec
    path with non-default column names."""
    import json as _json
    rows = [
        {"eid": 1, "uid": 1, "at": "2024-01-01T01:00:00", "v": 10.0},
        {"eid": 2, "uid": 1, "at": "2024-01-01T02:00:00", "v": 25.0},
        {"eid": 3, "uid": 1, "at": "2024-01-01T03:00:00", "v": 4.0},
    ]
    src = tmp_path / "counter_feed.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))
    spec = JobSpec.from_dict({
        "jobId": "counter-rate-stage",
        "source": {"type": "FILE_JSON",
                   "details": {"path": str(src),
                               "schema": "eid bigint, uid bigint,"
                                         " at timestamp, v double"}},
        "transformation": {"type": "COUNTER_RATE",
                           "parameters": {"keyColumn": "uid",
                                          "tsColumn": "at",
                                          "valueColumn": "v",
                                          "orderColumn": "eid"}},
    })
    out = build_plan(spark, spec).collect()
    assert len(out) == 1
    r = out[0]
    # 10 -> 25 (+15) -> reset to 4 (+4): increase 19, one reset
    assert (r.n_samples, r.n_resets, r.increase) == (3, 1, 19.0)
    assert r.rate_per_sec == 0.0002            # 19/86400 half-up @4


def test_ohlc_stage(spark, tmp_path):
    """Declarative OHLC (q174 as product surface): the candlestick
    contract (open = first by (ts, order), close = last, high/low
    extremes, count) routes through the spec path with non-default
    column names — and the key-domain guard surfaces through the stage
    (a negative order id fails loudly, never mis-orders)."""
    import json as _json
    import pytest as _pytest
    rows = [
        {"eid": 2, "kind": "x", "at": "2024-01-01T01:00:00", "v": 50.0},
        {"eid": 1, "kind": "x", "at": "2024-01-01T01:00:00", "v": 10.0},
        {"eid": 3, "kind": "x", "at": "2024-01-01T02:00:00", "v": 99.0},
        {"eid": 4, "kind": "x", "at": "2024-01-01T03:00:00", "v": 2.0},
    ]
    src = tmp_path / "ohlc_feed.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))

    def spec(rows_path):
        return JobSpec.from_dict({
            "jobId": "ohlc-stage",
            "source": {"type": "FILE_JSON",
                       "details": {"path": str(rows_path),
                                   "schema": "eid bigint, kind string,"
                                             " at timestamp, v double"}},
            "transformation": {"type": "OHLC",
                               "parameters": {"typeColumn": "kind",
                                              "tsColumn": "at",
                                              "valueColumn": "v",
                                              "orderColumn": "eid"}},
        })

    out = build_plan(spark, spec(src)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.kind, r.open, r.high, r.low, r.close, r.n_events) == \
        ("x", 10.0, 99.0, 2.0, 2.0, 4)
    bad = tmp_path / "ohlc_bad.json"
    bad.write_text(_json.dumps(
        {"eid": -1, "kind": "x", "at": "2024-01-01T01:00:00", "v": 1.0}))
    with _pytest.raises(Exception, match="non-negative"):
        build_plan(spark, spec(bad)).collect()


def test_time_weighted_avg_stage(spark, tmp_path):
    """Declarative TIME_WEIGHTED_AVG (q175 as product surface): the
    hold-time weighting routes through the spec path — a value held
    18h then replaced for 6h averages 0.75/0.25, not the equally-
    weighted 0.5/0.5."""
    import json as _json
    rows = [
        {"eid": 1, "uid": 1, "at": "2024-01-01T00:00:00", "v": 10.0},
        {"eid": 2, "uid": 1, "at": "2024-01-01T18:00:00", "v": 40.0},
    ]
    src = tmp_path / "twa_feed.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))
    spec = JobSpec.from_dict({
        "jobId": "twa-stage",
        "source": {"type": "FILE_JSON",
                   "details": {"path": str(src),
                               "schema": "eid bigint, uid bigint,"
                                         " at timestamp, v double"}},
        "transformation": {"type": "TIME_WEIGHTED_AVG",
                           "parameters": {"keyColumn": "uid",
                                          "tsColumn": "at",
                                          "valueColumn": "v",
                                          "orderColumn": "eid"}},
    })
    out = build_plan(spark, spec).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.uid, r.n_samples, r.twa) == (1, 2, 17.5)


def test_twa_stage_carry_in_param(spark, tmp_path):
    """The TIME_WEIGHTED_AVG stage's carryIn parameter selects the
    q176 interpolated contract: day 2's bucket-start span is weighted
    with day 1's carried value."""
    import json as _json
    rows = [
        {"eid": 1, "uid": 1, "at": "2024-01-01T12:00:00", "v": 10.0},
        {"eid": 2, "uid": 1, "at": "2024-01-02T06:00:00", "v": 30.0},
    ]
    src = tmp_path / "twa_carry_feed.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))

    def spec(carry):
        return JobSpec.from_dict({
            "jobId": f"twa-carry-{carry}",
            "source": {"type": "FILE_JSON",
                       "details": {"path": str(src),
                                   "schema": "eid bigint, uid bigint,"
                                             " at timestamp, v double"}},
            "transformation": {"type": "TIME_WEIGHTED_AVG",
                               "parameters": {"keyColumn": "uid",
                                              "tsColumn": "at",
                                              "valueColumn": "v",
                                              "orderColumn": "eid",
                                              "carryIn": carry}},
        })

    carried = {r.bucket_ts.day: r.twa
               for r in build_plan(spark, spec(True)).collect()}
    assert carried == {1: 10.0, 2: 25.0}     # (10*6 + 30*18)/24
    plain = {r.bucket_ts.day: r.twa
             for r in build_plan(spark, spec(False)).collect()}
    assert plain == {1: 10.0, 2: 30.0}


def test_state_durations_stage(spark, tmp_path):
    """Declarative STATE_DURATIONS (q177 as product surface): per-state
    holds/entries route through the spec path with non-default column
    names."""
    import json as _json
    rows = [
        {"eid": 1, "uid": 1, "st": "up", "at": "2024-01-01T00:00:00"},
        {"eid": 2, "uid": 1, "st": "down", "at": "2024-01-01T06:00:00"},
        {"eid": 3, "uid": 1, "st": "up", "at": "2024-01-01T08:00:00"},
    ]
    src = tmp_path / "state_feed.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))
    spec = JobSpec.from_dict({
        "jobId": "state-stage",
        "source": {"type": "FILE_JSON",
                   "details": {"path": str(src),
                               "schema": "eid bigint, uid bigint,"
                                         " st string, at timestamp"}},
        "transformation": {"type": "STATE_DURATIONS",
                           "parameters": {"keyColumn": "uid",
                                          "tsColumn": "at",
                                          "stateColumn": "st",
                                          "orderColumn": "eid"}},
    })
    h = 3600 * 1000
    got = {r.st: (r.held_ms, r.n_entries)
           for r in build_plan(spark, spec).collect()}
    assert got == {"up": (22 * h, 2), "down": (2 * h, 1)}
    # carryIn selects the q180 interpolated contract through the spec
    carry_spec = JobSpec.from_dict({
        "jobId": "state-stage-carry",
        "source": {"type": "FILE_JSON",
                   "details": {"path": str(src),
                               "schema": "eid bigint, uid bigint,"
                                         " st string, at timestamp"}},
        "transformation": {"type": "STATE_DURATIONS",
                           "parameters": {"keyColumn": "uid",
                                          "tsColumn": "at",
                                          "stateColumn": "st",
                                          "orderColumn": "eid",
                                          "carryIn": True}},
    })
    carried = {r.st: (r.held_ms, r.n_entries)
               for r in build_plan(spark, carry_spec).collect()}
    # same single-bucket feed: first sample at 00:00 -> no carry span,
    # identical to the self-contained answer (the contract only
    # diverges when a bucket starts mid-hold)
    assert carried == got


def test_heartbeat_uptime_stage(spark, tmp_path):
    """Declarative HEARTBEAT_UPTIME (q178 as product surface): the
    tolerance parameter routes through (1 hour here) and gaps/clipping
    surface in the rollup."""
    import json as _json
    rows = [
        {"eid": 1, "uid": 1, "at": "2024-01-01T00:00:00"},
        {"eid": 2, "uid": 1, "at": "2024-01-01T00:30:00"},   # 30m live
        {"eid": 3, "uid": 1, "at": "2024-01-01T05:00:00"},   # gap, then 1h
    ]
    src = tmp_path / "beat_feed.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))
    spec = JobSpec.from_dict({
        "jobId": "beat-stage",
        "source": {"type": "FILE_JSON",
                   "details": {"path": str(src),
                               "schema": "eid bigint, uid bigint,"
                                         " at timestamp"}},
        "transformation": {"type": "HEARTBEAT_UPTIME",
                           "parameters": {"keyColumn": "uid",
                                          "tsColumn": "at",
                                          "orderColumn": "eid",
                                          "tolerance": "1 hour"}},
    })
    out = build_plan(spark, spec).collect()
    assert len(out) == 1
    r = out[0]
    m = 60 * 1000
    # 00:00 live 30m, 00:30 live 60m (tol-clipped, gap), 05:00 live 60m
    assert (r.n_beats, r.uptime_ms, r.n_gaps) == (3, 150 * m, 1)


def test_asof_join_stage(spark, tmp_path):
    """Declarative ASOF_JOIN (q51 as product surface): each left row is
    enriched with the most recent extraSources.right row at or before
    its timestamp per key; tolerance drops too-old matches; a missing
    right source and a streaming job both refuse by name."""
    import json as _json
    left = tmp_path / "asof_left.json"
    left.write_text("\n".join(_json.dumps(r) for r in [
        {"eid": 1, "uid": 1, "at": "2024-01-02T00:00:00"},
        {"eid": 2, "uid": 1, "at": "2024-01-09T00:00:00"},
        {"eid": 3, "uid": 2, "at": "2024-01-02T00:00:00"},
    ]))
    right = tmp_path / "asof_right.json"
    right.write_text("\n".join(_json.dumps(r) for r in [
        {"uid": 1, "rts": "2024-01-01T00:00:00", "segment": "A"},
        {"uid": 1, "rts": "2024-01-05T00:00:00", "segment": "B"},
    ]))

    def spec(params, extra=True):
        d = {
            "jobId": "asof-stage",
            "source": {"type": "FILE_JSON",
                       "details": {"path": str(left),
                                   "schema": "eid bigint, uid bigint,"
                                             " at timestamp"}},
            "transformation": {"type": "ASOF_JOIN", "parameters": params},
        }
        if extra:
            d["extraSources"] = {"right": {
                "type": "FILE_JSON",
                "details": {"path": str(right),
                            "schema": "uid bigint, rts timestamp,"
                                      " segment string"}}}
        return JobSpec.from_dict(d)

    base = {"on": ["uid"], "leftTsColumn": "at", "rightTsColumn": "rts"}
    got = {r.eid: r.segment
           for r in build_plan(spark, spec(base)).collect()}
    assert got == {1: "A", 2: "B", 3: None}
    # tolerance: eid=1 is 1 day after 'A' (kept at 2 days), eid=2 is
    # 4 days after 'B' (dropped)
    got = {r.eid: r.segment
           for r in build_plan(spark, spec(dict(
               base, tolerance="2 days"))).collect()}
    assert got == {1: "A", 2: None, 3: None}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="extraSources"):
        build_plan(spark, spec(base, extra=False))
    # tolerance strings are validated (injection surface)
    with _pytest.raises(ValueError, match="invalid bucket"):
        build_plan(spark, spec(dict(base, tolerance="2 days; DROP")))


def test_lttb_stage(spark, tmp_path):
    """Declarative LTTB (q179 as product surface): the downsample
    routes through the spec path with non-default columns and
    resolution; the planted extreme survives, the flat filler
    doesn't."""
    import json as _json
    rows = ([{"eid": i, "uid": 1,
              "at": f"2024-01-01T{2 * i:02d}:00:00", "v": 5.0}
             for i in range(10)])
    rows[4]["v"] = 500.0                       # the peak to preserve
    src = tmp_path / "lttb_feed.json"
    src.write_text("\n".join(_json.dumps(r) for r in rows))
    spec = JobSpec.from_dict({
        "jobId": "lttb-stage",
        "source": {"type": "FILE_JSON",
                   "details": {"path": str(src),
                               "schema": "eid bigint, uid bigint,"
                                         " at timestamp, v double"}},
        "transformation": {"type": "LTTB",
                           "parameters": {"keyColumn": "uid",
                                          "tsColumn": "at",
                                          "valueColumn": "v",
                                          "orderColumn": "eid",
                                          "resolution": 4}},
    })
    out = build_plan(spark, spec).collect()
    assert len(out) == 4
    assert 500.0 in {r.v for r in out}
    assert {r.eid for r in out} >= {0, 9}      # first/last kept


def test_timeseries_stages_validate_bucket_as_spec_error(spark, tmp_path):
    """ADVICE r9: a malformed/hostile bucket parameter on any of the
    four hypertable stages fails as a clean ValueError, not a SQL
    parse error deep inside an interval expression."""
    import json as _json
    import pytest as _pytest
    src = tmp_path / "bucket_feed.json"
    src.write_text(_json.dumps(
        {"user_id": 1, "ts": "2024-01-01T00:00:00",
         "value": 1.0, "event_id": 1, "event_type": "x"}))
    schema = ("user_id bigint, ts timestamp, value double,"
              " event_id bigint, event_type string")
    for stage in ("GAPFILL", "COUNTER_RATE", "OHLC", "TIME_WEIGHTED_AVG",
                  "STATE_DURATIONS", "HEARTBEAT_UPTIME"):
        spec = JobSpec.from_dict({
            "jobId": f"bucket-{stage.lower()}",
            "source": {"type": "FILE_JSON",
                       "details": {"path": str(src), "schema": schema}},
            "transformation": {
                "type": stage,
                "parameters": {"bucket": "1 day); DROP TABLE x; --"}},
        })
        with _pytest.raises(ValueError, match="bucket"):
            build_plan(spark, spec)


def test_stage_registry_readme_and_error_in_sync(known_stage_types):
    """ADVICE r5 hit README drift once (a shipped stage missing from the
    docs); pin the three surfaces together: every STAGES table key
    appears in README.md AND in the unknown-transformation error text
    users actually see."""
    import os

    from etl_load_spark.plans import builder
    stages = set(builder.STAGES)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    readme = open(os.path.join(root, "README.md")).read()
    missing_readme = sorted(s for s in stages if s not in readme)
    missing_err = sorted(s for s in stages if s not in known_stage_types)
    assert not missing_readme, missing_readme
    assert not missing_err, missing_err


def test_window_minhash_recall_contract_documented_in_readme():
    """VERDICT r8 #4: the gapped-stride recall boundary lives in the
    operator docstring and the verify notes, but a spec author choosing
    `stride > windowTokens - ngram + 1` reads neither — pin a README
    paragraph to the same three-way-sync discipline as the stage table.
    The pin checks the paragraph exists next to the stage name, states
    the boundary inequality, cites the operator defaults that actually
    ship (inspected from the signature, not hardcoded), and points at
    the dedup.py derivation."""
    import inspect
    import os
    import re

    from etl_load_spark.operators.dedup import window_minhash_pairs
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    readme = open(os.path.join(root, "README.md")).read()
    m = re.search(r"WINDOW_MINHASH_DEDUP recall contract.*?dedup\.py",
                  readme, re.S)
    assert m, "README lost the WINDOW_MINHASH_DEDUP recall-contract note"
    para = m.group(0)
    # the boundary inequality and the gapped-stride caveat are both stated
    assert "⌊stride/2⌋ ≤ (windowTokens−ngram+1)(1−τ)/(1+τ)" in para, para
    assert "stride > windowTokens−ngram+1" in para, para
    # the cited defaults are the ones the operator ships
    sig = inspect.signature(window_minhash_pairs)
    w = sig.parameters["window_tokens"].default
    s = sig.parameters["stride"].default
    n = sig.parameters["n"].default
    tau = sig.parameters["threshold"].default
    assert f"{w}/{s}/{n} defaults" in para, (w, s, n, para)
    assert f"τ={tau}" in para, (tau, para)
    # and the shipped defaults really satisfy the all-alignment guarantee
    assert s // 2 <= (w - n + 1) * (1 - tau) / (1 + tau)
