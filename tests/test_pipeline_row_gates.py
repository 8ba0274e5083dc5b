"""run_pipeline's row gates: one gate list, counted on the write pass."""

import datetime

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sumi_agent_spark.plans.pipeline import run_pipeline

CLEAN = "the committee published a detailed report on regional water policy"
TOXIC_SPAM = "you worthless idiot loser " * 10
SHORT = "ok."
SPAM = "limited offer click here now " * 20
JUNK = "click here buy now best price free shipping limited offer"
GIBBERISH = "zxq glorp wubble qqqq snorfle blargh wibble zonk"
# scores as good prose for the classifier, but its unseen tokens lift
# the unigram LM's perplexity above the cutoff
MIXED = "the committee measured zxq glorp wubble qqqq snorfle blargh"


def _write_turns(rows, path):
    pdf = pd.DataFrame(
        [{"conv_id": c, "turn_idx": i, "role": "user", "text": t,
          "tool": "", "ts": datetime.datetime(2025, 1, 1)}
         for c, i, t in rows])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(path, index=False)


def _schema(path):
    return [(f.name, str(f.type)) for f in pq.read_table(path).schema]


def test_repetition_kernel_runs_once_per_row(spark, tmp_path, monkeypatch):
    """The repetition gate is the Arrow kernel read as a struct inside
    the gate projection above the range exchange: every row reaches the
    kernel exactly once (also rows an earlier gate drops), and neither
    the boundary-sampling job nor the keep Column's per-metric reads
    evaluate it again."""
    from sumi_agent_spark.operators import repetition

    orig = repetition.make_repetition_stats_udf
    seen = spark.sparkContext.accumulator(0)

    def counting(*args, **kw):
        inner = orig(*args, **kw)
        fn = inner.func

        @F.pandas_udf(inner.returnType)
        def counted(texts: pd.Series) -> pd.DataFrame:
            seen.add(len(texts))
            return fn(texts)
        return counted

    monkeypatch.setattr(repetition, "make_repetition_stats_udf", counting)
    rows = [(f"c{i % 7}", i, CLEAN + f" item {i}") for i in range(40)]
    rows += [("s", 0, SPAM), ("t", 0, TOXIC_SPAM)]
    inp = str(tmp_path / "in.parquet")
    _write_turns(rows, inp)
    out = str(tmp_path / "out")
    stats = run_pipeline(spark, inp, out, drop_toxic_above=0.3,
                         repetition_thresholds="gopher")
    assert seen.value == len(rows)
    assert stats["rows"] == stats["rows_in"] == 40
    assert spark.read.parquet(f"{out}/_lineage_repetition") \
        .first()["n_dropped"] == 1
    assert spark.read.parquet(f"{out}/_lineage_toxicity") \
        .first()["n_dropped"] == 1


def test_toxicity_sidecar(spark, tmp_path):
    inp = str(tmp_path / "in.parquet")
    _write_turns([("c1", 0, CLEAN), ("c1", 1, "お前はバカだ。死ね。消えろ。"),
                  ("c2", 0, None), ("c2", 1, "you are a worthless idiot")],
                 inp)
    out = str(tmp_path / "out")
    run_pipeline(spark, inp, out, drop_toxic_above=0.3)
    assert _schema(f"{out}/_lineage_toxicity") == [
        ("stage", "string"), ("n_dropped", "int64"),
        ("threshold", "double")]
    lin = spark.read.parquet(f"{out}/_lineage_toxicity").collect()
    assert [tuple(r) for r in lin] == [("toxicity", 2, 0.3)]


def _models(spark, tmp_path):
    from sumi_agent_spark.operators.lm_perplexity import (
        fit_unigram_lm, write_unigram_lm)
    from sumi_agent_spark.operators.quality_classifier import (
        fit_quality_classifier, write_quality_model)

    pos = [CLEAN, "researchers measured the thermal conductivity of the "
                  "alloy sample", "the archive preserves correspondence "
                                  "from the early modern period"]
    neg = [JUNK, "win win jackpot casino bonus claim your prize now",
           "cheap pills discount subscribe follow like share viral"]
    qc = fit_quality_classifier(
        spark.createDataFrame([(t,) for t in pos], ["text"]),
        spark.createDataFrame([(t,) for t in neg], ["text"]),
        dim=512, ngram=1, normalize=True)
    qpath = str(tmp_path / "qmodel")
    write_quality_model(spark, qc, qpath)
    lm = fit_unigram_lm(spark.createDataFrame(
        [(i, t) for i, t in enumerate(pos * 2)], ["doc_id", "text"]),
        min_count=2)
    lpath = str(tmp_path / "lm")
    write_unigram_lm(spark, lm, lpath)
    return qc, qpath, lm, lpath


def test_all_row_gates_charge_first_failing_gate(spark, tmp_path):
    """All five gates on.  A row failing several gates is counted once,
    by the earliest; per-gate counts match an independent replica built
    from the operators' stats frames; every sidecar keeps its schema."""
    from sumi_agent_spark.operators.doc_quality import gopher_quality_stats
    from sumi_agent_spark.operators.lm_perplexity import score_perplexity
    from sumi_agent_spark.operators.quality_classifier import (
        score_quality_classifier)
    from sumi_agent_spark.operators.repetition import (
        GOPHER_THRESHOLDS, repetition_stats)
    from sumi_agent_spark.operators.toxicity import toxicity_scores

    qc, qpath, lm, lpath = _models(spark, tmp_path)
    rows = [("a", 0, CLEAN), ("a", 1, TOXIC_SPAM), ("a", 2, SHORT),
            ("b", 0, SPAM), ("b", 1, JUNK), ("b", 2, GIBBERISH),
            ("b", 3, None), ("b", 4, MIXED)]
    cand = spark.createDataFrame(
        [(i, t) for i, (_, _, t) in enumerate(rows)],
        "doc_id long, text string")
    q = {r["doc_id"]: r["q"] for r in score_quality_classifier(
        cand, qc, ["doc_id"], output_col="q").collect()}
    p = {r["doc_id"]: r["p"] for r in score_perplexity(
        cand, lm, ["doc_id"], output_col="p").collect()}
    min_score = (q[0] + q[4]) / 2.0
    max_ppl = (p[0] + p[7]) / 2.0
    assert q[0] > min_score > q[4] and p[0] < max_ppl < p[7]
    rules = {"word_count": (5, None)}

    tox = {r["doc_id"]: r["toxicity"] > 0.3
           for r in toxicity_scores(cand).collect()}
    gq = {r["doc_id"]: r["word_count"] < 5
          for r in gopher_quality_stats(cand).collect()}
    rep = {r["doc_id"]: any(r[k] > v for k, v in GOPHER_THRESHOLDS.items())
           for r in repetition_stats(cand).collect()}
    fails = {i: [tox[i], gq[i], rep[i], q[i] < min_score,
                 p[i] is not None and p[i] > max_ppl]
             for i in range(len(rows))}
    # the toxic spam row fails toxicity AND repetition
    assert fails[1][0] and fails[1][2]
    expect = [0] * 5
    for f in fails.values():
        if any(f):
            expect[f.index(True)] += 1
    assert all(expect), expect  # every gate drops at least one row

    inp = str(tmp_path / "in.parquet")
    _write_turns(rows, inp)
    out = str(tmp_path / "out")
    stats = run_pipeline(
        spark, inp, out, drop_toxic_above=0.3, gopher_quality_rules=rules,
        repetition_thresholds="gopher", quality_model_path=qpath,
        quality_min_score=min_score, perplexity_model_path=lpath,
        perplexity_max=max_ppl)
    kept = {i for i, f in fails.items() if not any(f)}
    got = spark.read.parquet(out).toPandas()
    assert set(zip(got["conv_id"], got["turn_idx"])) == {
        rows[i][:2] for i in kept}
    assert stats["rows_in"] == len(kept)

    sidecars = [
        ("_lineage_toxicity", "toxicity", [("threshold", "double")]),
        ("_lineage_docquality", "gopher_quality", [("rules", "string")]),
        ("_lineage_repetition", "repetition", [("thresholds", "string")]),
        ("_lineage_quality", "quality_classifier",
         [("min_score", "double"), ("model_path", "string"),
          ("dim", "int64"), ("ngram", "int64")]),
        ("_lineage_perplexity", "lm_perplexity",
         [("max_log_ppl", "double"), ("model_path", "string"),
          ("n_tokens", "int64"), ("vocab_size", "int64"),
          ("min_count", "int64")]),
    ]
    for (path, stage, params), n in zip(sidecars, expect):
        assert _schema(f"{out}/{path}") == [
            ("stage", "string"), ("n_dropped", "int64"), *params], path
        lin = pq.read_table(f"{out}/{path}").to_pandas()
        assert lin["stage"].tolist() == [stage]
        assert lin["n_dropped"].tolist() == [n], path
    assert pq.read_table(f"{out}/_lineage_quality").to_pandas()[
        "min_score"].tolist() == [pytest.approx(min_score)]
