"""Repetition-signal suite (operators/repetition.py): hand-computed
metric values, edge cases, cross-engine determinism properties, and the
Gopher-threshold filter."""

import re as _re
from collections import Counter

import pytest

from sumi_agent_spark.operators.repetition import (
    GOPHER_THRESHOLDS,
    LINE_SPLIT,
    PARA_SPLIT,
    WS_CLASS,
    _r6,
    repetition_filter,
    repetition_keep_condition,
    repetition_stats,
)


def _stats(spark, rows, **kw):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = repetition_stats(df, **kw)
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_dup_line_fracs_hand_computed(spark):
    # 4 lines: "a" twice (1 char each), "bb" once, "ccc" once
    # dup_line_frac = 2/4; char frac = 2*1 / (2*1 + 2 + 3) = 2/7
    text = "a\nbb\na\nccc"
    s = _stats(spark, [(0, text)], top_ns=(), dup_ns=())[0]
    assert s["dup_line_frac"] == pytest.approx(0.5)
    assert s["dup_line_char_frac"] == pytest.approx(round(2 / 7, 6))
    # one paragraph (no blank line) -> no para dups
    assert s["dup_para_frac"] == 0.0


def test_dup_para_fracs(spark):
    # paragraphs split on blank lines; "x\ny" appears twice of three
    text = "x\ny\n\nzz\n\nx\ny"
    s = _stats(spark, [(0, text)], top_ns=(), dup_ns=())[0]
    assert s["dup_para_frac"] == pytest.approx(round(2 / 3, 6))
    # chars: dup paras 2*3, total 3+2+3
    assert s["dup_para_char_frac"] == pytest.approx(round(6 / 8, 6))
    # lines: x,y,zz,x,y -> 4 of 5 duplicated
    assert s["dup_line_frac"] == pytest.approx(0.8)


def test_top_ngram_char_frac(spark):
    # tokens: the cat the cat sat -> 2-grams: "the cat" x2, "cat the",
    # "cat sat"; top = "the cat" (7 chars) * 2 = 14 over len(text)
    text = "the cat the cat sat"
    s = _stats(spark, [(0, text)], top_ns=(2,), dup_ns=())[0]
    assert s["top2_char_frac"] == pytest.approx(round(14 / len(text), 6))


def test_top_ngram_tie_breaks_to_smallest_gram(spark):
    # "b c" and "a d" both occur twice; tie -> "a d" (lexicographically
    # smallest), 2*3 chars over 15
    text = "b c b c a d a d"
    s = _stats(spark, [(0, text)], top_ns=(2,), dup_ns=())[0]
    assert s["top2_char_frac"] == pytest.approx(round(6 / 15, 6))


def test_top_ngram_singleton_is_not_repetition(spark):
    # every 2-gram unique -> the top gram occurs once -> 0.0, however
    # large its share of a short text
    s = _stats(spark, [(0, "alpha beta gamma")], top_ns=(2,),
               dup_ns=())[0]
    assert s["top2_char_frac"] == 0.0


def test_dup_ngram_char_frac_and_cap(spark):
    # "a b a b a b": 2-grams a b, b a, a b, b a, a b -> "a b" x3 +
    # "b a" x2, all duplicated, chars 5*3=15 > len 11 -> capped at 1.0
    text = "a b a b a b"
    s = _stats(spark, [(0, text)], top_ns=(), dup_ns=(2,))[0]
    assert s["dup2_char_frac"] == 1.0
    # no duplicated 2-gram -> 0
    s2 = _stats(spark, [(0, "p q r s")], top_ns=(), dup_ns=(2,))[0]
    assert s2["dup2_char_frac"] == 0.0


def test_empty_null_and_short_texts(spark):
    rows = [(0, ""), (1, None), (2, "one")]
    s = _stats(spark, rows)
    for d in range(3):
        for k, v in s[d].items():
            if k != "doc_id":
                assert v == 0.0, (d, k, v)
    # whitespace-only lines are still units: " " twice of three lines
    # (the operator does not trim -- documented; length gates kill such
    # docs anyway)
    sw = _stats(spark, [(9, "  \n \n ")], top_ns=(), dup_ns=())[9]
    assert sw["dup_line_frac"] == pytest.approx(round(2 / 3, 6))
    assert sw["dup_para_frac"] == 0.0


def test_unicode_whitespace_not_a_token_split(spark):
    # U+3000 must NOT split tokens (explicit ASCII class): the ideographic-
    # space-joined pair is ONE token, so no 2-gram repeats
    text = "x　y a x　y a"
    s = _stats(spark, [(0, text)], top_ns=(2,), dup_ns=(2,))[0]
    # tokens: [x　y, a, x　y, a] -> "x　y a" twice of 3
    assert s["dup2_char_frac"] > 0
    assert s["top2_char_frac"] == pytest.approx(
        round(2 * 5 / len(text), 6))


def test_partitioning_invariance(spark):
    rows = [(i, f"tok{i % 3} " * (i % 5 + 1) + "\nend\nend") for i in
            range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    b = {r["doc_id"]: r
         for r in repetition_stats(df.repartition(7)).collect()}
    assert a == b


def test_rounding_matches_spark_round_at_repr_midpoints(spark):
    """The kernel's _r6 must reproduce F.round(x, 6) EXACTLY.  Spark
    rounds HALF_UP over the shortest decimal repr (BigDecimal.valueOf);
    quantizing the exact binary expansion diverges on fractions like
    3/640 whose shortest repr is a decimal midpoint while the double
    sits just below it -- this is the regression test for that bug."""
    from pyspark.sql import functions as F

    from sumi_agent_spark.operators.repetition import _r6

    fracs = [3 / 640, 1 / 128, 5 / 1280, 7 / 4000, 123 / 16000,
             1 / 3, 2 / 3, 0.0, 1.0, 1e-7, 3 / 641]
    got = [r[0] for r in spark.createDataFrame(
        [(v,) for v in fracs], ["x"]).select(F.round("x", 6)).collect()]
    assert [(v, _r6(v)) for v in fracs] == list(zip(fracs, got))
    # end-to-end: one duplicated line 3x among 640 lines -> 3/640, a
    # repr-midpoint fraction
    text = "\n".join(["dup", "dup", "dup"]
                     + [f"u{i}" for i in range(637)])
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    row = repetition_stats(df).collect()[0]
    assert row["dup_line_frac"] == got[0]  # == Spark's round(3/640, 6)


def test_plan_is_one_vectorized_pass_no_shuffle(spark):
    # r7 shape: one Arrow-vectorized batch kernel, zero Exchange -- no
    # per-row pickled Python (BatchEvalPython) and no corpus shuffle
    # (the pre-r7 explode+groupBy paid 11 of them)
    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    plan = repetition_stats(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan
    # at most the fan_out repartition -- never the 11 groupBy exchanges
    assert plan.count("Exchange") <= 1


def test_gopher_filter_drops_breaching_doc(spark):
    clean = ("a quick brown fox jumps over the lazy dog and then "
             "wanders far away to the quiet river bank before dusk")
    spam = "buy now " * 50
    df = spark.createDataFrame([(0, clean), (1, spam)],
                               ["doc_id", "text"])
    kept = repetition_filter(df)
    assert [r["doc_id"] for r in kept.collect()] == [0]


def test_custom_thresholds_and_validation(spark):
    df = spark.createDataFrame([(0, "x\nx\ny")], ["doc_id", "text"])
    # dup_line_frac = 2/3: passes at 0.7, fails at 0.5
    assert repetition_filter(
        df, thresholds={"dup_line_frac": 0.7}).count() == 1
    assert repetition_filter(
        df, thresholds={"dup_line_frac": 0.5}).count() == 0
    stats = repetition_stats(df, top_ns=(), dup_ns=())
    with pytest.raises(ValueError, match="not in the stats frame"):
        repetition_keep_condition(stats, {"top2_char_frac": 0.2})


def _write_turns(rows, path):
    import datetime

    import pandas as pd
    pdf = pd.DataFrame(
        [{"conv_id": c, "turn_idx": i, "role": "user", "text": t,
          "tool": "", "ts": datetime.datetime(2025, 1, 1)}
         for c, i, t in rows])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(path, index=False)


CLEAN_TURN = ("the committee reviewed the annual water report and "
              "noted several measured improvements across districts")
SPAM_TURN = "limited offer click here now " * 20


def test_pipeline_repetition_gate(spark, tmp_path):
    """The gate drops Gopher-breaching turns pre-scrub, counts them in
    the _lineage_repetition sidecar, and validates its config."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    inp = str(tmp_path / "in.parquet")
    _write_turns([("c1", 0, CLEAN_TURN), ("c1", 1, SPAM_TURN),
                  ("c2", 0, CLEAN_TURN + " again")], inp)
    out = str(tmp_path / "out")
    stats = run_pipeline(spark, inp, out,
                         repetition_thresholds="gopher")
    got = spark.read.parquet(out).toPandas()
    assert set(zip(got["conv_id"], got["turn_idx"])) == {
        ("c1", 0), ("c2", 0)}
    lin = spark.read.parquet(f"{out}/_lineage_repetition").toPandas()
    assert lin["n_dropped"].tolist() == [1]
    assert "top2_char_frac=0.2" in lin["thresholds"][0]
    assert stats["rows_in"] == 2

    with pytest.raises(ValueError, match="gopher"):
        run_pipeline(spark, inp, str(tmp_path / "o2"),
                     repetition_thresholds="nonsense")
    with pytest.raises(ValueError, match="empty"):
        run_pipeline(spark, inp, str(tmp_path / "o2"),
                     repetition_thresholds={})
    with pytest.raises(ValueError, match="not in the stats frame"):
        run_pipeline(spark, inp, str(tmp_path / "o2"),
                     repetition_thresholds={"no_such_metric": 0.5})


def test_pipeline_repetition_gate_resume(spark, tmp_path):
    """Resume composes: the per-row-independent gate re-drops the same
    spam and appends nothing for written keys."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    inp = str(tmp_path / "in.parquet")
    _write_turns([("c1", 0, CLEAN_TURN), ("c1", 1, SPAM_TURN)], inp)
    out = str(tmp_path / "out")
    run_pipeline(spark, inp, out, repetition_thresholds="gopher")
    s2 = run_pipeline(spark, inp, out, resume=True,
                      repetition_thresholds="gopher")
    assert s2["rows"] == 0
    assert len(spark.read.parquet(out).toPandas()) == 1


EDGE_TEXTS = [
    "a\nbb\na\nccc",
    "x\ny\n\nzz\n\nx\ny",
    "the cat the cat sat",
    "b c b c a d a d",
    "a b a b a b",
    "buy now " * 50,
    "x　y a x　y a",
    "",
    None,
    "one",
    "  \n \n ",
    "tok0 tok1 tok2 " * 7 + "\nend\nend",
]


def _py_repetition_metrics(text, top_ns, dup_ns):
    """Pure-Python replica of ``repetition_stats`` for ONE document --
    the parity reference pinned against the batch kernel.  Counters are
    exact ints and each metric is one float division, identical to the
    JVM's double division; rounding replicates Spark's ``F.round(x, 6)``
    exactly via the shared ``_r6`` (``BigDecimal.valueOf`` = HALF_UP over
    the shortest decimal repr; see its docstring for why neither
    ``Decimal(x)`` nor the banker's ``round`` builtin is equivalent);
    string ties compare by code point, which equals the JVM's binary
    UTF-8 collation order."""
    r6 = _r6
    text = text or ""
    total = len(text)
    out = {}
    for prefix, pattern in (("dup_line", LINE_SPLIT),
                            ("dup_para", PARA_SPLIT)):
        units = [u for u in _re.split(pattern, text) if u != ""]
        c = Counter(units)
        n = sum(c.values())
        nd = sum(v for v in c.values() if v >= 2)
        ch = sum(v * len(u) for u, v in c.items())
        chd = sum(v * len(u) for u, v in c.items() if v >= 2)
        out[f"{prefix}_frac"] = r6(nd / n) if n > 0 else 0.0
        out[f"{prefix}_char_frac"] = r6(chd / ch) if ch > 0 else 0.0
    toks = [t for t in _re.split(WS_CLASS, text) if t != ""]
    for n in top_ns:
        grams = [" ".join(toks[i:i + n])
                 for i in range(len(toks) - n + 1)]
        c = Counter(grams)
        if not c:
            out[f"top{n}_char_frac"] = 0.0
            continue
        c_top = max(c.values())
        if total <= 0 or c_top < 2:
            out[f"top{n}_char_frac"] = 0.0
            continue
        g = min(g for g, v in c.items() if v == c_top)
        out[f"top{n}_char_frac"] = r6(min(1.0, c_top * len(g) / total))
    for n in dup_ns:
        grams = [" ".join(toks[i:i + n])
                 for i in range(len(toks) - n + 1)]
        c = Counter(grams)
        dch = sum(v * len(g) for g, v in c.items() if v >= 2)
        out[f"dup{n}_char_frac"] = (
            r6(min(1.0, dch / total)) if total > 0 and dch > 0 else 0.0)
    return out


def test_python_replica_matches_spark_aggregation(spark):
    """The Python replica (_py_repetition_metrics) must reproduce the
    JVM aggregation byte-exactly on every edge text -- including the
    HALF_UP rounding and the tie-break collation."""
    rows = [(i, t) for i, t in enumerate(EDGE_TEXTS)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           repetition_stats(df).collect()}
    from sumi_agent_spark.operators.repetition import DUP_NS, TOP_NS
    for i, t in rows:
        py = _py_repetition_metrics(t, TOP_NS, DUP_NS)
        sp = {k: v for k, v in got[i].items() if k != "doc_id"}
        assert py == sp, (i, t, py, sp)


def test_repetition_stream_matches_batch_filter(spark, tmp_path):
    from sumi_agent_spark.streaming.stream_pipeline import (
        repetition_stream)
    src = str(tmp_path / "src")
    rows = [(i, t) for i, t in enumerate(EDGE_TEXTS)]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    out = str(tmp_path / "out")
    q = (repetition_stream(stream).writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    batch = {r["doc_id"] for r in
             repetition_filter(spark.read.parquet(src)).collect()}
    assert got == batch
    assert 0 < len(got) < len(EDGE_TEXTS)  # both kept and dropped rows


def test_keep_udf_rejects_unknown_metric():
    from sumi_agent_spark.operators.repetition import (
        make_repetition_keep_udf)
    with pytest.raises(ValueError, match="unknown repetition metrics"):
        make_repetition_keep_udf({"bogus_frac": 0.1})


def test_gopher_threshold_catalog_matches_default_metrics(spark):
    df = spark.createDataFrame([(0, "a b c d e f g h i j k")],
                               ["doc_id", "text"])
    stats = repetition_stats(df)
    # every catalog key is computable by the default stats frame
    repetition_keep_condition(stats, GOPHER_THRESHOLDS)
    assert set(GOPHER_THRESHOLDS) <= set(stats.columns)


def test_r6_accepts_numpy2_style_float_repr():
    """numpy >= 2 reprs a float64 as ``np.float64(0.25)``; the HALF_UP
    replica must round the value, not parse its repr."""
    from sumi_agent_spark.operators.repetition import _r6

    class Float64(float):  # numpy 2 scalar repr on a float subclass
        def __repr__(self):
            return f"np.float64({float.__repr__(self)})"

    for v in (3 / 640, 0.25, 1 / 3, 0.0):
        assert _r6(Float64(v)) == _r6(v)
    assert _r6(Float64(3 / 640)) == 0.004688
