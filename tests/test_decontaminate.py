"""Benchmark decontamination: exact k-gram containment vs an eval set.

Contract under test (operators/decontaminate.py): a doc quoting an exact
benchmark k-gram is flagged, a paraphrase is not, hit counts equal a
brute-force distinct-char-k-gram intersection, and the pipeline gate
drops flagged turns with a lineage sidecar.
"""

import datetime

import pytest

from sidecar_schemas import DECONTAM, schema

BENCH = [
    (0, "The quick brown fox jumps over the lazy dog by the river bank."),
    (1, "Machine translation quality is judged with held-out references."),
]

DOCS = [
    # quotes a long exact benchmark span -> contaminated
    (10, "As they say: the quick brown fox jumps over the lazy dog by "
         "the river bank. End of quote."),
    # paraphrase, no shared 13-char run -> clean
    (11, "A fast auburn fox leapt across one sleepy canine near that "
         "stream's edge."),
    # unrelated -> clean
    (12, "Completely unrelated sentence about distributed query engines "
         "and shuffle costs."),
    # quotes the second benchmark row -> contaminated
    (13, "Note that machine translation quality is judged with held-out "
         "references, per the docs."),
]


def _grams(text: str, k: int) -> set:
    if len(text) < k:
        text = text + "\x1f" * (k - len(text))
    return {text[i:i + k] for i in range(len(text) - k + 1)}


def _bench_df(spark):
    return spark.createDataFrame(BENCH, "bench_id long, text string")


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_flag_exact_vs_paraphrase(spark):
    from sumi_agent_spark.operators.decontaminate import flag_benchmark_overlap

    out = flag_benchmark_overlap(
        _docs_df(spark), "doc_id", "text", _bench_df(spark)).toPandas() \
        .set_index("doc_id").sort_index()
    assert bool(out.loc[10, "contaminated"])
    assert bool(out.loc[13, "contaminated"])
    assert not bool(out.loc[11, "contaminated"])
    assert not bool(out.loc[12, "contaminated"])
    # every doc present exactly once, zero hits reported as 0 not NULL
    assert len(out) == len(DOCS)
    assert int(out.loc[11, "n_bench_hits"]) == 0


def test_hit_counts_match_bruteforce(spark):
    """n_shingles / n_bench_hits equal distinct-char-k-gram set math."""
    from sumi_agent_spark.operators.decontaminate import flag_benchmark_overlap

    k = 13
    bench_grams = set()
    for _, t in BENCH:
        bench_grams |= _grams(t, k)
    out = flag_benchmark_overlap(
        _docs_df(spark), "doc_id", "text", _bench_df(spark), k=k) \
        .toPandas().set_index("doc_id")
    for doc_id, text in DOCS:
        g = _grams(text, k)
        assert int(out.loc[doc_id, "n_shingles"]) == len(g)
        assert int(out.loc[doc_id, "n_bench_hits"]) == len(g & bench_grams)


def test_min_hits_threshold(spark):
    from sumi_agent_spark.operators.decontaminate import flag_benchmark_overlap

    base = flag_benchmark_overlap(
        _docs_df(spark), "doc_id", "text", _bench_df(spark)).toPandas() \
        .set_index("doc_id")
    hits10 = int(base.loc[10, "n_bench_hits"])
    assert hits10 > 1
    strict = flag_benchmark_overlap(
        _docs_df(spark), "doc_id", "text", _bench_df(spark),
        min_hits=hits10 + 1).toPandas().set_index("doc_id")
    assert not bool(strict.loc[10, "contaminated"])
    loose = flag_benchmark_overlap(
        _docs_df(spark), "doc_id", "text", _bench_df(spark),
        min_hits=hits10).toPandas().set_index("doc_id")
    assert bool(loose.loc[10, "contaminated"])


def test_broadcast_false_parity(spark):
    from sumi_agent_spark.operators.decontaminate import flag_benchmark_overlap

    a = flag_benchmark_overlap(
        _docs_df(spark), "doc_id", "text", _bench_df(spark),
        broadcast=True).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = flag_benchmark_overlap(
        _docs_df(spark), "doc_id", "text", _bench_df(spark),
        broadcast=False).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert a.equals(b)


def test_broadcast_plan_shape(spark):
    """broadcast=True must not shuffle the corpus-side shingle stream: the
    probe join is a broadcast hash join (the 100 TB contract)."""
    from sumi_agent_spark.operators.decontaminate import flag_benchmark_overlap

    out = flag_benchmark_overlap(
        _docs_df(spark), "doc_id", "text", _bench_df(spark), broadcast=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_null_short_and_repeat_texts(spark):
    """NULL text never matches a real benchmark; a doc repeating one
    benchmark k-gram many times counts it once (containment, not
    frequency)."""
    from sumi_agent_spark.operators.decontaminate import flag_benchmark_overlap

    gram = BENCH[0][1][:13]
    rows = [(1, None), (2, "tiny"), (3, gram * 40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = flag_benchmark_overlap(
        docs, "doc_id", "text", _bench_df(spark)).toPandas() \
        .set_index("doc_id")
    assert not bool(out.loc[1, "contaminated"])
    assert not bool(out.loc[2, "contaminated"])
    assert bool(out.loc[3, "contaminated"])
    # repeated gram: hits bounded by the doc's DISTINCT shingles that are
    # benchmark members, far below the 40 repetitions
    assert int(out.loc[3, "n_bench_hits"]) <= int(out.loc[3, "n_shingles"])


def test_pipeline_decontaminate_gate(spark, tmp_path):
    """run_pipeline(decontaminate_against=...) drops flagged turns, counts
    them in _lineage_decontam, and leaves clean turns byte-identical."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", DOCS[0][1], "", ts),     # contaminated
        ("c1", 1, "user", DOCS[1][1], "", ts),     # paraphrase, clean
        ("c2", 0, "user", DOCS[2][1], "", ts),     # clean
        ("c2", 1, "user", DOCS[3][1], "", ts),     # contaminated
    ]
    inp = str(tmp_path / "dc_in.parquet")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").write.parquet(inp)
    bench_path = str(tmp_path / "bench.parquet")
    _bench_df(spark).write.parquet(bench_path)

    out = str(tmp_path / "dc_out")
    stats = run_pipeline(spark, inp, out,
                         decontaminate_against=bench_path)
    got = spark.read.parquet(out).toPandas()
    keys = set(zip(got["conv_id"], got["turn_idx"]))
    assert keys == {("c1", 1), ("c2", 0)}
    assert stats["n_contaminated_dropped"] == 2
    assert schema(out + "/_lineage_decontam") == DECONTAM
    side = spark.read.parquet(out + "/_lineage_decontam").toPandas()
    assert len(side) == 1
    assert int(side["n_dropped"].iloc[0]) == 2
    assert int(side["k"].iloc[0]) == 13
    assert side["benchmark_path"].iloc[0] == bench_path

    # without the gate every turn survives (the gate is the only filter)
    out2 = str(tmp_path / "dc_out_all")
    run_pipeline(spark, inp, out2)
    assert spark.read.parquet(out2).count() == 4


def test_pipeline_decontaminate_counts_rows_of_duplicate_keys(spark,
                                                             tmp_path):
    """At turn scope ``n_dropped`` counts the rows the gate removes, so
    with a contaminated key on two rows (``dedup=False``) the gate
    arithmetic still closes: ``rows_in + n_dropped`` = input rows."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", DOCS[0][1], "", ts),     # contaminated
        ("c1", 0, "user", DOCS[0][1], "", ts),     # same key, same text
        ("c1", 1, "user", DOCS[1][1], "", ts),     # clean
    ]
    inp = str(tmp_path / "dk_in.parquet")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").write.parquet(inp)
    bench_path = str(tmp_path / "bench.parquet")
    _bench_df(spark).write.parquet(bench_path)
    out = str(tmp_path / "dk_out")
    stats = run_pipeline(spark, inp, out, decontaminate_against=bench_path)
    assert stats["n_contaminated_dropped"] == 2
    side = spark.read.parquet(out + "/_lineage_decontam").toPandas()
    guards = spark.read.parquet(out + "/_lineage_guards").toPandas()
    assert side["n_dropped"].tolist() == [2]
    assert int(guards["rows_in"].iloc[0]) + 2 == len(rows)
    assert stats["rows"] == 1


def test_pipeline_decontaminate_resume_idempotent(spark, tmp_path):
    """A resumed run with the gate re-drops the same turns and writes
    nothing new when the first run completed."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", DOCS[0][1], "", ts),
        ("c1", 1, "user", DOCS[1][1], "", ts),
    ]
    inp = str(tmp_path / "dcr_in.parquet")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").write.parquet(inp)
    bench_path = str(tmp_path / "bench.parquet")
    _bench_df(spark).write.parquet(bench_path)
    out = str(tmp_path / "dcr_out")
    run_pipeline(spark, inp, out, decontaminate_against=bench_path)
    stats2 = run_pipeline(spark, inp, out, resume=True,
                          decontaminate_against=bench_path)
    assert stats2["rows"] == 0
    got = spark.read.parquet(out).toPandas()
    assert set(zip(got["conv_id"], got["turn_idx"])) == {("c1", 1)}


def _word_grams(text, n):
    import re
    toks = [x for x in re.split(r"[ \t\n\r\f\v]+", text) if x]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_word_mode_flags_quote_not_reorder(spark):
    """Word n-grams flag an exact token-sequence quote even under
    different whitespace, and don't flag a token reordering."""
    from sumi_agent_spark.operators.decontaminate import flag_benchmark_overlap

    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        "bench_id long, text string")
    rows = [
        # same token sequence with EVERY gap whitespace-mangled -> word
        # mode flags, char mode cannot (every 20-char window spans a
        # mangled gap, so no char gram survives)
        (1, "prefix words alpha  beta\tgamma  delta\nepsilon\tzeta  "
            "eta\ttheta"),
        # all benchmark tokens present but reordered -> clean
        (2, "theta eta zeta epsilon delta gamma beta alpha"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    w = flag_benchmark_overlap(docs, "doc_id", "text", bench, k=8,
                               ngrams="word").toPandas().set_index("doc_id")
    assert bool(w.loc[1, "contaminated"])
    assert not bool(w.loc[2, "contaminated"])
    c = flag_benchmark_overlap(docs, "doc_id", "text", bench, k=20,
                               ngrams="char").toPandas().set_index("doc_id")
    assert not bool(c.loc[1, "contaminated"])  # whitespace broke char grams


def test_word_mode_counts_match_bruteforce(spark):
    from sumi_agent_spark.operators.decontaminate import flag_benchmark_overlap

    n = 5
    bench_rows = [(0, "one two three four five six seven"),
                  (1, "short benchmark")]  # < n tokens: whole-text window
    doc_rows = [
        (10, "zero one two three four five six seven eight"),
        (11, "short benchmark"),           # whole-text match
        (12, "short  benchmark "),         # same tokens, messy ws -> match
        (13, "completely unrelated words about nothing here"),
        (14, None),
        (15, ""),
    ]
    bench_grams = set()
    for _, t in bench_rows:
        bench_grams |= _word_grams(t, n)
    out = flag_benchmark_overlap(
        spark.createDataFrame(doc_rows, "doc_id long, text string"),
        "doc_id", "text",
        spark.createDataFrame(bench_rows, "bench_id long, text string"),
        k=n, ngrams="word").toPandas().set_index("doc_id")
    for doc_id, text in doc_rows:
        g = _word_grams(text or "", n)
        assert int(out.loc[doc_id, "n_shingles"]) == len(g), doc_id
        assert int(out.loc[doc_id, "n_bench_hits"]) == len(g & bench_grams), doc_id
    assert bool(out.loc[11, "contaminated"])
    assert bool(out.loc[12, "contaminated"])
    assert not bool(out.loc[13, "contaminated"])
    # NULL/empty text shares the empty-token window only with an empty
    # benchmark row, which this benchmark does not contain
    assert not bool(out.loc[14, "contaminated"])
    assert not bool(out.loc[15, "contaminated"])


def test_ngrams_param_validation(spark):
    from sumi_agent_spark.operators.decontaminate import flag_benchmark_overlap

    with pytest.raises(ValueError, match="ngrams"):
        flag_benchmark_overlap(
            _docs_df(spark), "doc_id", "text", _bench_df(spark),
            ngrams="sentence")


def test_randomized_corpus_parity_both_modes(spark):
    """200 adversarial random docs over a 4-word/6-char alphabet (small on
    purpose -- forces heavy k-gram collisions, partial overlaps, repeated
    windows) match exact brute-force set math in BOTH units, including
    whitespace mangling and benchmark substrings."""
    import random

    from sumi_agent_spark.operators.decontaminate import flag_benchmark_overlap

    rng = random.Random(20260817)
    words = ["ab", "cd", "abc", "dd"]
    ws = [" ", "  ", "\t", "\n"]

    def rand_text():
        n = rng.randint(0, 20)
        return "".join(
            w + s for w, s in zip(
                (rng.choice(words) for _ in range(n)),
                (rng.choice(ws) for _ in range(n)))).rstrip()

    bench_rows = [(i, rand_text()) for i in range(8)]
    doc_rows = []
    for i in range(200):
        t = rand_text()
        if i % 5 == 0 and bench_rows[i % 8][1]:
            # splice a benchmark substring into the middle
            b = bench_rows[i % 8][1]
            cut = b[len(b) // 4: 3 * len(b) // 4]
            t = t[:len(t) // 2] + cut + t[len(t) // 2:]
        doc_rows.append((i, t))

    k_char, k_word = 7, 3
    bench_char, bench_word = set(), set()
    for _, t in bench_rows:
        bench_char |= _grams(t, k_char)
        bench_word |= _word_grams(t, k_word)

    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    bench = spark.createDataFrame(bench_rows, "bench_id long, text string")
    out_c = flag_benchmark_overlap(docs, "doc_id", "text", bench,
                                   k=k_char, ngrams="char") \
        .toPandas().set_index("doc_id")
    out_w = flag_benchmark_overlap(docs, "doc_id", "text", bench,
                                   k=k_word, ngrams="word") \
        .toPandas().set_index("doc_id")
    for doc_id, text in doc_rows:
        gc = _grams(text if len(text) else "", k_char)
        gw = _word_grams(text, k_word)
        assert int(out_c.loc[doc_id, "n_shingles"]) == len(gc), doc_id
        assert int(out_c.loc[doc_id, "n_bench_hits"]) == \
            len(gc & bench_char), doc_id
        assert int(out_w.loc[doc_id, "n_shingles"]) == len(gw), doc_id
        assert int(out_w.loc[doc_id, "n_bench_hits"]) == \
            len(gw & bench_word), doc_id


def test_overlap_report_attribution(spark):
    """benchmark_overlap_report names WHICH benchmark row leaked into
    which doc, with brute-force-exact per-pair hit counts."""
    from sumi_agent_spark.operators.decontaminate import (
        benchmark_overlap_report)

    k = 13
    both = DOCS[0][1] + " and also " + BENCH[1][1]  # quotes BOTH rows
    docs = spark.createDataFrame(DOCS + [(14, both)],
                                 "doc_id long, text string")
    rep = benchmark_overlap_report(
        docs, "doc_id", "text", _bench_df(spark), "bench_id", k=k) \
        .toPandas()
    got = {(int(r.doc_id), int(r.bench_id)): int(r.n_hits)
           for r in rep.itertuples()}
    bench_grams = {bid: _grams(t, k) for bid, t in BENCH}
    want = {}
    for doc_id, text in DOCS + [(14, both)]:
        g = _grams(text, k)
        for bid in (0, 1):
            n = len(g & bench_grams[bid])
            if n >= 1:
                want[(doc_id, bid)] = n
    assert got == want
    assert (14, 0) in got and (14, 1) in got   # both sources attributed
    assert (11, 0) not in got                  # paraphrase absent

    # containment = n_hits / that bench row's distinct gram count
    # (PaLM-style, asymmetric): doc 14 quotes row 1 in FULL -> 1.0
    cont = {(int(r.doc_id), int(r.bench_id)):
            (float(r.containment), int(r.n_bench_shingles))
            for r in rep.itertuples()}
    for (doc_id, bid), n in want.items():
        c, nb = cont[(doc_id, bid)]
        assert nb == len(bench_grams[bid])
        assert abs(c - n / nb) < 1e-12
    assert cont[(14, 1)][0] == 1.0

    # min_containment filters pairs below the ratio
    full_only = benchmark_overlap_report(
        docs, "doc_id", "text", _bench_df(spark), "bench_id", k=k,
        min_containment=0.99).toPandas()
    kept = {(int(r.doc_id), int(r.bench_id))
            for r in full_only.itertuples()}
    assert kept == {p for p, (c, _) in cont.items() if c >= 0.99}
    assert (14, 1) in kept


def test_pipeline_decontam_conversation_scope(spark, tmp_path):
    """scope="conversation": one contaminated turn drops its whole
    conversation; the lineage count is conversations, not turns."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", DOCS[0][1], "", ts),   # contaminated turn
        ("c1", 1, "user", DOCS[1][1], "", ts),   # clean sibling -> dropped
        ("c2", 0, "user", DOCS[2][1], "", ts),   # clean conv survives
    ]
    inp = str(tmp_path / "dcs_in.parquet")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").write.parquet(inp)
    bench_path = str(tmp_path / "bench.parquet")
    _bench_df(spark).write.parquet(bench_path)
    out = str(tmp_path / "dcs_out")
    stats = run_pipeline(spark, inp, out,
                         decontaminate_against=bench_path,
                         decontam_scope="conversation")
    got = spark.read.parquet(out).toPandas()
    assert set(got["conv_id"]) == {"c2"}
    assert stats["n_contaminated_dropped"] == 1  # ONE conversation
    assert schema(out + "/_lineage_decontam") == DECONTAM
    side = spark.read.parquet(out + "/_lineage_decontam").toPandas()
    assert side.iloc[0]["scope"] == "conversation"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="decontam_scope"):
        run_pipeline(spark, inp, str(tmp_path / "bad"),
                     decontaminate_against=bench_path,
                     decontam_scope="document")


def test_pipeline_decontam_min_containment(spark, tmp_path):
    """The PaLM-style per-benchmark-row containment rule: a turn grazing
    a couple of grams survives a high containment bar that the
    global-hit-count rule would have dropped it under; a full quote
    (containment 1.0) always drops."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    ts = datetime.datetime(2025, 1, 1)
    graze = BENCH[0][1][:16] + " then totally different material follows here"
    rows = [
        ("c1", 0, "user", "verbatim: " + BENCH[1][1], "", ts),  # full quote
        ("c1", 1, "user", graze, "", ts),                       # 16-char graze
        ("c2", 0, "user", DOCS[1][1], "", ts),                  # clean
    ]
    inp = str(tmp_path / "mc_in.parquet")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").write.parquet(inp)
    bench_path = str(tmp_path / "bench.parquet")
    _bench_df(spark).write.parquet(bench_path)

    # hit-count rule at min_hits=1: the graze drops too
    out_h = str(tmp_path / "mc_out_hits")
    s_h = run_pipeline(spark, inp, out_h, decontaminate_against=bench_path)
    assert s_h["n_contaminated_dropped"] == 2

    # containment rule at 0.9: only the full quote drops
    out_c = str(tmp_path / "mc_out_cont")
    s_c = run_pipeline(spark, inp, out_c,
                       decontaminate_against=bench_path,
                       decontam_min_containment=0.9)
    got = set(zip(spark.read.parquet(out_c).toPandas()["conv_id"],
                  spark.read.parquet(out_c).toPandas()["turn_idx"]))
    assert got == {("c1", 1), ("c2", 0)}
    assert s_c["n_contaminated_dropped"] == 1
    assert schema(out_c + "/_lineage_decontam") == DECONTAM
    side = spark.read.parquet(out_c + "/_lineage_decontam").toPandas()
    assert abs(float(side.iloc[0]["min_containment"]) - 0.9) < 1e-12


def test_pipeline_decontam_conversation_scope_null_conv(spark, tmp_path):
    """A contaminated turn with conv_id=NULL must still drop under
    conversation scope (plain equi-anti-joins never match NULL keys;
    the gate uses a null-safe join)."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        (None, 0, "user", DOCS[0][1], "", ts),   # contaminated, NULL conv
        (None, 1, "user", DOCS[1][1], "", ts),   # clean sibling of NULL conv
        ("c2", 0, "user", DOCS[2][1], "", ts),   # clean conv survives
    ]
    inp = str(tmp_path / "nc_in.parquet")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").write.parquet(inp)
    bench_path = str(tmp_path / "bench.parquet")
    _bench_df(spark).write.parquet(bench_path)
    out = str(tmp_path / "nc_out")
    stats = run_pipeline(spark, inp, out,
                         decontaminate_against=bench_path,
                         decontam_scope="conversation")
    got = spark.read.parquet(out).toPandas()
    assert list(got["conv_id"]) == ["c2"]  # the whole NULL conv dropped
    assert stats["n_contaminated_dropped"] == 1


# ─── fuzzy (windowed-LSH + containment) decontamination ───

EVAL_Q = ("a farmer has seventeen sheep and all but nine of them wander "
          "away through the broken fence one stormy evening so how many "
          "sheep does the farmer still have grazing in the muddy field")


def _fuzzy_fixture(spark):
    """One doc quoting a lightly PARAPHRASED eval row mid-text, one
    unrelated doc, one doc quoting a different eval row verbatim."""
    para = (EVAL_Q.replace("sheep", "goats").replace("wander", "stray")
            .replace("evening", "night").replace("field", "meadow"))
    d1 = ("intro text about agricultural word problems follows here "
          + para + " and then a long trailing discussion of the answer "
          "with worked arithmetic steps explained for students")
    d2 = ("a completely unrelated page about distributed query engines, "
          "shuffle partitioning, broadcast joins and adaptive execution "
          "with no farm animals anywhere in the running text at all")
    q2 = ("what is the capital city of the ancient kingdom described in "
          "the previous passage and in which century was it founded")
    d3 = "quiz dump: " + q2 + " answer key follows below the fold"
    docs = spark.createDataFrame(
        [("d1", d1), ("d2", d2), ("d3", d3)], ["doc_id", "text"])
    bench = spark.createDataFrame(
        [("q1", EVAL_Q), ("q2", q2)], ["bench_id", "text"])
    return docs, bench


def test_fuzzy_flags_paraphrase_not_unrelated(spark):
    """At the SAME containment-0.6 decontam rule, exact 13-grams miss
    the four-word-reworded quote (each changed word kills every long
    gram crossing it) while 7-gram fuzzy containment degrades gracefully
    and flags it -- and the unrelated doc stays clean under both."""
    from sumi_agent_spark.operators.decontaminate import (
        benchmark_overlap_report, flag_benchmark_near_overlap)

    docs, bench = _fuzzy_fixture(spark)
    exact = {(r.doc_id, r.bench_id) for r in benchmark_overlap_report(
        docs, "doc_id", "text", bench, "bench_id", k=13,
        min_containment=0.6).collect()}
    assert ("d1", "q1") not in exact  # the paraphrase hole, demonstrated
    assert ("d3", "q2") in exact      # verbatim quote: exact still works

    got = flag_benchmark_near_overlap(
        docs, "doc_id", "text", bench, "bench_id",
        threshold=0.6, shingle_k=7, window_chars=240, stride=60)
    pairs = {(r.doc_id, r.bench_id): r.containment for r in got.collect()}
    assert ("d1", "q1") in pairs and pairs[("d1", "q1")] >= 0.6
    assert ("d3", "q2") in pairs and pairs[("d3", "q2")] >= 0.9
    assert not any(d == "d2" for d, _ in pairs)


def test_fuzzy_matches_brute_oracle(spark):
    """On the fixture the LSH pass has full recall: result == the
    recall-1 brute kernel, schema and values."""
    from sumi_agent_spark.operators.decontaminate import (
        benchmark_containment_brute, flag_benchmark_near_overlap)

    docs, bench = _fuzzy_fixture(spark)
    kw = dict(threshold=0.5, shingle_k=7)
    lsh = flag_benchmark_near_overlap(
        docs, "doc_id", "text", bench, "bench_id",
        window_chars=240, stride=60, **kw)
    brute = benchmark_containment_brute(
        docs, "doc_id", "text", bench, "bench_id", **kw)
    as_set = lambda df: {(r.doc_id, r.bench_id, r.n_hits,  # noqa: E731
                          r.n_bench_shingles) for r in df.collect()}
    assert as_set(lsh) == as_set(brute)
    assert lsh.columns == brute.columns


def test_fuzzy_quote_at_tail_is_covered(spark):
    """A quote ending exactly at the doc's last character is caught: the
    explicit tail window start guarantees one FULL window covers it."""
    from sumi_agent_spark.operators.decontaminate import (
        flag_benchmark_near_overlap)

    doc = ("a very long preamble of entirely unrelated prose that rambles "
           "about storage engines and columnar formats for a while before "
           "the quote arrives " * 3) + EVAL_Q  # quote flush at the end
    docs = spark.createDataFrame([("d1", doc)], ["doc_id", "text"])
    bench = spark.createDataFrame([("q1", EVAL_Q)], ["bench_id", "text"])
    got = flag_benchmark_near_overlap(
        docs, "doc_id", "text", bench, "bench_id",
        threshold=0.9, shingle_k=7, window_chars=240, stride=60)
    assert [(r.doc_id, r.bench_id) for r in got.collect()] == [("d1", "q1")]


def test_pipeline_decontam_fuzzy_mode(spark, tmp_path):
    """decontam_mode='fuzzy': a turn quoting a lightly PARAPHRASED eval
    row drops (the exact-mode gate keeps it at the same containment
    bar), a clean turn survives, and the lineage row records the mode."""
    import datetime as _dt

    from sumi_agent_spark.plans.pipeline import run_pipeline

    ts = _dt.datetime(2025, 1, 1)
    para = (EVAL_Q.replace("sheep", "goats").replace("wander", "stray")
            .replace("evening", "night").replace("field", "meadow"))
    rows = [
        ("c1", 0, "user", "context before the quote " + para + " and a "
                          "short trailing remark about the answer", "", ts),
        ("c2", 0, "user", "a completely unrelated turn about broadcast "
                          "joins, shuffle partitioning and adaptive "
                          "query execution in columnar engines", "", ts),
    ]
    inp = str(tmp_path / "fz_in.parquet")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").write.parquet(inp)
    bench_path = str(tmp_path / "fz_bench.parquet")
    spark.createDataFrame([(EVAL_Q,)], ["text"]).write.parquet(bench_path)

    # exact mode at the same containment bar misses the paraphrase
    out_e = str(tmp_path / "fz_out_exact")
    se = run_pipeline(spark, inp, out_e,
                      decontaminate_against=bench_path,
                      decontam_k=13, decontam_min_containment=0.6)
    assert se["n_contaminated_dropped"] == 0

    out = str(tmp_path / "fz_out")
    stats = run_pipeline(spark, inp, out,
                         decontaminate_against=bench_path,
                         decontam_mode="fuzzy", decontam_k=7,
                         decontam_min_containment=0.6)
    got = spark.read.parquet(out).toPandas()
    assert set(got["conv_id"]) == {"c2"}
    assert stats["n_contaminated_dropped"] == 1
    assert schema(out + "/_lineage_decontam") == DECONTAM
    side = spark.read.parquet(out + "/_lineage_decontam").toPandas()
    assert side.iloc[0]["mode"] == "fuzzy"

    with pytest.raises(ValueError, match="min_containment"):
        run_pipeline(spark, inp, str(tmp_path / "fz_bad"),
                     decontaminate_against=bench_path,
                     decontam_mode="fuzzy")
    with pytest.raises(ValueError, match="char"):
        run_pipeline(spark, inp, str(tmp_path / "fz_bad2"),
                     decontaminate_against=bench_path,
                     decontam_mode="fuzzy", decontam_ngrams="word",
                     decontam_min_containment=0.6)
