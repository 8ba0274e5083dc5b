"""Spark end-to-end pipeline tests: byte-equality vs the Python oracle,
keep/drop F1, stable ordering, salted stats, lineage + resume.

Acceptance per BASELINE.json: keep/drop F1 >= 0.99 vs reference labels and
per-turn masked_text exact match under stable (conv_id, turn_idx) order.
Here both sides derive from the same oracle code, so equality must be exact
(F1 == 1.0) -- any drift is a real determinism bug.
"""

import pandas as pd
import pytest

from sidecar_schemas import NEARDUP, schema
from sumi_agent_spark.functions.oracle import scrub_text
from sumi_agent_spark.functions.quality import quality_frame
from sumi_agent_spark.plans.pipeline import (
    conversation_stats,
    ordered,
    pipeline_metrics,
    run_pipeline,
    scrub_transcripts,
    with_turn_rank,
)
from sumi_agent_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def fixture_pdf():
    return generate_transcripts(n_convs=30, avg_turns=8, seed=42)


@pytest.fixture(scope="module")
def scrubbed(spark, fixture_pdf):
    sdf = spark.createDataFrame(fixture_pdf)
    out = scrub_transcripts(sdf).toPandas()
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def oracle_expected(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference labels computed by the pure-Python oracle."""
    q = quality_frame(pdf["text"], pdf["role"])
    masked = [scrub_text(t)[0] for t in pdf["text"].fillna("")]
    exp = pdf[["conv_id", "turn_idx"]].copy()
    exp["masked_text"] = masked
    exp["keep"] = q["keep"].to_numpy()
    exp["drop_reason"] = q["drop_reason"].to_numpy()
    return exp.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_masked_text_byte_exact(scrubbed, fixture_pdf):
    exp = oracle_expected(fixture_pdf)
    assert len(scrubbed) == len(exp)
    mismatches = (scrubbed["masked_text"] != exp["masked_text"]).sum()
    assert mismatches == 0


def test_keep_drop_f1(scrubbed, fixture_pdf):
    exp = oracle_expected(fixture_pdf)
    tp = ((scrubbed["keep"]) & (exp["keep"])).sum()
    fp = ((scrubbed["keep"]) & (~exp["keep"])).sum()
    fn = ((~scrubbed["keep"]) & (exp["keep"])).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99
    assert (scrubbed["drop_reason"] == exp["drop_reason"]).all()


def test_fixture_content_mix(scrubbed):
    # the generator must exercise every gate
    assert {"ja", "en"} <= set(scrubbed["lang"])
    reasons = set(scrubbed["drop_reason"])
    assert {"lang", "too_short"} <= reasons
    assert (scrubbed["n_detections"] > 0).any()
    # masked rows must not leak raw emails
    leaked = scrubbed["masked_text"].str.contains(
        r"[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}", regex=True)
    assert not leaked.any()


def test_detection_sources_counted(scrubbed):
    assert (scrubbed["n_regex"] + scrubbed["n_dict"]
            + scrubbed["n_heuristic"] == scrubbed["n_detections"]).all()
    assert scrubbed["n_dict"].sum() > 0  # gazetteer names present in fixtures


def test_ordered_is_totally_sorted(spark, fixture_pdf):
    sdf = spark.createDataFrame(fixture_pdf)
    parts = ordered(sdf, num_partitions=4)
    pdf = parts.toPandas()  # collect preserves partition order
    keys = list(zip(pdf["conv_id"], pdf["turn_idx"]))
    assert keys == sorted(keys)


def test_with_turn_rank(spark, fixture_pdf):
    sdf = spark.createDataFrame(fixture_pdf.head(200))
    out = with_turn_rank(sdf).toPandas()
    g = out[out["conv_id"] == out["conv_id"].iloc[0]].sort_values("turn_idx")
    assert list(g["turn_rank"]) == list(range(1, len(g) + 1))


def test_conversation_stats_salted(spark, fixture_pdf):
    sdf = spark.createDataFrame(fixture_pdf)
    scr = scrub_transcripts(sdf)
    stats = conversation_stats(scr).toPandas()
    assert stats["n_turns"].sum() == len(fixture_pdf)
    assert (stats["n_keep"] + stats["n_drop"] == stats["n_turns"]).all()
    # hot conversations exist and dwarf the average (skew fixture)
    assert stats["n_turns"].max() > 4 * stats["n_turns"].median()


def test_pipeline_metrics_rollup(spark, fixture_pdf):
    sdf = spark.createDataFrame(fixture_pdf.head(300))
    m = pipeline_metrics(scrub_transcripts(sdf)).toPandas()
    total = m[m["lang"].isna()]["n_turns"].iloc[0]
    assert total == 300


def test_scrub_conversations_grouped(spark):
    import datetime

    from sumi_agent_spark.plans.pipeline import scrub_conversations_grouped

    rows = [
        ("c1", 0, "user", "氏名：田中 太郎\nフリガナ：タナカ タロウ", "",
         datetime.datetime(2025, 1, 1)),
        ("c1", 1, "assistant", "担当：田中 太郎 に確認します。", "",
         datetime.datetime(2025, 1, 1, 0, 1)),
        ("c2", 0, "user", "担当：田中 太郎 に確認します。", "",
         datetime.datetime(2025, 1, 2)),
    ]
    df = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    out = {(r["conv_id"], r["turn_idx"]): r["masked_text"]
           for r in scrub_conversations_grouped(df).collect()}
    # c1 turn 1: reading map from turn 0 crosses turns -> initials
    assert "T.T." in out[("c1", 1)]
    # c2 has no furigana anywhere -> kanji-initial fallback
    assert "田.太." in out[("c2", 0)] or "[氏名非公開]" in out[("c2", 0)]


def test_scrub_udf_name_initial_mode(spark):
    from pyspark.sql import functions as F

    from sumi_agent_spark.functions.udfs import make_scrub_udf
    scrub = make_scrub_udf(name_initial=True)
    df = spark.createDataFrame(
        [("氏名：田中 太郎\nフリガナ：タナカ タロウ",)], ["text"])
    out = df.select(scrub(F.col("text")).alias("s")).first()["s"]
    assert "T.T." in out["masked_text"]
    assert "田中 太郎" not in out["masked_text"]


def test_evaluation_harness(spark, fixture_pdf, scrubbed):
    from sumi_agent_spark.plans.evaluate import evaluate_against_expected
    exp = oracle_expected(fixture_pdf)
    row = evaluate_against_expected(
        spark.createDataFrame(scrubbed[["conv_id", "turn_idx", "keep",
                                        "masked_text"]]),
        spark.createDataFrame(exp[["conv_id", "turn_idx", "keep",
                                   "masked_text"]])).first()
    assert row["keep_f1"] == 1.0
    assert row["exact_rate"] == 1.0
    assert row["n_turns"] == len(fixture_pdf)


def test_run_pipeline_and_resume(spark, fixture_pdf, tmp_path):
    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    fixture_pdf.head(100).to_parquet(inp, index=False)
    stats = run_pipeline(spark, inp, out)
    assert stats["rows"] == 100
    # lineage observed on the write pass (no extra scan)
    lineage = spark.read.parquet(f"{out}/_lineage").toPandas()
    assert lineage["n_turns"].sum() == 100
    assert (lineage["n_keep"] + lineage["n_drop"] == lineage["n_turns"]).all()
    # resume: only the 50 new turns are processed, no duplicate rows
    fixture_pdf.head(150).to_parquet(inp, index=False)  # 50 new turns
    stats2 = run_pipeline(spark, inp, out, resume=True)
    assert stats2["rows"] == 50
    final = spark.read.parquet(out).toPandas()
    assert len(final) == 150
    assert final.duplicated(["conv_id", "turn_idx"]).sum() == 0
    lineage2 = spark.read.parquet(f"{out}/_lineage").toPandas()
    assert lineage2["n_turns"].sum() == 150


def test_resume_after_complete_run_keeps_null_conv_id_rows_once(
        spark, fixture_pdf, tmp_path):
    """A resume over fully-processed input writes nothing: the resume
    anti-join is null-safe, so a NULL-conv_id turn is not appended again."""
    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    pdf = fixture_pdf.head(20).copy()
    pdf.loc[pdf.index[3], "conv_id"] = None
    pdf.to_parquet(inp, index=False)
    run_pipeline(spark, inp, out)

    def written():
        return (spark.read.parquet(out).toPandas()
                .sort_values(["conv_id", "turn_idx"], na_position="first")
                .reset_index(drop=True))
    before = written()
    assert before["conv_id"].isna().sum() == 1
    stats = run_pipeline(spark, inp, out, resume=True)
    assert stats["rows"] == 0
    pd.testing.assert_frame_equal(written(), before)


def test_deduplicate_turns(spark):
    import datetime

    from sumi_agent_spark.plans.pipeline import deduplicate_turns

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", "同じ  本文 です", "", ts),
        ("c1", 1, "user", "同じ 本文  です", "", ts),   # ws-variant duplicate
        ("c0", 5, "user", "同じ 本文 です", "", ts),     # earlier key wins
        ("c2", 0, "user", "別の本文です", "", ts),
    ]
    df = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    out = deduplicate_turns(df).toPandas()
    keys = set(zip(out["conv_id"], out["turn_idx"]))
    assert keys == {("c0", 5), ("c2", 0)}  # c0 sorts before c1
    # deterministic across repartitionings
    out2 = deduplicate_turns(df.repartition(7)).toPandas()
    assert set(zip(out2["conv_id"], out2["turn_idx"])) == keys


def test_deduplicate_turns_null_text(spark):
    """NULL-text turns must not vanish (md5(NULL)=NULL never equi-joins)."""
    import datetime

    from sumi_agent_spark.plans.pipeline import deduplicate_turns

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", None, "", ts),
        ("c2", 3, "user", None, "", ts),        # NULLs dedup to the first key
        ("c1", 1, "user", "本文です", "", ts),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    out = deduplicate_turns(df).toPandas()
    keys = set(zip(out["conv_id"], out["turn_idx"]))
    assert keys == {("c1", 0), ("c1", 1)}


def test_resume_filter_propagates_corrupt_output(spark, tmp_path):
    """A corrupt/unreadable EXISTING output must raise, not reprocess all."""
    import pytest

    from sumi_agent_spark.plans.checkpoint import resume_filter

    df = spark.createDataFrame([("c1", 0)], ["conv_id", "turn_idx"])
    # missing path -> fresh start passthrough
    assert resume_filter(df, str(tmp_path / "nope")).count() == 1
    # existing dir with junk (footer read fails) -> must propagate, any type
    bad = tmp_path / "bad_out"
    bad.mkdir()
    (bad / "junk.txt").write_text("not parquet")
    with pytest.raises(Exception, match="(?i)parquet|footer|schema"):
        resume_filter(df, str(bad)).count()


def test_evaluation_catches_dropped_and_extra_rows(spark):
    from sumi_agent_spark.plans.evaluate import evaluate_against_expected

    exp = spark.createDataFrame(
        [("c1", 0, True, "a"), ("c1", 1, True, "b"), ("c2", 0, False, "c")],
        ["conv_id", "turn_idx", "keep", "masked_text"])
    got = spark.createDataFrame(  # drops (c2,0), fabricates (c9,9)
        [("c1", 0, True, "a"), ("c1", 1, True, "b"), ("c9", 9, True, "z")],
        ["conv_id", "turn_idx", "keep", "masked_text"])
    row = evaluate_against_expected(got, exp).first()
    assert row["n_missing"] == 1
    assert row["n_extra"] == 1
    assert row["n_turns"] == 2          # only matched keys scored
    assert row["exact_rate"] == 1.0     # ...and a lossy output still reads
    assert row["keep_f1"] == 1.0        # perfect on them: hence the counters


def test_retention_guard_trips_on_corrupting_transform(spark, fixture_pdf,
                                                       tmp_path):
    """A transform that destroys masked content must fail the run."""
    import pytest
    from pyspark.sql import functions as F

    from sumi_agent_spark.plans.pipeline import (
        RetentionError, run_pipeline, scrub_transcripts,
    )

    inp = str(tmp_path / "in.parquet")
    fixture_pdf.head(60).to_parquet(inp, index=False)

    def line_eater(df, **kw):  # corrupting UDF analog: blanks every line
        return scrub_transcripts(df, **kw).withColumn(
            "masked_text", F.lit(""))

    with pytest.raises(RetentionError, match="non-empty lines"):
        run_pipeline(spark, inp, str(tmp_path / "out_bad"),
                     scrub_transform=line_eater)

    def row_eater(df, **kw):  # drops a row: row-preservation must trip
        out = scrub_transcripts(df, **kw)
        return out.filter(F.col("turn_idx") != 0)

    with pytest.raises(RetentionError, match="row-preserving"):
        run_pipeline(spark, inp, str(tmp_path / "out_bad2"),
                     scrub_transform=row_eater)

    # the healthy pipeline passes the guards and records them in lineage
    stats = run_pipeline(spark, inp, str(tmp_path / "out_ok"))
    assert stats["rows_in"] == stats["rows_out"] == 60
    assert stats["lines_out"] >= 0.5 * stats["lines_in"]
    guards = spark.read.parquet(
        str(tmp_path / "out_ok") + "/_lineage_guards").toPandas()
    assert guards["stage"].tolist() == ["scrub_retention"]


def test_run_pipeline_runs_scrub_udfs_once_per_row(spark, fixture_pdf,
                                                   tmp_path):
    """The scrub stage sits above the range exchange, so its Python UDFs
    see every input row exactly once -- the boundary-sampling job reads the
    raw input, not the scrubbed frame -- and the output stays ordered."""
    import glob

    from pyspark.sql import functions as F

    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    fixture_pdf.to_parquet(inp, index=False)
    seen = spark.sparkContext.accumulator(0)

    @F.pandas_udf("string")
    def counted(masked: pd.Series) -> pd.Series:
        seen.add(len(masked))
        return masked

    def counting_scrub(df, **kw):
        # on the scrub output: a UDF feeding the scrub UDFs would be
        # evaluated once per consumer inside the chained Python worker
        return scrub_transcripts(df, **kw).withColumn(
            "masked_text", counted("masked_text"))

    stats = run_pipeline(spark, inp, out, scrub_transform=counting_scrub)
    assert stats["rows"] == len(fixture_pdf)
    assert seen.value == len(fixture_pdf)
    # the part files, in name order, are the totally ordered sequence
    got = pd.concat([pd.read_parquet(f) for f in
                     sorted(glob.glob(f"{out}/part-*.parquet"))])
    keys = list(zip(got["conv_id"], got["turn_idx"]))
    assert keys == sorted(keys)
    exp = oracle_expected(fixture_pdf)
    assert got["masked_text"].tolist() == exp["masked_text"].tolist()


def test_pipeline_byte_exact_on_rich_variants(spark):
    """End-to-end Spark scrub equals the Python oracle on the rich-PII
    (variant_level=2) fixture: fullwidth phones, bare postals, SNS labels."""
    pdf = generate_transcripts(n_convs=25, avg_turns=8, seed=99,
                               variant_level=2)
    out = scrub_transcripts(spark.createDataFrame(pdf)).toPandas() \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp = oracle_expected(pdf)
    assert (out["masked_text"] == exp["masked_text"]).all()
    assert (out["keep"] == exp["keep"]).all()
    assert (out["drop_reason"] == exp["drop_reason"]).all()


def test_pipeline_toxicity_gate(spark, tmp_path):
    """drop_toxic_above filters toxic turns pre-scrub; NULL text and clean
    turns survive, and the retention guard sees the post-gate row count."""
    import datetime

    ts = datetime.datetime(2025, 1, 1)
    rows = [
        ("c1", 0, "user", "普通の問い合わせ内容です。よろしくお願いします。", "", ts),
        ("c1", 1, "user", "お前はバカだ。死ね。消えろ。", "", ts),
        ("c2", 0, "user", None, "", ts),
        ("c2", 1, "user", "you are a worthless idiot loser", "", ts),
    ]
    inp = str(tmp_path / "tox_in.parquet")
    spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp").write.parquet(inp)
    out = str(tmp_path / "tox_out")
    stats = run_pipeline(spark, inp, out, drop_toxic_above=0.3)
    got = spark.read.parquet(out).toPandas()
    keys = set(zip(got["conv_id"], got["turn_idx"]))
    assert keys == {("c1", 0), ("c2", 0)}   # both toxic turns gated out
    assert stats["rows_in"] == stats["rows_out"] == 2


def test_near_deduplicate_turns(spark):
    import datetime

    from sumi_agent_spark.plans.pipeline import near_deduplicate_turns

    ts = datetime.datetime(2025, 1, 1)
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets slowly behind the distant mountains and rivers flow")
    rows = [
        ("c0", 0, "user", base, "", ts),
        ("c1", 3, "user", base.replace("quick", "swift"), "", ts),  # near-dup
        ("c1", 4, "user", base, "", ts),                            # exact dup
        ("c2", 0, "user", "a completely different discussion about query "
                          "engines, shuffle partitioning and skew at scale",
         "", ts),
    ]
    df = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    out, drops = near_deduplicate_turns(df, threshold=0.6)
    keys = set(zip(*(lambda p: (p["conv_id"], p["turn_idx"]))(out.toPandas())))
    # (c0, 0) is the first occurrence; its near/exact dups drop; c2 stays
    assert keys == {("c0", 0), ("c2", 0)}
    assert drops.count() == 2
    # deterministic under repartitioning
    out2, _ = near_deduplicate_turns(df.repartition(5), threshold=0.6)
    assert set(zip(*(lambda p: (p["conv_id"], p["turn_idx"]))(out2.toPandas()))) == keys


def test_run_pipeline_near_dedup_lineage(spark, fixture_pdf, tmp_path):
    """--near-dedup drops near-duplicate turns and lands the LSH capping
    counters in the _lineage_neardup sidecar (the 100 TB recall-risk
    visibility VERDICT r2 asked for, consumed by the real pipeline)."""
    import pandas as pd

    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    pdf = fixture_pdf.head(80).copy()
    # plant a near-duplicate of turn 0 late in the table
    donor = pdf.iloc[0]
    clone = donor.copy()
    clone["conv_id"] = "zz_clone"
    clone["turn_idx"] = 0
    txt = str(donor["text"]) or "fallback text for the near duplicate turn"
    clone["text"] = txt + " extra"
    pdf = pd.concat([pdf, clone.to_frame().T], ignore_index=True)
    pdf.to_parquet(inp, index=False)

    stats = run_pipeline(spark, inp, out, near_dedup_threshold=0.6)
    assert stats["n_near_dup_dropped"] >= 1
    assert stats["rows"] == len(pdf) - stats["n_near_dup_dropped"]
    nd = spark.read.parquet(f"{out}/_lineage_neardup").toPandas()
    assert len(nd) == 1
    assert nd.iloc[0]["stage"] == "near_dedup"
    assert nd.iloc[0]["n_dropped"] == stats["n_near_dup_dropped"]
    assert {"n_capped_rows", "n_capped_buckets", "max_bucket_n",
            "metrics_observed"} <= set(nd.columns)
    assert bool(nd.iloc[0]["metrics_observed"])  # pairs existed -> observed
    # retention guards still exact after the pre-scrub drop
    assert stats["rows_in"] == stats["rows_out"] == stats["rows"]


def test_run_pipeline_near_dedup_all_capped_audit(spark, tmp_path):
    """ADVICE r3: when every LSH bucket is capped the observed subtree is
    pruned (zero pairs end to end) and the sidecar used to record zeros --
    in the one run where the recall counters matter most.  The audit
    fallback must record the TRUE capping, flagged metrics_observed=False."""
    import datetime

    import pandas as pd

    ts = datetime.datetime(2025, 1, 1)
    text = ("an identical boilerplate turn repeated beyond the bucket cap "
            "so every minhash band bucket exceeds max_bucket_size")
    n = 1001  # max_bucket_size defaults to 1000 -> every bucket capped
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:05d}" for i in range(n)],
        "turn_idx": 0, "role": "user", "text": text, "tool": "",
        "ts": pd.Series([ts] * n, dtype="datetime64[us]")})
    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    pdf.to_parquet(inp, index=False)

    stats = run_pipeline(spark, inp, out, near_dedup_threshold=0.8)
    assert stats["n_near_dup_dropped"] == 0  # every candidate capped away
    nd = spark.read.parquet(f"{out}/_lineage_neardup").toPandas()
    assert len(nd) == 1
    assert not bool(nd.iloc[0]["metrics_observed"])
    # threshold 0.8 derives 16 bands; one hot bucket per band
    assert nd.iloc[0]["n_capped_buckets"] == 16
    assert nd.iloc[0]["n_capped_rows"] == 16 * n
    assert nd.iloc[0]["max_bucket_n"] == n


def _turn(conv_id, turn_idx, text):
    import datetime
    return {"conv_id": conv_id, "turn_idx": turn_idx, "role": "user",
            "text": text, "tool": "", "ts": datetime.datetime(2025, 1, 1)}


def _write_turns(rows, path):
    import pandas as pd
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(path, index=False)


def test_near_dedup_resume_reuses_drop_set(spark, tmp_path, monkeypatch):
    """A resumed run must reuse the persisted drop-set sidecar (one
    anti-join) instead of recomputing MinHash over the full input -- the
    r3 recompute-on-resume cost.  Proven by monkeypatching the LSH entry
    point to explode if called."""
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets slowly behind the distant mountains and rivers flow")
    rows = [_turn("a", 0, base),
            _turn("b", 0, base.replace("quick", "swift")),
            _turn("c", 0, "a totally different discussion about shuffle "
                          "partitioning, bucketed joins and skew at scale")]
    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    _write_turns(rows, inp)

    stats1 = run_pipeline(spark, inp, out, near_dedup_threshold=0.6)
    assert stats1["n_near_dup_dropped"] == 1  # b near-dups a

    import sumi_agent_spark.plans.pipeline as pl

    def boom(*a, **k):
        raise AssertionError("full-input LSH recomputed on resume")

    monkeypatch.setattr(pl, "near_deduplicate_turns", boom)
    stats2 = run_pipeline(spark, inp, out, resume=True,
                          near_dedup_threshold=0.6)
    assert stats2["rows"] == 0  # nothing new to write
    assert stats2["n_near_dup_dropped"] == 1  # replayed from the sidecar
    nd = spark.read.parquet(f"{out}/_lineage_neardup").toPandas()
    assert sorted(nd["drop_set_reused"]) == [False, True]
    reused = nd[nd["drop_set_reused"]].iloc[0]
    assert reused["n_dropped"] == 1
    assert not bool(reused["metrics_observed"])  # replayed, not observed
    # final output identical to the uninterrupted run
    got = spark.read.parquet(out).toPandas()
    assert set(got["conv_id"]) == {"a", "c"}

    # zero-drop inputs produce a meta-only sidecar that must also reuse
    rows2 = [_turn("x", 0, "first unique document about nothing at all"),
             _turn("y", 0, "second document on an unrelated topic entirely")]
    inp2, out2 = str(tmp_path / "in2.parquet"), str(tmp_path / "out2")
    monkeypatch.undo()
    _write_turns(rows2, inp2)
    s1 = run_pipeline(spark, inp2, out2, near_dedup_threshold=0.6)
    assert s1["n_near_dup_dropped"] == 0
    monkeypatch.setattr(pl, "near_deduplicate_turns", boom)
    s2 = run_pipeline(spark, inp2, out2, resume=True,
                      near_dedup_threshold=0.6)
    assert s2["rows"] == 0 and s2["n_near_dup_dropped"] == 0


def test_run_pipeline_conversation_near_dedup(spark, tmp_path):
    """Conversation scope drops WHOLE near-duplicate conversations --
    including their unique turns, which per-turn scope would keep."""
    t1 = ("the quick brown fox jumps over the lazy dog while the sun "
          "sets slowly behind the distant mountains and rivers flow")
    t2 = ("a second lengthy turn discussing watermarks, state stores, "
          "output modes and exactly-once semantics in streaming systems")
    t3 = "thanks, bye!"  # unique to conv b; per-turn dedup would keep it
    rows = [_turn("a", 0, t1), _turn("a", 1, t2),
            _turn("b", 0, t1.replace("quick", "swift")),
            _turn("b", 1, t2), _turn("b", 2, t3),
            _turn("c", 0, "entirely unrelated material about broadcast "
                          "joins, skew salting and partition pruning")]
    inp, out = str(tmp_path / "in.parquet"), str(tmp_path / "out")
    _write_turns(rows, inp)
    stats = run_pipeline(spark, inp, out, near_dedup_threshold=0.6,
                         near_dedup_scope="conversation")
    assert stats["n_near_dup_dropped"] == 1  # one conversation: b
    got = spark.read.parquet(out).toPandas()
    assert set(got["conv_id"]) == {"a", "c"}
    assert len(got[got["conv_id"] == "a"]) == 2  # a keeps all its turns
    nd = spark.read.parquet(f"{out}/_lineage_neardup").toPandas()
    assert nd.iloc[0]["stage"] == "near_dedup_conversations"

    # the same input at turn scope keeps conv b's unique closing turn
    out2 = str(tmp_path / "out_turns")
    run_pipeline(spark, inp, out2, near_dedup_threshold=0.6,
                 near_dedup_scope="turn")
    got2 = spark.read.parquet(out2).toPandas()
    b_turns = got2[got2["conv_id"] == "b"]
    assert list(b_turns["turn_idx"]) == [2]  # t3 survives per-turn scope


def test_conversation_near_dedup_resume_reuses_drop_set(
        spark, tmp_path, monkeypatch):
    """Conversation-scope drop sets replay from the sidecar on resume, and
    a scope mismatch in the sidecar meta forces a recompute instead of
    silently reusing turn-scope drops."""
    t1 = ("the quick brown fox jumps over the lazy dog while the sun "
          "sets slowly behind the distant mountains and rivers flow")
    rows = [_turn("a", 0, t1),
            _turn("b", 0, t1.replace("quick", "swift")),
            _turn("c", 0, "entirely different content on shuffle "
                          "partitioning and adaptive execution")]
    inp, out = str(tmp_path / "in.parquet"), str(tmp_path / "out")
    _write_turns(rows, inp)
    s1 = run_pipeline(spark, inp, out, near_dedup_threshold=0.6,
                      near_dedup_scope="conversation")
    assert s1["n_near_dup_dropped"] == 1

    import sumi_agent_spark.plans.pipeline as pl

    def boom(*a, **k):
        raise AssertionError("conversation LSH recomputed on resume")

    monkeypatch.setattr(pl, "near_deduplicate_conversations", boom)
    s2 = run_pipeline(spark, inp, out, resume=True, near_dedup_threshold=0.6,
                      near_dedup_scope="conversation")
    assert s2["rows"] == 0 and s2["n_near_dup_dropped"] == 1
    got = spark.read.parquet(out).toPandas()
    assert set(got["conv_id"]) == {"a", "c"}

    # scope mismatch: resuming the same output at TURN scope must NOT
    # reuse the conversation drop set (it would be the wrong key schema)
    monkeypatch.undo()
    s3 = run_pipeline(spark, inp, out, resume=True, near_dedup_threshold=0.6,
                      near_dedup_scope="turn")
    assert s3["n_near_dup_dropped"] == 1  # recomputed at turn scope
    nd = spark.read.parquet(f"{out}/_lineage_neardup").toPandas()
    recomputed = nd[nd["stage"] == "near_dedup"]
    assert len(recomputed) == 1 and not recomputed.iloc[0]["drop_set_reused"]


def test_run_pipeline_conversation_incremental_index(spark, tmp_path):
    """Conversation scope composes with the incremental index: slice 1
    bootstraps a GROUP-granularity index; slice 2 drops a whole
    conversation (including its unique closing turn) because its union
    shingle set near-matches an indexed corpus conversation."""
    t1 = ("the quick brown fox jumps over the lazy dog while the sun "
          "sets slowly behind the distant mountains and rivers flow")
    t2 = ("a second lengthy turn discussing watermarks, state stores, "
          "output modes and exactly-once semantics in streaming systems")
    idx = str(tmp_path / "mh_index")
    _write_turns([_turn("a", 0, t1), _turn("a", 1, t2)],
                 str(tmp_path / "s1.parquet"))
    s1 = run_pipeline(spark, str(tmp_path / "s1.parquet"),
                      str(tmp_path / "out1"), near_dedup_threshold=0.6,
                      near_dedup_scope="conversation",
                      near_dedup_index_path=idx)
    assert s1["n_near_dup_dropped"] == 0
    meta = spark.read.parquet(f"{idx}/meta").first()
    assert meta["granularity"] == "group"
    assert schema(f"{tmp_path}/out1/_lineage_neardup") == NEARDUP

    # slice 2: conv b ~ corpus conv a (plus a unique closing turn that
    # per-turn scope would keep); conv c is novel
    _write_turns([_turn("b", 0, t1.replace("quick", "swift")),
                  _turn("b", 1, t2), _turn("b", 2, "thanks, bye!"),
                  _turn("c", 0, "entirely unrelated material about "
                                "broadcast joins and partition pruning")],
                 str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_scope="conversation",
                      near_dedup_index_path=idx)
    assert s2["n_near_dup_dropped"] == 1  # one conversation: b
    got = spark.read.parquet(f"{tmp_path}/out2").toPandas()
    assert set(got["conv_id"]) == {"c"}
    nd = spark.read.parquet(f"{tmp_path}/out2/_lineage_neardup").toPandas()
    assert nd.iloc[0]["stage"] == "near_dedup_incremental"
    assert schema(f"{tmp_path}/out2/_lineage_neardup") == NEARDUP

    # slice 3: conv d ~ slice 2's KEPT conv c -> proves the grouped append
    _write_turns([_turn("d", 0, "entirely unrelated material about "
                                "broadcast joins and partition pruning!")],
                 str(tmp_path / "s3.parquet"))
    s3 = run_pipeline(spark, str(tmp_path / "s3.parquet"),
                      str(tmp_path / "out3"), near_dedup_threshold=0.6,
                      near_dedup_scope="conversation",
                      near_dedup_index_path=idx)
    assert s3["n_near_dup_dropped"] == 1 and s3["rows"] == 0

    # a TURN-scope run against the group index must fail loudly
    with pytest.raises(ValueError, match="granularity"):
        run_pipeline(spark, str(tmp_path / "s3.parquet"),
                     str(tmp_path / "out4"), near_dedup_threshold=0.6,
                     near_dedup_scope="turn", near_dedup_index_path=idx)


def test_run_pipeline_incremental_index_slices(spark, tmp_path):
    """The daily-ingest story: slice 1 bootstraps the MinHash index,
    slice 2 dedups against corpus + itself, slice 3 sees slice 2's kept
    turns via the post-write append -- never recomputing the corpus."""
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets slowly behind the distant mountains and rivers flow")
    alt = ("an entirely separate conversation about watermarks, stateful "
           "streaming operators and exactly-once sinks in production")
    idx = str(tmp_path / "mh_index")

    # slice 1: internal near-dup pair (a0 keeps, b0 drops) + unique c0
    _write_turns([_turn("a", 0, base),
                  _turn("b", 0, base.replace("quick", "swift")),
                  _turn("c", 0, alt)], str(tmp_path / "s1.parquet"))
    s1 = run_pipeline(spark, str(tmp_path / "s1.parquet"),
                      str(tmp_path / "out1"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx)
    assert s1["n_near_dup_dropped"] == 1
    nd1 = spark.read.parquet(f"{tmp_path}/out1/_lineage_neardup").toPandas()
    assert nd1.iloc[0]["stage"] == "near_dedup_bootstrap"
    assert schema(f"{tmp_path}/out1/_lineage_neardup") == NEARDUP
    assert spark.read.parquet(f"{idx}/meta").first()["threshold"] == 0.6

    # slice 2: near-dup of corpus a0, an internal pair (d keeps, e drops),
    # and a novel turn f
    novel = ("a genuinely new document introducing topics never seen in "
             "any earlier slice of this corpus whatsoever")
    _write_turns([_turn("d", 0, alt + " with a small suffix"),
                  _turn("e", 0, alt + " with a smaller suffix"),
                  _turn("f", 0, novel),
                  _turn("g", 0, base + " again")],  # ~ corpus a0
                 str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx)
    nd2 = spark.read.parquet(f"{tmp_path}/out2/_lineage_neardup").toPandas()
    assert nd2.iloc[0]["stage"] == "near_dedup_incremental"
    assert schema(f"{tmp_path}/out2/_lineage_neardup") == NEARDUP
    got2 = set(spark.read.parquet(f"{tmp_path}/out2").toPandas()["conv_id"])
    # d near-dups corpus c0 -> dropped (corpus wins); e drops (in-slice or
    # corpus); g drops vs corpus a0; f survives
    assert "f" in got2 and "g" not in got2
    assert s2["n_near_dup_dropped"] >= 2

    # slice 3: near-dup of slice 2's KEPT novel turn -> proves the append
    _write_turns([_turn("h", 0, novel + " indeed")],
                 str(tmp_path / "s3.parquet"))
    s3 = run_pipeline(spark, str(tmp_path / "s3.parquet"),
                      str(tmp_path / "out3"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx)
    assert s3["n_near_dup_dropped"] == 1
    assert s3["rows"] == 0  # the whole slice near-matched the corpus

    # threshold mismatch must fail loudly, not silently mismatch buckets
    import pytest as _pytest
    with _pytest.raises(ValueError, match="threshold"):
        run_pipeline(spark, str(tmp_path / "s3.parquet"),
                     str(tmp_path / "out4"), near_dedup_threshold=0.7,
                     near_dedup_index_path=idx)


def test_near_dedup_resume_detects_text_change(spark, tmp_path,
                                               monkeypatch):
    """Editing texts under UNCHANGED keys must invalidate the persisted
    drop set: the winner set depends on content, so the fingerprint hashes
    text too and the resumed run recomputes instead of replaying."""
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets slowly behind the distant mountains and rivers flow")
    rows = [_turn("a", 0, base),
            _turn("b", 0, base.replace("quick", "swift"))]
    inp, out = str(tmp_path / "in.parquet"), str(tmp_path / "out")
    _write_turns(rows, inp)
    s1 = run_pipeline(spark, inp, out, near_dedup_threshold=0.6)
    assert s1["n_near_dup_dropped"] == 1  # b ~ a

    # same keys, b's text replaced by something unrelated: b is no longer
    # a near-dup and must NOT be dropped by a replayed stale drop set
    rows2 = [_turn("a", 0, base),
             _turn("b", 0, "an entirely different sentence about bucketed "
                           "joins, watermark semantics and skew salting")]
    _write_turns(rows2, inp)
    s2 = run_pipeline(spark, inp, out, resume=True, near_dedup_threshold=0.6)
    assert s2["n_near_dup_dropped"] == 0  # recomputed, not replayed
    got = spark.read.parquet(out).toPandas()
    assert set(got["conv_id"]) == {"a", "b"}


def test_incremental_index_bootstrap_crash_resume_creates_index(
        spark, tmp_path, monkeypatch):
    """A bootstrap run that crashed during index creation writes zero NEW
    output rows when resumed -- the index must still be created from the
    kept set, or the bootstrap corpus silently never enters it."""
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets slowly behind the distant mountains and rivers flow")
    idx = str(tmp_path / "mh_index")
    _write_turns([_turn("a", 0, base)], str(tmp_path / "s1.parquet"))

    import sumi_agent_spark.plans.pipeline as pl

    def crash(*a, **k):
        raise RuntimeError("simulated crash during index create")

    monkeypatch.setattr(pl, "write_minhash_index", crash, raising=False)
    import sumi_agent_spark.operators.minhash_index as mhi
    real_write = mhi.write_minhash_index
    monkeypatch.setattr(mhi, "write_minhash_index", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(spark, str(tmp_path / "s1.parquet"),
                     str(tmp_path / "out1"), near_dedup_threshold=0.6,
                     near_dedup_index_path=idx)
    monkeypatch.setattr(mhi, "write_minhash_index", real_write)

    s1 = run_pipeline(spark, str(tmp_path / "s1.parquet"),
                      str(tmp_path / "out1"), resume=True,
                      near_dedup_threshold=0.6, near_dedup_index_path=idx)
    assert s1["rows"] == 0  # output already complete from the crashed run
    # ...but the index exists now, and slice 2 dedups against it
    assert spark.read.parquet(f"{idx}/shingles").count() == 1
    _write_turns([_turn("b", 0, base.replace("quick", "swift"))],
                 str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx)
    assert s2["n_near_dup_dropped"] == 1 and s2["rows"] == 0


def test_incremental_rerun_of_completed_slice_drops_preindexed(
        spark, tmp_path):
    """Re-ingesting a slice whose keys are already committed to the index
    (a duplicate export) must not re-emit corpus content: the rows drop
    with their own lineage counter, so a fresh-output re-run writes only
    genuinely new material."""
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets slowly behind the distant mountains and rivers flow")
    idx = str(tmp_path / "mh_index")
    _write_turns([_turn("a", 0, base)], str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx)

    # day-2 export re-includes conv a verbatim plus a new conv
    _write_turns([_turn("a", 0, base),
                  _turn("x", 0, "a brand new conversation about bucketed "
                                "joins and adaptive query execution")],
                 str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx)
    assert s2["n_preindexed_rows_dropped"] == 1  # conv a's re-export
    got = spark.read.parquet(f"{tmp_path}/out2").toPandas()
    assert set(got["conv_id"]) == {"x"}
    nd = spark.read.parquet(f"{tmp_path}/out2/_lineage_neardup").toPandas()
    assert nd.iloc[0]["n_preindexed_rows_dropped"] == 1
    assert nd.iloc[0]["n_preindexed_changed"] == 0  # verbatim re-export


def test_incremental_rerun_counts_changed_preindexed(spark, tmp_path):
    """A re-export whose key is committed but whose TEXT changed is still
    dropped (corpus wins on keys), but the lineage row splits it out as
    n_preindexed_changed -- the operator cannot fix it in place (that is
    reindex_docs), but it must never be silent."""
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets slowly behind the distant mountains and rivers flow")
    idx = str(tmp_path / "mh_index")
    _write_turns([_turn("a", 0, base)], str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx)

    # day-2 export: conv a's turn came back REWRITTEN + one verbatim-less
    # new conv; the changed re-export is dropped but counted separately
    _write_turns([_turn("a", 0, "this turn was completely rewritten "
                                "upstream after a redaction pass"),
                  _turn("x", 0, "a brand new conversation about bucketed "
                                "joins and adaptive query execution")],
                 str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx)
    assert s2["n_preindexed_rows_dropped"] == 1
    assert s2["n_preindexed_changed"] == 1
    got = spark.read.parquet(f"{tmp_path}/out2").toPandas()
    assert set(got["conv_id"]) == {"x"}
    nd = spark.read.parquet(f"{tmp_path}/out2/_lineage_neardup").toPandas()
    assert nd.iloc[0]["n_preindexed_changed"] == 1


def test_incremental_index_crash_before_append_resumes_clean(
        spark, tmp_path, monkeypatch):
    """Index maintenance appends LAST: a run that crashes after the main
    write but before the append leaves the index in its pre-slice state,
    so the resumed run recomputes the SAME drops against the SAME index,
    appends exactly once, and the final output + index equal an
    uninterrupted run's."""
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets slowly behind the distant mountains and rivers flow")
    idx = str(tmp_path / "mh_index")
    _write_turns([_turn("a", 0, base)], str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx)

    import sumi_agent_spark.operators.minhash_index as mhi
    import sumi_agent_spark.plans.pipeline as pl

    real_append = mhi.append_to_minhash_index

    def crash(*a, **k):
        raise RuntimeError("simulated crash before index append")

    # slice 2 writes its output, then "crashes" in index maintenance
    _write_turns([_turn("b", 0, base.replace("quick", "swift")),
                  _turn("c", 0, "an unrelated novel sentence about "
                                "broadcast joins and salting at scale")],
                 str(tmp_path / "s2.parquet"))
    monkeypatch.setattr(pl, "append_to_minhash_index", crash, raising=False)
    monkeypatch.setattr(mhi, "append_to_minhash_index", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(spark, str(tmp_path / "s2.parquet"),
                     str(tmp_path / "out2"), near_dedup_threshold=0.6,
                     near_dedup_index_path=idx)
    # the main output was written but the index still has only slice 1
    assert spark.read.parquet(f"{idx}/shingles").count() == 1

    monkeypatch.setattr(mhi, "append_to_minhash_index", real_append)
    monkeypatch.setattr(pl, "append_to_minhash_index", real_append,
                        raising=False)
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), resume=True,
                      near_dedup_threshold=0.6, near_dedup_index_path=idx)
    assert s2["rows"] == 0  # output was already complete
    assert s2["n_near_dup_dropped"] == 1  # same drops recomputed (b ~ a)
    got = spark.read.parquet(f"{tmp_path}/out2").toPandas()
    assert set(got["conv_id"]) == {"c"}
    # index now holds slice 1's turn + slice 2's kept turn, exactly once
    sh = spark.read.parquet(f"{idx}/shingles").toPandas()
    assert len(sh) == 2

    # a further slice near-matching c proves the appended entry works
    _write_turns([_turn("d", 0, "an unrelated novel sentence about "
                                "broadcast joins and salting at scale!")],
                 str(tmp_path / "s3.parquet"))
    s3 = run_pipeline(spark, str(tmp_path / "s3.parquet"),
                      str(tmp_path / "out3"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx)
    assert s3["n_near_dup_dropped"] == 1 and s3["rows"] == 0


def test_near_dedup_idempotent_under_resume(spark, tmp_path):
    """Dedup stages run on the FULL input before resume filtering: if run 1
    wrote turn A and crashed before its near-duplicate B, the resumed run
    must still form the (A, B) pair and drop B -- the final output equals
    an uninterrupted run's."""
    import datetime

    import pandas as pd

    ts = datetime.datetime(2025, 1, 1)
    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets slowly behind the distant mountains and rivers flow")
    a = {"conv_id": "a", "turn_idx": 0, "role": "user", "text": base,
         "tool": "", "ts": ts}
    b = {"conv_id": "b", "turn_idx": 0, "role": "user",
         "text": base.replace("quick", "swift"), "tool": "", "ts": ts}
    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")

    def write(rows):
        pdf = pd.DataFrame(rows)
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark-readable
        pdf.to_parquet(inp, index=False)

    write([a])  # run 1: A only
    run_pipeline(spark, inp, out, near_dedup_threshold=0.6)
    write([a, b])  # "crash", B arrives
    stats = run_pipeline(spark, inp, out, resume=True,
                         near_dedup_threshold=0.6)
    final = spark.read.parquet(out).toPandas()
    assert set(final["conv_id"]) == {"a"}  # B dropped, not resumed in
    assert stats["rows"] == 0


def test_run_pipeline_sampling_gate(spark, fixture_pdf, tmp_path):
    """The deterministic-sampling gate: nested fractions through the
    entry point, resume-stable membership, lineage sidecar counts, and
    the stratified per-stratum cap (strict on duplicate keys)."""
    inp = str(tmp_path / "in.parquet")
    fixture_pdf.head(200).to_parquet(inp, index=False)

    out_lo = str(tmp_path / "out_lo")
    st_lo = run_pipeline(spark, inp, out_lo, sample_fraction=0.2,
                         sample_seed=5)
    out_hi = str(tmp_path / "out_hi")
    st_hi = run_pipeline(spark, inp, out_hi, sample_fraction=0.6,
                         sample_seed=5)
    keys = lambda p: {(r.conv_id, r.turn_idx) for r in  # noqa: E731
                      spark.read.parquet(p)
                      .select("conv_id", "turn_idx").collect()}
    lo, hi = keys(out_lo), keys(out_hi)
    assert 0 < len(lo) < len(hi) < 200
    assert lo <= hi  # nested: same seed, larger fraction is a superset
    # lineage sidecar: counts derive from the same predicate
    sl = spark.read.parquet(f"{out_lo}/_lineage_sample").toPandas()
    assert int(sl["rows_in"].iloc[0]) == 200
    assert int(sl["rows_kept"].iloc[0]) == len(lo)
    assert int(sl["n_dropped"].iloc[0]) == 200 - len(lo)
    assert st_lo["n_sample_dropped"] == 200 - len(lo)

    # resume: membership is a pure key function, so a resumed run over a
    # grown input writes exactly the sampled new keys -- the final output
    # equals a single uninterrupted sampled run over the full input
    fixture_pdf.head(300).to_parquet(inp, index=False)
    run_pipeline(spark, inp, out_lo, resume=True, sample_fraction=0.2,
                 sample_seed=5)
    out_full = str(tmp_path / "out_full")
    run_pipeline(spark, inp, out_full, sample_fraction=0.2, sample_seed=5)
    assert keys(out_lo) == keys(out_full)

    # stratified cap: exactly min(n, stratum size) per role
    out_st = str(tmp_path / "out_st")
    run_pipeline(spark, inp, out_st, sample_n_per_stratum=7,
                 sample_strata_cols=["role"])
    got = (spark.read.parquet(out_st).groupBy("role").count().collect())
    import pyspark.sql.functions as SF
    pop = {r["role"]: r["count"] for r in
           spark.read.parquet(inp).groupBy("role").count().collect()}
    for r in got:
        assert r["count"] == min(7, pop[r["role"]])
    sl2 = spark.read.parquet(f"{out_st}/_lineage_sample").toPandas()
    assert int(sl2["rows_kept"].iloc[0]) == sum(
        min(7, c) for c in pop.values())

    # duplicate keys + stratified cap = loud error (strict guard)
    dup = pd.concat([fixture_pdf.head(20)] * 2)
    dup_in = str(tmp_path / "dup.parquet")
    dup.to_parquet(dup_in, index=False)
    with pytest.raises(ValueError, match="uniquely identify"):
        run_pipeline(spark, dup_in, str(tmp_path / "out_dup"),
                     sample_n_per_stratum=3, sample_strata_cols=["role"])
    # strata cols without n -> no stratified gate; n without cols -> error
    with pytest.raises(ValueError, match="sample_strata_cols"):
        run_pipeline(spark, dup_in, str(tmp_path / "out_dup2"),
                     sample_n_per_stratum=3)
