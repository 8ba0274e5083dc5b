"""parseSections analog tests (RedactPro.tsx:2991-3033)."""

import json
from pathlib import Path

from pyspark.sql import functions as F

from sumi_agent_spark.functions.sections import parse_sections, parse_sections_udf


def test_parse_sections_markers_and_types():
    # note: a bare 【職務経歴】 line is NOT a header in the reference regex
    # (the trailing (.+?)$ needs content after the brackets) -- faithful port
    text = ("氏名：田中 太郎\n連絡先：t@example.com\n"
            "■ 職務要約\nWeb開発に10年従事。\n"
            "職歴\n株式会社Aで勤務。\n詳細はこちら。\n"
            "## スキル\nPython / Spark\n"
            "----\n"
            "补足メモ\n")
    secs = parse_sections(text)
    types = [s.type for s in secs]
    assert types[0] == "header"          # untitled leading block
    assert "summary" in types and "experience" in types and "skills" in types
    exp = next(s for s in secs if s.type == "experience")
    assert exp.title == "職歴"
    assert "株式会社A" in exp.content and "詳細" in exp.content
    # bracketed header WITH trailing text is a header
    secs2 = parse_sections("【学歴】2010年\n大学卒業\n")
    assert secs2[0].type == "education" and secs2[0].title == "学歴"


def test_parse_sections_label_lines_and_dividers():
    text = "学歴\n2010年 大学卒業\n━━━━\n自己PR\n真面目です。\n"
    secs = parse_sections(text)
    assert [s.type for s in secs] == ["education", "pr"]


def test_parse_sections_real_resume():
    # the committed golden file holds each mock-resume fixture's text verbatim
    name = "01_職務経歴書_ITエンジニア.txt"
    golden = json.loads(
        (Path(__file__).parent / "golden" / "reference_golden.json").read_text(
            encoding="utf-8"))
    case = next((c for c in golden["cases"] if c["name"] == name), None)
    assert case is not None, f"golden case {name!r} missing from reference_golden.json"
    t = case["text"]
    secs = parse_sections(t)
    assert len(secs) >= 4
    assert any(s.type == "summary" for s in secs)
    assert any(s.type == "experience" for s in secs)


def test_parse_sections_udf(spark):
    df = spark.createDataFrame(
        [("■ 職務要約\n要約です。\n学歴\n大学卒。",)], ["text"])
    out = df.select(parse_sections_udf("text").alias("s")).first()["s"]
    assert [x["type"] for x in out] == ["summary", "education"]


def test_long_text_stress(spark):
    # 200k-char turns through the batch scrub path
    from sumi_agent_spark.plans.pipeline import scrub_transcripts
    long_ja = ("これは長い本文です。" * 10000) + "\n電話：090-1234-5678"
    df = spark.createDataFrame(
        [("c0", 0, "user", long_ja, "", "2025-01-01 00:00:00")],
        ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).withColumn("ts", F.to_timestamp("ts")).withColumn(
        "turn_idx", F.col("turn_idx").cast("int"))
    row = scrub_transcripts(df).first()
    assert "[電話番号非公開]" in row["masked_text"]
    assert row["drop_reason"] == "repetition"
