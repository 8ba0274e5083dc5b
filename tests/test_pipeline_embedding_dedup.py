"""run_pipeline's embedding near-dedup gate (plans/pipeline.py,
_index_dedup_stage with the embedding IndexFamily): in-slice mode, the persisted-index daily-ingest
protocol across three slices, and the failure edges."""

import datetime

import pytest

from sidecar_schemas import EMBDEDUP, schema

TS = datetime.datetime(2025, 1, 1)
SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp, embedding array<float>")

# unit-ish vectors: near-pairs have cosine ~1, cross-pairs ~0
V_BASE = [1.0, 0.0, 0.0, 0.0]
V_NEAR = [1.01, 0.001, 0.0, 0.0]       # ~ V_BASE
V_ALT = [0.0, 1.0, 0.0, 0.0]
V_NOVEL = [0.0, 0.0, 1.0, 0.0]
V_NEAR_NOVEL = [0.001, 0.0, 1.0, 0.002]  # ~ V_NOVEL


def _turn(conv, idx, vec, text="some text"):
    return (conv, idx, "user", text, "", TS, vec)


def _write(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).write.mode("overwrite").parquet(path)


def test_embedding_dedup_in_slice(spark, tmp_path):
    """Index-less mode: the later key of every cos>=threshold pair drops,
    NULL embeddings pass through, lineage sidecar records the stage."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    inp = str(tmp_path / "in.parquet")
    _write(spark, [
        _turn("a", 0, V_BASE),
        _turn("b", 0, V_NEAR),      # ~ a0 -> drops (later key)
        _turn("c", 0, V_ALT),
        _turn("d", 0, None),        # NULL embedding: never flagged
    ], inp)
    out = str(tmp_path / "out")
    stats = run_pipeline(spark, inp, out, embedding_dedup_threshold=0.95)
    got = set(spark.read.parquet(out).toPandas()["conv_id"])
    assert got == {"a", "c", "d"}
    assert stats["n_embedding_dup_dropped"] == 1
    side = spark.read.parquet(out + "/_lineage_embdedup").toPandas()
    assert side.iloc[0]["stage"] == "embedding_dedup"
    assert schema(out + "/_lineage_embdedup") == EMBDEDUP
    assert int(side.iloc[0]["n_dropped"]) == 1


def test_embedding_dedup_missing_column(spark, tmp_path):
    from sumi_agent_spark.plans.pipeline import run_pipeline

    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        [("a", 0, "user", "t", "", TS)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp").write.parquet(inp)
    with pytest.raises(ValueError, match="embedding"):
        run_pipeline(spark, inp, str(tmp_path / "out"),
                     embedding_dedup_threshold=0.95)


def test_run_pipeline_embedding_index_slices(spark, tmp_path):
    """Daily ingest on embeddings: slice 1 bootstraps the hyperplane
    index, slice 2 dedups against corpus + itself, slice 3 sees slice 2's
    kept vectors via the post-write append; a threshold mismatch and a
    completed-slice re-run both behave."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    idx = str(tmp_path / "emb_index")

    # slice 1: internal near-pair (a0 keeps, b0 drops) + distinct c0
    _write(spark, [
        _turn("a", 0, V_BASE),
        _turn("b", 0, V_NEAR),
        _turn("c", 0, V_ALT),
    ], str(tmp_path / "s1.parquet"))
    s1 = run_pipeline(spark, str(tmp_path / "s1.parquet"),
                      str(tmp_path / "out1"),
                      embedding_dedup_threshold=0.95,
                      embedding_index_path=idx)
    assert s1["n_embedding_dup_dropped"] == 1
    side1 = spark.read.parquet(
        str(tmp_path / "out1") + "/_lineage_embdedup").toPandas()
    assert side1.iloc[0]["stage"] == "embedding_dedup_bootstrap"
    assert schema(str(tmp_path / "out1") + "/_lineage_embdedup") == EMBDEDUP
    meta = spark.read.parquet(f"{idx}/meta").first()
    assert meta["threshold"] == 0.95
    # index holds exactly the kept rows (a0, c0)
    assert spark.read.parquet(f"{idx}/buckets").count() == 2

    # slice 2: near-copy of corpus a0 (drops, corpus wins), an internal
    # pair (e keeps, f drops), and a genuinely novel vector (keeps)
    _write(spark, [
        _turn("d", 0, V_NEAR),        # ~ corpus a0
        _turn("e", 0, V_NOVEL),
        _turn("f", 0, V_NEAR_NOVEL),  # ~ e0 in-slice
    ], str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"),
                      embedding_dedup_threshold=0.95,
                      embedding_index_path=idx)
    side2 = spark.read.parquet(
        str(tmp_path / "out2") + "/_lineage_embdedup").toPandas()
    assert side2.iloc[0]["stage"] == "embedding_dedup_incremental"
    assert schema(str(tmp_path / "out2") + "/_lineage_embdedup") == EMBDEDUP
    got2 = set(spark.read.parquet(str(tmp_path / "out2"))
               .toPandas()["conv_id"])
    assert got2 == {"e"}
    assert s2["n_embedding_dup_dropped"] == 2
    # e0 appended -> corpus is now {a0, c0, e0}
    assert spark.read.parquet(f"{idx}/buckets").count() == 3

    # slice 3: near-copy of slice 2's KEPT e0 -> proves the append
    _write(spark, [_turn("g", 0, V_NEAR_NOVEL)],
           str(tmp_path / "s3.parquet"))
    s3 = run_pipeline(spark, str(tmp_path / "s3.parquet"),
                      str(tmp_path / "out3"),
                      embedding_dedup_threshold=0.95,
                      embedding_index_path=idx)
    assert s3["n_embedding_dup_dropped"] == 1
    assert s3["rows"] == 0

    # threshold mismatch fails loudly
    with pytest.raises(ValueError, match="threshold"):
        run_pipeline(spark, str(tmp_path / "s3.parquet"),
                     str(tmp_path / "out4"),
                     embedding_dedup_threshold=0.9,
                     embedding_index_path=idx)


def test_embedding_index_preindexed_rows_dropped(spark, tmp_path):
    """A re-exported slice whose keys are already committed is dropped
    with its own counter instead of duplicating output."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    idx = str(tmp_path / "emb_index")
    inp = str(tmp_path / "s1.parquet")
    _write(spark, [_turn("a", 0, V_BASE), _turn("c", 0, V_ALT)], inp)
    run_pipeline(spark, inp, str(tmp_path / "out1"),
                 embedding_dedup_threshold=0.95, embedding_index_path=idx)
    # same keys re-exported (completed-slice re-run to a fresh output)
    s2 = run_pipeline(spark, inp, str(tmp_path / "out2"),
                      embedding_dedup_threshold=0.95,
                      embedding_index_path=idx)
    assert s2["n_emb_preindexed_rows_dropped"] == 2
    assert s2["n_emb_preindexed_changed"] == 0  # verbatim re-export
    assert s2["rows"] == 0
    # double-append added nothing
    assert spark.read.parquet(f"{idx}/buckets").count() == 2


def test_embedding_index_changed_preindexed_counted(spark, tmp_path):
    """A committed key re-exported with a DIFFERENT vector (re-embedded
    after an upstream edit) still drops -- the index cannot update it in
    place -- but the lineage splits it out as n_preindexed_changed."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    idx = str(tmp_path / "emb_index")
    _write(spark, [_turn("a", 0, V_BASE), _turn("c", 0, V_ALT)],
           str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"),
                 embedding_dedup_threshold=0.95, embedding_index_path=idx)
    # a0 re-exported with a recomputed vector; c0 verbatim
    _write(spark, [_turn("a", 0, V_NOVEL), _turn("c", 0, V_ALT)],
           str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"),
                      embedding_dedup_threshold=0.95,
                      embedding_index_path=idx)
    assert s2["n_emb_preindexed_rows_dropped"] == 2
    assert s2["n_emb_preindexed_changed"] == 1
    side = spark.read.parquet(
        str(tmp_path / "out2") + "/_lineage_embdedup").toPandas()
    assert int(side.iloc[0]["n_preindexed_changed"]) == 1


def test_embedding_dedup_composes_with_minhash(spark, tmp_path):
    """Text near-dedup and embedding dedup stack: a turn that survives
    MinHash (different text) still drops on an identical embedding."""
    from sumi_agent_spark.plans.pipeline import run_pipeline

    t1 = ("the quick brown fox jumps over the lazy dog while the sun "
          "sets slowly behind the mountains")
    t2 = ("an entirely different sentence about stateful streaming "
          "operators and watermark semantics in production")
    inp = str(tmp_path / "in.parquet")
    _write(spark, [
        _turn("a", 0, V_BASE, t1),
        _turn("b", 0, V_NEAR, t2),   # text-distinct, embedding-dup of a0
        _turn("c", 0, V_ALT, t1 + " exactly"),  # text-dup of a0
    ], inp)
    out = str(tmp_path / "out")
    stats = run_pipeline(spark, inp, out,
                         near_dedup_threshold=0.6,
                         embedding_dedup_threshold=0.95)
    got = set(spark.read.parquet(out).toPandas()["conv_id"])
    assert got == {"a"}
    assert stats["n_near_dup_dropped"] == 1       # c (text)
    assert stats["n_embedding_dup_dropped"] == 1  # b (embedding)
