"""run_pipeline(reindex_changed=True): acting on changed pre-indexed
re-exports by rebuilding them into a fresh index epoch after the write
(plans/pipeline.py post-write reindex stage, _lineage_reindex sidecar),
across all three index families (doc MinHash, grouped MinHash,
embedding)."""

import datetime
import os

import pytest

from sidecar_schemas import REINDEX, UPSERT, changed_upsert, schema
from sumi_agent_spark.plans.pipeline import run_pipeline

TS = datetime.datetime(2025, 1, 1)

BASE = ("the quick brown fox jumps over the lazy dog while the sun "
        "sets slowly behind the distant mountains and rivers flow")
REWRITTEN = ("this turn was completely rewritten upstream after a "
             "redaction pass removed every original sentence entirely")
GROWTH = ("meanwhile a second turn arrived carrying entirely fresh "
          "material about adaptive query execution and bucketed joins")


def _turn(conv_id, turn_idx, text):
    return {"conv_id": conv_id, "turn_idx": turn_idx, "role": "user",
            "text": text, "tool": "", "ts": TS}


def _write_turns(rows, path):
    import pandas as pd
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(path, index=False)


def _mh_epoch(spark, idx):
    from sumi_agent_spark.operators.minhash_index import _read_meta
    return _read_meta(spark, idx, expect_granularity=None)["epoch"]


def test_doc_reindex_changed_end_to_end(spark, tmp_path):
    """Slice 2 re-exports a committed turn with REWRITTEN text: the row
    still drops, but the index gains an epoch carrying the new
    signature, so a later near-copy of the NEW text dedups while a
    near-copy of the dead OLD text passes.  A re-run of the completed
    slice finds zero changed keys and adds no epoch (idempotent)."""
    idx = str(tmp_path / "mh_index")
    _write_turns([_turn("a", 0, BASE)], str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True)
    assert _mh_epoch(spark, idx) == 0  # bootstrap: nothing to reindex

    _write_turns([_turn("a", 0, REWRITTEN)], str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx, reindex_changed=True)
    assert s2["n_preindexed_changed"] == 1 and s2["rows"] == 0
    assert _mh_epoch(spark, idx) == 1
    ri = spark.read.parquet(
        f"{tmp_path}/out2/_lineage_reindex").toPandas()
    assert len(ri) == 1
    assert ri.iloc[0]["stage"] == "near_dedup_reindex"
    assert int(ri.iloc[0]["n_keys"]) == 1
    assert int(ri.iloc[0]["epoch"]) == 1
    assert schema(f"{tmp_path}/out2/_lineage_reindex") == REINDEX

    # completed-slice re-run: content already reindexed -> no epoch 2
    s2b = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                       str(tmp_path / "out2b"), near_dedup_threshold=0.6,
                       near_dedup_index_path=idx, reindex_changed=True)
    assert s2b["n_preindexed_changed"] == 0
    assert _mh_epoch(spark, idx) == 1
    assert not os.path.exists(f"{tmp_path}/out2b/_lineage_reindex")

    # near-copy of the NEW text drops; near-copy of the DEAD text passes
    _write_turns(
        [_turn("y", 0, REWRITTEN.replace("redaction", "censorship")),
         _turn("z", 0, BASE.replace("quick", "swift"))],
        str(tmp_path / "s3.parquet"))
    s3 = run_pipeline(spark, str(tmp_path / "s3.parquet"),
                      str(tmp_path / "out3"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx, reindex_changed=True)
    assert s3["n_near_dup_dropped"] == 1
    got = set(spark.read.parquet(f"{tmp_path}/out3")
              .toPandas()["conv_id"])
    assert got == {"z"}


def test_doc_changed_counted_but_not_reindexed_without_flag(
        spark, tmp_path):
    idx = str(tmp_path / "mh_index")
    _write_turns([_turn("a", 0, BASE)], str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx)
    _write_turns([_turn("a", 0, REWRITTEN)], str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx)
    assert s2["n_preindexed_changed"] == 1  # visible...
    assert _mh_epoch(spark, idx) == 0       # ...but not acted on
    assert not os.path.exists(f"{tmp_path}/out2/_lineage_reindex")


def test_conversation_reindex_grown_conv(spark, tmp_path):
    """Conversation scope: a committed conversation re-exported with an
    extra turn is a changed group; the reindex records the grown
    signature so a later near-copy of the WHOLE grown dialog dedups
    (against the old single-turn signature it would not: the union
    Jaccard is ~0.5 < 0.6)."""
    idx = str(tmp_path / "gr_index")
    _write_turns([_turn("a", 0, BASE)], str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_scope="conversation",
                 near_dedup_index_path=idx, reindex_changed=True)

    _write_turns([_turn("a", 0, BASE), _turn("a", 1, GROWTH)],
                 str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_scope="conversation",
                      near_dedup_index_path=idx, reindex_changed=True)
    assert s2["n_preindexed_changed"] == 2  # turn rows of the changed gid
    ri = spark.read.parquet(
        f"{tmp_path}/out2/_lineage_reindex").toPandas()
    assert ri.iloc[0]["stage"] == "near_dedup_reindex"
    assert int(ri.iloc[0]["n_keys"]) == 1   # one conversation
    assert int(ri.iloc[0]["epoch"]) == 1
    # the upsert sidecar carries the conversation's FULL current member
    # rows -- the grown turn is the MERGE's not-matched insert case
    up = spark.read.parquet(f"{tmp_path}/out2/_changed_upsert").toPandas()
    assert sorted(zip(up["conv_id"], up["turn_idx"])) == [("a", 0), ("a", 1)]
    assert set(up["_action"]) == {"upsert"}

    _write_turns(
        [_turn("b", 0, BASE.replace("quick", "swift")),
         _turn("b", 1, GROWTH.replace("second", "later"))],
        str(tmp_path / "s3.parquet"))
    s3 = run_pipeline(spark, str(tmp_path / "s3.parquet"),
                      str(tmp_path / "out3"), near_dedup_threshold=0.6,
                      near_dedup_scope="conversation",
                      near_dedup_index_path=idx, reindex_changed=True)
    assert s3["n_near_dup_dropped"] == 1 and s3["rows"] == 0


def test_changed_upsert_sidecar(spark, tmp_path):
    """reindex_changed also emits the changed keys' PROCESSED current
    content to ``_changed_upsert``: scrubbed replacement rows marked
    ``upsert`` (the caller's MERGE source) and ``delete`` rows for keys
    whose new content fails a drop gate (here: decontamination)."""
    import pandas as pd

    idx = str(tmp_path / "mh_index")
    quote = ("what is the capital of zanzibar asked the exam question "
             "number forty two of the held out benchmark suite")
    pd.DataFrame({"text": [quote]}).to_parquet(
        str(tmp_path / "bench.parquet"), index=False)

    other = ("an entirely different committed document about stream "
             "processing joins and watermark semantics in detail")
    _write_turns([_turn("a", 0, BASE), _turn("b", 0, other)],
                 str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True,
                 decontaminate_against=str(tmp_path / "bench.parquet"))

    # slice 2 re-exports BOTH committed docs with changed text: a's new
    # text carries PII (must come back scrubbed), b's new text quotes
    # the benchmark verbatim (must come back as a delete)
    pii_text = (REWRITTEN + " reach the editor at taro.yamada@example.com"
                " for the full changelog")
    contam_text = "as seen upstream " + quote + " end of quote"
    _write_turns([_turn("a", 0, pii_text), _turn("b", 0, contam_text)],
                 str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx, reindex_changed=True,
                      decontaminate_against=str(tmp_path / "bench.parquet"))
    assert s2["n_preindexed_changed"] == 2 and s2["rows"] == 0

    up = (spark.read.parquet(f"{tmp_path}/out2/_changed_upsert")
          .toPandas().set_index("conv_id"))
    assert set(up.index) == {"a", "b"}
    assert up.loc["a", "_action"] == "upsert"
    assert "[メール非公開]" in up.loc["a", "masked_text"]
    assert "taro.yamada" not in up.loc["a", "masked_text"]
    assert up.loc["b", "_action"] == "delete"
    lu = spark.read.parquet(f"{tmp_path}/out2/_lineage_upsert").toPandas()
    assert int(lu.iloc[0]["n_upsert"]) == 1
    assert int(lu.iloc[0]["n_delete"]) == 1
    assert schema(f"{tmp_path}/out2/_lineage_upsert") == UPSERT
    assert schema(f"{tmp_path}/out2/_changed_upsert") == changed_upsert(
        f"{tmp_path}/s2.parquet")

    # converged re-run: no changed keys -> no upsert sidecar at all
    run_pipeline(spark, str(tmp_path / "s2.parquet"),
                 str(tmp_path / "out2b"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True,
                 decontaminate_against=str(tmp_path / "bench.parquet"))
    assert not os.path.exists(f"{tmp_path}/out2b/_changed_upsert")


def test_conversation_reindex_all_short_turns_converges(spark, tmp_path):
    """A committed conversation re-exported with ONLY sub-shingle_k
    turns still reindexes into a fresh epoch and converges: the padded
    shingle invariant (``_batch_shingles``: always >=1 shingle per row)
    guarantees the exploded grouped store gains epoch-N rows even for
    empty/short texts, so (a) a re-run redetects nothing and commits no
    further epoch (no unbounded accrual), and (b) readers resolve the
    short-text signature (an exact short copy dedups against it)."""
    idx = str(tmp_path / "gr_index")
    _write_turns([_turn("a", 0, BASE)], str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_scope="conversation",
                 near_dedup_index_path=idx, reindex_changed=True)

    # upstream redaction gutted the conversation to one 2-char turn
    _write_turns([_turn("a", 0, "ok")], str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_scope="conversation",
                      near_dedup_index_path=idx, reindex_changed=True)
    assert s2["n_preindexed_changed"] == 1
    assert _mh_epoch(spark, idx) == 1
    ri = spark.read.parquet(
        f"{tmp_path}/out2/_lineage_reindex").toPandas()
    assert int(ri.iloc[0]["n_keys"]) == 1

    # convergence: the completed slice re-runs clean -- no epoch 2
    s2b = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                       str(tmp_path / "out2b"), near_dedup_threshold=0.6,
                       near_dedup_scope="conversation",
                       near_dedup_index_path=idx, reindex_changed=True)
    assert s2b["n_preindexed_changed"] == 0
    assert _mh_epoch(spark, idx) == 1

    # readers serve the short-text signature: an exact copy dedups
    _write_turns([_turn("z", 0, "ok")], str(tmp_path / "s3.parquet"))
    s3 = run_pipeline(spark, str(tmp_path / "s3.parquet"),
                      str(tmp_path / "out3"), near_dedup_threshold=0.6,
                      near_dedup_scope="conversation",
                      near_dedup_index_path=idx, reindex_changed=True)
    assert s3["n_near_dup_dropped"] == 1 and s3["rows"] == 0


EMB_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp, embedding array<float>")
V_BASE = [1.0, 0.0, 0.0, 0.0]
V_NEAR_BASE = [1.01, 0.001, 0.0, 0.0]
V_ALT = [0.0, 1.0, 0.0, 0.0]
V_NOVEL = [0.0, 0.0, 1.0, 0.0]
V_NEAR_NOVEL = [0.001, 0.0, 1.0, 0.002]


def _evt(conv, idx, vec, text="some text"):
    return (conv, idx, "user", text, "", TS, vec)


def _write_emb(spark, rows, path):
    spark.createDataFrame(rows, EMB_SCHEMA).write.mode(
        "overwrite").parquet(path)


def test_embedding_reindex_changed_end_to_end(spark, tmp_path):
    from sumi_agent_spark.operators.embedding_index import _read_meta

    idx = str(tmp_path / "emb_index")
    _write_emb(spark, [_evt("e1", 0, V_BASE)], str(tmp_path / "s1.pq"))
    run_pipeline(spark, str(tmp_path / "s1.pq"), str(tmp_path / "out1"),
                 embedding_dedup_threshold=0.95, embedding_index_path=idx,
                 reindex_changed=True)

    # e1 re-embedded after an upstream text edit + a genuinely new conv
    _write_emb(spark, [_evt("e1", 0, V_NOVEL), _evt("e2", 0, V_ALT)],
               str(tmp_path / "s2.pq"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.pq"),
                      str(tmp_path / "out2"),
                      embedding_dedup_threshold=0.95,
                      embedding_index_path=idx, reindex_changed=True)
    assert s2["n_emb_preindexed_changed"] == 1
    assert _read_meta(spark, idx)["epoch"] == 1
    ri = spark.read.parquet(
        f"{tmp_path}/out2/_lineage_reindex").toPandas()
    assert ri.iloc[0]["stage"] == "embedding_reindex"
    assert int(ri.iloc[0]["n_keys"]) == 1
    assert int(ri.iloc[0]["epoch"]) == 1
    up = spark.read.parquet(f"{tmp_path}/out2/_changed_upsert").toPandas()
    assert list(up["conv_id"]) == ["e1"] and list(up["_action"]) == ["upsert"]

    # probe near the NEW vector drops; near the DEAD old vector passes
    _write_emb(spark, [_evt("p1", 0, V_NEAR_NOVEL),
                       _evt("p2", 0, V_NEAR_BASE)],
               str(tmp_path / "s3.pq"))
    s3 = run_pipeline(spark, str(tmp_path / "s3.pq"),
                      str(tmp_path / "out3"),
                      embedding_dedup_threshold=0.95,
                      embedding_index_path=idx, reindex_changed=True)
    assert s3["n_embedding_dup_dropped"] == 1
    got = set(spark.read.parquet(f"{tmp_path}/out3")
              .toPandas()["conv_id"])
    assert got == {"p2"}


def test_reindex_changed_requires_an_index_path(spark, tmp_path):
    _write_turns([_turn("a", 0, BASE)], str(tmp_path / "s1.parquet"))
    with pytest.raises(ValueError, match="reindex_changed"):
        run_pipeline(spark, str(tmp_path / "s1.parquet"),
                     str(tmp_path / "out1"), near_dedup_threshold=0.6,
                     reindex_changed=True)
