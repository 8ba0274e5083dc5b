"""Changed-upsert stage gate fidelity: replacement rows must pass the
SAME gates the main path applies (near-dedup probes, sampling rules,
conversation-scope decontamination, pre-scrub toxicity), and the
conversation-scope decontamination rule must see changed re-exports'
current content so a poisoned conversation is dropped/deleted as a
whole -- never split across the main write and the upsert sidecar."""

import datetime

import pytest
from pyspark.sql import functions as F

from sidecar_schemas import REINDEX, UPSERT, changed_upsert, schema
from sumi_agent_spark.plans.pipeline import run_pipeline

TS = datetime.datetime(2025, 1, 1)

BASE = ("the quick brown fox jumps over the lazy dog while the sun "
        "sets slowly behind the distant mountains and rivers flow")
OTHER = ("an entirely different committed document about stream "
         "processing joins and watermark semantics in detail")
REWRITTEN = ("this turn was completely rewritten upstream after a "
             "redaction pass removed every original sentence entirely")
CLEAN_2 = ("meanwhile a second turn arrived carrying entirely fresh "
           "material about adaptive query execution and bucketed joins")
TOXIC = ("you are an idiot and a moron and a loser, pathetic trash "
         "human, shut up forever")
QUOTE = ("what is the capital of zanzibar asked the exam question "
         "number forty two of the held out benchmark suite")


def _turn(conv_id, turn_idx, text):
    return {"conv_id": conv_id, "turn_idx": turn_idx, "role": "user",
            "text": text, "tool": "", "ts": TS}


def _write_turns(rows, path):
    import pandas as pd
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(path, index=False)


def test_replacement_near_dup_of_other_committed_doc_deletes(
        spark, tmp_path):
    """F-probe: a re-export rewritten into a near-copy of a DIFFERENT
    committed doc must come back as a delete, not an upsert -- the
    incremental operator's committed-key filter never checks it."""
    idx = str(tmp_path / "mh_index")
    _write_turns([_turn("a", 0, BASE), _turn("b", 0, OTHER)],
                 str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True)

    _write_turns([_turn("b", 0, BASE.replace("quick", "swift"))],
                 str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx, reindex_changed=True)
    assert s2["n_preindexed_changed"] == 1
    up = spark.read.parquet(f"{tmp_path}/out2/_changed_upsert").toPandas()
    assert list(up["conv_id"]) == ["b"]
    assert list(up["_action"]) == ["delete"]
    lu = spark.read.parquet(f"{tmp_path}/out2/_lineage_upsert").toPandas()
    assert int(lu.iloc[0]["n_delete"]) == 1
    assert int(lu.iloc[0]["n_upsert"]) == 0
    assert schema(f"{tmp_path}/out2/_lineage_upsert") == UPSERT
    assert schema(f"{tmp_path}/out2/_changed_upsert") == changed_upsert(
        f"{tmp_path}/s2.parquet")

    # a replacement resembling its OWN old content is NOT a duplicate
    _write_turns([_turn("a", 0, BASE.replace("lazy", "idle"))],
                 str(tmp_path / "s3.parquet"))
    run_pipeline(spark, str(tmp_path / "s3.parquet"),
                 str(tmp_path / "out3"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True)
    up3 = spark.read.parquet(f"{tmp_path}/out3/_changed_upsert").toPandas()
    assert list(up3["_action"]) == ["upsert"]


def test_fraction_sampling_excludes_replacement_rows(spark, tmp_path):
    """The pure fraction gate is re-derived for replacement rows: a key
    the rule excludes was never written (same fraction/seed), so it is
    dropped from the sidecar and counted, never MERGE-inserted."""
    from sumi_agent_spark.operators.sampling import sample_keep_condition

    idx = str(tmp_path / "mh_index")
    # mutually-distinct corpus texts (disjoint vocabulary): the
    # bootstrap's in-slice near-dedup must commit ALL eight keys
    corpus_texts = [
        "alpine meadows bloom with gentian while marmots whistle warnings",
        "harbor cranes unload container ships beneath sodium floodlights",
        "the violinist tuned her strings before the overture began softly",
        "geothermal plants vent steam across the basalt plain at dawn",
        "archivists catalogued brittle manuscripts in climate vaults",
        "monsoon clouds gathered over terraced paddies by late afternoon",
        "the chess grandmaster sacrificed a knight for lasting pressure",
        "migrating cranes traced thermals above the estuary mudflats",
    ]
    changed_texts = [
        "rewritten upstream: alpine survey notes were fully redacted here",
        "rewritten upstream: harbor manifest entries were scrubbed clean",
        "rewritten upstream: concert program notes replaced by errata list",
        "rewritten upstream: plant telemetry summary swapped for appendix",
        "rewritten upstream: archive index replaced with retention notice",
        "rewritten upstream: weather log superseded by corrected readings",
        "rewritten upstream: match annotations removed pending review",
        "rewritten upstream: tracking data replaced by aggregate counts",
    ]
    rows = [_turn(f"c{i}", 0, corpus_texts[i]) for i in range(8)]
    _write_turns(rows, str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True,
                 sample_fraction=0.5, sample_seed=7)

    changed = [_turn(f"c{i}", 0, changed_texts[i]) for i in range(8)]
    _write_turns(changed, str(tmp_path / "s2.parquet"))
    run_pipeline(spark, str(tmp_path / "s2.parquet"),
                 str(tmp_path / "out2"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True,
                 sample_fraction=0.5, sample_seed=7)

    cond = sample_keep_condition(["conv_id", "turn_idx"], 0.5, 7)
    kept_keys = {r["conv_id"] for r in spark.read.parquet(
        str(tmp_path / "s2.parquet")).filter(cond).collect()}
    assert 0 < len(kept_keys) < 8  # the fixture straddles the threshold
    up = spark.read.parquet(f"{tmp_path}/out2/_changed_upsert").toPandas()
    assert set(up["conv_id"]) == kept_keys
    lu = spark.read.parquet(f"{tmp_path}/out2/_lineage_upsert").toPandas()
    assert int(lu.iloc[0]["n_sampled_out"]) == 8 - len(kept_keys)


def test_rank_gated_sampling_emits_update_actions(spark, tmp_path):
    """Membership in a rank-based gate (exact-n stratified) cannot be
    re-derived per key, so replacement rows carry ``update`` (replace if
    matched, never insert) instead of ``upsert``."""
    idx = str(tmp_path / "mh_index")
    _write_turns([_turn("a", 0, BASE)], str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True,
                 sample_n_per_stratum=10, sample_strata_cols=["role"])

    _write_turns([_turn("a", 0, REWRITTEN)], str(tmp_path / "s2.parquet"))
    run_pipeline(spark, str(tmp_path / "s2.parquet"),
                 str(tmp_path / "out2"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True,
                 sample_n_per_stratum=10, sample_strata_cols=["role"])
    up = spark.read.parquet(f"{tmp_path}/out2/_changed_upsert").toPandas()
    assert list(up["_action"]) == ["update"]
    lu = spark.read.parquet(f"{tmp_path}/out2/_lineage_upsert").toPandas()
    assert int(lu.iloc[0]["n_update"]) == 1
    assert int(lu.iloc[0]["n_upsert"]) == 0


def test_conv_scope_decontam_drops_siblings_and_retro_deletes(
        spark, tmp_path):
    """A changed committed turn that quotes a benchmark poisons its whole
    conversation: the main gate must drop the conversation's OTHER
    (clean, new) turns, and the sidecar must delete the conversation's
    already-committed rows -- not just the changed one."""
    import pandas as pd

    idx = str(tmp_path / "mh_index")
    pd.DataFrame({"text": [QUOTE]}).to_parquet(
        str(tmp_path / "bench.parquet"), index=False)
    _write_turns([_turn("c", 0, BASE), _turn("c", 1, OTHER)],
                 str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True,
                 decontaminate_against=str(tmp_path / "bench.parquet"),
                 decontam_scope="conversation")
    out1 = spark.read.parquet(f"{tmp_path}/out1").toPandas()
    assert len(out1) == 2  # clean bootstrap wrote both turns

    # slice 2: turn 0 re-exported quoting the benchmark, turn 2 NEW and
    # clean; turn 1 unchanged (not in the slice)
    _write_turns([_turn("c", 0, "as seen upstream " + QUOTE + " end"),
                  _turn("c", 2, CLEAN_2)],
                 str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx, reindex_changed=True,
                      decontaminate_against=str(tmp_path / "bench.parquet"),
                      decontam_scope="conversation")
    # the clean sibling turn 2 must NOT be written: its conversation is
    # poisoned by the changed turn the main df never contained
    assert s2["rows"] == 0
    up = (spark.read.parquet(f"{tmp_path}/out2/_changed_upsert")
          .toPandas().sort_values("turn_idx"))
    acts = dict(zip(up["turn_idx"], up["_action"]))
    # turn 0: the contaminated changed row; turn 1: retro delete of the
    # committed clean sibling (key-only row)
    assert acts[0] == "delete" and acts[1] == "delete"
    assert up[up["turn_idx"] == 1]["masked_text"].isna().all()
    # key-only retro deletes leave the column set and types unchanged
    assert schema(f"{tmp_path}/out2/_changed_upsert") == changed_upsert(
        f"{tmp_path}/s2.parquet")


def test_toxicity_delete_flag_evaluated_pre_scrub(spark, tmp_path):
    """The toxicity delete flag is evaluated on the PRE-scrub rows, like
    the main gate -- a scrub_transform that rewrites the output ``text``
    column must not change the verdict (post-scrub evaluation would see
    the transform's text, here blanked, and wrongly emit an upsert)."""
    from sumi_agent_spark.plans.pipeline import scrub_transcripts

    def text_blanking_scrub(df, **kw):
        return scrub_transcripts(df, **kw).withColumn("text", F.lit(""))

    idx = str(tmp_path / "mh_index")
    _write_turns([_turn("a", 0, BASE)], str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True,
                 drop_toxic_above=0.2,
                 scrub_transform=text_blanking_scrub)

    _write_turns([_turn("a", 0, TOXIC)], str(tmp_path / "s2.parquet"))
    run_pipeline(spark, str(tmp_path / "s2.parquet"),
                 str(tmp_path / "out2"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True,
                 drop_toxic_above=0.2,
                 scrub_transform=text_blanking_scrub)
    up = spark.read.parquet(f"{tmp_path}/out2/_changed_upsert").toPandas()
    assert list(up["_action"]) == ["delete"]


def test_duplicate_key_collapse_matches_index_winner(spark, tmp_path):
    """dedup=False with duplicate keys: the sidecar keeps the same
    min-text winner the doc index signs (F.min ignores NULLs, so a NULL
    duplicate must lose to the real text, not win by sorting first)."""
    idx = str(tmp_path / "mh_index")
    _write_turns([_turn("a", 0, BASE)], str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True)

    _write_turns([_turn("a", 0, None), _turn("a", 0, REWRITTEN)],
                 str(tmp_path / "s2.parquet"))
    run_pipeline(spark, str(tmp_path / "s2.parquet"),
                 str(tmp_path / "out2"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx, reindex_changed=True)
    up = spark.read.parquet(f"{tmp_path}/out2/_changed_upsert").toPandas()
    assert len(up) == 1
    assert up.iloc[0]["text"] == REWRITTEN


EMB_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp, embedding array<float>")
V_BASE = [1.0, 0.0, 0.0, 0.0]
V_ALT = [0.0, 1.0, 0.0, 0.0]
V_NOVEL = [0.0, 0.0, 1.0, 0.0]
V_NEAR_NOVEL = [0.001, 0.0, 1.0, 0.002]


def test_both_gates_changed_text_and_embedding_reindexes_both(
        spark, tmp_path):
    """A key committed to BOTH indexes whose re-export changed text AND
    embedding: the MinHash gate drops it from the stage input, so the
    embedding stage must probe the PRE-gate rows -- otherwise the stale
    vector anchors the embedding index forever."""
    from sumi_agent_spark.operators.embedding_index import (
        _read_meta as emb_meta)
    from sumi_agent_spark.operators.minhash_index import (
        _read_meta as mh_meta)

    mh_idx = str(tmp_path / "mh_index")
    emb_idx = str(tmp_path / "emb_index")

    def _write_emb(rows, path):
        spark.createDataFrame(rows, EMB_SCHEMA).write.mode(
            "overwrite").parquet(path)

    _write_emb([("k", 0, "user", BASE, "", TS, V_BASE),
                ("x", 0, "user", OTHER, "", TS, V_ALT)],
               str(tmp_path / "s1.pq"))
    run_pipeline(spark, str(tmp_path / "s1.pq"), str(tmp_path / "out1"),
                 near_dedup_threshold=0.6, near_dedup_index_path=mh_idx,
                 embedding_dedup_threshold=0.95,
                 embedding_index_path=emb_idx, reindex_changed=True)

    _write_emb([("k", 0, "user", REWRITTEN, "", TS, V_NOVEL)],
               str(tmp_path / "s2.pq"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.pq"),
                      str(tmp_path / "out2"),
                      near_dedup_threshold=0.6,
                      near_dedup_index_path=mh_idx,
                      embedding_dedup_threshold=0.95,
                      embedding_index_path=emb_idx, reindex_changed=True)
    assert s2["n_preindexed_changed"] == 1
    assert s2["n_emb_preindexed_changed"] == 1
    assert mh_meta(spark, mh_idx)["epoch"] == 1
    assert emb_meta(spark, emb_idx)["epoch"] == 1
    ri = spark.read.parquet(f"{tmp_path}/out2/_lineage_reindex").toPandas()
    assert set(ri["stage"]) == {"near_dedup_reindex", "embedding_reindex"}
    assert schema(f"{tmp_path}/out2/_lineage_reindex") == REINDEX
    # one sidecar row for the key, not one per source
    up = spark.read.parquet(f"{tmp_path}/out2/_changed_upsert").toPandas()
    assert len(up) == 1 and up.iloc[0]["_action"] == "upsert"

    # the embedding index now serves the NEW vector: a near-copy of it
    # dedups, a near-copy of the dead old vector passes
    _write_emb([("p1", 0, "user", "probe one text", "", TS, V_NEAR_NOVEL),
                ("p2", 0, "user", "probe two text", "", TS,
                 [1.001, 0.001, 0.0, 0.0])],
               str(tmp_path / "s3.pq"))
    s3 = run_pipeline(spark, str(tmp_path / "s3.pq"),
                      str(tmp_path / "out3"),
                      near_dedup_threshold=0.6,
                      near_dedup_index_path=mh_idx,
                      embedding_dedup_threshold=0.95,
                      embedding_index_path=emb_idx, reindex_changed=True)
    assert s3["n_embedding_dup_dropped"] == 1
    got = set(spark.read.parquet(f"{tmp_path}/out3").toPandas()["conv_id"])
    assert got == {"p2"}


def test_conv_scope_replacement_near_dup_of_other_conv_deletes(
        spark, tmp_path):
    """Conversation scope: a re-exported conversation rewritten into a
    near-copy of a DIFFERENT committed conversation comes back with
    every replacement row as a delete -- the grouped probe closes the
    same hole the doc probe closes at turn scope."""
    idx = str(tmp_path / "gmh_index")
    _write_turns([_turn("a", 0, BASE), _turn("a", 1, CLEAN_2),
                  _turn("b", 0, OTHER), _turn("b", 1, REWRITTEN)],
                 str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx,
                 near_dedup_scope="conversation", reindex_changed=True)

    _write_turns([_turn("b", 0, BASE.replace("quick", "swift")),
                  _turn("b", 1, CLEAN_2.replace("second", "next"))],
                 str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx,
                      near_dedup_scope="conversation",
                      reindex_changed=True)
    assert s2["n_preindexed_changed"] == 2
    up = spark.read.parquet(
        f"{tmp_path}/out2/_changed_upsert").toPandas()
    assert set(up["_action"]) == {"delete"}
    assert set(up["turn_idx"]) == {0, 1}


def test_conv_scope_grown_conversation_still_upserts(spark, tmp_path):
    """The grouped probe must NOT delete the common case: a conversation
    grown by new turns resembles only its own dying content and its
    replacement rows stay upserts."""
    idx = str(tmp_path / "gmh_index")
    _write_turns([_turn("a", 0, BASE), _turn("b", 0, OTHER)],
                 str(tmp_path / "s1.parquet"))
    run_pipeline(spark, str(tmp_path / "s1.parquet"),
                 str(tmp_path / "out1"), near_dedup_threshold=0.6,
                 near_dedup_index_path=idx,
                 near_dedup_scope="conversation", reindex_changed=True)

    _write_turns([_turn("a", 0, BASE), _turn("a", 1, CLEAN_2)],
                 str(tmp_path / "s2.parquet"))
    s2 = run_pipeline(spark, str(tmp_path / "s2.parquet"),
                      str(tmp_path / "out2"), near_dedup_threshold=0.6,
                      near_dedup_index_path=idx,
                      near_dedup_scope="conversation",
                      reindex_changed=True)
    assert s2["n_preindexed_changed"] == 2
    up = (spark.read.parquet(f"{tmp_path}/out2/_changed_upsert")
          .toPandas().sort_values("turn_idx"))
    assert list(up["_action"]) == ["upsert", "upsert"]
