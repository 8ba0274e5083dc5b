"""Epoch-versioned reindexing of the grouped MinHash index
(operators/minhash_index.py, reindex_groups): grown conversations get
fresh signatures in a new epoch, readers resolve per-group latest-epoch,
and a crash before the meta flip leaves the old epoch live."""

import os

import pytest
from pyspark.sql import functions as F

from sumi_agent_spark.operators.dedup import minhash_near_duplicates_grouped
from sumi_agent_spark.operators.minhash_index import (
    append_grouped_to_minhash_index,
    committed_group_ids,
    minhash_near_duplicates_grouped_incremental,
    reindex_groups,
    write_grouped_minhash_index,
)

T0 = ("the quick brown fox jumps over the lazy dog while the sun sets "
      "slowly behind the distant mountains and the river keeps flowing")
T1 = "a second turn about watermarks, state stores and output modes"
T2 = ("a freshly added third turn discussing broadcast joins, partition "
      "pruning and adaptive query execution at petabyte scale")
T3 = ("a freshly added fourth turn describing salted aggregations, skew "
      "mitigation and bucketed storage layouts for hot keys")
ALT = ("a completely different conversation about query engines, shuffle "
       "partitioning, bucketed joins and skew mitigation at scale")


def _df(spark, rows):
    return spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])


def _old(spark):
    return _df(spark, [("g100", 0, T0), ("g100", 1, T1),
                       ("g101", 0, ALT)])


def _grown(spark):
    """g100's FULL content after two new turns arrived."""
    return _df(spark, [("g100", 0, T0), ("g100", 1, T1),
                       ("g100", 2, T2), ("g100", 3, T3)])


def _slice(spark):
    """g1 ~ the GROWN g100 (every turn lightly mutated), g2 novel."""
    return _df(spark, [
        ("g1", 0, T0.replace("quick", "swift")),
        ("g1", 1, T1.replace("second", "following")),
        ("g1", 2, T2.replace("broadcast", "replicated")),
        ("g1", 3, T3.replace("salted", "seasoned")),
        ("g2", 0, "a genuinely novel conversation mentioning nothing "
                  "seen before anywhere in this corpus whatsoever")])


def _pairs(df):
    return {(r.id_a, r.id_b): r.jaccard for r in df.collect()}


def test_reindex_grown_conversation_matches_full_run(spark, tmp_path):
    """After reindexing the grown conversation, incremental pairs equal a
    full grouped run over the grown corpus, restricted to slice pairs --
    the closed-per-slice restriction is genuinely lifted."""
    path = str(tmp_path / "gidx")
    write_grouped_minhash_index(_old(spark), "conv_id", "text", path,
                                threshold=0.6)

    # pre-reindex: the slice matches only the STALE 2-turn g100, whose
    # shingle union is about half of g1's -- no pair clears 0.6
    pre = _pairs(minhash_near_duplicates_grouped_incremental(
        _slice(spark), "conv_id", "text", path))
    assert pre == {}

    meta = reindex_groups(_grown(spark), "conv_id", "text", path)
    assert meta["epoch"] == 1

    inc = _pairs(minhash_near_duplicates_grouped_incremental(
        _slice(spark), "conv_id", "text", path))
    grown_corpus = _grown(spark).unionByName(
        _df(spark, [("g101", 0, ALT)]))
    full = minhash_near_duplicates_grouped(
        grown_corpus.unionByName(_slice(spark)), "conv_id", "text",
        threshold=0.6)
    want = {(r.id_a, r.id_b): r.jaccard for r in full.collect()
            if r.id_a in {"g1", "g2"} or r.id_b in {"g1", "g2"}}
    assert inc == want
    assert ("g1", "g100") in inc  # the grown match actually exists


def test_reindex_crash_before_meta_flip_leaves_old_epoch_live(
        spark, tmp_path, monkeypatch):
    """Epoch directories written but meta not flipped == nothing changed;
    the re-run overwrites the orphan dirs and completes."""
    path = str(tmp_path / "gidx")
    write_grouped_minhash_index(_old(spark), "conv_id", "text", path,
                                threshold=0.6)

    # build the reindex input BEFORE patching createDataFrame: the
    # reindex's only call of it is the epoch marker, after its stores
    grown = _grown(spark)
    real = spark.createDataFrame

    def boom(*a, **k):
        raise RuntimeError("injected crash before meta flip")

    monkeypatch.setattr(spark, "createDataFrame", boom)
    with pytest.raises(RuntimeError, match="injected"):
        reindex_groups(grown, "conv_id", "text", path)
    monkeypatch.setattr(spark, "createDataFrame", real)
    # the stores of epoch 1 were written: the crash fell between them
    # and the marker
    assert os.path.isdir(f"{path}/shingles_e1")
    assert os.path.isdir(f"{path}/bands_e1")
    assert not os.path.exists(f"{path}/meta_e1")

    # old epoch still live: the grown signature is invisible
    assert _pairs(minhash_near_duplicates_grouped_incremental(
        _slice(spark), "conv_id", "text", path)) == {}

    # re-run completes (overwrite mode replaces the orphan epoch dirs)
    meta = reindex_groups(_grown(spark), "conv_id", "text", path)
    assert meta["epoch"] == 1
    got = _pairs(minhash_near_duplicates_grouped_incremental(
        _slice(spark), "conv_id", "text", path))
    assert ("g1", "g100") in got


def test_double_reindex_latest_epoch_wins(spark, tmp_path):
    """A group rebuilt in epoch 1 and again in epoch 2 matches with its
    epoch-2 content only; untouched groups keep working."""
    path = str(tmp_path / "gidx")
    write_grouped_minhash_index(_old(spark), "conv_id", "text", path,
                                threshold=0.6)
    reindex_groups(_grown(spark), "conv_id", "text", path)
    # epoch 2 replaces g100's content entirely with unrelated text
    replaced = _df(spark, [
        ("g100", 0, "now this conversation is about gardening, compost "
                    "ratios and seasonal pruning of fruit trees only")])
    meta = reindex_groups(replaced, "conv_id", "text", path)
    assert meta["epoch"] == 2

    got = _pairs(minhash_near_duplicates_grouped_incremental(
        _slice(spark), "conv_id", "text", path))
    assert ("g1", "g100") not in got  # epoch-1 signature is dead
    # untouched g101 still matches a near-copy
    alt_slice = _df(spark, [("g5", 0, ALT.replace("different", "distinct"))])
    got2 = _pairs(minhash_near_duplicates_grouped_incremental(
        alt_slice, "conv_id", "text", path))
    assert ("g101", "g5") in got2
    assert {r.gid for r in committed_group_ids(spark, path).collect()} \
        == {"g100", "g101"}


def test_append_new_group_after_reindex(spark, tmp_path):
    """Appends keep landing in the base stores after a reindex; per-group
    latest-epoch resolution handles the mix, and a re-append is inert."""
    path = str(tmp_path / "gidx")
    write_grouped_minhash_index(_old(spark), "conv_id", "text", path,
                                threshold=0.6)
    reindex_groups(_grown(spark), "conv_id", "text", path)

    g200 = _df(spark, [("g200", 0, "an appended post-reindex conversation "
                                   "about vector clocks and gossip "
                                   "protocols in distributed registries")])
    append_grouped_to_minhash_index(g200, "conv_id", "text", path)
    n_bands = spark.read.parquet(f"{path}/bands").count()
    append_grouped_to_minhash_index(g200, "conv_id", "text", path)
    assert spark.read.parquet(f"{path}/bands").count() == n_bands

    assert {r.gid for r in committed_group_ids(spark, path).collect()} \
        == {"g100", "g101", "g200"}
    probe = _df(spark, [
        ("g6", 0, "an appended post-reindex conversation about vector "
                  "clocks and gossip protocols in distributed ledgers"),
        ("g7", 0, T0.replace("quick", "swift")),
        ("g7", 1, T1), ("g7", 2, T2), ("g7", 3, T3)])
    got = _pairs(minhash_near_duplicates_grouped_incremental(
        probe, "conv_id", "text", path))
    assert ("g200", "g6") in got   # appended group matches
    assert ("g100", "g7") in got   # reindexed group matches


def test_compact_grouped_index(spark, tmp_path):
    """Compaction rewrites the resolved state as a fresh epoch-0 index
    that yields identical incremental pairs, and refuses in-place."""
    from sumi_agent_spark.operators.minhash_index import (
        compact_grouped_index)

    src = str(tmp_path / "gidx")
    write_grouped_minhash_index(_old(spark), "conv_id", "text", src,
                                threshold=0.6)
    reindex_groups(_grown(spark), "conv_id", "text", src)
    want = _pairs(minhash_near_duplicates_grouped_incremental(
        _slice(spark), "conv_id", "text", src))
    assert ("g1", "g100") in want

    dst = str(tmp_path / "gidx_compact")
    meta = compact_grouped_index(spark, src, dst)
    assert meta["epoch"] == 0
    got = _pairs(minhash_near_duplicates_grouped_incremental(
        _slice(spark), "conv_id", "text", dst))
    assert got == want
    # stale epoch-0 rows of the reindexed group did NOT survive: the
    # compacted band store holds exactly one signature per group
    import pyspark.sql.functions as SF
    per_gid = (spark.read.parquet(f"{dst}/bands")
               .groupBy("doc_id").count().collect())
    counts = {r["doc_id"]: r["count"] for r in per_gid}
    assert counts["g100"] == counts["g101"]

    with pytest.raises(ValueError, match="differ"):
        compact_grouped_index(spark, src, src)


def test_epoch0_read_path_has_no_resolution_window(spark, tmp_path):
    """A never-reindexed index must read exactly as before epochs existed:
    the per-gid max-epoch resolution window (an extra narrow shuffle)
    appears in the plan only once a reindex has happened."""
    path = str(tmp_path / "gidx")
    write_grouped_minhash_index(_old(spark), "conv_id", "text", path,
                                threshold=0.6)
    plan0 = (minhash_near_duplicates_grouped_incremental(
        _slice(spark), "conv_id", "text", path)
        ._jdf.queryExecution().optimizedPlan().toString())
    assert "_emax" not in plan0  # free path: resolution short-circuited

    reindex_groups(_grown(spark), "conv_id", "text", path)
    plan1 = (minhash_near_duplicates_grouped_incremental(
        _slice(spark), "conv_id", "text", path)
        ._jdf.queryExecution().optimizedPlan().toString())
    assert "_emax" in plan1  # epochs exist: resolution window active


def test_changed_preindexed_gids_splits_identical_from_grown(
        spark, tmp_path):
    """Only the conversation whose member rows changed/grew is reported;
    an identical re-export and a novel conversation are not -- and a
    reindex clears the report."""
    from sumi_agent_spark.operators.minhash_index import (
        changed_preindexed_gids)

    path = str(tmp_path / "gidx")
    write_grouped_minhash_index(_old(spark), "conv_id", "text", path,
                                threshold=0.6)
    reexport = _df(spark, [
        ("g100", 0, T0), ("g100", 1, T1),            # grown re-export...
        ("g100", 2, T2), ("g100", 3, T3),            # ...two new turns
        ("g101", 0, ALT),                            # identical re-export
        ("g9", 0, "a novel conversation not in the index")])
    got = {r.gid for r in changed_preindexed_gids(
        reexport, "conv_id", "text", path).collect()}
    assert got == {"g100"}
    reindex_groups(_grown(spark), "conv_id", "text", path)
    got2 = {r.gid for r in changed_preindexed_gids(
        reexport, "conv_id", "text", path).collect()}
    assert got2 == set()
