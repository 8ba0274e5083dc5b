"""Epoch-versioned reindexing of the DOC-granularity MinHash index
(operators/minhash_index.py, reindex_docs): re-exported docs whose TEXT
changed get fresh signatures in a new epoch, readers resolve per-doc
latest-epoch, a crash before the epoch marker leaves the old epoch live,
and changed_preindexed_ids surfaces the docs that need the reindex."""

import os

import pytest
from pyspark.sql import functions as F

from sumi_agent_spark.operators.dedup import minhash_near_duplicates
from sumi_agent_spark.operators.minhash_index import (
    _committed_doc_ids,
    append_to_minhash_index,
    changed_preindexed_ids,
    minhash_near_duplicates_incremental,
    reindex_docs,
    write_minhash_index,
)

T_OLD = ("the quick brown fox jumps over the lazy dog while the sun sets "
         "slowly behind the distant mountains and the river keeps flowing")
T_NEW = ("a completely rewritten page describing broadcast joins, "
         "partition pruning and adaptive query execution at petabyte "
         "scale across many storage formats")
ALT = ("a completely different document about query engines, shuffle "
       "partitioning, bucketed joins and skew mitigation at scale")


def _df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _old(spark):
    return _df(spark, [("d100", T_OLD), ("d101", ALT)])


def _changed(spark):
    """d100 after a re-crawl replaced its text entirely."""
    return _df(spark, [("d100", T_NEW)])


def _slice(spark):
    """d1 ~ the CHANGED d100 (light mutation of T_NEW), d2 novel."""
    return _df(spark, [
        ("d1", T_NEW.replace("broadcast", "replicated")),
        ("d2", "a genuinely novel document mentioning nothing seen "
               "before anywhere in this corpus whatsoever")])


def _pairs(df):
    return {(r.id_a, r.id_b): r.jaccard for r in df.collect()}


def test_reindex_changed_doc_matches_full_run(spark, tmp_path):
    """After reindexing the changed doc, incremental pairs equal a full
    batch run over the UPDATED corpus, restricted to slice pairs."""
    path = str(tmp_path / "didx")
    write_minhash_index(_old(spark), "doc_id", "text", path, threshold=0.6)

    # pre-reindex: the slice only sees d100's STALE (T_OLD) signature and
    # shingles -- the near-copy of the new text matches nothing
    pre = _pairs(minhash_near_duplicates_incremental(
        _slice(spark), "doc_id", "text", path))
    assert pre == {}

    meta = reindex_docs(_changed(spark), "doc_id", "text", path)
    assert meta["epoch"] == 1

    inc = _pairs(minhash_near_duplicates_incremental(
        _slice(spark), "doc_id", "text", path))
    updated_corpus = _changed(spark).unionByName(
        _df(spark, [("d101", ALT)]))
    full = minhash_near_duplicates(
        updated_corpus.unionByName(_slice(spark)), "doc_id", "text",
        threshold=0.6)
    want = {(r.id_a, r.id_b): r.jaccard for r in full.collect()
            if r.id_a in {"d1", "d2"} or r.id_b in {"d1", "d2"}}
    assert inc == want
    assert ("d1", "d100") in inc  # the changed-text match actually exists


def test_reindex_crash_before_marker_leaves_old_epoch_live(
        spark, tmp_path, monkeypatch):
    """Epoch dirs written but marker not committed == nothing changed;
    the re-run overwrites the orphan dirs and completes."""
    path = str(tmp_path / "didx")
    write_minhash_index(_old(spark), "doc_id", "text", path, threshold=0.6)

    # build the reindex input BEFORE patching createDataFrame: the
    # reindex's only call of it is the epoch marker, after its stores
    changed = _changed(spark)
    real = spark.createDataFrame

    def boom(*a, **k):
        raise RuntimeError("injected crash before epoch marker")

    monkeypatch.setattr(spark, "createDataFrame", boom)
    with pytest.raises(RuntimeError, match="injected"):
        reindex_docs(changed, "doc_id", "text", path)
    monkeypatch.setattr(spark, "createDataFrame", real)
    # the stores of epoch 1 were written: the crash fell between them
    # and the marker
    assert os.path.isdir(f"{path}/shingles_e1")
    assert os.path.isdir(f"{path}/bands_e1")
    assert not os.path.exists(f"{path}/meta_e1")

    # old epoch still live: the new signature is invisible
    assert _pairs(minhash_near_duplicates_incremental(
        _slice(spark), "doc_id", "text", path)) == {}

    meta = reindex_docs(_changed(spark), "doc_id", "text", path)
    assert meta["epoch"] == 1
    got = _pairs(minhash_near_duplicates_incremental(
        _slice(spark), "doc_id", "text", path))
    assert ("d1", "d100") in got


def test_double_reindex_latest_epoch_wins(spark, tmp_path):
    """A doc rebuilt in epoch 1 and again in epoch 2 matches with its
    epoch-2 content only; untouched docs keep working."""
    path = str(tmp_path / "didx")
    write_minhash_index(_old(spark), "doc_id", "text", path, threshold=0.6)
    reindex_docs(_changed(spark), "doc_id", "text", path)
    replaced = _df(spark, [
        ("d100", "now this page is about gardening, compost ratios and "
                 "seasonal pruning of fruit trees only")])
    meta = reindex_docs(replaced, "doc_id", "text", path)
    assert meta["epoch"] == 2

    got = _pairs(minhash_near_duplicates_incremental(
        _slice(spark), "doc_id", "text", path))
    assert ("d1", "d100") not in got  # epoch-1 signature is dead
    alt_slice = _df(spark, [("d5", ALT.replace("different", "distinct"))])
    got2 = _pairs(minhash_near_duplicates_incremental(
        alt_slice, "doc_id", "text", path))
    assert ("d101", "d5") in got2
    assert {r.doc_id for r in
            _committed_doc_ids(spark, path).collect()} == {"d100", "d101"}


def test_append_new_doc_after_reindex(spark, tmp_path):
    """Appends keep landing in the base stores after a reindex; per-doc
    latest-epoch resolution handles the mix, and a re-append is inert."""
    path = str(tmp_path / "didx")
    write_minhash_index(_old(spark), "doc_id", "text", path, threshold=0.6)
    reindex_docs(_changed(spark), "doc_id", "text", path)

    d200 = _df(spark, [("d200", "an appended post-reindex document about "
                                "vector clocks and gossip protocols in "
                                "distributed registries")])
    append_to_minhash_index(d200, "doc_id", "text", path)
    n_bands = spark.read.parquet(f"{path}/bands").count()
    append_to_minhash_index(d200, "doc_id", "text", path)
    assert spark.read.parquet(f"{path}/bands").count() == n_bands

    assert {r.doc_id for r in _committed_doc_ids(spark, path).collect()} \
        == {"d100", "d101", "d200"}
    probe = _df(spark, [
        ("d6", "an appended post-reindex document about vector clocks "
               "and gossip protocols in distributed ledgers"),
        ("d7", T_NEW.replace("petabyte", "exabyte"))])
    got = _pairs(minhash_near_duplicates_incremental(
        probe, "doc_id", "text", path))
    assert ("d200", "d6") in got   # appended doc matches
    assert ("d100", "d7") in got   # reindexed doc matches


def test_changed_preindexed_ids_splits_identical_from_changed(
        spark, tmp_path):
    """Only the re-export whose TEXT changed is reported; an identical
    re-export and a novel doc are not."""
    path = str(tmp_path / "didx")
    write_minhash_index(_old(spark), "doc_id", "text", path, threshold=0.6)
    reexport = _df(spark, [
        ("d100", T_NEW),                       # changed re-export
        ("d101", ALT),                         # identical re-export
        ("d9", "a novel doc not in the index at all")])
    got = {r.doc_id for r in changed_preindexed_ids(
        reexport, "doc_id", "text", path).collect()}
    assert got == {"d100"}
    # after reindexing, the same probe reports nothing
    reindex_docs(_changed(spark), "doc_id", "text", path)
    got2 = {r.doc_id for r in changed_preindexed_ids(
        reexport, "doc_id", "text", path).collect()}
    assert got2 == set()


def test_epoch0_doc_read_path_has_no_resolution_window(spark, tmp_path):
    """A never-reindexed doc index reads exactly as before epochs existed:
    the per-doc max-epoch window appears only after a reindex.  (r7: the
    incremental operator localCheckpoints its intermediates, which
    truncates the public plan, so the property is asserted on the shared
    epoch-read helpers the operator delegates to -- the same ONE
    implementation every reader uses.)"""
    from sumi_agent_spark.operators.minhash_index import (
        _read_epoched, _read_meta, _resolve_latest)

    path = str(tmp_path / "didx")
    write_minhash_index(_old(spark), "doc_id", "text", path, threshold=0.6)
    live0 = _read_meta(spark, path)["epoch"]
    assert live0 == 0
    plan0 = (_resolve_latest(
        _read_epoched(spark, path, "bands", live0,
                      ["doc_id", "band", "band_key"]), "doc_id", live0)
        ._jdf.queryExecution().optimizedPlan().toString())
    assert "_emax" not in plan0

    reindex_docs(_changed(spark), "doc_id", "text", path)
    live1 = _read_meta(spark, path)["epoch"]
    assert live1 == 1
    plan1 = (_resolve_latest(
        _read_epoched(spark, path, "bands", live1,
                      ["doc_id", "band", "band_key"]), "doc_id", live1)
        ._jdf.queryExecution().optimizedPlan().toString())
    assert "_emax" in plan1


def test_compact_doc_index(spark, tmp_path):
    """Compaction rewrites the resolved doc-index state as a fresh
    epoch-0 index with identical incremental pairs, drops the reindexed
    doc's stale epoch-0 rows, and refuses in-place."""
    from sumi_agent_spark.operators.minhash_index import compact_doc_index

    src = str(tmp_path / "didx")
    write_minhash_index(_old(spark), "doc_id", "text", src, threshold=0.6)
    reindex_docs(_changed(spark), "doc_id", "text", src)
    want = _pairs(minhash_near_duplicates_incremental(
        _slice(spark), "doc_id", "text", src))
    assert ("d1", "d100") in want

    dst = str(tmp_path / "didx_compact")
    meta = compact_doc_index(spark, src, dst)
    assert meta["epoch"] == 0 and meta["granularity"] == "doc"
    got = _pairs(minhash_near_duplicates_incremental(
        _slice(spark), "doc_id", "text", dst))
    assert got == want
    # exactly one shingle row per doc survives compaction
    sh = spark.read.parquet(f"{dst}/shingles").groupBy("doc_id").count()
    assert {r["count"] for r in sh.collect()} == {1}

    with pytest.raises(ValueError, match="differ"):
        compact_doc_index(spark, src, src)
    # granularity guard: doc compaction refuses a grouped index
    from sumi_agent_spark.operators.minhash_index import (
        write_grouped_minhash_index)
    gsrc = str(tmp_path / "gidx")
    write_grouped_minhash_index(
        _df(spark, [("g1", T_OLD)]), "doc_id", "text", gsrc, threshold=0.6)
    with pytest.raises(ValueError, match="granularity"):
        compact_doc_index(spark, gsrc, str(tmp_path / "gidx_compact"))


def test_recreate_over_reindexed_index_is_clean_or_loud(spark, tmp_path):
    """Rebuilding an index over a previously-reindexed path must not
    inherit the dead index's epoch markers (silent corruption), and a
    create that crashed after clearing commit state must leave the path
    LOUDLY unreadable -- never readable-but-reverted to stale epoch 0."""
    from sumi_agent_spark.operators.minhash_index import (
        _delete_stale_epoch_markers, _read_meta)

    path = str(tmp_path / "didx")
    write_minhash_index(_old(spark), "doc_id", "text", path, threshold=0.6)
    reindex_docs(_changed(spark), "doc_id", "text", path)
    assert _read_meta(spark, path)["epoch"] == 1

    # completed re-create: fresh epoch-0 index, old markers gone
    fresh = _df(spark, [("n1", ALT)])
    write_minhash_index(fresh, "doc_id", "text", path, threshold=0.6)
    meta = _read_meta(spark, path)
    assert meta["epoch"] == 0
    assert {r.doc_id for r in
            _committed_doc_ids(spark, path).collect()} == {"n1"}

    # crash window: commit state cleared, stores not yet rewritten --
    # the index must fail to read (create re-runs), NOT resolve stale
    reindex_docs(_df(spark, [("n1", T_NEW)]), "doc_id", "text", path)
    _delete_stale_epoch_markers(spark, path)  # = crash right after this
    with pytest.raises(Exception):
        _read_meta(spark, path)
