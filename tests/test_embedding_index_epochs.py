"""Epoch-versioned reindexing of the embedding index
(operators/embedding_index.py, reindex_embeddings): keys whose vector
was recomputed get fresh buckets/vectors in a new epoch, readers resolve
per-key latest-epoch, a crash before the marker leaves the old epoch
live, and compaction rewrites the resolved state."""

import os

import pytest

from sumi_agent_spark.operators.embedding_index import (
    _committed_ids,
    append_to_embedding_index,
    changed_preindexed_ids,
    compact_embedding_index,
    embedding_near_duplicates_incremental,
    reindex_embeddings,
    write_embedding_index,
)

V_BASE = [1.0, 0.0, 0.0, 0.0]
V_NEAR_BASE = [1.01, 0.001, 0.0, 0.0]
V_ALT = [0.0, 1.0, 0.0, 0.0]
V_NOVEL = [0.0, 0.0, 1.0, 0.0]
V_NEAR_NOVEL = [0.001, 0.0, 1.0, 0.002]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, v array<float>")


def _old(spark):
    return _df(spark, [("e100", V_BASE), ("e101", V_ALT)])


def _changed(spark):
    """e100 after its source text was edited and re-embedded."""
    return _df(spark, [("e100", V_NOVEL)])


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_reindex_changed_vector_switches_matches(spark, tmp_path):
    """Before the reindex a probe near the NEW vector misses (stale
    bucket) and a probe near the OLD vector still matches; after the
    reindex both flip."""
    path = str(tmp_path / "eidx")
    write_embedding_index(_old(spark), "doc_id", "v", path, threshold=0.95)

    near_new = _df(spark, [("p1", V_NEAR_NOVEL)])
    near_old = _df(spark, [("p2", V_NEAR_BASE)])
    assert _pairs(embedding_near_duplicates_incremental(
        near_new, "doc_id", "v", path)) == set()
    assert _pairs(embedding_near_duplicates_incremental(
        near_old, "doc_id", "v", path)) == {("e100", "p2")}

    meta = reindex_embeddings(_changed(spark), "doc_id", "v", path)
    assert meta["epoch"] == 1

    assert _pairs(embedding_near_duplicates_incremental(
        near_new, "doc_id", "v", path)) == {("e100", "p1")}
    # the stale epoch-0 vector/bucket is dead
    assert _pairs(embedding_near_duplicates_incremental(
        near_old, "doc_id", "v", path)) == set()
    # untouched e101 still matches
    assert _pairs(embedding_near_duplicates_incremental(
        _df(spark, [("p3", [0.001, 1.0, 0.0, 0.001])]),
        "doc_id", "v", path)) == {("e101", "p3")}


def test_reindex_crash_before_marker_leaves_old_epoch_live(
        spark, tmp_path, monkeypatch):
    path = str(tmp_path / "eidx")
    write_embedding_index(_old(spark), "doc_id", "v", path, threshold=0.95)

    # build the reindex input BEFORE patching createDataFrame: the
    # reindex's only call of it is the epoch marker, after its stores
    changed = _changed(spark)
    real = spark.createDataFrame

    def boom(*a, **k):
        raise RuntimeError("injected crash before epoch marker")

    monkeypatch.setattr(spark, "createDataFrame", boom)
    with pytest.raises(RuntimeError, match="injected"):
        reindex_embeddings(changed, "doc_id", "v", path)
    monkeypatch.setattr(spark, "createDataFrame", real)
    # the stores of epoch 1 were written: the crash fell between them
    # and the marker
    assert os.path.isdir(f"{path}/vectors_e1")
    assert os.path.isdir(f"{path}/buckets_e1")
    assert not os.path.exists(f"{path}/meta_e1")

    near_new = _df(spark, [("p1", V_NEAR_NOVEL)])
    assert _pairs(embedding_near_duplicates_incremental(
        near_new, "doc_id", "v", path)) == set()  # old epoch still live

    meta = reindex_embeddings(_changed(spark), "doc_id", "v", path)
    assert meta["epoch"] == 1
    assert _pairs(embedding_near_duplicates_incremental(
        near_new, "doc_id", "v", path)) == {("e100", "p1")}


def test_append_after_reindex_and_changed_probe(spark, tmp_path):
    """Appends land in the base stores after a reindex and re-appends are
    inert; changed_preindexed_ids resolves the latest epoch (an identical
    re-export of the REINDEXED vector is no longer 'changed')."""
    path = str(tmp_path / "eidx")
    write_embedding_index(_old(spark), "doc_id", "v", path, threshold=0.95)

    reexport = _df(spark, [("e100", V_NOVEL), ("e101", V_ALT)])
    assert {r.doc_id for r in changed_preindexed_ids(
        reexport, "doc_id", "v", path).collect()} == {"e100"}
    reindex_embeddings(_changed(spark), "doc_id", "v", path)
    assert {r.doc_id for r in changed_preindexed_ids(
        reexport, "doc_id", "v", path).collect()} == set()

    e200 = _df(spark, [("e200", [0.5, 0.5, 0.0, 0.0])])
    append_to_embedding_index(e200, "doc_id", "v", path)
    n = spark.read.parquet(f"{path}/buckets").count()
    append_to_embedding_index(e200, "doc_id", "v", path)
    assert spark.read.parquet(f"{path}/buckets").count() == n
    assert {r.doc_id for r in _committed_ids(spark, path).collect()} \
        == {"e100", "e101", "e200"}
    probe = _df(spark, [("p4", [0.501, 0.5, 0.0, 0.001])])
    assert _pairs(embedding_near_duplicates_incremental(
        probe, "doc_id", "v", path)) == {("e200", "p4")}


def test_compact_embedding_index(spark, tmp_path):
    src = str(tmp_path / "eidx")
    write_embedding_index(_old(spark), "doc_id", "v", src, threshold=0.95)
    reindex_embeddings(_changed(spark), "doc_id", "v", src)
    near_new = _df(spark, [("p1", V_NEAR_NOVEL)])
    want = _pairs(embedding_near_duplicates_incremental(
        near_new, "doc_id", "v", src))
    assert want == {("e100", "p1")}

    dst = str(tmp_path / "eidx_compact")
    meta = compact_embedding_index(spark, src, dst)
    assert "epoch" not in meta  # fresh epoch-0 meta
    got = _pairs(embedding_near_duplicates_incremental(
        near_new, "doc_id", "v", dst))
    assert got == want
    # exactly one vector row per key survives compaction
    per = spark.read.parquet(f"{dst}/vectors").groupBy("doc_id").count()
    assert {r["count"] for r in per.collect()} == {1}
    with pytest.raises(ValueError, match="differ"):
        compact_embedding_index(spark, src, src)


def test_epoch0_embedding_read_path_has_no_resolution_window(
        spark, tmp_path):
    path = str(tmp_path / "eidx")
    write_embedding_index(_old(spark), "doc_id", "v", path, threshold=0.95)
    probe = _df(spark, [("p1", V_NEAR_NOVEL)])
    plan0 = (embedding_near_duplicates_incremental(
        probe, "doc_id", "v", path)
        ._jdf.queryExecution().optimizedPlan().toString())
    assert "_emax" not in plan0

    reindex_embeddings(_changed(spark), "doc_id", "v", path)
    plan1 = (embedding_near_duplicates_incremental(
        probe, "doc_id", "v", path)
        ._jdf.queryExecution().optimizedPlan().toString())
    assert "_emax" in plan1


def test_reindex_refuses_model_rev_mismatch(spark, tmp_path):
    """A model-revision change invalidates EVERY committed vector, not
    just the changed keys -- reindex refuses; rebuild instead."""
    path = str(tmp_path / "eidx")
    write_embedding_index(_old(spark), "doc_id", "v", path,
                          threshold=0.95, model_rev="m1")
    with pytest.raises(ValueError, match="model_rev"):
        reindex_embeddings(_changed(spark), "doc_id", "v", path,
                           model_rev="m2")
    meta = reindex_embeddings(_changed(spark), "doc_id", "v", path,
                              model_rev="m1")
    assert meta["model_rev"] == "m1" and meta["epoch"] == 1
