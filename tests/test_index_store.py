"""The shared commit protocol of persisted indexes and models
(operators/index_store.py): the ``_SUCCESS`` marker check, clearing an
old index before a create, and the loud failure when a store or
committer has success markers disabled."""

import os

import pytest

from sumi_agent_spark.operators import index_store
from sumi_agent_spark.operators.index_store import Store

MARKERS = "mapreduce.fileoutputcommitter.marksuccessfuljobs"


def _rows(spark):
    return spark.createDataFrame([("k1", 1), ("k2", 2)],
                                 "doc_id string, x int")


def test_committed_absent_and_torn(spark, tmp_path):
    done, absent, torn = (str(tmp_path / n)
                          for n in ("done", "absent", "torn"))
    index_store.write(spark, done, _rows(spark), [Store("rows")], {"a": 1})
    assert index_store.committed(spark, f"{done}/meta")
    assert index_store.read_meta(spark, done) == {"a": 1, "epoch": 0}

    assert not index_store.committed(spark, f"{absent}/meta")
    assert index_store.read_meta(spark, absent) is None

    # a crash during the meta write: the committer's _temporary, no marker
    os.makedirs(f"{torn}/meta/_temporary")
    assert not index_store.committed(spark, f"{torn}/meta")
    assert index_store.read_meta(spark, torn) is None


class _RecordingFs:
    """Hadoop FileSystem proxy that records deletes and can fail after
    the first one."""

    def __init__(self, fs, log, fail_after_first):
        self._fs, self._log, self._fail = fs, log, fail_after_first

    def delete(self, path, recursive):
        if self._fail and self._log:
            raise RuntimeError("injected crash after the first delete")
        self._log.append(os.path.basename(path.toString()))
        return self._fs.delete(path, recursive)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_create_over_reindexed_path(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "idx")
    stores = [Store("rows")]
    index_store.write(spark, path, _rows(spark), stores, {"a": 1})
    index_store.write(spark, path, _rows(spark), stores, {"a": 1}, epoch=1)
    assert index_store.read_meta(spark, path)["epoch"] == 1

    real_fs, log = index_store._fs, []

    def recording(fail):
        def fs(spark_, p):
            handle, hp = real_fs(spark_, p)
            return _RecordingFs(handle, log, fail), hp
        return fs

    # a create that crashes right after its first delete leaves the old
    # index unreadable, never readable at its stale epoch 0
    monkeypatch.setattr(index_store, "_fs", recording(True))
    with pytest.raises(RuntimeError, match="injected"):
        index_store.write(spark, path, _rows(spark), stores, {"a": 2})
    assert log == ["meta"]
    assert index_store.read_meta(spark, path) is None

    # a completed create: base meta first, then the epoch markers, and
    # the fresh index resolves epoch 0
    log.clear()
    monkeypatch.setattr(index_store, "_fs", recording(False))
    index_store.write(spark, path, _rows(spark), stores, {"a": 2})
    assert log == ["meta", "meta_e1"]
    assert index_store.read_meta(spark, path) == {"a": 2, "epoch": 0}
    assert not os.path.exists(f"{path}/meta_e1")


def test_crash_before_epoch_marker_leaves_old_epoch_live(
        spark, tmp_path, monkeypatch):
    """A reindex whose stores landed but whose ``meta_eN`` commit did not
    leaves the old epoch live; the re-run replaces the orphan store."""
    path = str(tmp_path / "idx")
    stores = [Store("rows")]
    index_store.write(spark, path, _rows(spark), stores, {"a": 1})

    def boom(*a, **k):
        raise RuntimeError("injected crash before the epoch marker")

    monkeypatch.setattr(index_store, "write_rows", boom)
    with pytest.raises(RuntimeError, match="injected"):
        index_store.write(spark, path, _rows(spark).limit(1), stores,
                          {"a": 1}, epoch=1)
    monkeypatch.undo()
    assert os.path.isdir(f"{path}/rows_e1")
    assert index_store.read_meta(spark, path)["epoch"] == 0

    index_store.write(spark, path, _rows(spark).limit(1), stores, {"a": 1},
                      epoch=1)
    assert index_store.read_meta(spark, path)["epoch"] == 1
    assert spark.read.parquet(f"{path}/rows_e1").count() == 1
    assert index_store.read_latest(spark, path, "rows", 1).count() == 2


def test_disabled_success_markers_raise(spark, tmp_path):
    from sumi_agent_spark.operators.lm_perplexity import (
        fit_unigram_lm, write_unigram_lm)
    from sumi_agent_spark.operators.minhash_index import (
        reindex_docs, write_minhash_index)

    docs = spark.createDataFrame(
        [("d1", "the quick brown fox jumps over the lazy dog")],
        "doc_id string, text string")
    model = fit_unigram_lm(docs, min_count=1)
    geo = dict(threshold=0.75, n_hashes=16, bands=4, shingle_k=3)
    path = str(tmp_path / "idx")
    write_minhash_index(docs, "doc_id", "text", path, **geo)
    spark.conf.set(MARKERS, "false")
    try:
        # a create's base meta is checked too: an invisible create would
        # read as absent and be re-bootstrapped over on the next run
        with pytest.raises(RuntimeError, match="success markers"):
            write_minhash_index(docs, "doc_id", "text",
                                str(tmp_path / "idx2"), **geo)
        with pytest.raises(RuntimeError, match="success markers"):
            reindex_docs(docs, "doc_id", "text", path)
        with pytest.raises(RuntimeError, match="success markers"):
            write_unigram_lm(spark, model, str(tmp_path / "lm"))
    finally:
        spark.conf.unset(MARKERS)
