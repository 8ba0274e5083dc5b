"""Incremental (cross-run) near-dedup against a persisted MinHash index.

The contract under test: ``minhash_near_duplicates_incremental(slice)``
returns EXACTLY the pairs a full-corpus ``minhash_near_duplicates`` run
would return, restricted to pairs touching at least one slice doc -- same
hash family, same band geometry, full-bucket capping -- without ever
recomputing old-vs-old."""

import pytest
from pyspark.sql import functions as F

from sumi_agent_spark.operators.dedup import minhash_near_duplicates
from sumi_agent_spark.operators.minhash_index import (
    append_to_minhash_index,
    incremental_drop_keys,
    minhash_near_duplicates_incremental,
    write_minhash_index,
)

BASE = ("the quick brown fox jumps over the lazy dog while the sun sets "
        "slowly behind the distant mountains and the river keeps flowing")
ALT = ("a completely different discussion about query engines, shuffle "
       "partitioning, bucketed joins and skew mitigation at petabyte scale")
THIRD = ("yet another unrelated document describing watermarks, stateful "
         "streaming operators and exactly-once sinks in structured streaming")


def _old_rows():
    # corpus ids are LARGER than slice ids on purpose: the corpus-wins drop
    # policy must not depend on key order
    return [
        (100, BASE),
        (101, BASE.replace("quick", "swift")),   # near-dup inside corpus
        (102, ALT),
        (103, THIRD),
        (104, "short unique corpus document about nothing in particular"),
    ]


def _new_rows():
    return [
        (1, ALT.replace("different", "distinct")),   # near-dup of corpus 102
        (2, BASE),                                   # exact dup of corpus 100
        (3, THIRD.replace("operators", "runners")),  # near-dup of corpus 103
        (4, THIRD.replace("operators", "runners") + " indeed"),  # ~ of 3
        (5, "a genuinely novel slice document mentioning nothing seen before"),
    ]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_old_rows(), ["doc_id", "text"])


@pytest.fixture(scope="module")
def slice_df(spark):
    return spark.createDataFrame(_new_rows(), ["doc_id", "text"])


@pytest.fixture(scope="module")
def index_path(tmp_path_factory, corpus):
    path = str(tmp_path_factory.mktemp("mh_index") / "idx")
    meta = write_minhash_index(corpus, "doc_id", "text", path, threshold=0.6)
    assert meta["bands"] == 32  # derived geometry for threshold 0.6
    return path


def _pairset(df):
    return {(r.id_a, r.id_b): r.jaccard for r in df.collect()}


def test_incremental_equals_full_run_restricted(spark, corpus, slice_df,
                                                index_path):
    inc = minhash_near_duplicates_incremental(
        slice_df, "doc_id", "text", index_path)
    got = _pairset(inc.select("id_a", "id_b", "jaccard"))

    full = minhash_near_duplicates(
        corpus.unionByName(slice_df), "doc_id", "text", threshold=0.6)
    new_keys = {r[0] for r in _new_rows()}
    want = {k: v for k, v in _pairset(full).items()
            if k[0] in new_keys or k[1] in new_keys}
    assert got == want
    assert len(got) >= 4  # 1~102, 2~100, 3~103, 3~4 (plus LSH-recalled 4~103)
    # old-vs-old pairs (100,101) must NOT be recomputed/returned
    assert all(k[0] in new_keys or k[1] in new_keys for k in got)


def test_incremental_flags_and_drop_policy(spark, slice_df, index_path):
    inc = minhash_near_duplicates_incremental(
        slice_df, "doc_id", "text", index_path)
    rows = {(r.id_a, r.id_b): (r.new_a, r.new_b) for r in inc.collect()}
    # mixed pairs: slice ids (small) sort first but are the NEW side
    assert rows[(1, 102)] == (True, False)
    assert rows[(2, 100)] == (True, False)
    assert rows[(3, 4)] == (True, True)

    drops = {r.doc_id for r in incremental_drop_keys(inc).collect()}
    # corpus wins every mixed pair even though its key is larger;
    # keep-first inside the slice drops the later key of (3, 4)
    assert 1 in drops and 2 in drops and 3 in drops and 4 in drops
    assert not drops & {100, 101, 102, 103, 104}
    assert 5 not in drops  # the novel doc survives


def test_append_then_next_slice_sees_previous_slice(spark, slice_df,
                                                    tmp_path, corpus):
    path = str(tmp_path / "idx")
    write_minhash_index(corpus, "doc_id", "text", path, threshold=0.6)
    append_to_minhash_index(slice_df, "doc_id", "text", path)

    slice2 = spark.createDataFrame(
        [(11, "a genuinely novel slice document mentioning nothing seen "
              "before today")],  # near-dup of slice-1 doc 5
        ["doc_id", "text"])
    inc = minhash_near_duplicates_incremental(slice2, "doc_id", "text", path)
    rows = {(r.id_a, r.id_b): (r.new_a, r.new_b) for r in inc.collect()}
    assert (5, 11) in rows
    assert rows[(5, 11)] == (False, True)  # 5 is corpus now; 11 drops
    drops = {r.doc_id for r in incremental_drop_keys(inc).collect()}
    assert drops == {11}


def test_incremental_capping_counts_full_bucket(spark, tmp_path):
    """Bucket caps count old + new rows together: 600 corpus copies + 600
    slice copies of one text exceed a 1000 cap even though neither side
    alone does -- and the capped run yields zero pairs.  Holds for the doc
    index and for the group index (one-row groups), and each incremental
    operator's observed capping metrics equal its audit's recount."""
    from pyspark.sql import Observation

    from sumi_agent_spark.operators.dedup import capped_bucket_metrics
    from sumi_agent_spark.operators.minhash_index import (
        minhash_grouped_index_bucket_audit,
        minhash_index_bucket_audit,
        minhash_near_duplicates_grouped_incremental,
        write_grouped_minhash_index,
    )

    text = "identical boilerplate beyond the cap " * 3
    corpus = spark.range(600).select(
        (F.col("id") + 1000).alias("doc_id"), F.lit(text).alias("text"))
    # one UNCAPPED near-dup pair keeps the output nonempty, so the observed
    # subtree is not pruned (dedup.py documents the empty-output corner)
    extra = spark.createDataFrame(
        [(0, BASE), (1, BASE.replace("quick", "swift"))], ["doc_id", "text"])
    slice_df = spark.range(600).select(
        (F.col("id") + 10).alias("doc_id"),
        F.lit(text).alias("text")).unionByName(extra)
    for granularity, write, incremental, audit in [
            ("doc", write_minhash_index, minhash_near_duplicates_incremental,
             minhash_index_bucket_audit),
            ("group", write_grouped_minhash_index,
             minhash_near_duplicates_grouped_incremental,
             minhash_grouped_index_bucket_audit)]:
        path = str(tmp_path / f"idx_{granularity}")
        write(corpus, "doc_id", "text", path, threshold=0.8)

        obs = Observation(f"inc_capping_{granularity}")
        inc = incremental(slice_df, "doc_id", "text", path,
                          max_bucket_size=1000, observation=obs)
        # the hot bucket contributed nothing
        assert _pairset(inc.select("id_a", "id_b", "jaccard")) \
            .keys() == {(0, 1)}, granularity
        m = capped_bucket_metrics(obs)
        # threshold 0.8 -> 16 bands; each band's hot bucket holds 600
        # corpus + 600 slice rows -- over the cap only because both sides
        # count
        assert m is not None, granularity
        assert m["max_bucket_n"] == 1200
        assert m["n_capped_buckets"] == 16
        assert m["n_capped_rows"] == 16 * 1200
        # the audit recounts exactly the buckets the run saw
        assert audit(slice_df, "doc_id", "text", path,
                     max_bucket_size=1000) == m, granularity


def test_rerun_of_completed_slice_is_inert(spark, corpus, slice_df,
                                           tmp_path):
    """A slice whose keys are already committed to the index is corpus:
    re-running it yields no pairs (nothing is 'new'), no double-counted
    buckets, and a second append adds nothing to either store."""
    path = str(tmp_path / "idx")
    write_minhash_index(corpus, "doc_id", "text", path, threshold=0.6)
    append_to_minhash_index(slice_df, "doc_id", "text", path)
    n_sh = spark.read.parquet(f"{path}/shingles").count()
    n_bd = spark.read.parquet(f"{path}/bands").count()

    inc = minhash_near_duplicates_incremental(slice_df, "doc_id", "text",
                                              path)
    assert inc.count() == 0  # every slice doc reads as already-corpus
    append_to_minhash_index(slice_df, "doc_id", "text", path)  # idempotent
    assert spark.read.parquet(f"{path}/shingles").count() == n_sh
    assert spark.read.parquet(f"{path}/bands").count() == n_bd


def test_append_crash_between_stores_converges(spark, corpus, slice_df,
                                               tmp_path, monkeypatch):
    """Shingles are written first, bands last; a crash between the two
    leaves phantom shingle rows that (a) do not corrupt pair computation
    -- bands membership defines 'committed' -- and (b) are completed to an
    exactly-once state by re-running the append."""
    import sumi_agent_spark.operators.minhash_index as mhi

    path = str(tmp_path / "idx")
    write_minhash_index(corpus, "doc_id", "text", path, threshold=0.6)
    clean_pairs = _pairset(minhash_near_duplicates_incremental(
        slice_df, "doc_id", "text", path).select("id_a", "id_b", "jaccard"))
    n_sh0 = spark.read.parquet(f"{path}/shingles").count()
    n_bd0 = spark.read.parquet(f"{path}/bands").count()

    real_banded = mhi._banded

    def crash_banded(*a, **k):
        raise RuntimeError("simulated crash before bands append")

    monkeypatch.setattr(mhi, "_banded", crash_banded)
    with pytest.raises(RuntimeError, match="simulated crash"):
        append_to_minhash_index(slice_df, "doc_id", "text", path)
    monkeypatch.setattr(mhi, "_banded", real_banded)
    # shingles got the slice, bands did not
    assert spark.read.parquet(f"{path}/shingles").count() \
        == n_sh0 + slice_df.count()
    assert spark.read.parquet(f"{path}/bands").count() == n_bd0

    # a resumed run recomputes the SAME pairs against the half-appended
    # index (phantom shingles are invisible: commitment == bands)
    mid_pairs = _pairset(minhash_near_duplicates_incremental(
        slice_df, "doc_id", "text", path).select("id_a", "id_b", "jaccard"))
    assert mid_pairs == clean_pairs

    # completing the append reaches the exactly-once state
    append_to_minhash_index(slice_df, "doc_id", "text", path)
    sh = spark.read.parquet(f"{path}/shingles").groupBy("doc_id").count()
    assert sh.filter("count > 1").count() == 0
    bd = (spark.read.parquet(f"{path}/bands")
          .groupBy("doc_id", "band").count())
    assert bd.filter("count > 1").count() == 0


def test_grouped_append_crash_between_stores_converges(spark, tmp_path,
                                                       monkeypatch):
    """The grouped verify COUNTS exploded shingle rows, so a phantom
    (crashed-append) copy of a slice group's shingles would inflate
    Jaccard and flip verdicts unless the store side is anti-joined against
    the slice -- this drives that exact crash and asserts mid-crash pairs
    equal the clean run's, then completes the append exactly-once."""
    import sumi_agent_spark.operators.minhash_index as mhi
    from sumi_agent_spark.operators.minhash_index import (
        append_grouped_to_minhash_index,
        minhash_near_duplicates_grouped_incremental,
        write_grouped_minhash_index)

    t2 = "a second turn about watermarks, state stores and output modes"
    old_df = spark.createDataFrame(
        [("g100", 0, BASE), ("g100", 1, t2)],
        ["conv_id", "turn_idx", "text"])
    # g1 shares BASE-variant + t2 with g100 but adds a unique turn, so its
    # Jaccard vs g100 sits BELOW 1.0 -- the verdict-flip hazard zone
    new_df = spark.createDataFrame(
        [("g1", 0, BASE.replace("quick", "swift")), ("g1", 1, t2),
         ("g1", 2, "an extra closing turn about partition pruning and "
                   "broadcast joins that g100 does not have")],
        ["conv_id", "turn_idx", "text"])
    path = str(tmp_path / "gidx")
    write_grouped_minhash_index(old_df, "conv_id", "text", path,
                                threshold=0.6)
    clean = {(r.id_a, r.id_b): r.jaccard for r in
             minhash_near_duplicates_grouped_incremental(
                 new_df, "conv_id", "text", path).collect()}
    assert ("g1", "g100") in clean and clean[("g1", "g100")] < 1.0

    real_banded = mhi._banded

    def crash(*a, **k):
        raise RuntimeError("simulated crash before bands append")

    monkeypatch.setattr(mhi, "_banded", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        append_grouped_to_minhash_index(new_df, "conv_id", "text", path)
    monkeypatch.setattr(mhi, "_banded", real_banded)
    # phantom state: g1's shingle rows in the store, bands absent
    sh_gids = {r.doc_id for r in spark.read.parquet(f"{path}/shingles")
               .select("doc_id").distinct().collect()}
    assert "g1" in sh_gids
    mid = {(r.id_a, r.id_b): r.jaccard for r in
           minhash_near_duplicates_grouped_incremental(
               new_df, "conv_id", "text", path).collect()}
    assert mid == clean  # phantom rows must not change any Jaccard

    append_grouped_to_minhash_index(new_df, "conv_id", "text", path)
    sh = (spark.read.parquet(f"{path}/shingles")
          .groupBy("doc_id", "sh").count())
    assert sh.filter("count > 1").count() == 0  # exactly-once rows
    bd = (spark.read.parquet(f"{path}/bands")
          .groupBy("doc_id", "band").count())
    assert bd.filter("count > 1").count() == 0


def test_index_write_rejects_bad_bands(spark, corpus, tmp_path):
    with pytest.raises(ValueError, match="exceeds n_hashes"):
        write_minhash_index(corpus, "doc_id", "text",
                            str(tmp_path / "idx"), bands=256)


def test_grouped_incremental_equals_full_grouped_restricted(spark,
                                                            tmp_path):
    """Group-granularity incremental == full-corpus grouped run restricted
    to pairs touching a new group, with corpus-wins flags."""
    from sumi_agent_spark.operators.dedup import (
        minhash_near_duplicates_grouped)
    from sumi_agent_spark.operators.minhash_index import (
        minhash_near_duplicates_grouped_incremental,
        write_grouped_minhash_index)

    t2 = "a second turn about watermarks, state stores and output modes"
    old_rows = [("g100", 0, BASE), ("g100", 1, t2),
                ("g101", 0, ALT), ("g101", 1, THIRD)]
    new_rows = [("g1", 0, BASE.replace("quick", "swift")), ("g1", 1, t2),
                ("g2", 0, "a genuinely novel conversation mentioning "
                          "nothing seen before in the corpus")]
    old_df = spark.createDataFrame(old_rows, ["conv_id", "turn_idx", "text"])
    new_df = spark.createDataFrame(new_rows, ["conv_id", "turn_idx", "text"])
    path = str(tmp_path / "gidx")
    write_grouped_minhash_index(old_df, "conv_id", "text", path,
                                threshold=0.6)

    inc = minhash_near_duplicates_grouped_incremental(
        new_df, "conv_id", "text", path)
    got = {(r.id_a, r.id_b): (r.jaccard, r.new_a, r.new_b)
           for r in inc.collect()}

    full = minhash_near_duplicates_grouped(
        old_df.unionByName(new_df), "conv_id", "text", threshold=0.6)
    new_keys = {"g1", "g2"}
    want = {(r.id_a, r.id_b): r.jaccard for r in full.collect()
            if r.id_a in new_keys or r.id_b in new_keys}
    assert {k: v[0] for k, v in got.items()} == want
    assert got[("g1", "g100")][1:] == (True, False)  # corpus side flagged


def test_grouped_index_granularity_mismatch_raises(spark, corpus, slice_df,
                                                   tmp_path):
    from sumi_agent_spark.operators.minhash_index import (
        minhash_near_duplicates_grouped_incremental,
        write_grouped_minhash_index)

    doc_path = str(tmp_path / "didx")
    write_minhash_index(corpus, "doc_id", "text", doc_path, threshold=0.6)
    with pytest.raises(ValueError, match="granularity"):
        minhash_near_duplicates_grouped_incremental(
            slice_df, "doc_id", "text", doc_path)

    grp_path = str(tmp_path / "gidx")
    write_grouped_minhash_index(corpus, "doc_id", "text", grp_path,
                                threshold=0.6)
    with pytest.raises(ValueError, match="granularity"):
        minhash_near_duplicates_incremental(
            slice_df, "doc_id", "text", grp_path)
    with pytest.raises(ValueError, match="granularity"):
        append_to_minhash_index(slice_df, "doc_id", "text", grp_path)


def test_geometry_is_pinned_in_meta(spark, corpus, slice_df, tmp_path):
    """Appends and incremental runs take geometry from the index meta, so
    a caller cannot desync hash family / bands between runs."""
    path = str(tmp_path / "idx")
    write_minhash_index(corpus, "doc_id", "text", path,
                        threshold=0.6, n_hashes=64)
    inc = minhash_near_duplicates_incremental(
        slice_df, "doc_id", "text", path)
    # signatures on both sides used 64 hashes: the exact-dup pair (2, 100)
    # must collide in every band and verify at jaccard 1.0
    assert _pairset(inc.select("id_a", "id_b", "jaccard"))[(2, 100)] == 1.0
