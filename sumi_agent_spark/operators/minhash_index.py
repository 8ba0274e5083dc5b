"""Persisted MinHash signature index for incremental (cross-run) near-dedup.

The 100 TB operation is NOT "re-dedup the whole corpus every day" -- it is
"dedup today's 1-5 TB ingest slice against the existing corpus" (SCALE.md's
layout section).  This module persists the reusable halves of
``operators.dedup.minhash_near_duplicates`` so a new slice joins against
them instead of recomputing the corpus:

* ``bands/``    -- the LSH bucket rows ``(doc_id, band, band_key)``,
  partitioned by ``band`` so the banded join co-locates by bucket files;
* ``shingles/`` -- each doc's unique shingle-hash array, the verify-stage
  input (exact Jaccard runs JVM-side via ``array_intersect``, with no
  access to the original corpus text);
* ``meta/``     -- one row pinning the geometry (n_hashes, bands,
  shingle_k, threshold).  Geometry is part of the index identity: a slice
  signed with different hashes can never match the persisted buckets, so a
  mismatch raises instead of silently returning zero pairs.

Incremental candidate generation joins NEW x (OLD union NEW) -- new-vs-new
plus new-vs-corpus pairs, never old-vs-old (the corpus was already deduped
when it entered the index).  Bucket capping counts the FULL bucket (old +
new rows): a boilerplate bucket is hot regardless of which run its rows
arrived in, and using the full size keeps the incremental run's candidate
set exactly equal to what a full-corpus run would generate for the same
pairs (proven in tests/test_minhash_index.py).  ``_slice_bands`` and
``_slice_group_bands`` build those OLD union NEW bucket rows once for
each incremental operator and its bucket audit.  Capping, candidate
restriction and verification are the shared core of
``operators.dedup`` (``_capped``, ``_canonical_candidate_pairs``,
``_pair_ids``, ``_verified_values`` for doc arrays, ``_row_jaccard`` for
exploded group rows, including the grouped probe's shadow carve-out).

Storage cost, stated honestly: ``shingles/`` stores one 8-byte hash per
unique k-gram, i.e. roughly ``8 x n_chars`` per document -- a multiple of
the compressed text size.  That is the price of EXACT verification without
re-reading corpus text; deployments that keep the corpus queryable can
instead drop ``shingles/`` and re-derive the verify arrays from the corpus
table (same ``make_shingle_udf``), trading a text re-scan of candidate docs
for the storage.  The signatures themselves (n_hashes x 8 B) are NOT
stored: ``bands/`` is the only part the join needs, and it is smaller.

Determinism: the hash family derives from the same fixed seed as the batch
operator, so signatures computed in different runs are bit-identical.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import index_store
from .dedup import (
    _array_jaccard,
    _banded,
    _canonical_candidate_pairs,
    _capped,
    _filter_predecessor_shadow,
    _group_signatures,
    _pair_ids,
    _row_jaccard,
    _size_prefiltered_pairs,
    _verified_values,
    bucket_cap_stats,
    make_minhash_udf,
    make_shingle_udf,
    make_sig_shingle_udf,
    resolve_bands,
)
from .index_store import Store, read_latest
from .index_store import read_epoched as _read_epoched
from .index_store import (
    resolve_latest_bucket_restricted as _resolve_latest_bucket_restricted)
# store helpers callers import from this module under their old names
from .index_store import clear as _delete_stale_epoch_markers  # noqa: F401
from .index_store import resolve_latest as _resolve_latest  # noqa: F401

_GEOMETRY = ("n_hashes", "bands", "shingle_k", "threshold", "granularity")


def _read_meta(spark: SparkSession, index_path: str,
               expect_granularity: Optional[str] = "doc") -> dict:
    """Geometry of the committed index at ``index_path`` plus its live
    ``epoch`` (:func:`index_store.read_meta`); raises when none is
    committed or its granularity is not ``expect_granularity``."""
    row = index_store.read_meta(spark, index_path)
    if row is None:
        raise ValueError(f"no committed minhash index at {index_path}")
    meta = {k: row[k] for k in _GEOMETRY[:4]}
    granularity = meta["granularity"] = row.get("granularity", "doc")
    if expect_granularity is not None and granularity != expect_granularity:
        raise ValueError(
            f"minhash index at {index_path} has granularity "
            f"{granularity!r}; this operator requires "
            f"{expect_granularity!r} (doc-level and group-level indexes "
            f"store different shingle layouts and cannot be mixed)")
    meta["epoch"] = row["epoch"]
    return meta


def _committed_doc_ids(spark: SparkSession, index_path: str,
                       live: Optional[int] = None) -> DataFrame:
    """One-column (``doc_id``) DataFrame of docs COMMITTED to the index
    at ANY live epoch -- read from the ``bands`` stores, which every
    write fills LAST, so a doc whose append crashed half-way (shingles
    written, bands not) reads as absent."""
    if live is None:
        live = _read_meta(spark, index_path)["epoch"]
    return index_store.committed_keys(spark, index_path, "bands", live)


def _unique_doc_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, text) with duplicate keys collapsed deterministically.

    The index stores exactly one shingle array / signature per key; a
    caller that skipped exact dedup (``run_pipeline`` with
    ``dedup=False``) can feed duplicate ``(conv_id, turn_idx)`` keys,
    which would write duplicate shingle/band rows -- multiplying every
    later slice's verify-join rows and emitting duplicated pairs.  The
    winner is ``min(text)`` per key (deterministic under retries, unlike
    ``dropDuplicates``); one hash-agg shuffle on the key, paid only on
    write/append, never on the incremental read path."""
    return (df.groupBy(F.col(id_col).alias("doc_id"))
            .agg(F.min(F.col(text_col)).alias("text")))


def write_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    threshold: float = 0.8,
    n_hashes: int = 128,
    bands: Optional[int] = None,
    shingle_k: int = 5,
) -> dict:
    """Create a MinHash index at ``index_path`` from a (deduped) corpus.

    Computes signatures once and writes the per-doc shingle arrays, then
    the banded LSH rows (partitioned by band), then the geometry meta
    (:func:`index_store.write`), so ``meta`` is the create-commit marker
    and ``bands`` the per-doc commit marker (see
    :func:`_committed_doc_ids`).  Returns the pinned geometry.  Overwrites
    any existing index at the path.  Duplicate keys in ``df`` collapse to
    one row (min text per key -- see :func:`_unique_doc_rows`)."""
    meta = {"n_hashes": n_hashes,
            "bands": resolve_bands(threshold, n_hashes, bands),
            "shingle_k": shingle_k, "threshold": float(threshold),
            "granularity": "doc"}
    return _write_docs(df, id_col, text_col, index_path, meta, 0)


def _sig_shingles(rows: DataFrame, meta: dict) -> DataFrame:
    """(doc_id, sig, sh) of (doc_id, text) rows.  ONE Arrow pass computes
    signatures and shingle arrays together (make_sig_shingle_udf),
    materialized once -- the two store writes then read cached narrow
    rows instead of each re-running Python over the text (r7
    optimization; values are bit-identical)."""
    sig_sh = make_sig_shingle_udf(meta["n_hashes"], meta["shingle_k"])
    return (rows.select("doc_id", sig_sh("text").alias("_ss"))
            .select("doc_id", F.col("_ss.sig").alias("sig"),
                    F.col("_ss.sh").alias("sh"))
            .localCheckpoint(eager=False))


def _doc_stores(meta: dict) -> list[Store]:
    """Doc index stores, from :func:`_sig_shingles` rows: shingle
    arrays first, band rows (partitioned by band) last."""
    return [Store("shingles", lambda ss: ss.select("doc_id", "sh")),
            Store("bands", lambda ss: _banded(
                ss.select("doc_id", "sig"), "doc_id", meta["bands"],
                key="md5"), "band")]


def _write_docs(df: DataFrame, id_col: str, text_col: str,
                index_path: str, meta: dict, epoch: int) -> dict:
    """Write ``df``'s docs as epoch ``epoch`` of a doc index: 0 creates
    the index, N >= 1 commits reindex epoch N (:func:`index_store.write`)."""
    ss = _sig_shingles(_unique_doc_rows(df, id_col, text_col), meta)
    return index_store.write(df.sparkSession, index_path, ss,
                             _doc_stores(meta), meta, epoch)


def append_to_minhash_index(
    new_df: DataFrame, id_col: str, text_col: str, index_path: str,
) -> None:
    """Append a slice's shingle arrays + band rows to an existing index
    (:func:`index_store.append`: idempotent per-store anti-joins,
    shingles first, bands last, new docs into the base stores whatever
    the live epoch).  The uncommitted docs' signatures and shingles come
    from one shared pass (:func:`_sig_shingles`).

    Call AFTER consuming the incremental pair result for the slice (the
    pair computation must see the index in its pre-slice state; Spark's
    lazy evaluation would otherwise race the append against the read).
    Geometry comes from the index meta, so appends can never drift.
    Duplicate slice keys collapse to one row (:func:`_unique_doc_rows`)."""
    spark = new_df.sparkSession
    meta = _read_meta(spark, index_path)
    index_store.append(spark, index_path,
                       _unique_doc_rows(new_df, id_col, text_col),
                       _doc_stores(meta), meta["epoch"],
                       prepare=lambda rows: _sig_shingles(rows, meta))


def minhash_near_duplicates_incremental(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    max_bucket_size: int = 1000,
    observation=None,
) -> DataFrame:
    """Near-duplicate pairs touching the new slice, against index + slice.

    Returns ``(id_a, id_b, jaccard, new_a, new_b)`` with
    ``jaccard >= threshold`` (the index's pinned threshold): every pair has
    at least one side in ``new_df`` (old-vs-old is never recomputed), ids
    are canonically ordered (``id_a < id_b``), and the ``new_*`` flags tell
    a dedup policy which side is droppable -- a corpus doc can never be
    dropped by a later slice, so "corpus wins" means dropping
    ``id_a if new_a and not new_b else id_b``... precisely: the new side of
    a mixed pair, the later key of a new-new pair.

    Exactness: same hash family (fixed seed), same band geometry (from
    meta), bucket sizes counted over the FULL bucket (index + slice rows),
    and the same JVM-side exact-Jaccard verify as the batch operator --
    so the output equals a full-corpus ``minhash_near_duplicates`` run
    restricted to pairs with at least one NEW slice doc (tested).

    A slice doc whose key is ALREADY committed to the index is corpus, not
    new: it is filtered from the slice side up front (one anti-join
    against the column-pruned committed-key set).  Without the filter, a
    re-run of a completed slice would count each such doc twice in every
    bucket -- shifting the capping threshold relative to the original run
    -- and emit the same pair twice with conflicting ``new_*`` flags.

    Scale shape: the slice's band rows shuffle-join against the index's
    band partitions; candidate verify joins against the shingle store.
    Nothing scans corpus text, nothing is collected to the driver, and the
    per-run cost is O(slice + matched buckets), not O(corpus)."""
    spark = new_df.sparkSession
    meta = _read_meta(spark, index_path)
    shingles = make_shingle_udf(meta["shingle_k"])

    from ..parallel import fan_out

    # fan_out: a single-row-group slice scan would serialize the
    # signature UDF; the slice is materialized (see _slice_bands)
    base, all_banded = _slice_bands(
        fan_out(new_df.select(F.col(id_col).alias("doc_id"),
                              F.col(text_col).alias("text"))),
        index_path, meta, checkpoint=True)
    # the capping window shuffles index band rows on (band, band_key) --
    # the SAME partitioning the candidate self-join needs, so the exchange
    # is computed once and reused: the incremental run pays one narrow-row
    # shuffle of the band store per slice, not two.  (Restricting to
    # slice-touched buckets via a semi-join does not help: a shuffled
    # semi-join costs the same corpus exchange, a broadcast one caps the
    # slice size, and a shared-UDF build side trips Spark's
    # zip-partitions assertion -- measured, r4.)
    capped = _capped(all_banded, ["band", "band_key"], max_bucket_size,
                     observation)
    # left side: slice rows only.  localCheckpoint: pairs feeds both
    # candidate-restriction branches and the final verify join -- without
    # it each reference recomputes the banded window + self-join
    pairs = _canonical_candidate_pairs(
        capped.filter("is_new"), capped, "doc_id", ["band", "band_key"]) \
        .localCheckpoint(eager=False)

    # verify inputs are semi-join-restricted to candidate ids BEFORE the
    # union: without the restriction every incremental run would shuffle
    # the O(corpus)-sized shingle store (the index's largest artifact,
    # ~8 B per corpus char) into the pair join, contradicting the
    # O(slice + matched buckets) cost contract.
    cand = _pair_ids(pairs, "doc_id")
    new_sh = (base.join(cand, "doc_id", "left_semi")
              .select("doc_id", shingles("text").alias("sh")))
    # anti-join the store against the slice's keys: a crashed append may
    # have left slice docs' shingle arrays in the store without their
    # bands (phantoms).  Values would survive (the phantom array equals
    # the fresh one), but each affected pair would emit twice.
    # candidate-restrict FIRST, then resolve epochs: the per-doc window
    # runs over candidate rows only, never the O(corpus) store
    old_sh = (read_latest(spark, index_path, "shingles", meta["epoch"],
                          ["doc_id", "sh"], cand)
              .join(base.select("doc_id"), "doc_id", "left_anti"))
    # candidate-restricted, so bounded: materialize once for the size
    # prune + both verify sides
    all_sh = old_sh.unionByName(new_sh).localCheckpoint(eager=False)
    threshold = meta["threshold"]
    pairs = _size_prefiltered_pairs(
        pairs, all_sh.select("doc_id", F.size("sh").alias("_n")), threshold)
    return (_verified_values(pairs, all_sh, "sh", _array_jaccard,
                             threshold, "jaccard")
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"),
                    "new_a", "new_b"))


def _slice_bands(base: DataFrame, index_path: str, meta: dict,
                 checkpoint: bool = False) -> tuple[DataFrame, DataFrame]:
    """``(base, rows)``: the LSH bucket rows an incremental run sees.

    ``base`` (``(doc_id, text)`` slice rows) loses the docs already
    committed to the index: they are corpus, and counting them again
    would shift every bucket's size on a re-run.  ``checkpoint``
    materializes it; in the pair computation it feeds the signature
    pass, the verify shingles and the phantom anti-join.  ``rows`` are
    the index's epoch-resolved band rows (``is_new`` false; resolution
    comes before the capping window, so a reindexed doc's stale epoch-0
    rows neither count nor pair) and the slice's (``is_new`` true).
    :func:`minhash_near_duplicates_incremental` caps these rows and
    :func:`minhash_index_bucket_audit` counts them, so the audit
    recounts exactly the buckets the run saw."""
    spark, live = base.sparkSession, meta["epoch"]
    base = base.join(_committed_doc_ids(spark, index_path, live), "doc_id",
                     "left_anti")
    if checkpoint:
        base = base.localCheckpoint(eager=False)
    minhash = make_minhash_udf(meta["n_hashes"], meta["shingle_k"])
    sig = base.select("doc_id", minhash("text").alias("sig"))
    new_banded = (_banded(sig, "doc_id", meta["bands"], key="md5")
                  .withColumn("is_new", F.lit(True)))
    old_banded = (read_latest(spark, index_path, "bands", live,
                              ["doc_id", "band", "band_key"])
                  .withColumn("is_new", F.lit(False)))
    return base, old_banded.unionByName(new_banded)


def minhash_index_bucket_audit(
    new_df: DataFrame, id_col: str, text_col: str, index_path: str,
    max_bucket_size: int = 1000,
) -> dict:
    """Exact capping recount for an incremental run (index + slice rows).

    The observe-based counter on
    :func:`minhash_near_duplicates_incremental` is free but unavailable
    when the run's output is completely empty (Spark prunes the observed
    subtree -- see ``operators.dedup._observe_capping``); this recomputes
    the bucket sizes over the SAME old-union-new row set
    (:func:`_slice_bands`) and returns exact
    {n_capped_rows, n_capped_buckets, max_bucket_n}.  One extra banded
    scan of slice + index -- an audit tool, not the hot path."""
    meta = _read_meta(new_df.sparkSession, index_path)
    _, rows = _slice_bands(new_df.select(F.col(id_col).alias("doc_id"),
                                         F.col(text_col).alias("text")),
                           index_path, meta)
    sizes = rows.groupBy("band", "band_key").agg(F.count("*").alias("n"))
    return bucket_cap_stats(sizes, max_bucket_size)


def reindex_docs(
    changed_df: DataFrame, id_col: str, text_col: str, index_path: str,
) -> dict:
    """Rebuild CHANGED docs of a doc-granularity index into a fresh epoch.

    The doc analog of :func:`reindex_groups`, for re-exports whose TEXT
    changed (a re-crawl replaced the page, a transcript turn was
    redacted upstream): append-only stores cannot update a committed
    doc's signature in place, so without this the stale signature
    anchors all future near-dedup and the NEW content escapes it
    silently (the pipeline's ``n_preindexed_changed`` counter makes the
    case visible; this operator fixes it).  ``changed_df`` carries the
    changed docs' CURRENT text, one row per key (duplicates collapse,
    :func:`_unique_doc_rows`); shingle arrays and band rows are
    recomputed for exactly those ids, written to ``shingles_e{N+1}``
    then ``bands_e{N+1}`` (overwrite mode -- a crashed attempt's orphan
    dirs are replaced), and the epoch is committed LAST by the
    append-only ``meta_e{N+1}`` marker.  Readers resolve per-doc
    latest-epoch exactly like the grouped index (free at epoch 0).
    Note this updates the INDEX only: replacing the doc's already-written
    pipeline OUTPUT rows is the caller's upsert (Iceberg MERGE in the
    nominal deployment).  O(changed docs), never O(corpus)."""
    meta = _read_meta(changed_df.sparkSession, index_path)
    return _write_docs(changed_df, id_col, text_col, index_path,
                       {k: meta[k] for k in _GEOMETRY}, meta["epoch"] + 1)


def changed_preindexed_ids(
    new_df: DataFrame, id_col: str, text_col: str, index_path: str,
) -> DataFrame:
    """Committed slice keys whose CURRENT text differs from what the index
    signed -- the re-exports that need :func:`reindex_docs`.

    The incremental read path treats any already-committed key as corpus
    and drops it from the slice; that is correct for identical re-exports
    (a completed slice re-run) but SILENT for changed ones (a re-crawl
    replaced the page): the stale signature keeps anchoring near-dedup
    while the new content escapes it.  This probe makes the distinction
    visible: it re-shingles exactly the preindexed slice rows and compares
    against the stored shingle arrays (both sides are sorted unique hash
    arrays from the same UDF, so array equality IS text-set equality up to
    61-bit hash collisions).  Returns a one-column (``doc_id``) DataFrame.
    Cost: O(preindexed rows) -- the store scan is semi-join-restricted to
    the preindexed keys, never O(corpus).

    Implementation note shared with :func:`changed_preindexed_gids`: the
    comparison is a JOIN, never a union of two ``exceptAll`` branches --
    Spark's plan deduplication mis-rewrites
    ``a.exceptAll(b).union(b.exceptAll(a))`` when the branches share
    subplans (observed: each branch alone counts 0, the union counts
    hundreds), while self-join attribute dedup is well-trodden."""
    spark = new_df.sparkSession
    meta = _read_meta(spark, index_path)
    live = meta["epoch"]
    shingles = make_shingle_udf(meta["shingle_k"])
    base = _unique_doc_rows(new_df, id_col, text_col)
    pre = base.join(_committed_doc_ids(spark, index_path, live),
                    "doc_id", "left_semi")
    fresh = pre.select("doc_id", shingles("text").alias("sh_new"))
    stored = read_latest(spark, index_path, "shingles", live, ["doc_id", "sh"],
                         pre.select("doc_id"))
    return (fresh.join(stored, "doc_id")
            .filter(F.col("sh_new") != F.col("sh"))
            .select("doc_id"))


def probe_index_near_duplicates(
    probe_df: DataFrame,
    id_col: str,
    text_col: str,
    index_path: str,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs between probe rows' CURRENT text and the rest
    of the committed corpus -- the replacement-content check for changed
    re-exports.

    :func:`minhash_near_duplicates_incremental` anti-joins committed keys
    out of the slice (a completed re-run must not pair with itself), so a
    CHANGED re-export's new text is never checked there: a re-crawl that
    rewrites doc B into a near-copy of committed doc A would sail into the
    corpus as B's replacement.  This operator closes that hole.  Semantics:

    * probe keys are NOT excluded for being committed -- that is the
      point -- but a probe key's OWN stored (old) content is excluded
      entirely: it is about to be replaced by a reindex, so a replacement
      resembling its predecessor (the common case: a small edit) is not a
      duplicate, and neither is a replacement resembling ANOTHER probe
      key's dying old content;
    * probe-vs-probe pairs compare both keys' NEW text (two re-exports
      rewritten into copies of each other are still duplicates);
    * output matches the incremental operator's shape
      ``(id_a, id_b, jaccard, new_a, new_b)`` with ``new_* = is-probe``,
      so :func:`incremental_drop_keys` applies the same policy: the probe
      side of a mixed pair drops (surviving corpus wins), the later key
      of a probe-probe pair drops (keep-first);
    * predecessor-shadow carve-out: a mixed pair is VOID when the corpus
      doc's stored content itself near-duplicates the probe key's own
      stored (old) content -- that corpus doc is the predecessor's
      shadow (typically an earlier replacement deleted for duplicating
      this key, then reindexed for convergence), and matching it means
      the replacement resembles this key's own history, which is never
      duplication.

    Scale shape: the probe set (changed re-exports of one slice) is tiny,
    so its banded rows are BROADCAST; the corpus band store is scanned
    with a broadcast semi-join restriction to probe-touched buckets and
    never shuffled O(corpus) -- the capping window runs over matched
    buckets only, still counting TRUE full-bucket sizes (the restriction
    is by bucket key, so no row of a matched bucket is lost).  Verify
    reads the shingle store restricted to candidate ids, epoch-resolved;
    probe-side shingles come from the probe text.  O(probe + matched
    buckets), never O(corpus).

    Plan shape: the bounded intermediates (``capped``, ``pairs``,
    ``all_sh``) are eagerly ``localCheckpoint``-ed -- each is referenced
    2-3x downstream and the verify + shadow tree otherwise multiplies
    their window/UDF/epoch-read subtrees into a plan Catalyst optimizes
    for minutes (see :func:`probe_grouped_index_near_duplicates` for the
    full rationale and the executor-loss trade)."""
    spark = probe_df.sparkSession
    meta = _read_meta(spark, index_path)
    live = meta["epoch"]
    minhash = make_minhash_udf(meta["n_hashes"], meta["shingle_k"])
    shingles = make_shingle_udf(meta["shingle_k"])
    threshold = meta["threshold"]

    base = _unique_doc_rows(probe_df, id_col, text_col)
    sig = base.select("doc_id", minhash("text").alias("sig"))
    probe_banded = (_banded(sig, "doc_id", meta["bands"], key="md5")
                    .withColumn("is_new", F.lit(True)))
    # corpus rows of probe keys are the dying old content: excluded before
    # bucketing so they neither pair nor inflate bucket sizes (the
    # replacement takes their place in the very same run)
    old_banded = (_resolve_latest_bucket_restricted(
                      _read_epoched(spark, index_path, "bands", live,
                                    ["doc_id", "band", "band_key"]),
                      "doc_id", live,
                      probe_banded.select("band", "band_key").distinct(),
                      ["band", "band_key"])
                  .join(base.select("doc_id"), "doc_id", "left_anti")
                  .withColumn("is_new", F.lit(False)))
    capped = _capped(old_banded.unionByName(probe_banded),
                     ["band", "band_key"], max_bucket_size).localCheckpoint()
    pairs = (_canonical_candidate_pairs(
                 capped.filter("is_new"), capped, "doc_id",
                 ["band", "band_key"])
             .localCheckpoint())
    cand = _pair_ids(pairs, "doc_id")
    new_sh = (base.join(cand, "doc_id", "left_semi")
              .select("doc_id", shingles("text").alias("sh")))
    # probe keys resolve to their NEW shingles (the store rows are the
    # content being replaced), exactly as the incremental op's slice-wins
    # rule; candidate-restrict before epoch resolution, as everywhere
    old_sh = (read_latest(spark, index_path, "shingles", live,
                          ["doc_id", "sh"], cand)
              .join(base.select("doc_id"), "doc_id", "left_anti"))
    all_sh = old_sh.unionByName(new_sh).localCheckpoint()
    verified = _verified_values(pairs, all_sh, "sh", _array_jaccard,
                                threshold, "jaccard")
    # Predecessor-shadow carve-out (see _filter_predecessor_shadow): a
    # corpus doc matching only the probe key's own stored history --
    # typically an earlier replacement deleted for duplicating this key,
    # then reindexed for convergence (the pipeline reindexes
    # delete-action replacements too) -- must not void the replacement.
    probe_old_sh = (read_latest(spark, index_path, "shingles", live,
                                ["doc_id", "sh"], base.select("doc_id"))
                    .select(F.col("doc_id").alias("_pid"),
                            F.col("sh").alias("sh_old")))
    return _filter_predecessor_shadow(
        verified, probe_old_sh, "sh_old", "sh_a", "sh_b",
        _array_jaccard, threshold, "jaccard")


# ─── Group-granularity (conversation) index ───
#
# Stores and commit protocol come from index_store.py, as for the doc
# index; meta pins granularity="group" for two differences:
#
# * ``bands/`` keys are GROUP ids and band keys come from the group's
#   union-set signature (elementwise unsigned min over member rows --
#   ``dedup._group_signatures``);
# * ``shingles/`` stores EXPLODED ``(doc_id, sh)`` rows, one per unique
#   shingle per group, never a per-group array: a million-turn
#   conversation must not materialize as one unbounded array anywhere,
#   and the exact-Jaccard verify runs as scalar-row joins + counts
#   exactly like ``minhash_near_duplicates_grouped``.
#
# Semantics: a GROUP is closed per slice.  A group id already committed
# to the index is corpus and a later slice's rows for it are ignored
# (filtered, like re-ingested docs) -- the right model for transcript
# dumps where a conversation is complete when exported.  A conversation
# that DOES grow (a later dump re-exports it with new turns) is rebuilt
# into a fresh index epoch by :func:`reindex_groups`.


def _group_shingle_rows(df: DataFrame, group_col: str, text_col: str,
                        shingle_k: int) -> DataFrame:
    """Exploded unique (doc_id, sh) rows per group."""
    shingles = make_shingle_udf(shingle_k)
    return (df.select(F.col(group_col).alias("doc_id"),
                      F.col(text_col).alias("text"))
            .select("doc_id", F.explode(shingles("text")).alias("sh"))
            .distinct())


def committed_group_ids(spark: SparkSession, index_path: str,
                        live: Optional[int] = None) -> DataFrame:
    """One-column (``gid``) set of groups committed to a grouped index at
    ANY live epoch (the ``bands`` stores certify commitment, as for
    docs)."""
    if live is None:
        live = _read_meta(spark, index_path,
                          expect_granularity="group")["epoch"]
    return (index_store.committed_keys(spark, index_path, "bands", live)
            .withColumnRenamed("doc_id", "gid"))


def _group_rows(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """(doc_id, text) member rows keyed by their group id."""
    return df.select(F.col(group_col).alias("doc_id"),
                     F.col(text_col).alias("text"))


def _group_stores(meta: dict) -> list[Store]:
    """Grouped index stores, from :func:`_group_rows`: exploded shingle
    rows first, band rows of the union signature last."""
    return [Store("shingles", lambda rows: _group_shingle_rows(
                rows, "doc_id", "text", meta["shingle_k"])),
            Store("bands", lambda rows: _banded(
                _group_signatures(rows, "doc_id", "text", meta["n_hashes"],
                                  meta["shingle_k"]),
                "gid", meta["bands"], key="md5"), "band")]


def reindex_groups(
    grown_df: DataFrame, group_col: str, text_col: str, index_path: str,
) -> dict:
    """Rebuild the touched groups of a grouped index into a fresh epoch.

    ``grown_df`` must carry each touched conversation's FULL current
    member rows (old + new turns): signatures and shingle sets are
    recomputed in full for exactly the group ids present and
    committed as epoch N+1 (:func:`index_store.write`:
    ``shingles_e{N+1}``, then ``bands_e{N+1}``, then the append-only
    ``meta_e{N+1}`` marker; a crash before the marker leaves the old
    epoch live and the operation re-runnable).  Groups NOT present in
    ``grown_df`` are untouched (their latest epoch still wins at read
    time).  Returns the new meta.  O(touched groups), never O(corpus)."""
    meta = _read_meta(grown_df.sparkSession, index_path,
                      expect_granularity="group")
    return index_store.write(grown_df.sparkSession, index_path,
                             _group_rows(grown_df, group_col, text_col),
                             _group_stores(meta),
                             {k: meta[k] for k in _GEOMETRY},
                             meta["epoch"] + 1)


def changed_preindexed_gids(
    new_df: DataFrame, group_col: str, text_col: str, index_path: str,
) -> DataFrame:
    """Committed slice group ids whose CURRENT member rows' shingle set
    differs from the indexed one -- the grown/changed conversations that
    need :func:`reindex_groups`.  Group analog of
    :func:`changed_preindexed_ids`: the grouped store holds exploded
    ``(gid, sh)`` rows, so "changed" is a nonempty symmetric difference
    between the fresh and stored row sets, computed as a full-outer join
    on ``(gid, sh)`` (both sides are distinct rows; any row missing a
    side marks its gid changed -- see the implementation note on
    :func:`changed_preindexed_ids` for why this is NOT two ``exceptAll``
    branches unioned).  Only the preindexed gids are compared
    (semi-join-restricted both sides, never O(corpus)).  Returns a
    one-column (``gid``) DataFrame."""
    spark = new_df.sparkSession
    meta = _read_meta(spark, index_path, expect_granularity="group")
    live = meta["epoch"]
    base = new_df.select(F.col(group_col).alias("gid"),
                         F.col(text_col).alias("text"))
    pre_gids = (base.select("gid").distinct()
                .join(committed_group_ids(spark, index_path, live),
                      "gid", "left_semi"))
    fresh = (_group_shingle_rows(base.join(pre_gids, "gid", "left_semi"),
                                 "gid", "text", meta["shingle_k"])
             .withColumnRenamed("doc_id", "gid"))
    stored = (read_latest(spark, index_path, "shingles", live,
                          ["doc_id", "sh"],
                          pre_gids.withColumnRenamed("gid", "doc_id"))
              .withColumnRenamed("doc_id", "gid"))
    f = fresh.withColumn("_f", F.lit(1))
    s = stored.withColumn("_s", F.lit(1))
    return (f.join(s, ["gid", "sh"], "full_outer")
            .filter(F.col("_f").isNull() | F.col("_s").isNull())
            .select("gid").distinct())


def write_grouped_minhash_index(
    df: DataFrame,
    group_col: str,
    text_col: str,
    index_path: str,
    threshold: float = 0.8,
    n_hashes: int = 128,
    bands: Optional[int] = None,
    shingle_k: int = 5,
) -> dict:
    """Create a GROUP-granularity MinHash index (e.g. conversations) at
    ``index_path`` from a (deduped) corpus of member rows.  Overwrites any
    existing index at the path."""
    meta = {"n_hashes": n_hashes,
            "bands": resolve_bands(threshold, n_hashes, bands),
            "shingle_k": shingle_k, "threshold": float(threshold),
            "granularity": "group"}
    return index_store.write(df.sparkSession, index_path,
                             _group_rows(df, group_col, text_col),
                             _group_stores(meta), meta)


def append_grouped_to_minhash_index(
    new_df: DataFrame, group_col: str, text_col: str, index_path: str,
) -> None:
    """Append a slice's groups to a group-granularity index, idempotently
    (same per-store anti-join + shingles-first/bands-last protocol as
    :func:`append_to_minhash_index`)."""
    spark = new_df.sparkSession
    meta = _read_meta(spark, index_path, expect_granularity="group")
    index_store.append(spark, index_path,
                       _group_rows(new_df, group_col, text_col),
                       _group_stores(meta), meta["epoch"])


def minhash_near_duplicates_grouped_incremental(
    new_df: DataFrame,
    group_col: str,
    text_col: str,
    index_path: str,
    max_bucket_size: int = 1000,
    observation=None,
) -> DataFrame:
    """Group-granularity near-dup pairs touching the new slice, against
    index + slice -- the conversation analog of
    :func:`minhash_near_duplicates_incremental`.

    Returns ``(id_a, id_b, jaccard, new_a, new_b)`` with the index's
    pinned threshold, group-id pairs canonically ordered, never
    old-vs-old.  Groups already committed to the index are corpus and
    filtered from the slice (closed-per-slice model, see the section
    comment).  Candidate generation caps FULL buckets (index + slice
    rows); the exact verify joins exploded shingle rows -- index rows for
    corpus groups, freshly-shingled rows for slice groups, both
    semi-join-restricted to candidate groups."""
    spark = new_df.sparkSession
    meta = _read_meta(spark, index_path, expect_granularity="group")
    base, all_banded = _slice_group_bands(new_df, group_col, text_col,
                                          index_path, meta)
    capped = _capped(all_banded, ["band", "band_key"], max_bucket_size,
                     observation)
    pairs = _canonical_candidate_pairs(
        capped.filter("is_new"), capped, "gid", ["band", "band_key"])

    cand = _pair_ids(pairs, "gid")
    new_sh = (_group_shingle_rows(base.join(cand, "gid", "left_semi"),
                                  "gid", "text", meta["shingle_k"])
              .withColumnRenamed("doc_id", "gid"))
    # anti-join the store against the SLICE's gids: a crashed append may
    # have left a slice group's shingle rows in the store without its
    # bands (phantoms).  The grouped verify COUNTS rows, so a phantom+
    # fresh double-copy would inflate n_sh and n_inter and flip Jaccard
    # verdicts on the resumed run (the doc-index verify carries arrays,
    # where phantoms only duplicate identical rows and values survive).
    slice_gids = base.select("gid").distinct()
    # candidate-restrict FIRST, then resolve epochs: the per-gid window
    # runs over candidate rows only, never the O(corpus) store
    old_sh = (read_latest(spark, index_path, "shingles", meta["epoch"],
                          ["doc_id", "sh"],
                          cand.withColumnRenamed("gid", "doc_id"))
              .select(F.col("doc_id").alias("gid"), "sh")
              .join(slice_gids, "gid", "left_anti"))
    sh_rows = old_sh.unionByName(new_sh)
    return (_row_jaccard(pairs, sh_rows, sh_rows, meta["threshold"])
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"),
                    "new_a", "new_b"))


def _slice_group_bands(new_df: DataFrame, group_col: str, text_col: str,
                       index_path: str, meta: dict
                       ) -> tuple[DataFrame, DataFrame]:
    """``(base, rows)`` for a grouped incremental run: the group analog
    of :func:`_slice_bands`.  ``base`` holds the ``(gid, text)`` member
    rows of the slice groups not yet committed; ``rows`` are the
    index's epoch-resolved band rows plus the slice groups' union-set
    signature bands, as ``(gid, band, band_key, is_new)``.  The pair
    computation and :func:`minhash_grouped_index_bucket_audit` both
    build their buckets here."""
    spark, live = new_df.sparkSession, meta["epoch"]
    base = (new_df.select(F.col(group_col).alias("gid"),
                          F.col(text_col).alias("text"))
            .join(committed_group_ids(spark, index_path, live), "gid",
                  "left_anti"))
    gsig = _group_signatures(base, "gid", "text", meta["n_hashes"],
                             meta["shingle_k"])
    new_banded = (_banded(gsig, "gid", meta["bands"], key="md5")
                  .withColumnRenamed("doc_id", "gid")  # _banded emits doc_id
                  .withColumn("is_new", F.lit(True)))
    old_banded = (read_latest(spark, index_path, "bands", live,
                              ["doc_id", "band", "band_key"])
                  .select(F.col("doc_id").alias("gid"), "band", "band_key")
                  .withColumn("is_new", F.lit(False)))
    return base, old_banded.unionByName(new_banded)


def probe_grouped_index_near_duplicates(
    probe_df: DataFrame,
    group_col: str,
    text_col: str,
    index_path: str,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-duplicate GROUP pairs between probe conversations' CURRENT
    content and the committed corpus -- the conversation analog of
    :func:`probe_index_near_duplicates`, closing the same hole at group
    granularity: a re-export that rewrites conversation B into a
    near-copy of committed conversation A is invisible to
    :func:`minhash_near_duplicates_grouped_incremental` (committed gids
    are corpus and filtered from the slice), so without this probe it
    would sail in as B's replacement.

    Same semantics as the doc probe, group-shaped:

    * probe gids' OWN stored (old) group content is excluded -- it dies
      in the reindex this probe accompanies;
    * probe-vs-probe pairs compare both conversations' NEW content;
    * predecessor-shadow carve-out: a mixed pair is VOID when the
      corpus group's stored rows near-duplicate the probe gid's own
      stored (old) rows (that corpus group is the probe's history, e.g.
      an earlier deleted-then-reindexed replacement -- resembling your
      own past is never duplication); probes with no stored rows get no
      carve-out;
    * output ``(id_a, id_b, jaccard, new_a, new_b)`` feeds
      :func:`incremental_drop_keys` unchanged (ids are gids here).

    Scale shape: probe bands (one slice's changed conversations) are
    BROADCAST; the corpus band store is bucket-restricted before the
    capping window (true full-bucket sizes preserved -- restriction is
    by bucket key); shingle-row reads are candidate-restricted before
    epoch resolution; the verify is the grouped row-count join, never a
    per-group array.  O(probe + matched buckets), never O(corpus).

    Plan shape: the three bounded intermediates (``capped`` buckets,
    candidate ``pairs``, candidate-restricted ``sh_rows``) are eagerly
    ``localCheckpoint``-ed.  Each is referenced 2-3x downstream and each
    reference would otherwise replay a window/UDF/epoch-read subtree --
    the verify + shadow tree multiplies those references into a plan
    Catalyst takes minutes to optimize (measured on a toy fixture) and
    whose Python stages re-execute per consumer.  The frames are
    slice-bucket-bounded by construction (capping + candidate
    restriction), blocks are ContextCleaner-managed, and the trade --
    an executor loss during the probe fails the job instead of
    recomputing -- is acceptable for a slice-sized maintenance op whose
    enclosing pipeline run is idempotent and resumable."""
    spark = probe_df.sparkSession
    meta = _read_meta(spark, index_path, expect_granularity="group")
    threshold = meta["threshold"]
    live = meta["epoch"]
    base = probe_df.select(F.col(group_col).alias("gid"),
                           F.col(text_col).alias("text"))
    probe_gids = base.select("gid").distinct()

    gsig = _group_signatures(base, "gid", "text", meta["n_hashes"],
                             meta["shingle_k"])
    probe_banded = (_banded(gsig, "gid", meta["bands"], key="md5")
                    .withColumnRenamed("doc_id", "gid")
                    .withColumn("is_new", F.lit(True)))
    old_banded = (_resolve_latest_bucket_restricted(
                      _read_epoched(spark, index_path, "bands", live,
                                    ["doc_id", "band", "band_key"]),
                      "doc_id", live,
                      probe_banded.select("band", "band_key").distinct(),
                      ["band", "band_key"])
                  .select(F.col("doc_id").alias("gid"), "band", "band_key")
                  .join(probe_gids, "gid", "left_anti")
                  .withColumn("is_new", F.lit(False)))
    capped = _capped(old_banded.unionByName(probe_banded),
                     ["band", "band_key"], max_bucket_size).localCheckpoint()
    pairs = (_canonical_candidate_pairs(
                 capped.filter("is_new"), capped, "gid",
                 ["band", "band_key"])
             .localCheckpoint())

    cand = _pair_ids(pairs, "gid")
    new_sh = (_group_shingle_rows(base.join(cand, "gid", "left_semi"),
                                  "gid", "text", meta["shingle_k"])
              .withColumnRenamed("doc_id", "gid"))
    # corpus candidates resolve to their stored rows; probe gids' stored
    # rows are the dying old content and are excluded from the verify
    # (probe gids resolve to their NEW rows above)
    old_sh = (read_latest(spark, index_path, "shingles", live,
                          ["doc_id", "sh"],
                          cand.withColumnRenamed("gid", "doc_id"))
              .select(F.col("doc_id").alias("gid"), "sh")
              .join(probe_gids, "gid", "left_anti")
              .localCheckpoint())
    sh_rows = old_sh.unionByName(new_sh).localCheckpoint()
    verified = _row_jaccard(pairs, sh_rows, sh_rows, threshold)

    # Predecessor-shadow carve-out, row-count shaped: the same row verify
    # between the probe gid's stored (old) rows and the corpus gid's
    # stored rows of each verified mixed pair.  Probe-probe pairs never
    # match a shadow pair: its corpus side is never a probe gid.
    probe_id = F.when(F.col("new_a"), F.col("id_a")).otherwise(F.col("id_b"))
    corpus_id = F.when(F.col("new_a"), F.col("id_b")).otherwise(F.col("id_a"))
    pold = (read_latest(spark, index_path, "shingles", live, ["doc_id", "sh"],
                        probe_gids.withColumnRenamed("gid", "doc_id"))
            .withColumnRenamed("doc_id", "gid"))
    shadow = _row_jaccard(
        verified.filter(F.col("new_a") != F.col("new_b"))
        .select(probe_id.alias("id_a"), corpus_id.alias("id_b")),
        pold, old_sh, threshold)
    return (verified.withColumn("_pgid", probe_id)
            .withColumn("_cgid", corpus_id)
            .join(shadow.select(F.col("id_a").alias("_pgid"),
                                F.col("id_b").alias("_cgid")),
                  ["_pgid", "_cgid"], "left_anti")
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"),
                    "new_a", "new_b"))


def minhash_grouped_index_bucket_audit(
    new_df: DataFrame, group_col: str, text_col: str, index_path: str,
    max_bucket_size: int = 1000,
) -> dict:
    """Exact capping recount for a grouped incremental run (index + slice
    group signatures) -- the group-granularity analog of
    :func:`minhash_index_bucket_audit`, for the empty-output corner where
    the observe-based counter is pruned."""
    meta = _read_meta(new_df.sparkSession, index_path,
                      expect_granularity="group")
    _, rows = _slice_group_bands(new_df, group_col, text_col, index_path,
                                 meta)
    sizes = rows.groupBy("band", "band_key").agg(F.count("*").alias("n"))
    return bucket_cap_stats(sizes, max_bucket_size)


def _compact_index(spark: SparkSession, src_path: str, dst_path: str,
                   granularity: str) -> dict:
    """Compaction of either granularity: both resolve the same
    ``(doc_id, ...)`` stores per key (:func:`index_store.compact`)."""
    meta = _read_meta(spark, src_path, expect_granularity=granularity)
    return index_store.compact(spark, src_path, dst_path, _doc_stores(meta),
                               meta["epoch"], {**meta, "epoch": 0})


def compact_grouped_index(spark: SparkSession, src_path: str,
                          dst_path: str) -> dict:
    """Rewrite a grouped index's RESOLVED state (per-group latest epoch)
    as a fresh epoch-0 index at ``dst_path``.

    Epoch directories accrete one per reindex and every reader pays the
    per-gid resolution shuffle once epochs exist; periodic compaction
    resets both.  No signatures are recomputed -- the resolved band and
    shingle rows ARE the full index state, so this is a copy-shaped job
    (shingles first, bands last, meta last, same commit discipline as
    create).  ``dst_path`` must differ from ``src_path``: parquet
    directories cannot be atomically swapped in place, so the caller
    flips whatever pointer names the live index (and deletes the old
    tree) once this returns."""
    return _compact_index(spark, src_path, dst_path, "group")


def compact_doc_index(spark: SparkSession, src_path: str,
                      dst_path: str) -> dict:
    """Doc-granularity compaction: the :func:`compact_grouped_index`
    analog for indexes reindexed via :func:`reindex_docs` (same resolved
    copy-shaped rewrite, same commit discipline, same
    must-be-a-new-path rule)."""
    return _compact_index(spark, src_path, dst_path, "doc")


def incremental_drop_keys(pairs: DataFrame) -> DataFrame:
    """The keys a corpus-wins + keep-first dedup policy drops, as a
    one-column (``doc_id``) DataFrame.

    * mixed pair (one corpus side): drop the NEW side -- the corpus doc is
      already persisted and by definition arrived first;
    * new-new pair: drop the later key (``id_b``; ids are canonically
      ordered, matching the batch gate's keep-first-by-key policy)."""
    drop = (F.when(F.col("new_a") & ~F.col("new_b"), F.col("id_a"))
             .otherwise(F.col("id_b")))
    return pairs.select(drop.alias("doc_id")).distinct()
