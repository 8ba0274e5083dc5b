"""Persisted hyperplane-LSH index for incremental embedding near-dedup.

The embedding analog of ``operators/minhash_index.py``: dedup today's
ingest slice's embeddings against the already-ingested corpus without
recomputing corpus buckets.

Layout at ``index_path`` (commit protocol: ``index_store.py``):

* ``vectors/`` -- ``(doc_id, v)`` rows, the exact-verify input; written
  FIRST;
* ``buckets/`` -- ``(doc_id, bkt)`` hyperplane sign-bucket rows, written
  LAST, so bucket membership certifies a fully-committed doc (phantom
  vectors from a crashed append are invisible -- commitment is defined by
  ``buckets/``).  Deliberately NOT partitioned by ``bkt``: with
  ``2^n_planes`` possible buckets that would explode into tens of
  thousands of tiny partition directories (measured 33 s vs ~5 s for the
  contract query at sf0.1), and the incremental join shuffles on ``bkt``
  regardless -- unlike the MinHash index's ``band`` column, whose
  cardinality is the band count (16-32);
* ``meta/``    -- ``(n_planes, dim, threshold)``.  The random hyperplanes
  derive deterministically from the fixed module seed and ``dim``
  (``dedup.make_hyperplane_bucket_udf`` -- the same code path the batch
  operator uses, so incremental and full runs can never bucket
  differently), and a slice whose vectors have a different dimension
  raises instead of silently hashing garbage.

Candidate generation joins NEW x (OLD union NEW) bucket rows
(``_slice_buckets``, shared with the bucket audit) -- never old-vs-old --
with FULL-bucket capping (old + new rows).  Capping, candidate
restriction and the cosine verify are the shared LSH core of
``operators.dedup`` (``_capped``, ``_canonical_candidate_pairs``,
``_pair_ids``, ``_verified_values`` with ``cosine_cols``).  The capping
window and the candidate join share one ``bkt`` exchange (reused), so the
run pays a single narrow-row shuffle of the bucket store per slice; the
heavy data -- the dim-sized vector store -- is only ever joined
semi-restricted to candidate ids, never in full.  Docs already committed to the
index are corpus: they are filtered from the slice up front (re-ingested
duplicates are the caller's to drop, see ``plans/pipeline.py``'s
pre-indexed counter for the MinHash analog).  NULL embeddings are
ignored everywhere (they cannot be near-duplicates and would crash the
bucket UDF's ``vstack``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import index_store
from .dedup import (
    EMB_MAX_BUCKET_SIZE,
    _canonical_candidate_pairs,
    _capped,
    _filter_predecessor_shadow,
    _pair_ids,
    _verified_values,
    bucket_cap_stats,
    cosine_cols,
    make_hyperplane_bucket_udf,
)
from .index_store import (
    Store,
    read_epoched,
    read_latest,
    resolve_latest_bucket_restricted,
)

_GEOMETRY = ("n_planes", "dim", "threshold", "model_rev")
# explicit schema: model_rev is usually None and inference cannot type an
# all-None field
_META_DDL = "n_planes long, dim long, threshold double, model_rev string"


def _read_meta(spark: SparkSession, index_path: str) -> dict:
    """Geometry of the committed index at ``index_path`` plus its live
    ``epoch``; ``model_rev`` is None on pre-pin indexes."""
    row = index_store.read_meta(spark, index_path)
    if row is None:
        raise ValueError(f"no committed embedding index at {index_path}")
    return {k: row.get(k) for k in (*_GEOMETRY, "epoch")}


def _stores(meta: dict) -> list[Store]:
    """Vectors first, hyperplane bucket rows (the certifying store)
    last."""
    bucket = make_hyperplane_bucket_udf(meta["n_planes"], meta["dim"])
    return [Store("vectors"),
            Store("buckets", lambda b: b.select("doc_id",
                                                bucket("v").alias("bkt")))]


def _check_model_rev(meta: dict, model_rev) -> None:
    """Refuse to mix embedding spaces across model revisions.

    Cosines between vectors from DIFFERENT embedding model revisions are
    meaningless, so a slice recomputed with a new model must never append
    into (or dedup against) an index built with the old one -- the
    staleness analog of the dim check, but invisible at the vector level
    (same dim, different space).  ``model_rev=None`` means the caller
    did not state a revision and the check is skipped (backward
    compatible); stating one against an index that pins a different one
    -- or none at all -- raises."""
    if model_rev is None:
        return
    if meta.get("model_rev") != model_rev:
        raise ValueError(
            f"embedding index pins model_rev={meta.get('model_rev')!r}; "
            f"this slice states model_rev={model_rev!r} -- vectors from "
            f"different embedding model revisions share no geometry; "
            f"rebuild the index (write_embedding_index) with the new "
            f"model's vectors instead of appending")


def _committed_ids(spark: SparkSession, index_path: str,
                   live=None) -> DataFrame:
    """Keys committed at ANY live epoch (buckets are written last within
    each epoch, so bucket membership certifies commitment)."""
    if live is None:
        live = _read_meta(spark, index_path)["epoch"]
    return index_store.committed_keys(spark, index_path, "buckets", live)


def _clean_base(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(doc_id, v) with NULL embeddings dropped (documented semantics)."""
    return (df.select(F.col(id_col).alias("doc_id"),
                      F.col(vec_col).alias("v"))
            .filter(F.col("v").isNotNull()))


def _unique_vec_rows(base: DataFrame) -> DataFrame:
    """One (doc_id, v) row per key, winner = lexicographic min vector.

    The index stores one bucket/vector row per key; duplicate slice keys
    (callers that skipped exact dedup) would otherwise write duplicate
    rows that multiply later slices' verify joins.  ``min`` over the
    array column is deterministic under retries, unlike
    ``dropDuplicates``; one key-hash shuffle, paid only on write/append."""
    return base.groupBy("doc_id").agg(F.min("v").alias("v"))


def _dim_bounds(base: DataFrame):
    """(min_dim, max_dim) over non-null vectors; (None, None) if empty."""
    row = base.agg(F.min(F.size("v")).alias("lo"),
                   F.max(F.size("v")).alias("hi")).first()
    return row["lo"], row["hi"]


def _check_dim(base: DataFrame, meta: dict) -> None:
    """Validate every non-null vector's length against the index dim.

    Checks min AND max (a first-row-only probe would let a mixed-dim
    slice through to a cryptic executor-side ``vstack`` error).  An empty
    slice passes vacuously -- the dim is already pinned in meta, and a
    zero-new-embeddings day must not crash the ingest job."""
    lo, hi = _dim_bounds(base)
    if lo is None:  # empty slice: nothing to validate
        return
    if lo != meta["dim"] or hi != meta["dim"]:
        got = str(lo) if lo == hi else f"{lo}..{hi}"
        raise ValueError(
            f"embedding index was built for dim={meta['dim']}; the slice "
            f"has dim={got} -- different embedding spaces cannot be "
            f"bucketed together")


def changed_preindexed_ids(
    new_df: DataFrame, id_col: str, vec_col: str, index_path: str,
) -> DataFrame:
    """Committed slice keys whose CURRENT vector differs from the stored
    one -- re-exports whose embedding was recomputed (upstream text edit,
    embedding-model change caught late).  The embedding analog of
    ``minhash_index.changed_preindexed_ids``: the incremental path drops
    any already-committed key as a corpus re-export, which silently
    freezes a changed vector's index entry; this probe compares the
    preindexed slice vectors against the vector store (exact float
    equality -- an identical re-export is byte-identical) and returns the
    changed keys as a one-column (``doc_id``) DataFrame.  The store scan
    is semi-join-restricted to the preindexed keys, never O(corpus).
    These are the keys that need :func:`reindex_embeddings` (same model
    revision -- a MODEL change instead invalidates the whole index;
    rebuild it)."""
    spark = new_df.sparkSession
    base = _unique_vec_rows(_clean_base(new_df, id_col, vec_col))
    meta = _read_meta(spark, index_path)
    pre = base.join(_committed_ids(spark, index_path, meta["epoch"]),
                    "doc_id", "left_semi")
    stored = (read_latest(spark, index_path, "vectors", meta["epoch"],
                          ["doc_id", "v"], pre.select("doc_id"))
              .withColumnRenamed("v", "v_old"))
    # the change probe is EXACT array equality, so the ELEMENT types must
    # match: an upstream float->double drift would make the implicit cast
    # read EVERY committed key as changed, committing a fresh epoch per
    # run (non-convergent) with no diagnostic -- raise instead (r6
    # ADVICE).  Only the element type is compared: containsNull is a
    # nullability attribute, not a value representation, and exact
    # equality needs no cast across it.
    slice_t = getattr(pre.schema["v"].dataType, "elementType", None)
    stored_t = getattr(stored.schema["v_old"].dataType, "elementType", None)
    if slice_t != stored_t:
        raise ValueError(
            f"changed_preindexed_ids: slice vector element type "
            f"{slice_t.simpleString() if slice_t else slice_t} differs "
            f"from the index's stored element type "
            f"{stored_t.simpleString() if stored_t else stored_t} "
            f"-- an implicit cast would mark every committed key as "
            f"changed and reindex the whole slice each run; align the "
            f"upstream embedding column type (or rebuild the index)")
    return (pre.join(stored, "doc_id")
            .filter(F.col("v") != F.col("v_old"))
            .select("doc_id"))


def write_embedding_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    threshold: float = 0.95,
    n_planes: int = 16,
    model_rev: str | None = None,
) -> dict:
    """Create an embedding index from a (deduped) corpus.  Overwrites any
    existing index at the path.  Raises on an empty or mixed-dimension
    corpus (an index needs one well-defined dim).  Duplicate keys
    collapse to one row (:func:`_unique_vec_rows`).  ``model_rev``
    (e.g. ``"bge-m3@2026-03"``) pins the embedding model revision the
    vectors came from; appends stating a different revision are refused
    (:func:`_check_model_rev`)."""
    # localCheckpoint: the dedup groupBy feeds the dim probe and both
    # store writes -- three actions that would each recompute it
    base = _unique_vec_rows(_clean_base(df, id_col, vec_col)) \
        .localCheckpoint(eager=False)
    lo, hi = _dim_bounds(base)
    if lo is None:
        raise ValueError(
            "cannot create an embedding index from an empty corpus "
            "(no non-null vectors to infer dim from)")
    if lo != hi:
        raise ValueError(
            f"corpus has mixed embedding dims {lo}..{hi}; an index "
            f"requires one embedding space")
    meta = {"n_planes": n_planes, "dim": int(lo),
            "threshold": float(threshold), "model_rev": model_rev}
    return index_store.write(df.sparkSession, index_path, base,
                             _stores(meta), meta, schema=_META_DDL)


def append_to_embedding_index(
    new_df: DataFrame, id_col: str, vec_col: str, index_path: str,
    model_rev: str | None = None,
) -> None:
    """Append a slice's vectors + bucket rows, idempotently (per-store
    anti-join of committed keys; vectors first, buckets last).

    Call AFTER consuming the incremental pair result for the slice: the
    pair computation must see the index in its pre-slice state, and
    Spark's lazy evaluation would otherwise race the append against the
    read (a post-append ``collect()`` of a pre-append ``pairs`` plan
    reads post-append buckets and anti-joins the whole slice out).
    Duplicate slice keys collapse to one row (:func:`_unique_vec_rows`).
    ``model_rev`` (optional) is checked against the index's pinned
    revision (:func:`_check_model_rev`)."""
    spark = new_df.sparkSession
    meta = _read_meta(spark, index_path)
    _check_model_rev(meta, model_rev)
    base = _unique_vec_rows(_clean_base(new_df, id_col, vec_col))
    _check_dim(base, meta)
    index_store.append(spark, index_path, base, _stores(meta), meta["epoch"])


def embedding_near_duplicates_incremental(
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    max_bucket_size: int = EMB_MAX_BUCKET_SIZE,
    observation=None,
    probe_bits: int = 1,
    model_rev: str | None = None,
) -> DataFrame:
    """Near-identical embedding pairs touching the new slice, against
    index + slice: ``(id_a, id_b, cos, new_a, new_b)`` with ``cos >=``
    the index's pinned threshold, ids canonically ordered, never
    old-vs-old.  Bucket rows shuffle-join with full-bucket capping
    (observable), exact cosine verifies JVM-side against the vector
    store restricted to candidate ids, nothing is collected to the
    driver.  The bucket store (narrow rows) shuffles once per slice --
    the window and the join reuse one exchange; the wide vector store
    never joins unrestricted.

    Recall: ``probe_bits=1`` (the DEFAULT; multi-probe, the ``lsh_topk``
    trick) probes every slice row into its true bucket plus its
    ``n_planes`` one-bit neighbor buckets: ~99.9% recall (250/250
    measured on the contract fixture) for ``n_planes + 1`` join rows per
    slice vector -- the corpus side is NOT exploded, so index size and
    the capping window are unaffected, and capping/metrics always count
    TRUE bucket rows only.  ``probe_bits=0`` (exact bucket) trades that
    slice-side fanout for ~96% recall at cos ~ 0.9999 (measured:
    241/250) -- a near-identical pair misses when one dimension sits
    close to a hyperplane; use it only when the slice is enormous
    relative to the corpus and the fanout is measured to matter.
    Equivalence contract, stated precisely: at ``probe_bits=0`` the
    result EQUALS a full-corpus ``embedding_near_duplicates`` run
    restricted to slice pairs (identical bucket recall, tested); at
    ``probe_bits=1`` it is a verified SUPERSET of that -- multi-probe
    only ever ADDS true pairs the single-bucket run missed, since every
    candidate passes the same exact-cosine filter.  Exact
    alternatives remain ``cosine_pairs_blocked`` (similarity.py).
    ``model_rev`` (optional) is checked against the index's pinned
    revision (:func:`_check_model_rev`): deduping a slice embedded with
    a NEW model revision against an old-revision index compares
    meaningless cosines."""
    if probe_bits not in (0, 1):
        raise ValueError(
            f"probe_bits must be 0 (exact bucket) or 1 (one-bit "
            f"multi-probe), got {probe_bits}")
    spark = new_df.sparkSession
    meta = _read_meta(spark, index_path)
    _check_model_rev(meta, model_rev)
    from ..parallel import fan_out

    # fan_out: a single-row-group slice scan would serialize the bucket
    # UDF and the verify joins behind one task; the slice is
    # materialized (see _slice_buckets)
    base, all_b = _slice_buckets(fan_out(_clean_base(new_df, id_col, vec_col)),
                                 index_path, meta, checkpoint=True)
    # the capping window shuffles bucket rows on bkt -- the SAME
    # partitioning the candidate self-join needs, so the exchange is
    # computed once and reused: one narrow-row shuffle of the bucket
    # store per slice, not two.  (A slice-touched-bucket semi-join does
    # not help: shuffled it costs the same corpus exchange, broadcast it
    # caps the slice size, and a shared-UDF build side trips Spark's
    # zip-partitions assertion -- measured, r4.)
    capped = _capped(all_b, "bkt", max_bucket_size, observation)
    a = capped.filter("is_new")
    if probe_bits == 1:
        # explode each (un-capped) slice row to its true bucket plus all
        # one-bit neighbor keys; the b side keeps true buckets only, so
        # pair candidates = "a's probe set hits b's true bucket" and the
        # capping semantics (true rows per bucket) are untouched
        a = a.select("doc_id", "is_new",
                     F.explode(_neighbor_keys(meta)).alias("bkt"))
    # localCheckpoint: pairs feeds both candidate branches + the verify
    pairs = _canonical_candidate_pairs(a, capped, "doc_id", "bkt") \
        .localCheckpoint(eager=False)
    # verify vectors: store rows restricted to candidate ids (never the
    # full corpus) and anti-joined against the slice so a crashed
    # append's phantom vectors cannot pair twice; plus the slice's own
    cand = _pair_ids(pairs, "doc_id")
    # candidate-restrict FIRST, then resolve epochs: the per-key window
    # runs over candidate rows only, never the O(corpus) vector store
    old_v = (read_latest(spark, index_path, "vectors", meta["epoch"],
                         ["doc_id", "v"], cand)
             .join(base.select("doc_id"), "doc_id", "left_anti"))
    all_v = old_v.unionByName(base.join(cand, "doc_id", "left_semi"))
    return (_verified_values(pairs, all_v, "v", cosine_cols,
                             meta["threshold"], "cos")
            .select("id_a", "id_b", F.round("cos", 6).alias("cos"),
                    "new_a", "new_b"))


def _neighbor_keys(meta: dict):
    """A row's true bucket key followed by its ``n_planes`` one-bit
    neighbor keys (``probe_bits=1`` multi-probe)."""
    return F.array(F.col("bkt"),
                   *[F.col("bkt").bitwiseXOR(F.lit(1 << j))
                     for j in range(int(meta["n_planes"]))])


def _slice_buckets(base: DataFrame, index_path: str, meta: dict,
                   checkpoint: bool = False) -> tuple[DataFrame, DataFrame]:
    """``(base, rows)``: the bucket rows an incremental run sees.

    ``base`` (non-NULL ``(doc_id, v)`` slice rows) is checked against
    the index dim and loses the keys already committed (they are
    corpus); ``checkpoint`` materializes it, since the pair computation
    reads it for the bucket UDF, the verify union and the phantom
    anti-join.  ``rows`` are the index's epoch-resolved bucket rows
    (``is_new`` false; resolution comes before the capping window, so a
    reindexed key's stale epoch-0 row neither counts nor pairs) and the
    slice's (``is_new`` true).
    :func:`embedding_near_duplicates_incremental` caps these rows and
    :func:`embedding_index_bucket_audit` counts them."""
    _check_dim(base, meta)
    spark, live = base.sparkSession, meta["epoch"]
    bucket = make_hyperplane_bucket_udf(meta["n_planes"], meta["dim"])
    base = base.join(_committed_ids(spark, index_path, live), "doc_id",
                     "left_anti")
    if checkpoint:
        base = base.localCheckpoint(eager=False)
    new_b = (base.select("doc_id", bucket("v").alias("bkt"))
             .withColumn("is_new", F.lit(True)))
    old_b = (read_latest(spark, index_path, "buckets", live, ["doc_id", "bkt"])
             .withColumn("is_new", F.lit(False)))
    return base, old_b.unionByName(new_b)


def probe_embedding_index_near_duplicates(
    probe_df: DataFrame,
    id_col: str,
    vec_col: str,
    index_path: str,
    max_bucket_size: int = EMB_MAX_BUCKET_SIZE,
    probe_bits: int = 1,
    model_rev: str | None = None,
) -> DataFrame:
    """Near-identical pairs between probe rows' CURRENT vectors and the
    rest of the committed corpus -- the embedding analog of
    ``minhash_index.probe_index_near_duplicates``, for changed re-exports
    whose replacement vector may duplicate a DIFFERENT committed key.

    Same semantics: probe keys are not excluded for being committed, but
    their own stored (old) vectors are -- they are about to be replaced,
    so resembling one's predecessor (or another probe key's dying old
    vector) is not duplication; probe-vs-probe pairs compare both NEW
    vectors; a mixed pair is void when the corpus vector near-duplicates
    the probe key's own stored old vector (predecessor-shadow carve-out,
    see the MinHash probe).  Output shape matches the incremental operator
    (``id_a, id_b, cos, new_a, new_b`` with ``new_* = is-probe``) so
    ``minhash_index.incremental_drop_keys`` applies corpus-wins /
    keep-first unchanged.  ``probe_bits=1`` multi-probes the probe side
    only (one-bit neighbor buckets), corpus rows stay in their true
    buckets.  Scale shape: the probe set is tiny; the corpus bucket store
    is restricted to probe-touched buckets via a broadcast semi-join and
    never shuffled O(corpus); the vector store is read candidate-
    restricted only.  The bounded intermediates (``capped``, ``pairs``,
    ``all_v``) are eagerly ``localCheckpoint``-ed -- see
    ``minhash_index.probe_grouped_index_near_duplicates`` for the
    plan-blowup rationale and the executor-loss trade."""
    if probe_bits not in (0, 1):
        raise ValueError(
            f"probe_bits must be 0 (exact bucket) or 1 (one-bit "
            f"multi-probe), got {probe_bits}")
    spark = probe_df.sparkSession
    meta = _read_meta(spark, index_path)
    _check_model_rev(meta, model_rev)
    base = _unique_vec_rows(_clean_base(probe_df, id_col, vec_col))
    _check_dim(base, meta)
    bucket = make_hyperplane_bucket_udf(meta["n_planes"], meta["dim"])
    threshold = meta["threshold"]
    live = meta["epoch"]
    probe_b = (base.select("doc_id", bucket("v").alias("bkt"))
               .withColumn("is_new", F.lit(True)))
    # buckets the probe side can REACH (true + one-bit neighbors when
    # multi-probing) -- the corpus restriction must cover the probe
    # fanout, or neighbor-bucket candidates would be filtered out
    if probe_bits == 1:
        touched = (probe_b.select(F.explode(_neighbor_keys(meta)).alias("bkt"))
                   .distinct())
    else:
        touched = probe_b.select("bkt").distinct()
    old_b = (resolve_latest_bucket_restricted(
                 read_epoched(spark, index_path, "buckets", live,
                              ["doc_id", "bkt"]),
                 "doc_id", live, touched, ["bkt"])
             .join(base.select("doc_id"), "doc_id", "left_anti")
             .withColumn("is_new", F.lit(False)))
    capped = _capped(old_b.unionByName(probe_b), "bkt",
                     max_bucket_size).localCheckpoint()
    a = capped.filter("is_new")
    if probe_bits == 1:
        a = a.select("doc_id", "is_new",
                     F.explode(_neighbor_keys(meta)).alias("bkt"))
    pairs = (_canonical_candidate_pairs(a, capped, "doc_id", "bkt")
             .localCheckpoint())
    cand = _pair_ids(pairs, "doc_id")
    old_v = (read_latest(spark, index_path, "vectors", live, ["doc_id", "v"],
                         cand)
             .join(base.select("doc_id"), "doc_id", "left_anti"))
    all_v = (old_v.unionByName(base.join(cand, "doc_id", "left_semi"))
             .localCheckpoint())
    verified = _verified_values(pairs, all_v, "v", cosine_cols, threshold,
                                "cos")
    # predecessor-shadow carve-out, shared with the MinHash probes
    # (dedup._filter_predecessor_shadow): a corpus vector
    # matching only the probe key's own stored history never voids the
    # replacement; uncommitted probes (NULL old vector) are never carved
    probe_old_v = (read_latest(spark, index_path, "vectors", live,
                               ["doc_id", "v"], base.select("doc_id"))
                   .select(F.col("doc_id").alias("_pid"),
                           F.col("v").alias("v_old")))
    return _filter_predecessor_shadow(
        verified, probe_old_v, "v_old", "v_a", "v_b",
        cosine_cols, threshold, "cos")


def embedding_index_bucket_audit(
    new_df: DataFrame, id_col: str, vec_col: str, index_path: str,
    max_bucket_size: int = EMB_MAX_BUCKET_SIZE,
) -> dict:
    """Exact capping recount over index + slice bucket rows, for the
    empty-output corner where the observe counter is pruned."""
    meta = _read_meta(new_df.sparkSession, index_path)
    _, rows = _slice_buckets(_clean_base(new_df, id_col, vec_col),
                             index_path, meta)
    sizes = rows.groupBy("bkt").agg(F.count("*").alias("n"))
    return bucket_cap_stats(sizes, max_bucket_size)


def reindex_embeddings(
    changed_df: DataFrame, id_col: str, vec_col: str, index_path: str,
    model_rev: str | None = None,
) -> dict:
    """Rebuild CHANGED keys of an embedding index into a fresh epoch.

    The embedding analog of ``minhash_index.reindex_docs``, for keys
    whose vector was legitimately recomputed WITHIN the same embedding
    model revision (upstream text edit re-embedded): append-only stores
    cannot update a committed key's vector in place, so without this the
    stale vector keeps anchoring near-dedup while the new content
    escapes it (``changed_preindexed_ids`` / the pipeline's
    ``n_preindexed_changed`` counter surface the case).  ``changed_df``
    carries the changed keys' CURRENT vectors; they are committed as
    epoch N+1 (:func:`index_store.write`: ``vectors_e{N+1}``, then
    ``buckets_e{N+1}``, then the ``meta_e{N+1}`` marker).
    ``model_rev`` is checked against the pin: a MODEL
    revision change invalidates every committed vector, not just the
    changed keys -- rebuild the index instead (the check raises).
    Readers resolve per-key latest epoch (free at epoch 0).
    O(changed keys), never O(corpus)."""
    spark = changed_df.sparkSession
    meta = _read_meta(spark, index_path)
    _check_model_rev(meta, model_rev)
    base = _unique_vec_rows(_clean_base(changed_df, id_col, vec_col))
    _check_dim(base, meta)
    geometry = {k: meta[k] for k in _GEOMETRY}
    return index_store.write(spark, index_path, base, _stores(geometry),
                             geometry, meta["epoch"] + 1, _META_DDL)


def compact_embedding_index(spark: SparkSession, src_path: str,
                            dst_path: str) -> dict:
    """Rewrite an embedding index's RESOLVED state (per-key latest
    epoch) as a fresh epoch-0 index at ``dst_path`` -- the embedding
    analog of ``minhash_index.compact_doc_index`` (copy-shaped, vectors
    first / buckets last / meta last, must target a NEW path)."""
    meta = _read_meta(spark, src_path)
    geometry = {k: meta[k] for k in _GEOMETRY}
    return index_store.compact(spark, src_path, dst_path, _stores(geometry),
                               meta["epoch"], geometry, _META_DDL)
