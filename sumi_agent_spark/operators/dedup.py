"""Deduplication operators for large-scale training-data pipelines.

Exact (hash groupBy), MinHash + banded LSH, SimHash (hamming banding), exact
n-gram Jaccard verification, and embedding-cosine near-dup.  All Spark-first:

* signatures are computed in Arrow-batched pandas UDFs (numpy per batch);
* candidate generation is a banded self-join (shuffle on (band, key)), the
  standard way to avoid the O(n^2) all-pairs blowup at 100 TB;
* pathological buckets (a boilerplate shingle shared by millions of docs)
  are capped with ``max_bucket_size`` before the self-join, otherwise one
  hot bucket alone is quadratic;
* every candidate pair is exact-verified (Jaccard / hamming / cosine), so
  LSH false positives never reach the output -- recall is the only
  approximation, tuned by (n_hashes, bands).

One LSH core serves the batch operators here and the incremental and
probe operators of ``minhash_index`` and ``embedding_index``:
``_capped`` (full-bucket count window, optional capping Observation, cap
filter), ``_canonical_candidate_pairs`` (incremental pair orientation),
``_pair_ids`` (candidate ids for restricting verify inputs),
``_verified_values`` (per-doc values scored by ``_array_jaccard`` or
``cosine_cols``), ``_row_jaccard`` (exploded group shingle rows, joined
and counted) and ``_filter_predecessor_shadow`` (the value probes'
carve-out).  A change to candidate generation or verification is made
once, there.

Determinism: all hash families derive from fixed seeds; no wall clock.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType

_MERSENNE = (1 << 61) - 1
_SEED = 0x5A51


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Rolling polynomial hashes of the k-char shingles of ``text``."""
    cps = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    if len(cps) < k:
        cps = np.pad(cps, (0, k - len(cps)), constant_values=0x1F)
    base = np.uint64(1000003)
    h = np.zeros(len(cps) - k + 1, dtype=np.uint64)
    acc = np.zeros_like(h)
    for i in range(k):  # k is small (default 5); vector ops inside
        acc = acc * base + cps[i:i + len(h)]
    h = acc & np.uint64((1 << 61) - 1)
    return np.unique(h)


def _batch_shingles(texts: list[str], k: int) -> tuple[np.ndarray, np.ndarray]:
    """Unique shingle hashes for a whole Arrow batch at once.

    Returns ``(values, row_starts)``: ``values`` concatenates each row's
    sorted unique shingle hashes; row i owns
    ``values[row_starts[i]:row_starts[i+1]]`` (always >=1 per row -- short
    texts are padded with U+001F exactly like ``_shingle_hashes``).  One
    rolling-hash pass over the concatenated codepoints + one lexsort
    replaces len(batch) separate per-row numpy pipelines; per-row results
    are identical to ``_shingle_hashes``."""
    n = len(texts)
    if n == 0:  # empty Arrow batch: W below would go negative
        return np.empty(0, dtype=np.uint64), np.zeros(1, dtype=np.int64)
    padded = [t if len(t) >= k else t + "\x1f" * (k - len(t)) for t in texts]
    joined = "".join(padded)
    cps = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    lens = np.array([len(p) for p in padded], dtype=np.int64)
    W = len(cps) - k + 1  # rolling-window positions over the concat
    base = np.uint64(1000003)
    acc = np.zeros(W, dtype=np.uint64)
    for i in range(k):
        acc = acc * base + cps[i:i + W]
    h = acc & np.uint64((1 << 61) - 1)
    row_of = np.repeat(np.arange(n), lens)
    valid = row_of[:W] == row_of[k - 1:k - 1 + W]  # window inside one row
    rows_v, h_v = row_of[:W][valid], h[valid]
    order = np.lexsort((h_v, rows_v))
    r_s, h_s = rows_v[order], h_v[order]
    if len(r_s):
        uniq = np.concatenate(
            [[True], (r_s[1:] != r_s[:-1]) | (h_s[1:] != h_s[:-1])])
    else:
        uniq = np.zeros(0, dtype=bool)
    counts = np.bincount(r_s[uniq], minlength=n)
    row_starts = np.concatenate([[0], np.cumsum(counts)])
    return h_s[uniq], row_starts


def _batch_shingles_raw(texts: list[str], k: int
                        ) -> tuple[np.ndarray, np.ndarray]:
    """:func:`_batch_shingles` WITHOUT the per-row unique pass.

    The MinHash signature is a min over each row's shingle MULTISET,
    which equals the min over its set -- so signature computation never
    needed the dedup, and the lexsort behind it was the single most
    expensive step of the batch pipeline (measured ~17x the cost of the
    rolling hash itself on 280-char windows).  Row segments come
    straight from the per-row window counts; values within a row stay
    in text order.  Same padding, same valid-window masking, same
    hashes as :func:`_batch_shingles`."""
    n = len(texts)
    if n == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(1, dtype=np.int64)
    padded = [t if len(t) >= k else t + "\x1f" * (k - len(t)) for t in texts]
    joined = "".join(padded)
    cps = np.frombuffer(joined.encode("utf-32-le"),
                        dtype=np.uint32).astype(np.uint64)
    lens = np.array([len(p) for p in padded], dtype=np.int64)
    W = len(cps) - k + 1
    base = np.uint64(1000003)
    acc = np.zeros(W, dtype=np.uint64)
    for i in range(k):
        acc = acc * base + cps[i:i + W]
    h = acc & np.uint64((1 << 61) - 1)
    row_of = np.repeat(np.arange(n), lens)
    valid = row_of[:W] == row_of[k - 1:k - 1 + W]
    counts = np.bincount(row_of[:W][valid], minlength=n)
    row_starts = np.concatenate([[0], np.cumsum(counts)])
    return h[valid], row_starts


def _hash_family(n: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(_SEED)
    a = rng.randint(1, _MERSENNE, size=n, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=n, dtype=np.int64).astype(np.uint64)
    return a | np.uint64(1), b  # odd multiplier -> bijection mod 2^64


def signature_matrix(texts: list, shingle_k: int, n_hashes: int,
                     a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``(n_texts, n_hashes)`` uint64 MinHash signature matrix for a
    batch of texts -- the shared numpy core of :func:`make_minhash_udf`
    and the streaming fuzzy decontamination UDF
    (``decontaminate.make_fuzzy_flag_udf``).  One definition: a change
    to the signature computation cannot silently desynchronize the
    batch and streaming sides.

    Uses the raw (non-unique) shingle stream: the elementwise min is
    identical over a multiset and its set, and skipping the per-row
    unique lexsort is a large constant-factor win
    (:func:`_batch_shingles_raw`)."""
    vals, row_starts = _batch_shingles_raw(texts, shingle_k)
    n = len(texts)
    if n == 0:
        return np.empty((0, n_hashes), dtype=np.uint64)
    starts = row_starts[:-1]
    sig = np.empty((n_hashes, n), dtype=np.uint64)
    for i in range(n_hashes):  # each pass is one fused vector chain
        sig[i] = np.minimum.reduceat(a[i] * vals + b[i], starts)
    return np.ascontiguousarray(sig.T)


def make_minhash_udf(n_hashes: int = 128, shingle_k: int = 5,
                     flip_sign: bool = False):
    """Series[str] -> array<long> MinHash signature, batch-vectorized.

    Hash family: ``(a*s + b) mod 2^64`` with odd random ``a`` -- a bijection
    on the shingle-hash space, so min-of-image is a valid min-wise sketch
    (recall is empirically gated in tests).  Signatures are computed as
    ``n_hashes`` vectorized ``minimum.reduceat`` passes over the batch's
    flattened shingle array (:func:`signature_matrix`): no per-row
    Python, no per-row temporaries.

    ``flip_sign=True`` emits each value XOR the int64 sign bit, so that
    SIGNED comparisons on the emitted longs order like UNSIGNED
    comparisons on the true hashes -- the representation
    :func:`_group_signatures` aggregates in.  Flipping here is one free
    vectorized XOR per batch instead of 2x``n_hashes`` Catalyst XOR
    evaluations per ROW inside the grouped min-aggregate (measured on
    1.3M turn rows at sf1.0)."""
    a, b = _hash_family(n_hashes)
    sign = np.uint64(1) << np.uint64(63)

    @pandas_udf(ArrayType(LongType()))
    def minhash(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series([], dtype=object)
        m = signature_matrix(texts.fillna("").tolist(), shingle_k,
                             n_hashes, a, b)
        if flip_sign:
            m = m ^ sign
        return pd.Series(list(m.view(np.int64)))

    return minhash


def make_shingle_udf(shingle_k: int = 5):
    """Series[str] -> array<long> of the row's unique shingle hashes.

    The cheap half of the signature computation (no n_hashes passes); used
    to carry shingle sets into the verify join so exact Jaccard runs
    JVM-side on long arrays (``array_intersect``) instead of re-shingling
    both texts in Python per candidate pair."""

    @pandas_udf(ArrayType(LongType()))
    def shingles(texts: pd.Series) -> pd.Series:
        vals, row_starts = _batch_shingles(texts.fillna("").tolist(), shingle_k)
        v64 = vals.astype(np.int64)  # < 2^61, no wrap
        return pd.Series([v64[s:e] for s, e in
                          zip(row_starts[:-1], row_starts[1:])])

    return shingles


_SIG_SH_TYPE = "struct<sig: array<bigint>, sh: array<bigint>>"


def make_sig_shingle_udf(n_hashes: int = 128, shingle_k: int = 5):
    """Series[str] -> struct(sig, sh): the MinHash signature AND the
    unique-shingle array in ONE batch pass.

    ``minhash_near_duplicates`` needs both halves (signatures for banding,
    shingle sets for the exact verify), and computing them with separate
    UDFs costs two full text scans and two shingle-hashing passes -- plus,
    under a self-join, the optimizer duplicates each subtree again (the
    r6 plan evaluated Python four times per query).  Sharing the single
    ``_batch_shingles`` pass here and materializing the result once
    (``localCheckpoint`` in the operator) collapses that to ONE Python
    evaluation.  Per-row values are bit-identical to
    :func:`make_minhash_udf` / :func:`make_shingle_udf` (same flattened
    rolling-hash pass, same hash family)."""
    a, b = _hash_family(n_hashes)

    @pandas_udf(_SIG_SH_TYPE)
    def sig_shingle(texts: pd.Series) -> pd.DataFrame:
        n = len(texts)
        if n == 0:
            return pd.DataFrame({"sig": pd.Series([], dtype=object),
                                 "sh": pd.Series([], dtype=object)})
        vals, row_starts = _batch_shingles(texts.fillna("").tolist(),
                                           shingle_k)
        starts = row_starts[:-1]
        sig = np.empty((n_hashes, n), dtype=np.uint64)
        for i in range(n_hashes):  # each pass is one fused vector chain
            sig[i] = np.minimum.reduceat(a[i] * vals + b[i], starts)
        sig_rows = np.ascontiguousarray(sig.T).view(np.int64)
        v64 = vals.astype(np.int64)  # < 2^61, no wrap
        return pd.DataFrame({
            "sig": pd.Series(list(sig_rows)),
            "sh": pd.Series([v64[s:e] for s, e in
                             zip(row_starts[:-1], row_starts[1:])]),
        })

    return sig_shingle


def make_jaccard_udf(shingle_k: int = 5):
    """(text_a, text_b) -> exact shingle-set Jaccard similarity."""

    @pandas_udf(DoubleType())
    def jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
        out = np.zeros(len(a))
        for i, (x, y) in enumerate(zip(a.fillna(""), b.fillna(""))):
            sx, sy = _shingle_hashes(x, shingle_k), _shingle_hashes(y, shingle_k)
            if len(sx) == 0 and len(sy) == 0:
                out[i] = 1.0
                continue
            inter = len(np.intersect1d(sx, sy, assume_unique=True))
            out[i] = inter / (len(sx) + len(sy) - inter)
        return pd.Series(out)

    return jaccard


def exact_duplicates(df: DataFrame, id_col: str, text_col: str,
                     max_ids: int = 100) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, doc_ids).

    ``n_docs`` is exact; ``doc_ids`` holds only the ``max_ids`` smallest
    ids of the group.  LLM corpora are exactly where one boilerplate string
    ("OK", an empty tool result, a license header) repeats 10^8-10^9 times;
    an uncapped ``collect_list`` would materialize that group as a single
    10^8-element array in one aggregation buffer -> executor OOM.  Note a
    post-hoc ``slice(collect_list(...))`` would NOT fix that (the full
    array is still built before the slice); instead rows are ranked with a
    per-group ``row_number`` (an external spillable sort, never an in-memory
    array) and only ranks <= ``max_ids`` enter the collect -- the
    aggregation buffer is bounded by construction.  The rank window and the
    group-by share the ``text_hash`` partitioning, so this costs the same
    single exchange as the uncapped version."""
    from pyspark.sql.window import Window

    hashed = df.select(F.md5(F.col(text_col)).alias("text_hash"),
                       F.col(id_col).alias("doc_id"))
    rn = F.row_number().over(
        Window.partitionBy("text_hash").orderBy("doc_id"))
    return (hashed.withColumn("_rn", rn)
            .groupBy("text_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.sort_array(F.collect_list(
                     F.when(F.col("_rn") <= max_ids, F.col("doc_id"))))
                  .alias("doc_ids"))
            .filter(F.col("n_docs") > 1))


def _observe_capping(sized: DataFrame, observation, cap: int) -> DataFrame:
    """Attach recall-risk metrics for silently-capped LSH buckets.

    Buckets larger than ``max_bucket_size`` are dropped before the
    quadratic self-join -- the right 100 TB behavior, but invisible without
    a counter.  Observed on the SAME pass as the join (zero extra scans;
    Spark collects a reused subtree's metrics once even under self-join):

    * ``n_capped_rows``    -- rows excluded from candidate generation;
    * ``n_capped_buckets`` -- distinct dropped buckets, computed as
      ``sum(1/bucket_n)`` over capped rows (each bucket contributes
      ``bucket_n * 1/bucket_n = 1``; round float dust at read time);
    * ``max_bucket_n``     -- hot-key ceiling, the skew early-warning.

    Read with :func:`capped_bucket_metrics` after an action.

    Known corner (measured, Spark 4.1): when the operator's FINAL output is
    completely empty (every bucket capped / no pairs at all), the observed
    subtree is skipped -- an inner hash join with an empty build side never
    consumes its streamed side, and AQE's empty-relation re-plan drops the
    CollectMetrics node -- so the metrics come back null.
    :func:`capped_bucket_metrics` returns ``None`` for that case; use
    :func:`minhash_bucket_audit` (one dedicated aggregation job) when an
    exact answer is required for an empty-output run."""
    n = F.col("bucket_n")
    capped = n > max(cap, 0)
    return sized.observe(
        observation,
        F.sum(capped.cast("long")).alias("n_capped_rows"),
        F.sum(F.when(capped, 1.0 / n).otherwise(0.0))
         .alias("n_capped_buckets"),
        F.max(n).alias("max_bucket_n"))


def capped_bucket_metrics(observation) -> Optional[dict]:
    """Observation -> lineage-ready ints: {n_capped_rows, n_capped_buckets,
    max_bucket_n}.  Call only after an action has executed the plan.

    Returns ``None`` when the metrics never materialized -- the observed
    subtree was pruned because the whole query produced zero rows (see
    ``_observe_capping``) or the input itself was empty.  Callers that hit
    ``None`` and need exact counts should run the audit path
    (:func:`minhash_bucket_audit`)."""
    try:
        m = observation.get
    except Exception:  # pruned CollectMetrics -> malformed/absent row
        return None
    if m.get("max_bucket_n") is None:  # aggregates saw zero rows
        return None
    return {
        "n_capped_rows": int(m.get("n_capped_rows") or 0),
        "n_capped_buckets": int(round(m.get("n_capped_buckets") or 0.0)),
        "max_bucket_n": int(m.get("max_bucket_n") or 0),
    }


def _banded(sig_df: DataFrame, id_col: str, bands: int,
            key: str = "xxh64") -> DataFrame:
    """Explode signatures into (doc_id, band, band_key) LSH bucket rows.

    ``key`` picks the bucket-key hash: ``"xxh64"`` (default) emits an
    8-byte long -- native xxhash64 over the slice string, much cheaper
    to compute, shuffle and window-sort than the 32-char md5 string.
    Equal slices collide under ANY deterministic hash, and every
    candidate is exact-verified downstream, so the key choice cannot
    change operator output (a cross-hash collision only adds a candidate
    the verify then scores -- the accepted 64-bit-collision risk class).
    The PERSISTED index stores keep ``key="md5"``: their band_key column
    is on-disk format, and changing it would make an existing index
    silently match nothing."""
    n_hashes_col = F.size("sig")
    rows_per_band = (n_hashes_col / bands).cast("int")
    slice_str = F.concat_ws(
        ",", F.col("band"),
        F.slice("sig", F.col("band") * rows_per_band + 1,
                rows_per_band).cast("array<string>"))
    band_key = (F.xxhash64(slice_str) if key == "xxh64"
                else F.md5(slice_str))
    return (
        sig_df
        .select(F.col(id_col).alias("doc_id"), "sig")
        .withColumn("band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))))
        .withColumn("band_key", band_key)
        .select("doc_id", "band", "band_key"))


def _banded_pairs(sig_df: DataFrame, id_col: str, bands: int,
                  max_bucket_size: int, observation=None) -> DataFrame:
    """Self-join signature bands -> distinct candidate (id_a < id_b) pairs."""
    # cap pathological buckets before the quadratic self-join
    capped = _capped(_banded(sig_df, id_col, bands), ["band", "band_key"],
                     max_bucket_size, observation)
    a = capped.alias("a")
    b = capped.alias("b")
    return (a.join(b, ["band", "band_key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .distinct())


# candidate-pair frames at or below this row count are broadcast into the
# verify joins (two longs per row -> <=80 MB built); larger sets fall back
# to shuffled joins so an adversarial bucket structure cannot OOM the
# driver -- the same capped-broadcast discipline the classifier's
# plan-literal path uses
_PAIR_BROADCAST_MAX = 5_000_000


def _size_prefiltered_pairs(pairs: DataFrame, sizes: DataFrame,
                            threshold: float) -> DataFrame:
    """Runs one Spark job (``pairs.count()``) while building the plan.

    Prunes candidate pairs with the LOSSLESS set-size bound before any
    shingle array moves: ``J(A,B) <= min(|A|,|B|)/max(|A|,|B|)``, so a
    pair whose shingle counts are more than ``threshold`` apart can never
    verify and dies on two narrow ints instead of an array intersection
    (the same bound ``ngram_jaccard`` documents; output is unchanged by
    construction).  ``pairs`` must be materialized (``localCheckpoint``)
    -- the row count is then a cheap cached-block action that decides
    whether the pair set rides the joins as a broadcast
    (:data:`_PAIR_BROADCAST_MAX`).  ``sizes`` is ``(doc_id, _n)``.

    The count and the hint are not left to AQE.  On the executed plans
    of the ``minhash_near_dup``, ``conv_near_dup`` and
    ``incremental_near_dup`` contract queries (sf0.01) and the gated
    slice's conversation near-dedup, run with and without them, every
    join stays a broadcast join, but without the hint Spark builds on
    the OTHER side: the per-doc sizes and the wide shingle frames.
    Past Spark's broadcast threshold those frames would be shuffled
    instead (not run)."""
    n_pairs = pairs.count()
    small = n_pairs <= _PAIR_BROADCAST_MAX
    if small:
        pairs = F.broadcast(pairs)
    na = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("_n").alias("_na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("_n").alias("_nb"))
    t = float(threshold)
    out = (pairs.join(na, "id_a").join(nb, "id_b")
           .filter((F.col("_nb").cast("double") >= t * F.col("_na"))
                   & (F.col("_na").cast("double") >= t * F.col("_nb")))
           .drop("_na", "_nb"))
    return F.broadcast(out) if small else out


def _canonical_candidate_pairs(
    a: DataFrame, b: DataFrame, id_col: str, join_cols,
) -> DataFrame:
    """Bucket-join two candidate row sets and emit canonically ordered
    pairs: ``id_a < id_b`` with the ``is_new`` flags carried through the
    same swap, self-pairs removed, multi-bucket duplicate collisions
    collapsed.  Every incremental/probe operator (doc, grouped,
    embedding) shares this exact canonicalization -- the keep-first /
    corpus-wins drop policy in ``minhash_index.incremental_drop_keys``
    reads the
    orientation, so it must never diverge between them."""
    a, b = a.alias("a"), b.alias("b")
    a_lt = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    return (a.join(b, join_cols)
            .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            .select(
                F.when(a_lt, F.col(f"a.{id_col}"))
                 .otherwise(F.col(f"b.{id_col}")).alias("id_a"),
                F.when(a_lt, F.col(f"b.{id_col}"))
                 .otherwise(F.col(f"a.{id_col}")).alias("id_b"),
                F.when(a_lt, F.col("a.is_new")).otherwise(F.col("b.is_new"))
                 .alias("new_a"),
                F.when(a_lt, F.col("b.is_new")).otherwise(F.col("a.is_new"))
                 .alias("new_b"))
            .distinct())


def _filter_predecessor_shadow(
    verified: DataFrame, probe_old: DataFrame, old_col: str,
    val_a: str, val_b: str, sim_fn, threshold: float, score_col: str,
) -> DataFrame:
    """Predecessor-shadow carve-out shared by the doc and embedding
    probes: a MIXED verified pair is void when the corpus side's stored
    value near-duplicates the probe key's OWN stored (old) value --
    matching one's predecessor's shadow is never duplication.
    Uncommitted probes (NULL old value, from the left join against
    ``probe_old`` keyed ``_pid``) are never carved; probe-probe pairs
    are never carved.  ``sim_fn(corpus_val, old_val)`` supplies the
    similarity (array Jaccard / cosine); the surviving rows project the
    standard ``(id_a, id_b, <score_col>, new_a, new_b)`` shape."""
    mixed = F.col("new_a") != F.col("new_b")
    v = (verified
         .withColumn("_pid", F.when(F.col("new_a"), F.col("id_a"))
                              .otherwise(F.col("id_b")))
         .withColumn("_cval", F.when(F.col("new_a"), F.col(val_b))
                               .otherwise(F.col(val_a)))
         .join(probe_old, "_pid", "left"))
    # coalesce: sim_fn can yield NULL (cosine of a zero-norm stored old
    # vector is 0/0), and filter(~NULL) would silently drop the verified
    # pair -- a NULL similarity must never void a real duplicate (r6
    # ADVICE)
    shadow = F.coalesce(
        mixed & F.col(old_col).isNotNull()
        & (sim_fn(F.col("_cval"), F.col(old_col)) >= threshold),
        F.lit(False))
    return (v.filter(~shadow)
            .select("id_a", "id_b",
                    F.round(score_col, 6).alias(score_col),
                    "new_a", "new_b"))


def _capped(rows: DataFrame, bucket_cols, max_bucket_size: int,
            observation=None) -> DataFrame:
    """``rows`` without the rows of buckets larger than
    ``max_bucket_size``.  The window counts each FULL bucket (every row
    sharing ``bucket_cols``, whichever side or run it came from); the
    optional ``observation`` reports what the cap dropped
    (:func:`_observe_capping`).  Every LSH operator caps through here."""
    from pyspark.sql.window import Window

    sized = rows.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy(bucket_cols)))
    if observation is not None:
        sized = _observe_capping(sized, observation, max_bucket_size)
    return sized.filter(F.col("bucket_n") <= max_bucket_size).drop("bucket_n")


def _pair_ids(pairs: DataFrame, name: str) -> DataFrame:
    """The distinct ids on either side of a pair frame, as one column
    ``name``: the candidate set the verify inputs are restricted to."""
    return (pairs.select(F.col("id_a").alias(name))
            .union(pairs.select(F.col("id_b").alias(name)))
            .distinct())


def _array_jaccard(x, y):
    """Exact Jaccard of two array columns as a double expression."""
    inter = F.size(F.array_intersect(x, y)).cast("double")
    return inter / ((F.size(x) + F.size(y)).cast("double") - inter)


def _verified_values(pairs: DataFrame, values: DataFrame, col: str,
                     sim_fn, threshold: float, score: str) -> DataFrame:
    """Value verify of candidate ``pairs``: each side's ``col`` joins in
    from ``values`` ``(doc_id, col)`` as ``{col}_a`` / ``{col}_b``,
    ``sim_fn`` (array Jaccard, cosine) scores it into ``score``, and
    pairs below ``threshold`` drop.  The score is left unrounded."""
    va, vb = (values.select(F.col("doc_id").alias(f"id_{s}"),
                            F.col(col).alias(f"{col}_{s}")) for s in "ab")
    return (pairs.join(va, "id_a").join(vb, "id_b")
            .withColumn(score, sim_fn(F.col(f"{col}_a"), F.col(f"{col}_b")))
            .filter(F.col(score) >= threshold))


def _row_jaccard(pairs: DataFrame, rows_a: DataFrame, rows_b: DataFrame,
                 threshold: float, sizes: Optional[DataFrame] = None
                 ) -> DataFrame:
    """Exact Jaccard of candidate ``pairs`` over exploded set rows:
    ``id_a``'s set is its ``(gid, sh)`` rows in ``rows_a``, ``id_b``'s
    its rows in ``rows_b``.  Set sizes ``(gid, n_sh)`` come from
    ``sizes`` when given, else each side's rows are counted.  The
    intersection is two joins and a count grouped by every column of
    ``pairs``, so no per-group array is ever built.  Keeps
    ``jaccard >= threshold`` (unrounded).  The inner joins drop pairs
    with no shared row and ids with no rows: their Jaccard is 0 or
    undefined, and no threshold > 0 keeps them."""
    def set_sizes(rows, s):
        sz = (sizes if sizes is not None
              else rows.groupBy("gid").agg(F.count("*").alias("n_sh")))
        return sz.select(F.col("gid").alias(f"id_{s}"),
                         F.col("n_sh").alias(f"n_{s}"))
    ea = rows_a.select(F.col("gid").alias("id_a"), "sh")
    eb = rows_b.select(F.col("gid").alias("id_b"), "sh")
    # id_a, id_b lead the grouping keys whatever order the pair frame
    # carries them in (_size_prefiltered_pairs puts id_b first)
    keys = ["id_a", "id_b", *(c for c in pairs.columns
                              if c not in ("id_a", "id_b"))]
    inter = (pairs.join(ea, "id_a").join(eb, ["id_b", "sh"])
             .groupBy(*keys).agg(F.count("*").alias("n_inter")))
    jac = (F.col("n_inter").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"))
    return (inter.join(set_sizes(rows_a, "a"), "id_a")
            .join(set_sizes(rows_b, "b"), "id_b")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= threshold))


def resolve_bands(threshold: float, n_hashes: int,
                  bands: Optional[int]) -> int:
    """Derive-or-validate the LSH band count (shared by every MinHash
    operator: per-doc, grouped, both audits, and the persisted index).

    ``bands=None`` derives a safe geometry from the threshold
    (:func:`bands_for_threshold`).  An explicit ``bands`` is validated the
    way ``minhash_near_duplicates`` always did: ``bands > n_hashes`` is
    rejected (rows/band truncates to 0, every band key collapses and the
    self-join goes all-pairs), non-dividing counts warn with the EXECUTED
    truncated geometry, and a midpoint above the threshold warns that edge
    recall is below a coin flip."""
    if bands is None:
        return bands_for_threshold(threshold, n_hashes)
    import warnings
    if bands > n_hashes:
        raise ValueError(
            f"minhash bands={bands} exceeds n_hashes={n_hashes}")
    rows_pb = n_hashes // bands
    if n_hashes % bands:
        warnings.warn(
            f"minhash n_hashes={n_hashes} is not divisible by "
            f"bands={bands}: only {rows_pb * bands} hashes are used "
            f"({n_hashes % bands} discarded).", stacklevel=3)
    midpoint = (1.0 / bands) ** (1.0 / rows_pb)
    if midpoint > threshold:
        warnings.warn(
            f"minhash bands={bands} puts the LSH S-curve midpoint "
            f"({midpoint:.3f}) above threshold={threshold}: recall at "
            f"the threshold edge is below 50%. Pass bands=None to "
            f"derive a safe geometry.", stacklevel=3)
    return bands


def bands_for_threshold(threshold: float, n_hashes: int = 128,
                        margin: float = 0.08) -> int:
    """Smallest band count whose S-curve midpoint ``(1/bands)^(bands/n)``
    sits at least ``margin`` below ``threshold``.

    Fewest bands = fewest candidate pairs, so among the safe geometries
    this picks the cheapest.  Falls back to ``bands = n_hashes`` (rows=1,
    maximal recall) when even that midpoint is above the target -- only
    possible for thresholds near 1/n_hashes."""
    for bands in range(1, n_hashes + 1):
        if n_hashes % bands:
            continue
        rows = n_hashes // bands
        midpoint = (1.0 / bands) ** (1.0 / rows)
        if midpoint <= threshold - margin:
            return bands
    return n_hashes


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_hashes: int = 128,
    bands: Optional[int] = None,
    shingle_k: int = 5,
    max_bucket_size: int = 1000,
    observation=None,
) -> DataFrame:
    """MinHash-LSH candidate pairs, exact-verified by shingle Jaccard.

    Pass a ``pyspark.sql.Observation`` as ``observation`` to surface how
    much the ``max_bucket_size`` recall cap actually dropped (see
    :func:`_observe_capping` / :func:`capped_bucket_metrics`) -- at corpus
    scale a silently-capped boilerplate bucket is a recall risk the
    operator must be able to report into lineage.

    Returns (id_a, id_b, jaccard) with jaccard >= threshold.  Output has no
    false positives; recall follows the (n_hashes, bands) S-curve.

    Band geometry: ``bands=None`` (default) derives the band count FROM the
    threshold via :func:`bands_for_threshold`, so the S-curve midpoint
    always sits safely (~0.1) below it -- threshold 0.8 yields 16 bands =
    8 rows/band, midpoint (1/16)^(1/8) ~= 0.71 (recall ~0.95 at the
    threshold edge, ->1 above); threshold 0.7 yields 32 bands (midpoint
    ~0.42).  An explicit ``bands`` whose midpoint exceeds the threshold
    drops edge recall to ~coin-flip, and warns.
    Wider bands matter at corpus scale: prose corpora carry background
    shingle similarity ~0.2 from shared boilerplate, and at 4 rows/band
    that floods the self-join with ~5% of all O(n^2) pairs as candidates;
    at 8 rows/band the background collision rate is ~(0.2)^8 ~ 1e-5.

    Verify stage is JVM-side: candidates join back to each doc's unique
    shingle-hash array (the cheap half of the signature UDF) and exact
    Jaccard is ``array_intersect``/set-size arithmetic inside codegen -- no
    Python and no re-shingling of full texts per candidate pair.

    Execution shape (r7 optimization): signatures AND shingle arrays come
    from ONE Arrow pass (:func:`make_sig_shingle_udf`) over a fan-out-
    repaired scan, materialized once with ``localCheckpoint`` -- the
    banded self-join and both verify sides then read the cached narrow
    rows instead of re-running Python four times (the measured r6 plan
    shape).  The checkpoint is a bounded intermediate of the job itself
    (~(n_hashes + shingles/doc) longs per doc), the same class of
    materialization a persisted signature index would hold at scale.
    Candidate pairs are materialized and counted, then (a) pruned with
    the LOSSLESS set-size bound ``J(A,B) <= min(|A|,|B|)/max(|A|,|B|)``
    against the per-doc shingle counts BEFORE any array moves (at the
    measured sf1.0 geometry ~2/3 of the ~100k banding false positives
    die on two narrow ints), and (b) broadcast into the verify joins
    when bounded (:func:`_size_prefiltered_pairs`) so the wide shingle
    frames are streamed, never shuffled or broadcast themselves.
    Construction is EAGER (the candidate count runs when the frame is
    built) -- the same construction-time-execution convention the index
    write paths and ``clf_eval`` already follow."""
    from ..parallel import fan_out

    bands = resolve_bands(threshold, n_hashes, bands)
    sig_sh = make_sig_shingle_udf(n_hashes, shingle_k)
    base = fan_out(df.select(F.col(id_col).alias("doc_id"),
                             F.col(text_col).alias("text")))
    ss = (base.select("doc_id", sig_sh("text").alias("_ss"))
          .select("doc_id", F.col("_ss.sig").alias("sig"),
                  F.col("_ss.sh").alias("sh"))
          .localCheckpoint(eager=False))
    pairs = _banded_pairs(ss.select("doc_id", "sig"), "doc_id", bands,
                          max_bucket_size, observation).localCheckpoint(eager=False)
    sizes = ss.select("doc_id", F.size("sh").alias("_n"))
    pairs = _size_prefiltered_pairs(pairs, sizes, threshold)
    return (_verified_values(pairs, ss.select("doc_id", "sh"), "sh",
                             _array_jaccard, threshold, "jaccard")
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


_SIGN_BIT = -(1 << 63)  # int64 sign bit; XOR maps unsigned order <-> signed


def _group_signatures(df: DataFrame, group_col: str, text_col: str,
                      n_hashes: int, shingle_k: int) -> DataFrame:
    """(gid, sig): the MinHash signature of each group's UNION shingle set,
    as an elementwise-min aggregate over per-row signatures.

    ``minhash(A | B) = elementwise_min(minhash(A), minhash(B))`` -- but the
    min must run in UNSIGNED hash order: signature values are uint64 stored
    as int64 (``make_minhash_udf``), so a plain ``F.min`` would compare
    signed and pick a large hash over a small one whenever the high bit is
    set (~half of all values), making the "signature" partition-dependent
    and silently costing recall.  The sign-bit flip that converts
    unsigned order to signed order happens INSIDE the UDF
    (``flip_sign=True`` -- one vectorized XOR per batch); the aggregate
    is then a plain per-element ``F.min`` and only the final per-GROUP
    array flips back (r7: this removes 2 x n_hashes Catalyst XOR
    evaluations per input row)."""
    minhash = make_minhash_udf(n_hashes, shingle_k, flip_sign=True)
    row_sig = df.select(F.col(group_col).alias("gid"),
                        minhash(F.col(text_col)).alias("sig"))
    return (row_sig
            .groupBy("gid")
            .agg(F.transform(
                F.array(*[F.min(F.element_at("sig", i + 1))
                          for i in range(n_hashes)]),
                lambda x: x.bitwiseXOR(F.lit(_SIGN_BIT))).alias("sig")))


def minhash_near_duplicates_grouped(
    df: DataFrame,
    group_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_hashes: int = 128,
    bands: Optional[int] = None,
    shingle_k: int = 5,
    max_bucket_size: int = 1000,
    observation=None,
) -> DataFrame:
    """MinHash near-dup pairs between GROUPS of rows (e.g. whole
    conversations), without ever assembling a group's text in one place.

    A group's document is defined as the UNION of its member rows' shingle
    sets (turn boundaries are semantic boundaries; the only difference from
    shingling a concatenation is the k-1 shingles that would straddle two
    turns).  That definition makes the whole operator distributive:

    * signature: ``minhash(A | B) = elementwise_min(minhash(A),
      minhash(B))``, so the group signature is a plain ``groupBy().min()``
      over per-row signatures -- a hash aggregate with map-side partial
      combine, no sorted text assembly, no skew from giant conversations,
      no per-group arrays;
    * exact verify: group shingle sets live as exploded ``(group, shingle)``
      rows (restricted to candidate groups by a semi-join), so Jaccard is
      two joins + a count -- every step is a shuffle of scalar rows, never
      a per-group in-memory set.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b`` (group keys)
    and ``jaccard >= threshold`` computed exactly over the union shingle
    sets (:func:`_row_jaccard`).

    Plan note (r7 optimization): the candidate-pair subtree feeds three
    consumers and the shingle explode four, so both are materialized once
    with ``localCheckpoint`` -- bounded intermediates (group signatures:
    n_hashes longs per group; candidate shingle rows: restricted to
    candidate groups, which are rare by construction).  Before r7 this
    leaned on AQE exchange reuse, which deduplicated some but not all of
    the repeated subtrees (the r6 plan still evaluated the signature UDF
    per consumer).  The per-row UDF input is fan-out-repaired first so a
    single-row-group scan cannot serialize the signature pass."""
    from ..parallel import fan_out

    bands = resolve_bands(threshold, n_hashes, bands)
    shingles = make_shingle_udf(shingle_k)
    base = fan_out(df.select(F.col(group_col).alias("gid"),
                             F.col(text_col).alias("text")))
    # elementwise UNSIGNED min across the group's row signatures == the
    # signature of the union shingle set (min-of-mins); n_hashes scalar min
    # aggregates keep this a partial-aggregating hash agg (map-side
    # combine), which a collect_list-then-reduce formulation would not be
    group_sig = _group_signatures(base, "gid", "text", n_hashes,
                                  shingle_k).localCheckpoint(eager=False)
    pairs = _banded_pairs(group_sig, "gid", bands, max_bucket_size,
                          observation).localCheckpoint(eager=False)
    # union shingle set per candidate group, as rows: explode each member
    # row's unique-shingle array, dedup on (gid, shingle)
    sh_rows = (base.join(_pair_ids(pairs, "gid"), "gid", "left_semi")
               .select("gid", F.explode(shingles("text")).alias("sh"))
               .distinct().localCheckpoint(eager=False))
    sizes = (sh_rows.groupBy("gid").agg(F.count("*").alias("n_sh"))
             .localCheckpoint(eager=False))
    # lossless set-size prune + bounded broadcast before the exploded
    # intersection join (see _size_prefiltered_pairs)
    pairs = _size_prefiltered_pairs(
        pairs, sizes.select(F.col("gid").alias("doc_id"),
                            F.col("n_sh").alias("_n")), threshold)
    # group sets are never empty (short/NULL texts shingle to the padded
    # sentinel), so the row verify loses no pair a threshold > 0 keeps
    return (_row_jaccard(pairs, sh_rows, sh_rows, threshold, sizes)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def bucket_cap_stats(sizes: DataFrame, max_bucket_size: int) -> dict:
    """Exact {n_capped_rows, n_capped_buckets, max_bucket_n} from a
    ``(band, band_key, n)`` bucket-size frame -- the shared tail of every
    audit job (per-doc, grouped, and both index variants)."""
    capped = F.col("n") > max_bucket_size
    row = sizes.agg(
        F.coalesce(F.sum(F.when(capped, F.col("n"))), F.lit(0))
         .alias("n_capped_rows"),
        F.coalesce(F.sum(capped.cast("long")), F.lit(0))
         .alias("n_capped_buckets"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket_n")).first()
    return {"n_capped_rows": int(row["n_capped_rows"]),
            "n_capped_buckets": int(row["n_capped_buckets"]),
            "max_bucket_n": int(row["max_bucket_n"])}


def minhash_bucket_audit(
    df: DataFrame, id_col: str, text_col: str,
    threshold: float = 0.8, n_hashes: int = 128, bands: Optional[int] = None,
    shingle_k: int = 5, max_bucket_size: int = 1000,
) -> dict:
    """Exact capping report as a dedicated aggregation job.

    The observe-based counter (``observation=`` on
    :func:`minhash_near_duplicates`) is free but unavailable when the run's
    output is completely empty; this recomputes signatures and returns the
    exact {n_capped_rows, n_capped_buckets, max_bucket_n} for the SAME
    geometry.  One extra scan -- an audit tool, not the hot path."""
    bands = resolve_bands(threshold, n_hashes, bands)
    minhash = make_minhash_udf(n_hashes, shingle_k)
    sig = df.select(F.col(id_col).alias("doc_id"),
                    minhash(F.col(text_col)).alias("sig"))
    sizes = (_banded(sig, "doc_id", bands)
             .groupBy("band", "band_key").agg(F.count("*").alias("n")))
    return bucket_cap_stats(sizes, max_bucket_size)


def minhash_grouped_bucket_audit(
    df: DataFrame, group_col: str, text_col: str,
    threshold: float = 0.8, n_hashes: int = 128, bands: Optional[int] = None,
    shingle_k: int = 5, max_bucket_size: int = 1000,
) -> dict:
    """:func:`minhash_bucket_audit` for the grouped operator: recounts LSH
    bucket sizes over GROUP signatures (elementwise-min aggregation, same
    geometry as :func:`minhash_near_duplicates_grouped`) when the
    observe-based counter was pruned by an empty-output run."""
    bands = resolve_bands(threshold, n_hashes, bands)
    group_sig = _group_signatures(df, group_col, text_col, n_hashes,
                                  shingle_k)
    sizes = (_banded(group_sig, "gid", bands)
             .groupBy("band", "band_key").agg(F.count("*").alias("n")))
    return bucket_cap_stats(sizes, max_bucket_size)


# ─── SimHash ───

_FNV_VEC_MAXLEN = 256  # pad-matrix cutoff: beyond this, scalar FNV wins
# power-of-two pad widths: every token pads to <2x its own length (8 B
# floor), so the pad matrices stay O(total_bytes + 8*n_tokens) even when
# one near-cutoff token shares a batch with millions of tiny ones --
# padding all short tokens to the longest SHORT token would be
# O(n_tokens * 256) there, gigabytes per task on real corpora
_FNV_TIERS = (8, 16, 32, 64, 128, _FNV_VEC_MAXLEN)


def _batch_fnv64(tokens: list[bytes]) -> np.ndarray:
    """FNV-1a of every token; vectorized pass per byte position.

    Tokens up to ``_FNV_VEC_MAXLEN`` bytes are bucketed into power-of-two
    length tiers, right-padded into one (n_tier, tier_width) uint8 matrix
    per tier, and hashed with one vector op per byte position -- identical
    byte order to a scalar FNV loop, with pad overhead bounded at <2x per
    token (8-byte floor) instead of pad-to-longest.  LONG tokens (e.g.
    Japanese prose, where whitespace ``split()`` yields one token per
    document, or base64 blobs) fall back to the scalar loop: their O(len)
    cost dominates any vectorization win and exempting them keeps total
    memory O(total_bytes + n_tokens)."""
    n = len(tokens)
    out = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    if n == 0:
        return out
    lens = np.fromiter((len(b) for b in tokens), dtype=np.int64, count=n)
    prime = np.uint64(0x100000001B3)
    lo = 0  # zero-length tokens hash to the FNV basis = out's prefill
    for hi in _FNV_TIERS:
        sel = (lens > lo) & (lens <= hi)
        lo = hi
        if not sel.any():
            continue
        idx = np.nonzero(sel)[0]
        toks = [tokens[i] for i in idx]
        slens = lens[idx]
        arr = np.frombuffer(b"".join(toks), dtype=np.uint8)
        ends = np.cumsum(slens)
        starts = ends - slens
        buf = np.zeros((len(toks), int(slens.max())), dtype=np.uint8)
        rows = np.repeat(np.arange(len(toks)), slens)
        cols = np.arange(len(arr)) - np.repeat(starts, slens)
        buf[rows, cols] = arr
        h = np.full(len(toks), 0xCBF29CE484222325, dtype=np.uint64)
        for p in range(buf.shape[1]):
            active = slens > p
            h[active] = (h[active] ^ buf[active, p].astype(np.uint64)) \
                * prime
        out[idx] = h
    for i in np.nonzero(lens > _FNV_VEC_MAXLEN)[0]:
        h = 0xCBF29CE484222325
        for ch in tokens[i]:
            h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        out[i] = h
    return out


def make_simhash_udf(bits: int = 64):
    """Series[str] -> 64-bit SimHash over whitespace tokens.

    Batch-vectorized like the MinHash signature UDF: all tokens of the
    Arrow batch are FNV-hashed in one vectorized pass (``_batch_fnv64``),
    then each of the ``bits`` sign sums is one ``np.add.reduceat`` over the
    flattened token array -- no per-row Python, O(n_tokens) memory."""
    mask = np.uint64((1 << bits) - 1) if bits < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)

    @pandas_udf(LongType())
    def simhash(texts: pd.Series) -> pd.Series:
        n = len(texts)
        out = np.zeros(n, dtype=np.uint64)
        if n == 0:
            return pd.Series([], dtype="int64")
        tok_lists = [t.lower().split() for t in texts.fillna("")]
        n_toks = np.fromiter((len(tl) for tl in tok_lists), dtype=np.int64,
                             count=n)
        flat = [tok.encode("utf-8") for tl in tok_lists for tok in tl]
        nz = n_toks > 0
        if not nz.any():
            return pd.Series(out.view(np.int64))
        hs = _batch_fnv64(flat) & mask
        tok_ends = np.cumsum(n_toks)
        segs = (tok_ends - n_toks)[nz]  # strictly increasing: rows nonempty
        nz_counts = n_toks[nz]
        hrow = np.zeros(int(nz.sum()), dtype=np.uint64)
        for j in range(bits):  # each pass one fused vector chain
            ones = np.add.reduceat((hs >> np.uint64(j)) & np.uint64(1), segs)
            # sign sum v = (+1)*ones + (-1)*(n-ones) > 0  <=>  2*ones > n
            hrow |= (2 * ones > nz_counts).astype(np.uint64) << np.uint64(j)
        out[nz] = hrow
        return pd.Series(out.view(np.int64))

    return simhash


def _poly64(tok: str) -> int:
    """Scalar FNV-1a (the per-token reference ``_batch_fnv64`` must match)."""
    h = 0xCBF29CE484222325
    for ch in tok.encode("utf-8"):
        h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str,
    max_hamming: int = 3, chunks: int = 4, max_bucket_size: int = 1000,
    observation=None,
) -> DataFrame:
    """SimHash near-dups: band the 64-bit hash into ``chunks`` pieces --
    pigeonhole: hamming <= chunks-1 guarantees one identical chunk -- then
    exact-verify with popcount (native bit ops, JVM-side)."""
    from ..parallel import fan_out

    simhash = make_simhash_udf()
    # fan_out: parallelize the single-row-group scan feeding the UDF;
    # localCheckpoint: the self-join consumes this subtree twice, and the
    # materialized form is two longs per doc -- cheaper than one repeated
    # Python pass, let alone two
    base = (fan_out(df.select(F.col(id_col).alias("doc_id"),
                              F.col(text_col).alias("text")))
            .select("doc_id", simhash(F.col("text")).alias("sh"))
            .localCheckpoint(eager=False))
    width = 64 // chunks
    chunked = (base
               .withColumn("chunk", F.explode(F.sequence(F.lit(0), F.lit(chunks - 1))))
               .withColumn("chunk_key", F.concat_ws(
                   ":", F.col("chunk"),
                   F.expr(f"shiftrightunsigned(sh, chunk * {width}) "
                          f"& {(1 << width) - 1}").cast("string"))))
    capped = _capped(chunked, "chunk_key", max_bucket_size, observation)
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (a.join(b, "chunk_key")
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"),
                     F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
             .distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ─── Embedding cosine near-dup ───

# shared default bucket cap for the embedding family (batch operator,
# persisted index, pipeline stage + its zero-pair recount audit): one
# constant so a tune can never leave an audit counting with a different
# cap than the join it describes
EMB_MAX_BUCKET_SIZE = 2000


def make_hyperplane_bucket_udf(n_planes: int, dim: int):
    """Series[array<float>] -> int64 sign-bucket key over ``n_planes``
    fixed random hyperplanes (seeded; identical across runs/processes).

    The SINGLE source of the bucketing used by both the batch operator
    and the persisted embedding index -- the incremental == full-run
    equality contract depends on the two never diverging by a bit.
    ``n_planes`` is bounded to [1, 62]: bit ``63`` is the int64 sign bit
    and shifting into it is undefined for numpy int64; ``<= 0`` would
    collapse every vector into one bucket and turn the banded self-join
    into an unguarded cross join."""
    if not 1 <= n_planes <= 62:
        raise ValueError(
            f"n_planes must be in [1, 62] (int64 bucket key), "
            f"got {n_planes}")
    rng = np.random.RandomState(_SEED)
    planes = rng.standard_normal((n_planes, dim))

    @pandas_udf(LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        m = np.vstack(vecs.to_numpy())
        signs = (m @ planes.T) > 0
        keys = np.zeros(len(m), dtype=np.int64)
        for j in range(n_planes):
            keys |= signs[:, j].astype(np.int64) << j
        return pd.Series(keys)

    return bucket


def cosine_cols(va, vb) -> F.Column:
    """Exact cosine between two array columns, pure JVM HOF codegen --
    shared by the batch operator and the embedding index verify."""
    dot = F.aggregate(F.zip_with(va, vb,
                                 lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)

    def nrm(c):
        return F.sqrt(F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x))

    return dot / (nrm(va) * nrm(vb))


def embedding_bucket_audit(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int = 16,
    max_bucket_size: int = EMB_MAX_BUCKET_SIZE,
) -> dict:
    """:func:`minhash_bucket_audit` for :func:`embedding_near_duplicates`:
    the exact capping report for the SAME hyperplane bucketing, for when
    the observe-based counter was pruned by a zero-pair run.  ``df``
    holds non-NULL vectors only (at least one: the first pins the dim);
    ``id_col`` is unused (bucket sizes need no key) and keeps the audit
    signature of the MinHash family."""
    dim = df.select(F.size(vec_col).alias("d")).first()["d"]
    bucket = make_hyperplane_bucket_udf(n_planes, dim)
    sizes = (df.select(bucket(F.col(vec_col)).alias("bkt"))
             .groupBy("bkt").agg(F.count("*").alias("n")))
    return bucket_cap_stats(sizes, max_bucket_size)


def embedding_near_duplicates(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, n_planes: int = 16,
    max_bucket_size: int = EMB_MAX_BUCKET_SIZE,
    observation=None,
) -> DataFrame:
    """Near-identical embeddings via random-hyperplane LSH + exact cosine.

    Sign-bucket on ``n_planes`` fixed random hyperplanes (cos >= 0.95 pairs
    collide with high probability), then exact-verify cosine JVM-side."""
    from ..parallel import fan_out

    dim_row = df.select(F.size(vec_col).alias("d")).first()
    dim = dim_row["d"]
    bucket = make_hyperplane_bucket_udf(n_planes, dim)
    base = fan_out(df).select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v"),
        bucket(F.col(vec_col)).alias("bkt"))
    capped = _capped(base, "bkt", max_bucket_size, observation)
    a, b = capped.alias("a"), capped.alias("b")
    return (a.join(b, "bkt")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"),
                    cosine_cols(F.col("a.v"), F.col("b.v")).alias("cos"))
            .filter(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
            .distinct())
