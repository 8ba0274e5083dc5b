"""Incremental corpus-level line dedup against a persisted key index.

:func:`doc_quality.corpus_line_dedup` is the batch form of CCNet's
cross-document dedup; at the 10^12-turn target you cannot re-run it
over the whole corpus for every daily slice.  This module is the
incremental form, following the repo's index family
(``minhash_index.py`` / ``embedding_index.py``): a persisted store of
already-emitted unit-key hashes, a slice operator that drops units the
corpus already emitted (committed wins -- they ARE the earlier
occurrences) plus within-slice keep-first, and an append step that
commits the slice's surviving keys.

Store layout::

    {index_path}/keys/   (h: string)  -- md5 hex of each emitted key
    {index_path}/meta/   geometry: unit, normalize, min_chars
                         (written LAST -- meta is the commit marker,
                          same discipline as the other indexes)

Keys are stored as md5 hashes, not raw text: the store is the
long-lived O(corpus-distinct-lines) artifact and raw lines would
multiply its size ~10x.  A collision would wrongly drop one unique
line; at 10^12 distinct lines the birthday bound is ~4e-15 -- the same
trade CCNet ships (it dedups on the first 8 BYTES of SHA-1; md5's 128
bits are 8 orders safer).  The dedup decision therefore matches the
batch operator except with probability <1e-14.

Protocol (``index_store.py``): ``write_line_index`` bootstraps
from the initial corpus; per slice, run :func:`line_dedup_incremental`,
PERSIST ITS OUTPUT, then :func:`append_line_index` with the same slice
-- appending first would make the slice's own units look committed and
drop them all.  Appends are idempotent (new keys are anti-joined
against the store), so a crash between output write and append is
repaired by re-running the append.

Scale shape: the slice-vs-store membership anti-join shuffles both
sides by hash -- the store side is O(corpus distinct units), the same
accepted pattern as the committed-key checks in the other indexes (a
16-byte hash row, not the text).  Deployments where that matters
should persist ``keys/`` as a bucketed table (CLUSTERED BY h) so only
the slice side shuffles; the operator's join is key-equi and picks the
bucketed plan up for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import index_store
from .doc_quality import dup_unit_winners, rebuild_units, unit_frame
from .index_store import Store

_META_DDL = "unit string, normalize boolean, min_chars int"


def _meta_row(spark: SparkSession, index_path: str) -> dict:
    meta = index_store.read_meta(spark, index_path)
    if meta is None:
        raise ValueError(
            f"no committed line index at {index_path} (meta marker "
            "missing) -- bootstrap with write_line_index first")
    return meta


def _slice_keys(lines: DataFrame) -> DataFrame:
    """Distinct participating key hashes of a unit frame."""
    return (lines.filter("_p")
            .select(F.md5(F.col("_key")).alias("h"))
            .distinct())


def write_line_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_cols: list | None = None,
    unit: str = "line",
    normalize: bool = False,
    min_chars: int = 1,
    overwrite: bool = False,
) -> dict:
    """Bootstrap the index from the initial corpus ``df``: every
    participating unit key the corpus emits (one per distinct key --
    the batch keep-first emits exactly one occurrence).  Geometry is
    pinned in meta; re-bootstrap over a committed index requires
    ``overwrite=True``.  Returns ``{"n_keys": ...}``."""
    spark = df.sparkSession
    if index_store.committed(spark, f"{index_path}/meta") and not overwrite:
        raise ValueError(
            f"line index already committed at {index_path}; pass "
            "overwrite=True to rebuild (appends use append_line_index)")
    # the store's create clears the OLD meta before _slice_keys runs: a
    # crash anywhere inside this rebuild then leaves the index LOUDLY
    # unreadable (_meta_row raises, the rebuild re-runs) -- never
    # old-geometry meta over new/partial keys, which would hash slice
    # keys under the wrong geometry and silently re-emit committed
    # duplicates
    lines, _ = unit_frame(df, text_col, id_cols, min_chars, unit,
                          normalize)
    index_store.write(spark, index_path, lines, [Store("keys", _slice_keys)],
                      {"unit": unit, "normalize": bool(normalize),
                       "min_chars": int(min_chars)}, schema=_META_DDL)
    return {"n_keys": int(spark.read.parquet(f"{index_path}/keys").count())}


def line_dedup_incremental(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_cols: list | None = None,
) -> DataFrame:
    """Dedup slice ``df`` against the committed corpus AND within
    itself (keep-first), under the index's pinned geometry.  Returns
    ``id_cols`` + rebuilt ``text_col`` + ``n_units`` +
    ``n_dropped_units`` (total) + ``n_dropped_committed`` +
    ``n_dropped_in_slice``.  Sequentially applying this + append over
    slices equals the batch operator over the concatenated corpus
    whenever slice order matches the ids' keep-first order (parity
    test in tests/test_line_index.py)."""
    spark = df.sparkSession
    meta = _meta_row(spark, index_path)
    ids = list(id_cols) if id_cols is not None else ["doc_id"]
    lines, sep = unit_frame(df, text_col, ids, meta["min_chars"],
                            meta["unit"], meta["normalize"])
    lines = lines.withColumn("_h", F.md5(F.col("_key")))
    store = spark.read.parquet(f"{index_path}/keys") \
        .withColumnRenamed("h", "_h").withColumn("_committed", F.lit(True))
    joined = lines.join(store, "_h", "left")
    committed = F.col("_p") & F.col("_committed").isNotNull()
    # within-slice keep-first among the units the corpus has NOT seen
    # (shared winner logic -- doc_quality.dup_unit_winners)
    fresh = joined.filter(F.col("_p") & F.col("_committed").isNull())
    flagged = joined.join(dup_unit_winners(fresh), "_key", "left")
    slice_dup = (F.col("_p") & F.col("_committed").isNull()
                 & F.col("_win").isNotNull()
                 & (F.col("_ok") != F.col("_win")))
    keep = ~committed & ~slice_dup
    flagged = flagged.withColumn("_keep", keep)
    return rebuild_units(
        flagged, ids, text_col, sep,
        drop_counts={"n_dropped_committed": committed,
                     "n_dropped_in_slice": slice_dup})


def append_line_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_cols: list | None = None,
) -> dict:
    """Commit slice ``df``'s surviving keys: its distinct participating
    key hashes not already in the store.  Idempotent -- re-running the
    same slice appends nothing.  Call AFTER the slice's deduped output
    is persisted (module docstring's protocol).  Returns
    ``{"n_new_keys": ...}``."""
    spark = df.sparkSession
    meta = _meta_row(spark, index_path)
    lines, _ = unit_frame(df, text_col, id_cols, meta["min_chars"],
                          meta["unit"], meta["normalize"])
    # lazy localCheckpoint: the count and the append share one pass over
    # the slice (appends never materialize the store side -- see
    # index_store)
    keys = _slice_keys(lines).localCheckpoint(eager=False)
    n = keys.join(index_store.committed_keys(spark, index_path, "keys", 0,
                                             "h"), "h", "left_anti").count()
    if n:
        index_store.append(spark, index_path, keys, [Store("keys")], 0, "h")
    return {"n_new_keys": int(n)}
