"""Commit protocol of every persisted index and model.

The MinHash doc and group indexes (``minhash_index.py``), the embedding
index (``embedding_index.py``), the line-key index (``line_index.py``)
and the two persisted models (``quality_classifier`` / ``lm_perplexity``)
share one on-disk protocol, implemented once here.  The index modules
keep only their geometry and meta pins, their store frames and their
candidate generation.

Layout.  An artifact at ``index_path`` is a list of parquet STORES in a
declared order (MinHash: ``shingles/`` then ``bands/``; embedding:
``vectors/`` then ``buckets/``; line: ``keys/``; model: ``weights/``)
plus a one-row ``meta/`` that pins the geometry.  Every store is keyed
by ``doc_id`` (``h`` for line keys).  Writes go store by store in the
declared order and commit ``meta`` LAST, so:

* ``meta/_SUCCESS`` is the create-commit marker: an index or model
  exists iff that marker does (:func:`committed`; :func:`read_meta`
  returns ``None`` otherwise).  Existence is never judged by a parquet
  read: a half-written directory would read as committed, and a
  transient read error must not look like "absent" to a caller about to
  overwrite;
* the store written LAST certifies a key: a key is committed iff it is
  in that store (:func:`committed_keys`), so a crash between two store
  writes leaves phantom rows in the earlier store that readers never
  see, and a re-run completes them.

Epochs.  Append-only stores cannot change a committed key's rows in
place, so a changed key (a re-crawled page, a conversation that grew, a
re-embedded vector) is rebuilt into a fresh EPOCH: epoch N >= 1 writes
``<store>_eN/`` directories, then commits the APPEND-ONLY marker
directory ``meta_eN``.  The base ``meta/`` is written once at create and
never rewritten -- a parquet overwrite is delete-then-write, and a crash
mid-rewrite would leave the index unreadable.  Readers resolve the live
epoch to the highest CONTIGUOUS committed marker (:func:`live_epoch`;
epoch N+1 is only written by a reindex that read live epoch N, so the
probe stops at the first gap), union epochs ``0..live``
(:func:`read_epoched`) and keep each key's rows from the highest epoch
that holds it (:func:`resolve_latest`), so a rebuilt key's stale epoch-0
rows never generate candidates.  A crash between the epoch's store
writes and its marker leaves the old epoch live; the re-run overwrites
the orphaned directories.  Cost: an index that was never reindexed
(live epoch 0) reads with zero extra shuffles; once epochs exist,
readers pay one narrow-row shuffle per key-resolution (a per-key
max-epoch window over the certifying store, and over the
candidate-restricted rows of the others), and stale epochs accrete until
a compaction (:func:`compact`) rewrites the resolved state as a fresh
epoch-0 index at a new path.  Pre-marker indexes that flipped an
``epoch`` field in base meta still resolve: probing starts there.

Create over an old index.  Epoch markers are append-only, so a create
first removes the previous index's commit state (:func:`clear`): base
``meta/`` FIRST, then the ``meta_e*`` markers.  Otherwise a fresh index
would inherit the dead index's markers and resolve a live epoch whose
``<store>_eN`` directories belong to it.  The order matters: a crash
anywhere inside the create leaves the old index either intact (before
the first delete) or loudly unreadable (meta gone) -- never readable
but silently reverted to its stale epoch-0 rows.

Success markers.  Commits are defined by ``_SUCCESS``, so artifact paths
must keep ``mapreduce.fileoutputcommitter.marksuccessfuljobs=true`` (the
default).  With markers disabled, every committed epoch would resolve as
absent and readers would serve stale rows forever; every meta commit
therefore checks that its marker is visible and raises ``RuntimeError``
otherwise.  Falling back to directory existence is not an option: a
half-written marker directory would then count as committed.

Appends.  :func:`append` is idempotent: it keeps the slice keys that are
not committed, then anti-joins each earlier store against the keys it
already holds, so re-running a completed append adds nothing and
re-running one that crashed between two stores completes it exactly
once.  New keys always go to the BASE (epoch-0) stores; per-key
max-epoch resolution makes that correct whatever the live epoch.  An
append is a lazy plan, never materialized before its writes: Spark
lists a parquet directory's files when the read is planned, and the
output committer publishes appended files only when the write job
commits, so an append that anti-joins against the directory it appends
to can never read its own output.  Call it only after the slice's
results against the pre-append index are consumed -- a plan built
before the append but run after it would read the appended rows.

Models.  :func:`commit_model` is the same create protocol for a
``weights/`` store, except that a committed model refuses to be
overwritten (write to a fresh path instead); a torn ``meta/`` left by a
crash during the meta write has no marker, so it is cleared and the
commit re-runs.
"""

from __future__ import annotations

from typing import Callable, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.checkpoint import write_rows


class Store(NamedTuple):
    """One parquet store of an artifact: its directory name, the frame
    written to it (a function of the frame handed to :func:`write` /
    :func:`append`) and its partition column."""
    name: str
    build: Callable[[DataFrame], DataFrame] = lambda df: df
    partition_by: Optional[str] = None


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` on whatever store it is."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def committed(spark: SparkSession, path: str) -> bool:
    """True iff the parquet directory at ``path`` was fully committed
    (its ``_SUCCESS`` marker exists)."""
    fs, p = _fs(spark, f"{path}/_SUCCESS")
    return bool(fs.exists(p))


def clear(spark: SparkSession, index_path: str) -> None:
    """Remove a previous artifact's commit state at ``index_path``: base
    ``meta/`` first, then every ``meta_e*`` epoch marker."""
    fs, p = _fs(spark, f"{index_path}/meta")
    fs.delete(p, True)
    for status in fs.globStatus(_fs(spark, f"{index_path}/meta_e*")[1]) or []:
        fs.delete(status.getPath(), True)


def live_epoch(spark: SparkSession, index_path: str, start: int = 0) -> int:
    """Highest contiguous committed ``meta_eN`` marker at or above
    ``start``."""
    live = start
    while committed(spark, f"{index_path}/meta_e{live + 1}"):
        live += 1
    return live


def read_meta(spark: SparkSession, index_path: str) -> Optional[dict]:
    """The base meta row with ``epoch`` set to the live epoch, or ``None``
    when no index is committed at ``index_path``."""
    if not committed(spark, f"{index_path}/meta"):
        return None
    meta = spark.read.parquet(f"{index_path}/meta").first().asDict()
    meta["epoch"] = live_epoch(spark, index_path, int(meta.get("epoch") or 0))
    return meta


def epoch_path(index_path: str, store: str, epoch: int) -> str:
    """Directory of one epoch of a store: the base ``<store>/`` at epoch
    0, ``<store>_eN/`` above it."""
    return (f"{index_path}/{store}" if epoch == 0
            else f"{index_path}/{store}_e{epoch}")


def read_epoched(spark: SparkSession, index_path: str, store: str,
                 live: int, cols: Optional[list[str]] = None) -> DataFrame:
    """Union of a store's epochs ``0..live`` (``cols`` of it, or every
    column) with an ``_epoch`` column.  Directories beyond ``live`` (a
    crashed reindex that never committed its marker) are never read."""
    out = None
    for e in range(live + 1):
        part = spark.read.parquet(epoch_path(index_path, store, e))
        part = part.select(*(cols or part.columns)).withColumn(
            "_epoch", F.lit(e))
        out = part if out is None else out.unionByName(part)
    return out


def resolve_latest(rows: DataFrame, key_col: str, live: int) -> DataFrame:
    """Keep each key's rows from the highest epoch that contains it; a
    never-reindexed index (live == 0) short-circuits to a free column
    drop.  One narrow-row shuffle on the key when epochs exist."""
    if live == 0:
        return rows.drop("_epoch")
    from pyspark.sql.window import Window
    w = Window.partitionBy(key_col)
    return (rows.withColumn("_emax", F.max("_epoch").over(w))
            .filter(F.col("_epoch") == F.col("_emax"))
            .drop("_emax", "_epoch"))


def read_latest(spark: SparkSession, index_path: str, store: str,
                live: int, cols: Optional[list[str]] = None,
                keys: Optional[DataFrame] = None) -> DataFrame:
    """A store's resolved rows (each key's rows from its highest live
    epoch).  ``keys`` (one ``doc_id`` column) restricts the rows BEFORE
    resolution, so the per-key window runs over the restricted rows,
    never the O(corpus) store."""
    rows = read_epoched(spark, index_path, store, live, cols)
    if keys is not None:
        rows = rows.join(keys, "doc_id", "left_semi")
    return resolve_latest(rows, "doc_id", live)


def resolve_latest_bucket_restricted(
    rows: DataFrame, key_col: str, live: int,
    bucket_probe: DataFrame, bucket_cols: list[str],
) -> DataFrame:
    """Epoch resolution for probe-sized bucket lookups without an
    O(store) shuffle.

    A bucket restriction is NOT sound before :func:`resolve_latest`
    (a key's latest-epoch row may live in a different bucket, and
    dropping it would resurrect an older epoch's row), but windowing
    the whole store to serve a handful of probe buckets is an
    O(corpus) shuffle per probe.  Two phases keep both properties:
    restrict to keys with ANY row in a probe-touched bucket (broadcast
    map-side semi-join, no shuffle), resolve only those keys' rows,
    then re-apply the bucket restriction to the resolved rows.  At
    ``live == 0`` this reduces to the single broadcast semi-join.

    The key semi-join carries NO broadcast hint on purpose: the key set
    is normally probe-sized (AQE broadcasts it at runtime), but one
    degenerate hot bucket -- the boilerplate-collision shape the
    callers' ``max_bucket_size`` capping exists to discard downstream
    -- can make it corpus-scale, and a FORCED broadcast would then run
    out of memory.  Without the hint AQE degrades exactly that case to a
    scalable shuffled semi-join, while the downstream capping window
    still discards the hot bucket with its true membership intact.
    (Pre-capping the bucket membership here instead would count
    UNRESOLVED multi-epoch rows and could drop buckets the resolved
    view keeps -- not pair-exact.)"""
    restricted = rows.join(F.broadcast(bucket_probe), bucket_cols,
                           "left_semi")
    if live == 0:
        return restricted.drop("_epoch")
    keys = restricted.select(key_col).distinct()
    return (resolve_latest(rows.join(keys, key_col, "left_semi"),
                           key_col, live)
            .join(F.broadcast(bucket_probe), bucket_cols, "left_semi"))


def committed_keys(spark: SparkSession, index_path: str, store: str,
                   live: int, key: str = "doc_id") -> DataFrame:
    """One-column set of keys committed at any live epoch, read from
    ``store`` -- the one each write fills last."""
    return (read_epoched(spark, index_path, store, live, [key])
            .select(key).distinct())


def _write_store(df: DataFrame, path: str, mode: str,
                 partition_by: Optional[str]) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def write(spark: SparkSession, index_path: str, base: DataFrame,
          stores: list[Store], meta: dict, epoch: int = 0,
          schema: Optional[str] = None,
          meta_mode: str = "overwrite") -> dict:
    """Write every store from ``base`` in declared order, then commit
    the meta row.  Epoch 0 is a create: it first clears the path's old
    commit state and commits ``meta/``.  Epoch N >= 1 is a reindex: it
    writes ``<store>_eN/`` and commits ``meta_eN`` with ``epoch: N``
    added to the row (and to ``schema``).  Store directories are
    overwritten, so a crashed attempt's orphans are replaced.  Returns
    the committed meta row."""
    if epoch == 0:
        clear(spark, index_path)
    else:
        meta = {**meta, "epoch": epoch}
        schema = schema and f"{schema}, epoch long"
    for st in stores:
        _write_store(st.build(base), epoch_path(index_path, st.name, epoch),
                     "overwrite", st.partition_by)
    marker = epoch_path(index_path, "meta", epoch)
    write_rows(spark, [meta], marker, meta_mode, schema=schema)
    if not committed(spark, marker):
        raise RuntimeError(
            f"commit marker {marker} was written but its _SUCCESS file is "
            f"not visible -- this store/committer has success markers "
            f"disabled (mapreduce.fileoutputcommitter.marksuccessfuljobs="
            f"false?), which would make every commit invisible to "
            f"readers; re-enable success markers for index and model paths")
    return meta


def append(spark: SparkSession, index_path: str, base: DataFrame,
           stores: list[Store], live: int, key: str = "doc_id",
           prepare: Optional[Callable[[DataFrame], DataFrame]] = None
           ) -> None:
    """Append the uncommitted keys of ``base`` to the base stores,
    idempotently (module docstring).  ``prepare`` maps the uncommitted
    rows to the frame the stores' ``build`` functions read."""
    rows = base.join(committed_keys(spark, index_path, stores[-1].name,
                                    live, key), key, "left_anti")
    if prepare is not None:
        rows = prepare(rows)
    for st in stores:
        part = rows
        if st is not stores[-1]:
            part = rows.join(committed_keys(spark, index_path, st.name,
                                            live, key), key, "left_anti")
        _write_store(st.build(part), f"{index_path}/{st.name}", "append",
                     st.partition_by)


def compact(spark: SparkSession, src_path: str, dst_path: str,
            stores: list[Store], live: int, meta: dict,
            schema: Optional[str] = None) -> dict:
    """Rewrite an index's RESOLVED state (per-key latest epoch) as a
    fresh epoch-0 index at ``dst_path``.  No row is recomputed -- the
    resolved store rows ARE the index state -- so this is a copy-shaped
    create.  ``dst_path`` must differ from ``src_path``: parquet
    directories cannot be swapped in place atomically, so the caller
    flips whatever names the live index once this returns."""
    if dst_path.rstrip("/") == src_path.rstrip("/"):
        raise ValueError(
            "compaction writes a NEW index; dst_path must differ from "
            "src_path (in-place parquet swap is not atomic)")
    def resolved(st: Store) -> Store:
        return Store(st.name, lambda _: read_latest(spark, src_path, st.name,
                                                    live), st.partition_by)

    return write(spark, dst_path, None, [resolved(st) for st in stores],
                 meta, schema=schema)


def commit_model(spark: SparkSession, path: str, weights: DataFrame,
                 meta: dict, schema: str, kind: str) -> None:
    """Weights-first, meta-last model commit (module docstring)."""
    if committed(spark, f"{path}/meta"):
        raise ValueError(
            f"{kind} already committed at {path}; "
            f"write to a fresh path or delete it first")
    write(spark, path, weights, [Store("weights")], meta, schema=schema,
          meta_mode="errorifexists")
