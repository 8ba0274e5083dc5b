"""End-to-end scrub pipeline: read -> dedup/sample gates -> order -> row
gates (decontamination first) -> quality + scrub -> write.

Spark-first shape (SURVEY.md §3.1 translation):

* All heavy work is per-turn and embarrassingly parallel.  The hot path is
  scan -> range exchange -> sort -> project(quality_udf, scrub_udf) -> write:
  both UDFs sit in one ``ArrowEvalPython`` stage ABOVE the exchange, so they
  run once per row and the exchange (and its boundary-sampling job) moves
  only the raw input columns.  Arrow UDF evaluation keeps row order, so the
  sorted sequence reaches the writer unchanged.  The row-local quality
  gates (:class:`RowGate`) sit in the same stage, between the sort and
  the scrub, and are counted on the write pass.
* Ordering (north rule: stable (conv_id, turn_idx) order) uses
  ``repartitionByRange + sortWithinPartitions``: a sampled range exchange,
  not a single-reducer global sort, so hot conversations split across
  partitions while the output file sequence stays totally ordered.
* Conversation-level rollups use two-phase salted aggregation
  (``conversation_stats``): partial agg on (conv_id, salt) first, so a
  10^7-turn hot conversation never lands on one reducer.  AQE's skew
  handling covers joins; salting aggregations is ours to do.
"""

from __future__ import annotations

import json
import time
from typing import Callable, NamedTuple, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.quality import DEFAULT_QUALITY_CONFIG, QualityConfig
from ..functions.udfs import LANG_CODES, REASON_CODES, make_quality_udf, make_scrub_udf
from ..operators import index_store
from .checkpoint import resume_filter, write_rows, write_with_lineage

OUTPUT_COLUMNS = [
    "conv_id", "turn_idx", "role", "tool", "ts", "text", "masked_text",
    "n_detections", "n_regex", "n_dict", "n_heuristic", "n_ai",
    "lang", "nll", "n_chars", "symbol_ratio", "distinct_trigram_ratio",
    "mojibake", "keep", "drop_reason",
]


def scrub_transcripts(
    df: DataFrame,
    custom_keywords: Optional[list[str]] = None,
    mask_config: Optional[dict[str, bool]] = None,
    keep_prefecture: bool = True,
    name_initial: bool = False,
    current_year: int = 2026,
    quality_cfg: QualityConfig = DEFAULT_QUALITY_CONFIG,
    ai_caller=None,
    ai_fallback_caller=None,
) -> DataFrame:
    """The flagship transform.  One narrow stage: no shuffle, no collect.

    ``ai_caller`` (default None = off) switches on the optional
    AI-enrichment detection stage inside the scrub UDF -- see
    ``functions.udfs.make_scrub_udf``; the plan shape is unchanged."""
    scrub = make_scrub_udf(custom_keywords, mask_config, keep_prefecture,
                           name_initial, current_year,
                           ai_caller, ai_fallback_caller)
    quality = make_quality_udf(quality_cfg)
    lang_array = F.array(*[F.lit(x) for x in LANG_CODES])
    reason_array = F.array(*[F.lit(x) for x in REASON_CODES])
    out = (
        df
        .withColumn("_q", quality(F.col("text"), F.col("role")))
        .withColumn("_s", scrub(F.col("text")))
        .select(
            "conv_id", "turn_idx", "role", "tool", "ts", "text",
            F.col("_s.masked_text").alias("masked_text"),
            F.col("_s.n_detections").alias("n_detections"),
            F.col("_s.n_regex").alias("n_regex"),
            F.col("_s.n_dict").alias("n_dict"),
            F.col("_s.n_heuristic").alias("n_heuristic"),
            F.col("_s.n_ai").alias("n_ai"),
            # decode the UDF's tiny-int codes to strings JVM-side (codegen)
            F.element_at(lang_array, F.col("_q.lang_id") + 1).alias("lang"),
            F.col("_q.nll").alias("nll"),
            F.col("_q.n_chars").alias("n_chars"),
            F.col("_q.symbol_ratio").alias("symbol_ratio"),
            F.col("_q.distinct_trigram_ratio").alias("distinct_trigram_ratio"),
            F.col("_q.mojibake").alias("mojibake"),
            F.col("_q.keep").alias("keep"),
            F.element_at(reason_array, F.col("_q.reason_id") + 1)
             .alias("drop_reason"),
        )
    )
    return out


def scrub_conversations_grouped(
    df: DataFrame,
    keep_prefecture: bool = True,
    current_year: int = 2026,
) -> DataFrame:
    """Conversation-scoped scrub via ``applyInPandas`` (SURVEY.md §2.9).

    NON-DEFAULT variant: the furigana reading map is built over the WHOLE
    conversation (turns in turn_idx order), so a name labeled with furigana
    in one turn is initialed (``T.T.``) in every other turn.  This changes
    masked bytes relative to the reference's per-document scope -- the
    default ``scrub_transcripts`` remains the faithful path (SURVEY §7.3).

    Grouping shuffles on conv_id; hot conversations land on one task here,
    so this variant is for conversation-semantic use cases, not the bulk
    hot path."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("masked_text", StringType()),
        StructField("n_detections", IntegerType()),
    ])

    def scrub_conv(pdf):
        import pandas as pd

        from ..functions.batch_detect import detect_all_batch
        from ..functions.oracle import (
            apply_mask_config, apply_redaction, build_reading_map,
        )

        pdf = pdf.sort_values("turn_idx")
        texts = pdf["text"].fillna("").tolist()
        conv_reading = build_reading_map("\n".join(texts))
        dets_all = detect_all_batch(texts, current_year=current_year)
        masked, counts = [], []
        for text, dets in zip(texts, dets_all):
            dets = apply_mask_config(dets)
            masked.append(apply_redaction(
                text, dets, keep_prefecture, name_initial=True,
                reading_map=conv_reading))
            counts.append(len(dets))
        return pd.DataFrame({
            "conv_id": pdf["conv_id"].values,
            "turn_idx": pdf["turn_idx"].values,
            "masked_text": masked,
            "n_detections": pd.array(counts, dtype="int32"),
        })

    return df.groupBy("conv_id").applyInPandas(scrub_conv, schema)


def ordered(df: DataFrame, num_partitions: Optional[int] = None) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering via range exchange.

    ``repartitionByRange`` samples key boundaries, so a hot conv_id is split
    across consecutive partitions instead of hammering one reducer the way
    ``Window.partitionBy('conv_id')`` would; ``sortWithinPartitions`` then
    yields a totally ordered file sequence."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (df.repartitionByRange(n, "conv_id", "turn_idx")
              .sortWithinPartitions("conv_id", "turn_idx"))


def with_turn_rank(df: DataFrame) -> DataFrame:
    """Per-conversation dense rank over turn_idx (Window form of the north
    rule's ordering).  For genuinely skewed conversations prefer
    ``ordered()``; this exists for consumers that need the rank column."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_rank", F.row_number().over(w))


def deduplicate_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic exact dedup: among turns sharing the same
    whitespace-normalized text, keep the first by (conv_id, turn_idx).

    Built as groupBy(fingerprint).min(key) + semi-join rather than
    ``dropDuplicates`` (which keeps an arbitrary row and is therefore
    nondeterministic under retries/speculation).  Two shuffles on the
    fingerprint/key -- run BEFORE the scrub stage so duplicate turns never
    pay detection cost.

    NULL text coalesces to a sentinel before fingerprinting: md5(NULL) is
    NULL and a plain equi-join never matches NULL keys, so without the
    coalesce every NULL-text turn would silently vanish (they now dedup
    against each other like any other group)."""
    norm = F.md5(F.coalesce(
        F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "),
        F.lit("\x00<null-text>")))
    keyed = df.withColumn("_fp", norm)
    winners = (keyed
               .groupBy("_fp")
               .agg(F.min(F.struct("conv_id", "turn_idx")).alias("_w"))
               .select("_fp", F.col("_w.conv_id").alias("conv_id"),
                       F.col("_w.turn_idx").alias("turn_idx")))
    return (keyed.join(winners, ["_fp", "conv_id", "turn_idx"], "left_semi")
            .drop("_fp"))


def near_deduplicate_turns(
    df: DataFrame, threshold: float = 0.8, text_col: str = "text",
    observation=None, max_bucket_size: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """MinHash near-dedup for turns: drop every turn that has ANY
    near-duplicate earlier in ``(conv_id, turn_idx)`` order.

    The turn key is the ``(conv_id, turn_idx)`` struct itself -- structs
    compare lexicographically in Spark, so the LSH pair orientation
    ``id_a < id_b`` IS first-occurrence order and no surrogate id (with
    its retry-nondeterminism or collision risk) is needed.  Keep-first via
    pair-drop is the standard cheap policy: within a chained cluster
    a~b~c (a !~ c) it drops both b and c (b has the earlier near-dup a,
    c has b), i.e. it can over-drop relative to connected components but
    never keeps two near-duplicates where one pair was detected.  Like
    ``deduplicate_turns``, NULL/empty texts form one group (their padded
    shingle sets are identical), so only the first survives.

    Returns ``(deduped, drops)``.  ``drops`` is the small distinct set of
    dropped keys: the caller should ``persist()`` it and run one action
    (e.g. ``count()``) BEFORE consuming ``deduped`` -- that both fires
    ``observation`` (the capped-bucket recall metrics; an anti-join whose
    right side turns out empty would otherwise prune the observed subtree,
    see ``operators.dedup._observe_capping``) and pins the drop set so
    the expensive LSH subtree is not recomputed by the write pass."""
    from ..operators.dedup import minhash_near_duplicates

    keyed = df.withColumn("_nk", F.struct("conv_id", "turn_idx"))
    pairs = minhash_near_duplicates(
        keyed, "_nk", text_col, threshold=threshold,
        observation=observation, max_bucket_size=max_bucket_size)
    drops = pairs.select(F.col("id_b").alias("_nk")).distinct()
    deduped = keyed.join(drops, "_nk", "left_anti").drop("_nk")
    return deduped, drops


def near_deduplicate_conversations(
    df: DataFrame, threshold: float = 0.8, text_col: str = "text",
    observation=None, max_bucket_size: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """MinHash near-dedup at CONVERSATION granularity: drop every
    conversation whose union-of-turn-shingles Jaccard-matches an earlier
    conversation (keep-first by ``conv_id``).

    LLM training pipelines dedup *documents* (whole conversations), not
    just turns -- two scrapes of the same dialog differ per-turn only by
    timestamps/typos but are near-identical as documents.  Built on
    :func:`operators.dedup.minhash_near_duplicates_grouped`: the
    conversation signature is a ``groupBy(conv_id).min()`` over per-turn
    signatures (MinHash is distributive over set union), so no
    conversation's text is ever assembled in one place and giant
    conversations cannot skew a task.  Same keep-first-by-pair-drop policy
    as :func:`near_deduplicate_turns` (canonical ``id_a < id_b`` means the
    dropped ``id_b`` always has an earlier near-duplicate).

    Returns ``(deduped, drops)`` where ``drops`` is the distinct dropped
    ``conv_id`` set; persist + count it before consuming ``deduped``
    (fires ``observation``, pins the drop set)."""
    from ..operators.dedup import minhash_near_duplicates_grouped

    pairs = minhash_near_duplicates_grouped(
        df, "conv_id", text_col, threshold=threshold,
        observation=observation, max_bucket_size=max_bucket_size)
    drops = pairs.select(F.col("id_b").alias("conv_id")).distinct()
    deduped = df.join(drops, "conv_id", "left_anti")
    return deduped, drops


def near_deduplicate_embeddings(
    df: DataFrame, threshold: float = 0.95, vec_col: str = "embedding",
    observation=None, n_planes: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Embedding near-dedup for turns: drop every turn whose ``vec_col``
    cosine >= ``threshold`` matches an earlier turn in ``(conv_id,
    turn_idx)`` order (:func:`operators.dedup.embedding_near_duplicates`,
    same ``(conv_id, turn_idx)`` struct key and keep-first pair-drop
    policy as :func:`near_deduplicate_turns`).  Rows with a NULL
    embedding have nothing to compare: they are never flagged and pass
    through.  Returns ``(deduped, drops)``; persist + count ``drops``
    before consuming ``deduped``, as there."""
    from ..operators.dedup import embedding_near_duplicates

    keyed = df.withColumn("_ek", F.struct("conv_id", "turn_idx"))
    pairs = embedding_near_duplicates(
        keyed.filter(F.col(vec_col).isNotNull()), "_ek", vec_col,
        threshold=threshold, n_planes=n_planes, observation=observation)
    drops = pairs.select(F.col("id_b").alias("_ek")).distinct()
    return keyed.join(drops, "_ek", "left_anti").drop("_ek"), drops


def conversation_stats(df: DataFrame, salt: int = 16) -> DataFrame:
    """Per-conversation keep/drop/mask counters with two-phase salted agg."""
    partial = (
        df.groupBy("conv_id", (F.pmod(F.hash("turn_idx"), F.lit(salt))).alias("_salt"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum((~F.col("keep")).cast("long")).alias("n_drop"),
            F.sum((F.col("n_detections") > 0).cast("long")).alias("n_masked"),
            F.sum("n_detections").alias("n_detections"),
        )
    )
    return (
        partial.groupBy("conv_id")
        .agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("n_keep").alias("n_keep"),
            F.sum("n_drop").alias("n_drop"),
            F.sum("n_masked").alias("n_masked"),
            F.sum("n_detections").alias("n_detections"),
        )
    )


def pipeline_metrics(df: DataFrame) -> DataFrame:
    """Job-level metrics rollup: counts by (lang, keep, drop_reason)."""
    return (
        df.rollup("lang", "keep", "drop_reason")
        .agg(F.count("*").alias("n_turns"),
             F.sum("n_detections").alias("n_detections"))
        .orderBy("lang", "keep", "drop_reason")
    )


class RetentionError(RuntimeError):
    """A pipeline stage lost rows or destroyed content beyond tolerance."""


def _nd_input_fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive row checksum) over
    (conv_id, turn_idx, text).

    One column-pruned scan.  ``text`` is part of the hash because the
    near-dup winner set depends on CONTENT, not just keys: an upstream
    re-generation that edits texts under unchanged keys must invalidate
    the persisted drop set, or a resumed run would replay drops computed
    for different text.  ``bit_xor`` of the per-row hashes never overflows
    (unlike a sum under ANSI arithmetic) and is order-insensitive.  An
    even number of fully identical rows xor-cancels (keys are NOT
    guaranteed unique when ``dedup=False``), which is why the row COUNT is
    checked alongside the checksum -- dropping or adding such rows changes
    ``n``; a same-count same-xor collision requires an adversarial edit,
    not an operational accident."""
    row = (df.select(F.xxhash64("conv_id", "turn_idx", "text").alias("h"))
           .agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("hx"))
           .first())
    return int(row["n"]), int(row["hx"]) if row["hx"] is not None else 0


def _try_read_first(spark: SparkSession, path: str):
    """First row of a parquet path, or None if it was never (fully) written.

    Unlike ``resume_filter`` this also treats an empty/schema-less dir as
    absent: sidecars are written last, so a half-written one from a killed
    run must read as "not there" and trigger recompute, never an error."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path).first()
    except AnalysisException as e:
        msg = str(e)
        if ("PATH_NOT_FOUND" in msg or "Path does not exist" in msg
                or "UNABLE_TO_INFER_SCHEMA" in msg):
            return None
        raise


_ND_CAP_KEYS = ("n_capped_rows", "n_capped_buckets", "max_bucket_n")


class IndexFamily(NamedTuple):
    """One near-dedup family of :func:`run_pipeline` and its persisted
    index: turn MinHash, conversation MinHash or turn embedding.

    ``key`` is the column the operators key on: the ``(conv_id,
    turn_idx)`` struct :meth:`keyed` attaches, or ``conv_id`` itself for
    a conversation (group) index.  ``value`` is the column they read.
    The operators share the call shape ``(df, key, value, ...)`` of
    ``operators/minhash_index.py`` and ``operators/embedding_index.py``,
    index operators taking the index path next: ``near(df, threshold=,
    observation=)`` is the in-slice dedup returning ``(deduped, drops)``
    and ``slice_audit`` its zero-pair bucket recount; ``committed``,
    ``changed``, ``pairs``, ``audit``, ``create``, ``append``,
    ``reindex`` and ``probe`` run against the index.  What differs by
    family beyond the operators is data:

    * ``nullable``: NULL values pass through, a slice without any value
      writes a zero in-slice row without running dedup, and a create
      needs at least one non-NULL value (embeddings);
    * ``resumable``: an index-less run goes through
      :func:`_near_dedup_full_stage` and its resume drop-set reuse, and
      lineage rows carry ``drop_set_reused`` (MinHash);
    * ``missing``: the error text for an input without ``value``;
    * a conversation index counts ``n_preindexed_changed`` in turn rows,
      probes replacements as whole conversations and cannot enumerate
      turn keys for retro-deletes (:attr:`group`)."""
    name: str
    stage: str
    reindex_stage: str
    sidecar: str
    stats: tuple
    key: str
    value: str
    path: Optional[str]
    threshold: float
    near: Callable
    slice_audit: Callable
    committed: Callable
    changed: Callable
    pairs: Callable
    audit: Callable
    create: Callable
    append: Callable
    reindex: Callable
    probe: Callable
    nullable: bool = False
    resumable: bool = False
    missing: Optional[str] = None

    @property
    def group(self) -> bool:
        return self.key == "conv_id"

    def keyed(self, df: DataFrame) -> DataFrame:
        return (df if self.group
                else df.withColumn(self.key, F.struct("conv_id", "turn_idx")))

    def unkeyed(self, df: DataFrame) -> DataFrame:
        return df if self.group else df.drop(self.key)

    def values(self, keyed: DataFrame) -> DataFrame:
        return (keyed.filter(F.col(self.value).isNotNull()) if self.nullable
                else keyed)


def _index_families(near_dedup_threshold, near_dedup_index_path,
                    near_dedup_scope, embedding_dedup_threshold,
                    embedding_index_path, embedding_col,
                    embedding_n_planes) -> list[IndexFamily]:
    """The configured near-dedup families in gate order: MinHash first,
    so the embedding gate sees its survivors."""
    from functools import partial

    from ..operators import dedup

    fams = []
    if near_dedup_threshold is not None:
        from ..operators import minhash_index as mi
        if near_dedup_scope not in ("turn", "conversation"):
            raise ValueError(
                f"near_dedup_scope must be 'turn' or 'conversation', "
                f"got {near_dedup_scope!r}")
        thr = float(near_dedup_threshold)
        fam = IndexFamily(
            name="minhash", stage="near_dedup",
            reindex_stage="near_dedup_reindex", sidecar="_lineage_neardup",
            stats=(("n_near_dup_dropped", "n_dropped"),
                   ("n_capped_buckets", "n_capped_buckets"),
                   ("n_preindexed_rows_dropped", "n_preindexed_rows_dropped"),
                   ("n_preindexed_changed", "n_preindexed_changed")),
            key="_nk", value="text", path=near_dedup_index_path,
            threshold=thr, near=near_deduplicate_turns,
            slice_audit=partial(dedup.minhash_bucket_audit, threshold=thr),
            committed=mi._committed_doc_ids,
            changed=mi.changed_preindexed_ids,
            pairs=mi.minhash_near_duplicates_incremental,
            audit=mi.minhash_index_bucket_audit,
            create=partial(mi.write_minhash_index, threshold=thr),
            append=mi.append_to_minhash_index, reindex=mi.reindex_docs,
            probe=mi.probe_index_near_duplicates, resumable=True)
        if near_dedup_scope == "conversation":
            fam = fam._replace(
                key="conv_id", near=near_deduplicate_conversations,
                slice_audit=partial(dedup.minhash_grouped_bucket_audit,
                                    threshold=thr),
                committed=mi.committed_group_ids,
                changed=mi.changed_preindexed_gids,
                pairs=mi.minhash_near_duplicates_grouped_incremental,
                audit=mi.minhash_grouped_index_bucket_audit,
                create=partial(mi.write_grouped_minhash_index,
                               threshold=thr),
                append=mi.append_grouped_to_minhash_index,
                reindex=mi.reindex_groups,
                probe=mi.probe_grouped_index_near_duplicates)
        fams.append(fam)
    if embedding_dedup_threshold is not None:
        from ..operators import embedding_index as ei
        thr, planes = float(embedding_dedup_threshold), int(embedding_n_planes)
        fams.append(IndexFamily(
            name="embedding", stage="embedding_dedup",
            reindex_stage="embedding_reindex", sidecar="_lineage_embdedup",
            stats=(("n_embedding_dup_dropped", "n_dropped"),
                   ("n_emb_preindexed_rows_dropped",
                    "n_preindexed_rows_dropped"),
                   ("n_emb_preindexed_changed", "n_preindexed_changed")),
            key="_ek", value=embedding_col, path=embedding_index_path,
            threshold=thr,
            near=partial(near_deduplicate_embeddings, vec_col=embedding_col,
                         n_planes=planes),
            slice_audit=partial(dedup.embedding_bucket_audit,
                                n_planes=planes),
            committed=ei._committed_ids, changed=ei.changed_preindexed_ids,
            pairs=ei.embedding_near_duplicates_incremental,
            audit=ei.embedding_index_bucket_audit,
            create=partial(ei.write_embedding_index, threshold=thr,
                           n_planes=planes),
            append=ei.append_to_embedding_index,
            reindex=ei.reindex_embeddings,
            probe=ei.probe_embedding_index_near_duplicates, nullable=True,
            missing=("embedding dedup requires a {!r} column in the input "
                     "(pass embedding_col= to name it); input has {}")))
    return fams


def _nd_row(fam, stage, n_dropped, m, metrics_observed, n_pre=0,
            n_pre_changed=0, reused=False) -> dict:
    """One lineage row of ``fam``'s sidecar (``m``: the capped-bucket
    metrics)."""
    row = {"stage": stage, "n_dropped": n_dropped,
           "n_preindexed_rows_dropped": n_pre,
           "n_preindexed_changed": n_pre_changed,
           **{k: m[k] for k in _ND_CAP_KEYS},
           "metrics_observed": metrics_observed}
    if fam.resumable:
        row["drop_set_reused"] = reused
    return row


def _in_slice_near_dedup(df, fam, stage_name):
    """Full in-slice near-dedup of ``fam``: the input-wide pass of
    :func:`_near_dedup_full_stage`, the bootstrap slice of
    :func:`_index_dedup_stage` and index-less embedding dedup.  The drop
    set is persisted and counted here (fires the capping observation,
    pins the set for the write).  Returns ``(deduped, nd_row,
    nd_drops_or_None)``."""
    from pyspark.sql import Observation

    from ..operators.dedup import capped_bucket_metrics

    values = fam.values(fam.keyed(df))
    if fam.nullable and values.isEmpty():  # nothing to compare
        return df, _nd_row(fam, stage_name, 0, dict.fromkeys(_ND_CAP_KEYS, 0),
                           False), None
    nd_obs = Observation(f"{fam.stage}_capping")
    deduped, nd_drops = fam.near(df, threshold=fam.threshold,
                                 observation=nd_obs)
    nd_drops.persist()
    n_nd = nd_drops.count()  # fires the observation; pins the drop set
    m = capped_bucket_metrics(nd_obs)
    metrics_observed = m is not None
    if m is None:
        # the observed subtree was pruned: the run produced zero LSH
        # pairs end to end -- which happens both when nothing was
        # capped AND when EVERY bucket was capped, so writing zeros
        # here would lie in exactly the pathological run this counter
        # exists to surface.  Recount exactly with one dedicated audit
        # job (rare path only; the hot path stays zero-extra-scan).
        m = fam.slice_audit(values, fam.key, fam.value)
    return (deduped, _nd_row(fam, stage_name, n_nd, m, metrics_observed),
            nd_drops)


def _near_dedup_full_stage(spark, df, fam, output_path, resume):
    """Full-input MinHash near-dedup with a persisted drop-set sidecar.

    ``fam`` is the MinHash family: a conversation family drops whole
    near-duplicate conversations (:func:`near_deduplicate_conversations`),
    a turn family individual turns (:func:`near_deduplicate_turns`).

    The winner set is a deterministic function of (input, threshold,
    scope), so the first run persists the computed drop KEYS to
    ``_neardup_drops`` plus an input fingerprint in ``_neardup_meta``, and
    an idempotent RESTART reuses them with one anti-join instead of
    recomputing MinHash over the full input -- killing the r3
    recompute-on-resume cost while keeping the restart byte-identical to
    an uninterrupted run.  A fingerprint mismatch (the input changed
    between runs) falls back to full recompute: correctness never depends
    on the reuse.  Returns (deduped_df, lineage_row,
    drops_to_unpersist_or_None)."""
    conv_scope = fam.group
    scope = "conversation" if conv_scope else "turn"
    threshold = fam.threshold
    key_cols = ["conv_id"] if conv_scope else ["conv_id", "turn_idx"]
    stage_name = "near_dedup_conversations" if conv_scope else "near_dedup"
    drops_path = f"{output_path}/_neardup_drops"
    meta_path = f"{output_path}/_neardup_meta"
    fingerprint = None  # computed at most once per run (full input scan)
    if resume:
        meta = _try_read_first(spark, meta_path)
        if (meta is not None and float(meta["threshold"]) == threshold
                and meta.asDict().get("scope", "turn") == scope):
            fingerprint = _nd_input_fingerprint(df)
            n_in, checksum = fingerprint
            if (int(meta["n_input_rows"]) == n_in
                    and int(meta["keys_checksum"]) == checksum):
                n_nd = int(meta["n_dropped"])
                if n_nd > 0:  # empty drop sets are meta-only (no parquet)
                    done = spark.read.parquet(drops_path)
                    df = df.join(done, key_cols, "left_anti")
                nd_row = _nd_row(fam, stage_name, n_nd,
                                 {k: int(meta[k]) for k in _ND_CAP_KEYS},
                                 False, reused=True)
                return df, nd_row, None

    deduped, nd_row, nd_drops = _in_slice_near_dedup(df, fam, stage_name)
    n_nd = nd_row["n_dropped"]
    # persist the drop set + input fingerprint BEFORE the main write so a
    # crashed run's restart can reuse it (drops first, meta last: meta's
    # presence certifies the drop parquet is complete)
    if n_nd > 0:
        if conv_scope:
            nd_drops.write.mode("overwrite").parquet(drops_path)
        else:
            (nd_drops.select(F.col("_nk.conv_id").alias("conv_id"),
                             F.col("_nk.turn_idx").alias("turn_idx"))
             .write.mode("overwrite").parquet(drops_path))
    if fingerprint is None:
        fingerprint = _nd_input_fingerprint(df)
    n_in, checksum = fingerprint
    meta_row = {"threshold": threshold, "scope": scope, "n_input_rows": n_in,
                "keys_checksum": checksum, "n_dropped": n_nd,
                **{k: nd_row[k] for k in _ND_CAP_KEYS}}
    write_rows(spark, [meta_row], meta_path, "overwrite")
    return deduped, nd_row, nd_drops


def _index_dedup_stage(spark, df, fam, collect_changed=False,
                       probe_df=None):
    """Daily-ingest near-dedup of one slice against ``fam``'s persisted
    index -- O(slice + matched buckets), never O(corpus), never
    old-vs-old (``operators/minhash_index.py``,
    ``operators/embedding_index.py``).

    First run (no index at ``fam.path``) bootstraps: full in-slice
    dedup, and ``run_pipeline`` CREATES the index from the kept rows
    after the main write; an embedding family without an index path
    stops at the in-slice dedup.  Later runs drop the new side of every
    corpus match plus the later key of in-slice pairs (corpus wins,
    keep-first), and ``run_pipeline`` APPENDS the kept rows after the
    write (append-last: a crash anywhere leaves the index in its
    pre-slice state, so a resumed run recomputes the same drops against
    the same index).  Slice rows whose key is ALREADY committed are
    corpus re-exports (a completed slice re-run, a partially re-exported
    dump): they drop too, counted in ``n_preindexed_rows_dropped``, and
    those whose content differs from the indexed state are counted in
    ``n_preindexed_changed``.

    Returns ``(deduped, lineage_row, drops_or_None, index_action_or_None,
    changed_rows_or_None)``: ``index_action`` is ``("create"|"append",
    kept)``; ``changed_rows`` -- only under ``collect_changed`` and when
    changed re-exports exist -- is the PERSISTED keyed slice rows of
    those keys' current content, for the post-write reindex (the caller
    unpersists it).  ``probe_df``, the slice before an earlier index gate
    anti-joined ITS committed keys, scopes the changed-re-export
    detection and only it: a key committed to both indexes whose text
    AND embedding changed is dropped by the earlier gate, and probing
    only this stage's input would freeze its stale value here."""
    from pyspark.sql import Observation

    from ..operators.dedup import capped_bucket_metrics
    from ..operators.minhash_index import incremental_drop_keys

    if fam.missing and fam.value not in df.columns:
        raise ValueError(fam.missing.format(fam.value, df.columns))
    meta = (index_store.read_meta(spark, fam.path)
            if fam.path is not None else None)
    if meta is None:  # bootstrap slice, or no index: in-slice dedup
        stage = f"{fam.stage}_bootstrap" if fam.path else fam.stage
        deduped, row, drops = _in_slice_near_dedup(df, fam, stage)
        action = ("create", deduped) if fam.path else None
        return deduped, row, drops, action, None

    if abs(float(meta["threshold"]) - fam.threshold) > 1e-12:
        raise ValueError(
            f"{fam.name} index at {fam.path} was built with threshold "
            f"{meta['threshold']}; this run requested {fam.threshold} -- "
            f"rebuild the index or match the threshold")
    index_gran = meta.get("granularity", "doc")
    if (index_gran == "group") != fam.group:
        scope = "conversation" if fam.group else "turn"
        raise ValueError(
            f"{fam.name} index at {fam.path} has granularity "
            f"{index_gran!r} but this run requested near-dedup scope "
            f"{scope!r} -- scope and index granularity must match")
    keyed = fam.keyed(df)
    committed = fam.committed(spark, fam.path).toDF(fam.key)
    n_pre = keyed.join(committed, fam.key, "left_semi").count()
    probe = keyed if probe_df is None else fam.keyed(probe_df)
    n_probe = (n_pre if probe_df is None
               else probe.join(committed, fam.key, "left_semi").count())
    n_changed, changed_rows = 0, None
    if n_probe:  # split identical vs CHANGED re-exports (reindex needed)
        changed = (fam.changed(probe, fam.key, fam.value, fam.path)
                   .toDF(fam.key))
        rows = probe.join(F.broadcast(changed), fam.key, "left_semi")
        if collect_changed:
            # persisted BEFORE the count, which then builds it: the
            # post-write reindex consumes it several times (store writes
            # + the key count) and must see the exact rows counted here,
            # and the change detection runs once
            rows.persist()
            changed = rows.select(fam.key).distinct()
        # a conversation index counts turn rows, the unit of n_pre
        n_changed = (rows if fam.group else changed).count()
        if collect_changed:
            if n_changed:
                changed_rows = rows
            else:
                rows.unpersist()
    nd_obs = Observation(f"{fam.stage}_capping")
    pairs = fam.pairs(keyed, fam.key, fam.value, fam.path,
                      observation=nd_obs)
    drops = incremental_drop_keys(pairs).toDF(fam.key)
    drops.persist()
    n_nd = drops.count()  # fires the observation; pins the drop set
    m = capped_bucket_metrics(nd_obs)
    metrics_observed = m is not None
    if m is None:
        m = fam.audit(keyed, fam.key, fam.value, fam.path)
    deduped = fam.unkeyed(keyed.join(drops, fam.key, "left_anti")
                          .join(committed, fam.key, "left_anti"))
    nd_row = _nd_row(fam, f"{fam.stage}_incremental", n_nd, m,
                     metrics_observed, n_pre=n_pre, n_pre_changed=n_changed)
    return deduped, nd_row, drops, ("append", deduped), changed_rows


def _replacement_drops(fam, up_keyed, own_changed, n_sources):
    """``_ck`` keys of changed-upsert replacement rows whose new content
    near-duplicates a DIFFERENT surviving key committed to ``fam``'s
    index, or None.  A conversation index probes whole conversations
    (a dropped gid deletes every replacement row of it; eqNullSafe, so
    a NULL conv_id group cannot slip the drop), and only those whose
    TEXT changed (``own_changed``, this family's changed rows; the
    restriction applies when ``n_sources`` families contributed rows):
    replacements from an embedding-only change are a PARTIAL member set
    whose partial content the grouped probe would treat as the
    conversation's full current text, skewing the probe Jaccard and the
    own-history carve-out -- and their text signature is still valid."""
    from ..operators.minhash_index import incremental_drop_keys

    if not fam.group:
        return incremental_drop_keys(
            fam.probe(up_keyed, "_ck", fam.value, fam.path)).toDF("_ck")
    if own_changed is None:
        return None
    probe_in = up_keyed
    if n_sources > 1:
        gids = (own_changed.select(F.col("conv_id").alias("_nd_conv"))
                .distinct())
        probe_in = up_keyed.join(
            F.broadcast(gids),
            up_keyed["conv_id"].eqNullSafe(F.col("_nd_conv")), "left_semi")
    gdrop = incremental_drop_keys(
        fam.probe(probe_in, "conv_id", fam.value, fam.path)).toDF("_gdrop")
    return up_keyed.join(
        F.broadcast(gdrop), up_keyed["conv_id"].eqNullSafe(F.col("_gdrop")),
        "left_semi").select("_ck")


def _nonempty_lines(col) -> F.Column:
    return F.size(F.filter(F.split(F.coalesce(col, F.lit("")), "\n"),
                           lambda x: F.length(F.trim(x)) > 0))


def _assert_retention(stage: str, rows_in: int, rows_out: int,
                      lines_in: int, lines_out: int,
                      min_line_ratio: float) -> dict:
    """The reference's accept/reject content validation, as hard guards.

    Analog of RedactPro.tsx:1337-1349 (cleaned lines >= 0.6x) and
    :1390-1398 (final output rejected under 0.5x of input lines) -- but
    the scrub stage is 1:1 by construction, so rows get an exact ==
    guard and only the content-line ratio is a threshold."""
    if rows_out != rows_in:
        raise RetentionError(
            f"stage {stage}: wrote {rows_out} rows for {rows_in} input rows "
            f"(the scrub stage is row-preserving; a transform corrupted it)")
    if lines_in > 0 and lines_out < min_line_ratio * lines_in:
        raise RetentionError(
            f"stage {stage}: masked output retains {lines_out}/{lines_in} "
            f"non-empty lines (< {min_line_ratio:.0%}); rejecting the run")
    return {"stage": f"{stage}_retention", "rows_in": rows_in,
            "rows_out": rows_out, "lines_in": lines_in,
            "lines_out": lines_out}


class RowGate(NamedTuple):
    """One keep/drop gate of :func:`run_pipeline`.

    ``keep`` is a non-NULL boolean Column that decides each row on its
    own (a JVM expression or an Arrow kernel read as a struct) over the
    frame ``prepare`` returns; ``prepare`` attaches the columns ``keep``
    reads (a model score or a contamination flag; it may join) and runs
    before the range exchange.  Each run appends ``(name, n_dropped,
    *params)`` to the ``sidecar`` lineage directory with schema ``stage
    string, n_dropped long, <ddl>``.  ``n_dropped`` is the number of
    rows charged to the gate, or the row count of ``drops`` when it is
    set: the persisted key set of a gate that counts another unit
    (decontamination at conversation scope counts conversations)."""
    name: str
    sidecar: str
    keep: Column
    params: tuple
    ddl: str
    prepare: Optional[Callable[[DataFrame], DataFrame]] = None
    drops: Optional[DataFrame] = None


def _scored(score, model, out_col):
    """``prepare`` for a model gate: attach ``out_col`` via a keyed
    token aggregate (``(conv_id, turn_idx)`` must key the input)."""
    def prepare(df: DataFrame) -> DataFrame:
        keyed = df.withColumn("_gk", F.struct("conv_id", "turn_idx"))
        return score(keyed, model, ["_gk"], output_col=out_col).drop("_gk")
    return prepare


def _decontam_gate(spark, held, slice_df, changed, against, text_col, k,
                   min_hits, ngrams, scope, min_containment,
                   mode) -> RowGate:
    """The decontamination gate: ``prepare`` left-joins the flagged set
    and ``keep`` is "no flag".  At turn scope ``prepare`` flags the
    ``(conv_id, turn_idx)`` keys of its own input; at conversation scope
    it joins (null-safe) the poisoned-conversation set flagged from
    ``slice_df`` plus the ``changed`` re-export frames, built once and
    shared by the main path and the changed-upsert re-check.  Every
    flagged set is persisted and added to ``held``: the range-boundary
    job builds it and the write job reuses it."""
    if scope not in ("turn", "conversation"):
        raise ValueError(
            f"decontam_scope must be 'turn' or 'conversation', "
            f"got {scope!r}")
    if mode not in ("exact", "fuzzy"):
        raise ValueError(
            f"decontam_mode must be 'exact' or 'fuzzy', got {mode!r}")
    from ..operators.decontaminate import (
        benchmark_overlap_report, contaminated_keys,
        flag_benchmark_near_overlap)
    bench_df = spark.read.parquet(against)
    # shared by both per-bench-row rules (fuzzy + containment): one
    # definition, the two modes cannot drift
    bench_ided = bench_df.withColumn(
        "_bid", F.md5(F.coalesce(F.col(text_col), F.lit(""))))
    if mode == "fuzzy":
        # the fuzzy rule's extra parameter contract, validated up-front
        if min_containment is None:
            raise ValueError(
                "decontam_mode='fuzzy' requires decontam_min_containment "
                "(the containment verify threshold)")
        if ngrams != "char":
            raise ValueError(
                "decontam_mode='fuzzy' supports char shingles only "
                f"(got ngrams={ngrams!r})")

    def flagged(keyed: DataFrame) -> DataFrame:
        """``_dk``-keyed rows -> the distinct flagged ``_dk`` keys."""
        if mode == "fuzzy":
            # paraphrase-tolerant rule: windowed MinHash-LSH candidates +
            # short-shingle containment verify.  ``k`` is the SHINGLE
            # size here -- keep it SHORT (operator default 7): short
            # grams survive a light rewording.  Word grams have no fuzzy
            # variant (the windowing is char-positional).
            rep = flag_benchmark_near_overlap(
                keyed, "_dk", "text", bench_ided, "_bid",
                bench_text_col=text_col, threshold=float(min_containment),
                shingle_k=int(k))
            # min_hits is an absolute floor as in the containment rule:
            # a tiny eval row hits 100% containment on a handful of
            # shared short grams otherwise
            return (rep.filter(F.col("n_hits") >= F.lit(int(min_hits)))
                    .select("_dk").distinct())
        if min_containment is not None:
            # PaLM-style rule: flag a turn when >= this fraction of ANY
            # single benchmark row's distinct k-grams appear in it (a
            # turn grazing 1 gram from each of 1000 eval rows is noise;
            # 70% of one row is a quote), min_hits as a floor.  The
            # benchmark row id is the md5 of its TEXT: deterministic
            # under retries, and duplicate benchmark texts share their
            # gram sets anyway.
            return benchmark_overlap_report(
                keyed, "_dk", "text", bench_ided, "_bid",
                bench_text_col=text_col, k=int(k), min_hits=int(min_hits),
                ngrams=ngrams, min_containment=float(min_containment),
            ).select("_dk").distinct()
        return contaminated_keys(
            keyed, "_dk", "text", bench_df, bench_text_col=text_col,
            k=int(k), min_hits=int(min_hits), ngrams=ngrams)

    def held_flags(flags: DataFrame) -> DataFrame:
        flags = flags.withColumn("_dc", F.lit(True)).persist()
        held.append(flags)
        return F.broadcast(flags)

    def keyed(df: DataFrame) -> DataFrame:
        return df.withColumn("_dk", F.struct("conv_id", "turn_idx"))

    convs = None
    if scope == "conversation":
        # one contaminated turn poisons its whole conversation.  Changed
        # re-exports' CURRENT content joins the flag source: a changed
        # committed turn quoting a benchmark is not in the slice (its
        # index gate dropped it as committed), yet it poisons the
        # conversation's clean new siblings too
        src = keyed(slice_df).select("_dk", "text")
        for ch in changed:
            src = src.unionByName(keyed(ch).select("_dk", "text"))
        convs = held_flags(flagged(src).select(
            F.col("_dk.conv_id").alias("_dc_conv")).distinct())

        def prepare(df: DataFrame) -> DataFrame:
            # NULL-SAFE: an equi-join never matches a NULL conv_id
            return df.join(convs, df["conv_id"].eqNullSafe(
                F.col("_dc_conv")), "left").drop("_dc_conv")
    else:
        def prepare(df: DataFrame) -> DataFrame:
            df = keyed(df)
            return df.join(held_flags(flagged(df)), "_dk", "left").drop("_dk")
    return RowGate(
        "decontaminate", "_lineage_decontam", F.col("_dc").isNull(),
        (int(k), int(min_hits), ngrams, scope,
         float(min_containment) if min_containment is not None else None,
         mode, against),
        "k long, min_hits long, ngrams string, scope string, "
        "min_containment double, mode string, benchmark_path string",
        prepare, convs)


def _row_gates(spark, held, slice_df, changed, decontaminate_against,
               decontam, drop_toxic_above, gq_rules, rep_thresholds,
               quality_model_path, quality_min_score,
               perplexity_model_path, perplexity_max) -> list[RowGate]:
    """The configured row gates in charging order: a row is charged to
    the first gate it fails.  Decontamination comes first
    (:func:`_decontam_gate`, with ``decontam`` its keyword arguments;
    ``slice_df`` and ``changed`` are its conversation-scope flag source,
    ``held`` collects its persisted sets).  Every gate is evaluated on
    every row -- the flag and the classifier and LM ``prepare`` joins
    score all rows before the range exchange, and the repetition kernel
    is one Arrow pass over all rows -- so the order decides attribution,
    not cost."""
    text = F.col("text")
    gates = []
    if decontaminate_against is not None:
        gates.append(_decontam_gate(spark, held, slice_df, changed,
                                    decontaminate_against, **decontam))
    if drop_toxic_above is not None:
        from ..operators.toxicity import toxicity_score_col
        thr = float(drop_toxic_above)
        gates.append(RowGate("toxicity", "_lineage_toxicity",
                             toxicity_score_col(text) <= thr, (thr,),
                             "threshold double"))
    if gq_rules is not None:
        from ..operators.doc_quality import gopher_quality_keep_condition
        gates.append(RowGate(
            "gopher_quality", "_lineage_docquality",
            gopher_quality_keep_condition(text, gq_rules),
            (",".join(f"{k}=[{lo},{hi}]"
                      for k, (lo, hi) in sorted(gq_rules.items())),),
            "rules string"))
    if rep_thresholds is not None:
        from ..operators.repetition import repetition_keep_col
        gates.append(RowGate(
            "repetition", "_lineage_repetition",
            repetition_keep_col(text, rep_thresholds),
            (",".join(f"{k}={v}" for k, v in sorted(rep_thresholds.items())),),
            "thresholds string"))
    if quality_model_path is not None:
        from ..operators.quality_classifier import (
            read_quality_model, score_quality_classifier)
        qc = read_quality_model(spark, quality_model_path)
        gates.append(RowGate(
            "quality_classifier", "_lineage_quality",
            F.col("_qscore") >= float(quality_min_score),
            (float(quality_min_score), str(quality_model_path),
             int(qc["meta"]["dim"]), int(qc["meta"]["ngram"])),
            "min_score double, model_path string, dim long, ngram long",
            _scored(score_quality_classifier, qc, "_qscore")))
    if perplexity_model_path is not None:
        from ..operators.lm_perplexity import read_unigram_lm, score_perplexity
        lm = read_unigram_lm(spark, perplexity_model_path)
        # token-less rows score NULL and pass, like NULL text elsewhere
        gates.append(RowGate(
            "lm_perplexity", "_lineage_perplexity",
            F.coalesce(F.col("_ppl") <= float(perplexity_max), F.lit(True)),
            (float(perplexity_max), str(perplexity_model_path),
             int(lm["meta"]["n_tokens"]), int(lm["meta"]["vocab_size"]),
             int(lm["meta"]["min_count"])),
            "max_log_ppl double, model_path string, n_tokens long, "
            "vocab_size long, min_count long",
            _scored(score_perplexity, lm, "_ppl")))
    return gates


def _prepared(df: DataFrame, gates: list[RowGate]) -> DataFrame:
    for g in gates:
        if g.prepare is not None:
            df = g.prepare(df)
    return df


def _gate_index(gates: list[RowGate]) -> Column:
    """The 1-based index of the first gate a (prepared) row fails, 0 when
    every gate keeps it."""
    return F.coalesce(
        *[F.when(~g.keep, F.lit(i)) for i, g in enumerate(gates, 1)],
        F.lit(0))


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    resume: bool = False,
    dedup: bool = False,
    near_dedup_threshold: Optional[float] = None,
    near_dedup_index_path: Optional[str] = None,
    near_dedup_scope: str = "turn",
    embedding_dedup_threshold: Optional[float] = None,
    embedding_index_path: Optional[str] = None,
    embedding_col: str = "embedding",
    embedding_n_planes: int = 16,
    reindex_changed: bool = False,
    sample_fraction: Optional[float] = None,
    sample_seed: int = 0,
    sample_key_cols: Optional[list] = None,
    sample_n_per_stratum: Optional[int] = None,
    sample_strata_cols: Optional[list] = None,
    sample_token_shares: Optional[dict] = None,
    sample_token_stratum_col: Optional[str] = None,
    sample_token_budget: Optional[int] = None,
    sample_token_col: Optional[str] = None,
    sample_token_allow_short: bool = False,
    drop_toxic_above: Optional[float] = None,
    gopher_quality_rules=None,
    repetition_thresholds=None,
    quality_model_path: Optional[str] = None,
    quality_min_score: Optional[float] = None,
    perplexity_model_path: Optional[str] = None,
    perplexity_max: Optional[float] = None,
    decontaminate_against: Optional[str] = None,
    decontam_text_col: str = "text",
    decontam_k: int = 13,
    decontam_min_hits: int = 1,
    decontam_ngrams: str = "char",
    decontam_scope: str = "turn",
    decontam_min_containment: Optional[float] = None,
    decontam_mode: str = "exact",
    min_line_ratio: float = 0.5,
    scrub_transform=scrub_transcripts,
    **scrub_kwargs,
) -> dict:
    """Batch entry point: parquet in, ordered parquet out, metrics + lineage.

    ``resume=True`` anti-joins against keys already present in the output
    (idempotent restart per the north rule).  ``dedup=True`` drops
    exact-duplicate turns before the scrub stage (deterministic
    first-occurrence winner).  ``near_dedup_threshold`` (e.g. 0.8)
    additionally drops MinHash-LSH near-duplicate turns (keep-first by
    ``(conv_id, turn_idx)``; see :func:`near_deduplicate_turns`) and
    writes the LSH recall-cap counters (``n_capped_buckets`` etc.,
    observed on the drop-set materialization -- no extra input scan) to
    the ``_lineage_neardup`` sidecar; without an index path the computed
    drop keys persist to a ``_neardup_drops`` sidecar so a resumed run
    reuses them (one anti-join) instead of recomputing full-input LSH.
    ``near_dedup_scope="conversation"`` switches near-dedup to document
    granularity: whole conversations whose union-of-turn-shingle Jaccard
    matches an earlier conversation are dropped
    (:func:`near_deduplicate_conversations`); ``"turn"`` (default) keeps
    the per-turn behavior.  ``embedding_dedup_threshold`` (e.g. 0.95)
    near-dedups on a precomputed ``embedding_col`` array column instead
    of / in addition to text shingles (:func:`near_deduplicate_embeddings`,
    counters in ``_lineage_embdedup``).  Both families compose: MinHash
    runs first, the embedding gate sees its survivors.

    ``near_dedup_index_path`` / ``embedding_index_path`` switch a family
    to INCREMENTAL mode for daily ingest slices against a persisted index
    (``operators/minhash_index.py``, ``operators/embedding_index.py``).
    The three indexes -- turn MinHash, conversation MinHash (a
    GROUP-granularity index; conversations are closed per slice) and
    turn embedding -- share one protocol, each an :class:`IndexFamily`
    run by :func:`_index_dedup_stage` and the loops below: the first run
    bootstraps (in-slice dedup, index CREATED from the kept rows after
    the write); later runs drop rows that near-match the ingested corpus
    or an earlier row of the slice (corpus wins; O(slice), never
    O(corpus)) plus re-exports of already-committed keys, counted in
    ``n_preindexed_rows_dropped``, and APPEND the kept rows after the
    write and the guards (append-last: a crash anywhere leaves the index
    in its pre-slice state).  A threshold that differs from the index's,
    or a scope that differs from its granularity, fails loudly.  What
    differs by family: NULL embeddings never drop, an embedding slice
    without any vector writes a zero lineage row and creates no index;
    a conversation index counts ``n_preindexed_changed`` in turn rows;
    only the MinHash lineage has ``drop_set_reused``.

    ``reindex_changed=True`` (requires an index path) ACTS on the
    ``n_preindexed_changed`` counters instead of only reporting them:
    after the main write and the index appends, committed keys whose
    slice content differs from the indexed state (a re-crawl replaced
    the doc, a conversation grew, a turn was re-embedded) are rebuilt
    into a fresh index epoch (``reindex_docs`` / ``reindex_groups`` /
    ``reindex_embeddings``) so FUTURE slices dedup against the current
    content instead of the stale signature; each reindex appends a
    ``{stage, n_keys, epoch}`` row to the ``_lineage_reindex`` sidecar.
    With both index gates on, the embedding gate's change detection sees
    the slice before the MinHash gate dropped its committed keys, so a
    key whose text AND embedding changed is reindexed in both.
    The changed rows are still DROPPED from this run's output (they are
    re-exports of already-written keys; replacing the stale OUTPUT rows
    is the caller's upsert -- Iceberg MERGE in the nominal deployment).
    To give that MERGE a source, the changed keys' current content is
    ALSO run through the same gates as the main path -- the row gates,
    decontamination first (pre-scrub, like the main path), a replacement probe
    against each committed index (new content duplicating a DIFFERENT
    surviving committed key must not land; resembling the key's own
    predecessor never deletes), and the pure sampling-fraction rule --
    then scrubbed and written to ``{output_path}/_changed_upsert`` with
    an ``_action`` column: ``upsert`` rows carry the processed
    replacement (MERGE: matched -> update, not-matched -> insert,
    covering a grown conversation's new turns); ``update`` replaces
    ``upsert`` whenever a rank-based sampling gate (exact-n stratified /
    token-budget mix) is active -- rank membership is a property of the
    original run's population and cannot be re-derived per key, so
    replacements update matched rows but never insert; ``delete`` rows
    mark keys whose NEW content fails a drop gate so the stale output
    row must be removed.  Replacement keys the fraction rule excludes are
    dropped from the sidecar outright (they were never written;
    ``n_sampled_out`` counts them).  The turn MinHash and embedding
    indexes probe per key; a conversation index probes whole-group
    content, only of conversations whose text changed, and a dropped gid
    deletes every replacement row of that conversation.
    Under ``decontam_scope="conversation"``, changed rows join the
    contamination flag source (a changed turn quoting a benchmark
    poisons its conversation's clean new siblings in the main write
    too), and the poisoned conversations' already-committed keys --
    enumerated from the turn MinHash index, else the embedding index --
    are emitted as key-only ``delete`` rows (retroactive contamination;
    a group-granularity index alone cannot enumerate turn keys, so that
    configuration covers only the keys present in the changed set).
    The sidecar is written before the reindex commits, so a crash
    between the two can only duplicate byte-identical rows on the
    re-run (dedupe the MERGE source by key), never lose them; counts
    land in ``_lineage_upsert`` (read lineage sidecars with
    ``mergeSchema=true``; columns are additive across versions).
    At most one epoch per slice-with-changes accrues per index; compact
    periodically (``compact_doc_index`` etc.).  Conversation scope
    assumes the re-export carries each changed conversation's FULL
    current member rows (the same closed-per-slice convention the
    grouped index documents).  A completed-slice re-run finds zero
    changed keys (the index now stores the current content) and creates
    no further epochs -- the restart stays idempotent.
    ``sample_fraction`` (e.g. 0.1) keeps a deterministic hash sample of
    the dedup survivors (operators/sampling.py: membership is a pure
    function of ``sample_key_cols`` + ``sample_seed`` -- rerun-stable,
    partitioning-invariant, and NESTED across fractions at the same
    seed, so the 1% mix built through this entry point is a subset of
    the 10% mix); ``sample_n_per_stratum`` + ``sample_strata_cols``
    (e.g. 1000 per ``role``) instead/additionally keeps exactly
    min(n, stratum_size) rows per stratum by the same hash rank
    (duplicate keys fail loudly -- run with ``dedup=True``).  Both run
    BEFORE resume_filter (the stratified keep set depends on the full
    stratum population) and their counts land in the ``_lineage_sample``
    sidecar.  The fraction gate is resume-stable on ANY input
    (membership is per-row); the exact-n gate is resume-stable only on
    IDENTICAL input, so a resume whose input size differs from the
    original run's (recorded in the sidecar) is refused -- appending a
    re-ranked top-n over grown input would exceed n per stratum.  ``sample_token_shares`` + ``sample_token_stratum_col``
    (e.g. ``{"user": 0.7, "assistant": 0.3}`` over ``role``) sample
    toward a target per-stratum TOKEN mix instead
    (operators/sampling.py::token_budget_sample): per-stratum keep
    fractions derive from one token aggregate at ``sample_token_budget``
    total tokens (``None`` = max feasible); ``sample_token_col`` names a
    precomputed token-count column, default = ``length(text)`` as the
    char proxy.  Runs BEFORE resume_filter too -- the fractions are an
    aggregate of the FULL input, so a resumed run recomputes the same
    thresholds and the same membership; counts land in the
    ``_lineage_token_mix`` sidecar.
    Row gates (:class:`RowGate`, applied in this order; a row failing
    several is charged to the first): ``decontaminate_against`` (a
    parquet path of benchmark rows with a ``decontam_text_col`` text
    column) drops turns that share at least ``decontam_min_hits`` exact
    ``decontam_k``-gram shingles with the benchmark set
    (operators/decontaminate.py) -- the standard eval-contamination
    gate -> ``_lineage_decontam`` (with the parameters).  Its
    ``prepare`` left-joins the persisted, broadcast flagged set and its
    keep Column is "no flag".  At the default ``turn`` scope the flag
    is per-row-independent, so it composes with resume/dedup in any
    order without changing winner sets, and ``n_dropped`` counts the
    rows it removes (duplicate keys included).
    ``decontam_scope="conversation"`` widens the drop from the flagged
    turn to its whole conversation (one quoted eval question makes the
    surrounding dialog eval-correlated -- the document-level rule most
    pipelines apply; ``n_dropped`` then counts conversations, the rows
    of the persisted poisoned-conversation set, joined null-safe so a
    NULL ``conv_id`` drops too) -- and is therefore NOT
    order-independent: the flag runs on the dedup stages' SURVIVORS, so
    if near-dedup dropped a conversation's only contaminated turn in
    favor of a near-copy in another conversation, that conversation's
    remaining turns are kept.  Run decontamination on the raw dump (a
    separate ``run_pipeline`` pass, or ``flag_benchmark_overlap``
    directly) when the stricter pre-dedup document rule is required.
    ``decontam_min_containment`` (e.g. 0.7) switches the flag rule from
    global-set hit counting to per-benchmark-row containment
    (:func:`operators.decontaminate.benchmark_overlap_report`): a turn
    is contaminated when >= that fraction of any SINGLE eval row's
    distinct k-grams appear in it, with ``decontam_min_hits`` as an
    absolute floor.  ``decontam_mode="fuzzy"`` swaps the exact-gram
    flag for the paraphrase-tolerant windowed-LSH containment rule
    (:func:`operators.decontaminate.flag_benchmark_near_overlap`):
    ``decontam_min_containment`` becomes the required verify threshold
    and ``decontam_k`` the SHORT shingle size (e.g. 7 -- short grams
    survive a light rewording).  ``drop_toxic_above`` (e.g. 0.3)
    drops turns whose lexicon toxicity score exceeds the threshold
    (operators/toxicity.py; NULL text scores 0 and is never dropped)
    -> ``_lineage_toxicity``.  ``gopher_quality_rules`` (the literal
    ``"gopher"`` or a metric->(min, max) dict) drops turns breaching any
    Gopher quality rule (:mod:`operators.doc_quality`: word count / mean
    word length bounds, hash/ellipsis symbol ratios, bullet/ellipsis
    line fractions, alphabetic-word fraction, stopword count) ->
    ``_lineage_docquality``.  NOTE: the full catalog's stopword/alpha
    rules are English-centric -- pass a custom dict for the ja/en
    transcript mix.  ``repetition_thresholds`` (the literal ``"gopher"``
    or a metric->max dict) drops turns breaching any Gopher/MassiveText
    repetition rule (:mod:`operators.repetition`: duplicate line/
    paragraph fractions, top/duplicate n-gram char coverage; one Arrow
    kernel pass per row, no key join, so keys need not be unique) ->
    ``_lineage_repetition``.  ``quality_model_path`` +
    ``quality_min_score`` apply a model-based quality filter (the
    CCNet/GPT-3 pattern): a persisted hashed-NB classifier
    (:mod:`operators.quality_classifier`) scores each turn JVM-side and
    rows below the threshold drop -> ``_lineage_quality`` (with the
    model geometry).  ``perplexity_model_path`` + ``perplexity_max``
    apply the pattern's other half: a persisted smoothed unigram LM
    (:mod:`operators.lm_perplexity`) scores each turn's mean negative
    token log-prob (nats) and rows above the cutoff drop; token-less
    rows score NULL and pass -> ``_lineage_perplexity``.  The two model
    scores are attached by a keyed token aggregate, so they require
    unique ``(conv_id, turn_idx)`` keys (run ``dedup=True`` first on
    dirty input).  All six gates run pre-scrub, on the range-ordered
    frame, and each is evaluated on every row (a model gate also scores
    rows an earlier gate drops): one projection computes each row's
    first failing gate, the write pass itself counts rows in and each
    gate's drops (one Observation, no extra job), and the survivors are
    scrubbed.  Each gate's sidecar row ``(stage, n_dropped, <params>)``
    is appended after the write and before the retention guard can
    raise.  Changed-upsert replacement rows are re-checked against the
    same gate list (at conversation scope against the same poisoned
    set).  Lineage sidecar schemas are ADDITIVE across releases
    (e.g. r5 added ``ngrams`` to ``_lineage_decontam``): an output
    directory resumed across an upgrade can hold lineage files with and
    without a new column, so audits should read sidecars with
    ``option("mergeSchema", "true")`` -- plain reads infer the schema
    from an arbitrary file.

    Retention guards (reference accept/reject ratios,
    RedactPro.tsx:1337-1349,1390-1398): input rows and masked non-empty
    line counts are observed on the SAME pass as the write (zero extra
    scans); after the write the run fails with ``RetentionError`` if any
    row was lost/duplicated by the scrub stage or if masked content drops
    below ``min_line_ratio`` of the input's non-empty lines.  Guard
    metrics are appended to the ``_lineage_guards`` sidecar (separate from
    ``_lineage``: mixed schemas in one parquet dir read back unreliably).  ``scrub_transform``
    is the stage injection point (swap in a variant transform; tests use
    it to prove a corrupting transform trips the guard).  It runs on the
    already range-ordered frame, so it must be row-local and
    order-preserving: per-row projections and Arrow/pandas UDFs are; a
    shuffle, join or aggregation would scramble the written order."""
    from pyspark.sql import Observation

    t0 = time.time()
    df = spark.read.parquet(input_path)
    # dedup stages run BEFORE resume_filter: both pick winners by
    # (conv_id, turn_idx) order over the FULL input, so a resumed run
    # reproduces the uninterrupted run's winner set exactly.  The reverse
    # order is wrong: if run 1 wrote turn A and crashed before A's
    # duplicate B, a resume-filtered input no longer contains A, the
    # (A, B) pair is never formed, and B survives -- the restart would
    # not be idempotent.  Cost: resumed runs redo dedup over the full
    # input, the right trade for deterministic output.
    if dedup:
        df = deduplicate_turns(df)
    fams = _index_families(
        near_dedup_threshold, near_dedup_index_path, near_dedup_scope,
        embedding_dedup_threshold, embedding_index_path, embedding_col,
        embedding_n_planes)
    index_fams = [f for f in fams if f.path is not None]
    if reindex_changed and not index_fams:
        raise ValueError(
            "reindex_changed=True acts on a persisted index's changed "
            "re-exports; enable at least one index gate (near_dedup_"
            "threshold + near_dedup_index_path, and/or embedding_dedup_"
            "threshold + embedding_index_path) -- an index path alone is "
            "never consulted, so the flag would be a silent no-op")
    if (quality_model_path is None) != (quality_min_score is None):
        raise ValueError(
            "quality_model_path and quality_min_score must be set "
            "together: a model without a threshold (or vice versa) "
            "would be a silent no-op gate")
    if (perplexity_model_path is None) != (perplexity_max is None):
        raise ValueError(
            "perplexity_model_path and perplexity_max must be set "
            "together: a model without a threshold (or vice versa) "
            "would be a silent no-op gate")
    rep_thresholds = None
    if repetition_thresholds is not None:
        from ..operators.repetition import GOPHER_THRESHOLDS
        if repetition_thresholds == "gopher":
            rep_thresholds = dict(GOPHER_THRESHOLDS)
        elif isinstance(repetition_thresholds, dict):
            if not repetition_thresholds:
                raise ValueError("repetition_thresholds dict is empty")
            rep_thresholds = {k: float(v)
                              for k, v in repetition_thresholds.items()}
        else:
            raise ValueError(
                "repetition_thresholds must be the literal 'gopher' or "
                f"a metric->max dict, got {repetition_thresholds!r}")
    gq_rules = None
    if gopher_quality_rules is not None:
        from ..operators.doc_quality import validate_gopher_quality_rules
        gq_rules = validate_gopher_quality_rules(gopher_quality_rules)
    up_cached = None
    held = []  # persisted drop sets and changed rows
    # Cache guard: every persisted frame the body creates is released in
    # the finally, also when a model read, a sidecar write, the main
    # write, a guard or index maintenance raises -- a long-lived session
    # must not accumulate dead cache entries.
    try:
        gated = []  # (family, lineage row, index action, changed rows)
        pre_gate = df
        for fam in fams:
            if fam.path is None and fam.resumable:
                df, row, drops = _near_dedup_full_stage(
                    spark, df, fam, output_path, resume)
                action = changed = None
            else:
                # the changed-re-export detection sees the slice BEFORE
                # an earlier index gate anti-joined its committed keys
                # (see _index_dedup_stage)
                probe_df = (pre_gate if reindex_changed and any(
                    f.path for f, *_ in gated) else None)
                df, row, drops, action, changed = _index_dedup_stage(
                    spark, df, fam, reindex_changed, probe_df)
            held += [drops, changed]
            # persist the recall-risk counters BEFORE the main write: a run
            # that later trips the retention guard is exactly the run whose
            # capping metrics an operator needs to see
            # (own sidecar: mixed schemas in one parquet dir read unreliably)
            write_rows(spark, [row], f"{output_path}/{fam.sidecar}",
                       "append")
            gated.append((fam, row, action, changed))
        changed_rows = [(f, c) for f, _, _, c in gated if c is not None]
        # one definition of the sampling key set, shared by the row-sampling
        # gate, the token-mix gate, and the changed-upsert re-check
        sp_keys = (list(sample_key_cols) if sample_key_cols
                   else ["conv_id", "turn_idx"])
        if sample_fraction is not None or sample_n_per_stratum is not None:
            # Sampling runs on the dedup survivors and BEFORE resume_filter,
            # for the same reason the dedup stages do: fraction membership is
            # a pure per-row function of key + seed (placement-independent),
            # but the stratified rank-n keep set depends on the full stratum
            # population -- ranking only the resume-unwritten rows would pick
            # a different top-n than the uninterrupted run.  Lineage counts
            # are computed eagerly from the SAME predicate / rank rule as the
            # filter (one extra narrow agg pass per sub-gate, the price every
            # counted gate here pays) and land in the _lineage_sample sidecar
            # before the main write.
            from ..operators.sampling import (
                deterministic_sample, sample_keep_condition,
                stratified_sample_n)
            sp_rows_in = sp_rows_kept = None
            if sample_fraction is not None:
                cond = sample_keep_condition(sp_keys, float(sample_fraction),
                                             int(sample_seed))
                srow = df.agg(
                    F.count(F.lit(1)).alias("n_in"),
                    F.coalesce(F.sum(cond.cast("long")), F.lit(0))
                     .alias("n_kept")).first()
                sp_rows_in = int(srow["n_in"])
                sp_rows_kept = int(srow["n_kept"])
                df = deterministic_sample(df, sp_keys, float(sample_fraction),
                                          int(sample_seed))
            if sample_n_per_stratum is not None:
                if not sample_strata_cols:
                    raise ValueError(
                        "sample_n_per_stratum requires sample_strata_cols "
                        "(the columns defining each stratum)")
                strata = list(sample_strata_cols)
                # kept count = sum over strata of min(n, stratum_size) --
                # exact, from one groupBy pass, no second ranked scan
                srow = (df.groupBy(*strata).agg(F.count(F.lit(1)).alias("c"))
                        .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_in"),
                             F.coalesce(
                                 F.sum(F.least(
                                     F.col("c"),
                                     F.lit(int(sample_n_per_stratum)))),
                                 F.lit(0)).alias("n_kept"))
                        .first())
                if sp_rows_in is None:
                    sp_rows_in = int(srow["n_in"])
                sp_rows_kept = int(srow["n_kept"])
                if resume:
                    # exact-n is a RANK over the full stratum population, so
                    # it is resume-stable only when the rank inputs are
                    # identical: on a grown/changed input (or with a changed
                    # seed / n / strata) a resumed run re-ranks, newly-top-n
                    # rows are written while previously-written rows that
                    # fell out stay -- the output would silently exceed n
                    # per stratum.  The sidecar records each run's full rank
                    # parameters; a mismatch is fatal only if the resume
                    # would actually APPEND rows (a completed prior run
                    # whose rows were all already written -- e.g. an
                    # upstream preindexed-drop gate emptied this re-run's
                    # slice -- is a harmless no-op and passes).
                    from pyspark.errors import AnalysisException
                    this_run = (sp_rows_in, int(sample_seed),
                                int(sample_n_per_stratum), ",".join(sp_keys),
                                ",".join(strata))
                    try:
                        prior = (spark.read.option("mergeSchema", "true")
                                 .parquet(f"{output_path}/_lineage_sample")
                                 .filter(F.col("n_per_stratum").isNotNull())
                                 .select("rows_in", "seed", "n_per_stratum",
                                         "key_cols", "strata_cols").collect())
                    except AnalysisException:
                        prior = []  # first run: no sidecar yet
                    mismatch = [r for r in prior
                                if (int(r["rows_in"]), int(r["seed"]),
                                    int(r["n_per_stratum"]), r["key_cols"],
                                    r["strata_cols"]) != this_run]
                    if mismatch and not resume_filter(
                            df, output_path).isEmpty():
                        r = mismatch[0]
                        raise ValueError(
                            f"sample_n_per_stratum under resume=True requires "
                            f"the SAME input and rank parameters as the "
                            f"original run (prior: rows_in={r['rows_in']}, "
                            f"seed={r['seed']}, n={r['n_per_stratum']}, "
                            f"keys={r['key_cols']}, strata={r['strata_cols']};"
                            f" this run: {this_run}): the rank-n keep set "
                            f"changes and the appended output would exceed n "
                            f"per stratum -- write to a fresh output instead")
                # strict=True: duplicate keys would make the rank-n boundary
                # partitioning-dependent -- fail loudly, pointing at dedup
                df = stratified_sample_n(df, strata,
                                         int(sample_n_per_stratum), sp_keys,
                                         int(sample_seed), strict=True)
            sp_row = {"stage": "sample",
                      "fraction": (float(sample_fraction)
                                   if sample_fraction is not None else None),
                      "seed": int(sample_seed),
                      "key_cols": ",".join(sp_keys),
                      "n_per_stratum": (int(sample_n_per_stratum)
                                        if sample_n_per_stratum is not None
                                        else None),
                      "strata_cols": (",".join(sample_strata_cols)
                                      if sample_strata_cols else None),
                      "rows_in": sp_rows_in, "rows_kept": sp_rows_kept,
                      "n_dropped": sp_rows_in - sp_rows_kept}
            # explicit schema: fraction / n_per_stratum are None when the
            # other sub-gate is active, and inference cannot type all-None
            write_rows(
                spark, [sp_row], f"{output_path}/_lineage_sample", "append",
                schema="stage string, fraction double, seed long, "
                       "key_cols string, n_per_stratum long, "
                       "strata_cols string, rows_in long, rows_kept long, "
                       "n_dropped long")
        if sample_token_shares is not None:
            # token-budget mixture gate: like the row-sampling gate it sits
            # BEFORE resume_filter -- the per-stratum fractions are an
            # aggregate of the FULL input, so a resumed run derives the same
            # thresholds and membership stays a pure function of key + seed
            if not sample_token_stratum_col:
                raise ValueError(
                    "sample_token_shares requires sample_token_stratum_col "
                    "(the column whose values the shares key on)")
            from ..operators.sampling import (
                token_budget_keep_condition, token_budget_sample)
            tok = (F.col(sample_token_col) if sample_token_col
                   else F.length(F.coalesce(F.col("text"), F.lit(""))))
            keyed_tok = df.withColumn("_tok", tok)
            sampled, tm_info = token_budget_sample(
                keyed_tok, sample_token_stratum_col, sample_token_shares,
                sp_keys, "_tok", total_tokens=sample_token_budget,
                seed=int(sample_seed),
                allow_short=bool(sample_token_allow_short))
            df = sampled.drop("_tok")
            # rows_in rides the operator's own stratum aggregate; rows_kept
            # is one agg over the SAME keep condition the filter uses (the
            # fraction gate's single-definition pattern) -- no extra full
            # count passes
            tm_in = int(tm_info["rows_in"])
            cond = token_budget_keep_condition(
                sample_token_stratum_col, tm_info["strata"], sp_keys,
                int(sample_seed))
            tm_kept = int(keyed_tok.agg(
                F.coalesce(F.sum(cond.cast("long")), F.lit(0))).first()[0])
            tm_row = {"stage": "sample_token_mix",
                      "stratum_col": sample_token_stratum_col,
                      "shares": json.dumps(sample_token_shares,
                                           sort_keys=True),
                      "budget_tokens": float(tm_info["budget_tokens"]),
                      "seed": int(sample_seed),
                      "key_cols": ",".join(sp_keys),
                      "token_col": sample_token_col,
                      "strata": json.dumps(tm_info["strata"],
                                           sort_keys=True),
                      "rows_in": tm_in, "rows_kept": tm_kept,
                      "n_dropped": tm_in - tm_kept}
            write_rows(
                spark, [tm_row], f"{output_path}/_lineage_token_mix",
                "append",
                schema="stage string, stratum_col string, shares string, "
                       "budget_tokens double, seed long, key_cols string, "
                       "token_col string, strata string, rows_in long, "
                       "rows_kept long, n_dropped long")
        if resume:
            df = resume_filter(df, output_path)
        gates = _row_gates(
            spark, held, df, [ch for _, ch in changed_rows],
            decontaminate_against,
            dict(text_col=decontam_text_col, k=decontam_k,
                 min_hits=decontam_min_hits, ngrams=decontam_ngrams,
                 scope=decontam_scope,
                 min_containment=decontam_min_containment,
                 mode=decontam_mode),
            drop_toxic_above, gq_rules, rep_thresholds, quality_model_path,
            quality_min_score, perplexity_model_path, perplexity_max)
        # range-order BEFORE the row gates and the scrub: the boundary
        # sampling job then reads the raw input columns (plus the flags
        # and scores ``prepare`` attaches), and the gate kernels and scrub
        # UDFs run once, after the exchange.  Rows in and each gate's
        # drops are observed there too, on the write pass itself: an
        # Observation below the exchange would also count the rows the
        # boundary-sampling job reads.
        in_obs = Observation("retention_in")
        df = (ordered(_prepared(df, gates))
              .withColumn("_gate", _gate_index(gates))
              .observe(in_obs, *[
                  F.sum((F.col("_gate") == i).cast("long")).alias(name)
                  for i, name in enumerate(
                      ["rows_in", *(g.name for g in gates)])])
              .filter(F.col("_gate") == 0)
              .select(*df.columns))
        scrubbed = scrub_transform(df, **scrub_kwargs)
        out_obs = Observation("retention_out")
        scrubbed = scrubbed.observe(
            out_obs,
            F.count(F.lit(1)).alias("rows_out"),
            F.sum(_nonempty_lines(F.col("text")).cast("long")).alias("lines_in"),
            F.sum(_nonempty_lines(F.col("masked_text")).cast("long"))
             .alias("lines_out"))

        # the persisted drop sets stay cached through the whole tail --
        # write, guards, AND index maintenance; the outer finally releases
        # them: the index create/append consumes ``kept``, whose plan
        # anti-joins the persisted drop set, so unpersisting right after the
        # write would make index maintenance recompute the full near-dedup
        # LSH subtree instead of the claimed one signature pass over the
        # kept rows (deterministic either way; this is purely the cost)
        n = write_with_lineage(scrubbed, output_path, stage="scrub")

        def _obs(o) -> dict:
            # a fully-empty write (e.g. resume found no new keys) lets AQE
            # empty-propagation prune the observed subtree; the metrics row
            # is then absent and .get raises -- all-zero is correct
            try:
                return o.get
            except Exception:
                return {}

        m_in, m_out = _obs(in_obs), _obs(out_obs)
        # before the guard can raise: a run that trips it is exactly
        # the run whose gate counts an operator needs to see
        n_gate = {g.name: (g.drops.count() if g.drops is not None
                           else int(m_in.get(g.name) or 0)) for g in gates}
        for g in gates:
            write_rows(
                spark, [(g.name, n_gate[g.name], *g.params)],
                f"{output_path}/{g.sidecar}", "append",
                schema="stage string, n_dropped long, " + g.ddl)
        guard_row = _assert_retention(
            "scrub", int(m_in.get("rows_in") or 0),
            int(m_out.get("rows_out") or 0),
            int(m_out.get("lines_in") or 0),
            int(m_out.get("lines_out") or 0), min_line_ratio)
        write_rows(spark, [guard_row], f"{output_path}/_lineage_guards",
                   "append")
        # Index content = dedup-kept rows, BEFORE the toxicity/resume
        # gates: the index answers "what has this corpus already seen", so
        # a toxic turn dropped from the OUTPUT still anchors dedup of its
        # future near-copies (which the toxicity gate would drop anyway --
        # near-copies of toxic text score toxic).  Index maintenance runs
        # LAST, only after the write + guards succeeded: a crash anywhere
        # above leaves every index in its pre-slice state, so a resumed run
        # recomputes the same drops against the same index (idempotent
        # restart).  Cost: one extra signature pass over the kept rows.
        for fam, _, action, _ in gated:
            if action is None:
                continue
            mode, kept = action
            kept = fam.keyed(kept)
            if mode == "append":
                # idempotent by construction: the append fns anti-join each
                # store's already-committed keys, so a completed-slice
                # re-run appends nothing and a half-crashed append
                # completes exactly-once
                fam.append(kept, fam.key, fam.value, fam.path)
            elif not fam.values(kept).isEmpty():
                # gate the create on the KEPT set, not rows written this
                # call: a bootstrap that crashed mid-create and RESUMED
                # writes zero new output rows (resume_filter removed them)
                # but must still create the index, or the whole bootstrap
                # corpus silently never enters it.  An empty kept set (or,
                # for embeddings, one without a non-NULL vector to pin the
                # dim) stays index-less and the next run bootstraps again
                fam.create(kept, fam.key, fam.value, fam.path)
        # Processed replacement rows for changed re-exports: the
        # changed keys' CURRENT content run through the same content
        # gates (decontamination, toxicity, near-dedup probes, the pure
        # sampling rule) and the same scrub as the main path, written to
        # ``_changed_upsert`` with an ``_action`` column so the caller's
        # documented MERGE (Iceberg in the nominal deployment) has
        # pipeline-PROCESSED rows to apply -- without this the only
        # route to the new content would bypass the gates entirely, or
        # the content would be lost while the reindexed signature
        # actively blocks its re-ingestion.  Actions:
        #   ``upsert``  replace the matched output row, or insert (a
        #               grown conversation's new turns);
        #   ``update``  replace IF MATCHED, never insert -- emitted
        #               instead of ``upsert`` whenever a rank-based
        #               sampling gate (exact-n stratified / token-budget
        #               mix) is active, because membership in a rank
        #               gate is a property of the original run's full
        #               population and cannot be re-derived per key:
        #               inserting an unmatched key could exceed the
        #               original sample.  The pure fraction gate IS
        #               re-derived (same hash rule, same seed), so
        #               fraction-excluded replacement keys are dropped
        #               from the sidecar outright (``n_sampled_out``);
        #   ``delete``  the NEW content fails a drop gate (contaminated,
        #               toxic, or a near-duplicate of a DIFFERENT
        #               surviving committed key -- the replacement
        #               probes), or the key belongs to a conversation
        #               retroactively poisoned this run: remove the
        #               stale output row.  Retro-delete rows carry only
        #               the key columns (content fields NULL).
        # Written BEFORE the reindex commits: a crash in between makes
        # the re-run redetect the same keys and append byte-identical
        # rows (the MERGE source should dedupe by key), never lose them.
        retro_deletes = None
        poisoned = next((g.drops for g in gates if g.drops is not None),
                        None)
        # a non-empty poisoned-conversation set gates the whole branch:
        # without one the semi-join below is empty by construction,
        # and building it anyway would make retro_deletes a non-None
        # empty frame on EVERY converged steady-state run -- paying a
        # committed-key scan per run and appending a zero-row
        # _changed_upsert parquet (whose first write can be a
        # _SUCCESS-only directory that breaks the caller's documented
        # MERGE-source schema inference) plus a spurious all-zero
        # lineage row
        if (reindex_changed and poisoned is not None
                and n_gate["decontaminate"] > 0):
            # Retroactive contamination: a conversation poisoned THIS
            # run (by a new or changed turn) may have clean turns in the
            # output from earlier slices; an uninterrupted run over the
            # same content would have dropped the whole conversation.
            # Enumerate the poisoned conversations' committed keys from
            # the first committed turn-keyed index (turn MinHash, then
            # embedding) and emit deletes for them.  (A group-
            # granularity index alone cannot enumerate turn keys --
            # documented gap.  Keys the index holds but the output never
            # wrote -- decontam/toxicity-dropped at their own ingest --
            # produce deletes that match nothing; harmless.)
            ck_fam = next((f for f in index_fams if not f.group
                           and index_store.committed(
                               spark, f"{f.path}/meta")), None)
            if ck_fam is not None:
                retro_deletes = (
                    ck_fam.committed(spark, ck_fam.path).select(
                        F.col("doc_id.conv_id").alias("conv_id"),
                        F.col("doc_id.turn_idx").alias("turn_idx"))
                    .join(poisoned,
                          F.col("conv_id").eqNullSafe(F.col("_dc_conv")),
                          "left_semi"))
        if changed_rows or retro_deletes is not None:
            from pyspark.sql.window import Window as _W

            rank_gated = (sample_n_per_stratum is not None
                          or sample_token_shares is not None)
            srcs = [fam.unkeyed(ch) for fam, ch in changed_rows]
            up = None
            if srcs:
                up = srcs[0]
                for s in srcs[1:]:
                    # the sets can overlap (a doubly-committed key whose
                    # text AND embedding changed); the collapse below
                    # dedupes the identical rows
                    up = up.unionByName(s, allowMissingColumns=True)
                # duplicate keys (reachable with dedup=False) collapse
                # to the min-text row: asc_nulls_last matches the
                # null-IGNORING F.min(text) winner the doc index's
                # _unique_doc_rows applies, so the upsert row carries
                # the text the reindexed signature describes.  (The
                # grouped reindex unions ALL duplicate rows' shingles --
                # strictly more conservative than any single kept row;
                # the embedding index collapses by min VECTOR.  Both
                # divergences are reachable only with dedup=False AND
                # conflicting duplicate content for one key.)
                up = (up.withColumn(
                          "_rn", F.row_number().over(
                              _W.partitionBy("conv_id", "turn_idx")
                                .orderBy(F.col("text").asc_nulls_last())))
                      .filter(F.col("_rn") == 1).drop("_rn"))
            if up is not None:
                # Persist + materialize NOW, at the ROOT frame every
                # consumer below derives from (the sampling count, the
                # gates -- the grouped probe alone instantiates it ~8x
                # -- and the scrub input): its lineage carries the
                # changed-detection joins over epoch-resolved index
                # reads, and without the cache each consumer replays
                # that whole subtree (observed: a toy-fixture
                # conversation-scope run went from minutes to seconds).
                # CacheManager substitutes subtrees matching the cached
                # ANALYZED plan, so every derived frame must be built
                # on top of THIS object, not re-derived from its
                # ingredients.  The eager count serializes the
                # materialization so the gate jobs race against a
                # built cache, not each other.
                up_cached = up
                up_cached.persist()
                up_cached.count()
            n_sampled_out = 0
            if up is not None and sample_fraction is not None:
                from ..operators.sampling import sample_keep_condition
                cond = sample_keep_condition(
                    sp_keys, float(sample_fraction), int(sample_seed))
                n_sampled_out = up.filter(~cond).count()
                if n_sampled_out:
                    up = up.filter(cond)
            out_up = None
            if up is not None:
                up_keyed = up.withColumn(
                    "_ck", F.struct("conv_id", "turn_idx"))
                del_srcs = []  # one-column ``_ck`` frames to delete
                if gates:
                    # the main path's gates, same order and same
                    # predicates, evaluated pre-scrub (the post-scrub
                    # frame's columns belong to scrub_transform; a
                    # grouped transform has no ``text`` column); the
                    # conversation-scope decontamination reuses the
                    # main path's poisoned set, which already includes
                    # conversations the changed rows poison
                    del_srcs.append(
                        _prepared(up_keyed, gates)
                        .filter(_gate_index(gates) != 0).select("_ck"))
                # replacement content re-checked against the near-dedup
                # gates: the incremental operators exclude committed
                # keys, so without these probes a re-export rewritten
                # into a near-copy of a DIFFERENT committed doc (or
                # conversation) would sail in as its replacement
                for fam, _, _, own in gated:
                    if fam.path is not None and index_store.committed(
                            spark, f"{fam.path}/meta"):
                        d = _replacement_drops(fam, up_keyed, own,
                                               len(changed_rows))
                        if d is not None:
                            del_srcs.append(d)
                out_up = scrub_transform(up, **scrub_kwargs).withColumn(
                    "_ck", F.struct("conv_id", "turn_idx"))
                if del_srcs:
                    dset = del_srcs[0]
                    for s in del_srcs[1:]:
                        dset = dset.union(s)
                    dset = (dset.distinct()
                            .withColumn("_del", F.lit(True)))
                    out_up = out_up.join(F.broadcast(dset), "_ck", "left")
                else:
                    out_up = out_up.withColumn(
                        "_del", F.lit(None).cast("boolean"))
                out_up = (out_up.withColumn(
                              "_action",
                              F.when(F.coalesce(F.col("_del"), F.lit(False)),
                                     F.lit("delete"))
                               .otherwise(F.lit("update" if rank_gated
                                                else "upsert")))
                          .drop("_ck", "_del"))
            if retro_deletes is not None:
                retro_rows = retro_deletes.withColumn(
                    "_action", F.lit("delete"))
                if out_up is not None:
                    # keys already in the changed set keep their computed
                    # action; retro deletes cover only the REST of the
                    # poisoned conversations' committed keys
                    have = out_up.select(
                        F.struct("conv_id", "turn_idx").alias("_k"))
                    retro_rows = (retro_rows.withColumn(
                                      "_k",
                                      F.struct("conv_id", "turn_idx"))
                                  .join(have, "_k", "left_anti")
                                  .drop("_k"))
                    out_up = out_up.unionByName(
                        retro_rows, allowMissingColumns=True)
                else:
                    out_up = retro_rows
            out_up.persist()
            try:
                uc = out_up.agg(*[
                    F.coalesce(F.sum((F.col("_action") == a).cast("long")),
                               F.lit(0)).alias(f"n_{a}")
                    for a in ("upsert", "update", "delete")]).first()
                out_up.write.mode("append").parquet(
                    f"{output_path}/_changed_upsert")
                # additive schema (n_update / n_sampled_out joined the
                # row): read the sidecar with mergeSchema=true, like
                # every lineage sidecar here
                write_rows(
                    spark,
                    [{"stage": "changed_upsert",
                      "n_upsert": int(uc["n_upsert"]),
                      "n_update": int(uc["n_update"]),
                      "n_delete": int(uc["n_delete"]),
                      "n_sampled_out": int(n_sampled_out)}],
                    f"{output_path}/_lineage_upsert", "append",
                    schema="stage string, n_upsert long, n_update long, "
                           "n_delete long, n_sampled_out long")
            finally:
                out_up.unpersist()
                if up_cached is not None:
                    up_cached.unpersist()
        # reindex_changed runs LAST, after the appends (disjoint key
        # sets; changed_rows is persisted, so the reindex sees exactly
        # the rows the gate counted).  Delete-action replacements are
        # reindexed TOO: skipping them would leave the stale signature,
        # and every later run would re-detect the key as changed and
        # commit a fresh epoch forever (non-convergent).  The resulting
        # ghost entries (index content for rows the output deleted) are
        # exactly what the replacement probes' predecessor-shadow
        # carve-out accounts for.  Each reindex commits one fresh
        # epoch (meta_eN marker last -- a crash BEFORE the marker leaves
        # the old epoch live and the next run redetects the same changed
        # keys); a completed re-run finds zero changed keys and adds no
        # epoch.  A crash in the window between the marker commit and
        # the _lineage_reindex append loses only the ADVISORY lineage
        # row: the index itself is correct and the append-only meta_eN
        # markers at the index path remain the authoritative record of
        # every committed reindex.
        # (A grouped reindex: every turn contributes >=1 shingle row to
        # the exploded store -- sub-shingle_k texts are padded -- so a
        # changed conversation ALWAYS gains epoch-N rows and the per-gid
        # max-epoch window resolves to them; an all-short re-export
        # cannot strand a key on its stale epoch-0 state.)
        for fam, ch in changed_rows:
            ri_meta = fam.reindex(ch, fam.key, fam.value, fam.path)
            write_rows(
                spark, [{"stage": fam.reindex_stage,
                         "n_keys": ch.select(fam.key).distinct().count(),
                         "epoch": int(ri_meta["epoch"])}],
                f"{output_path}/_lineage_reindex", "append",
                schema="stage string, n_keys long, epoch long")
        wall = time.time() - t0
        stats = {"rows": n, "wall_sec": round(wall, 3),
                 "rows_per_sec": round(n / wall, 1) if wall > 0 else None,
                 **{k: v for k, v in guard_row.items() if k != "stage"}}
        for fam, row, _, _ in gated:
            stats.update((k, row[col]) for k, col in fam.stats)
        if decontaminate_against is not None:
            stats["n_contaminated_dropped"] = n_gate["decontaminate"]
        if sample_fraction is not None or sample_n_per_stratum is not None:
            stats["n_sample_dropped"] = sp_row["n_dropped"]
        if sample_token_shares is not None:
            stats["n_token_mix_dropped"] = tm_row["n_dropped"]
            stats["token_mix_budget"] = tm_row["budget_tokens"]
        return stats
    finally:
        for _f in (*held, up_cached):
            if _f is not None:
                _f.unpersist()


# note: run_pipeline's "rows" counts rows written by THIS invocation; under
# --resume that is only the previously-unprocessed keys.


def main() -> None:
    import argparse

    from ..session import get_spark

    ap = argparse.ArgumentParser(description="sumi-agent-spark scrub pipeline")
    ap.add_argument("--input", required=False, help="input parquet path")
    ap.add_argument("--output", required=True, help="output parquet dir")
    ap.add_argument("--generate", type=int, default=0, metavar="N_CONVS",
                    help="generate a fixture table with N conversations instead of --input")
    add_pipeline_args(ap)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    spark = get_spark(cores=args.cores)
    if args.generate:
        import tempfile

        from ..sources.transcripts import write_parquet
        tmp = tempfile.mkdtemp(prefix="sumi_fixture_")
        input_path = f"{tmp}/transcripts.parquet"
        write_parquet(input_path, n_convs=args.generate)
    else:
        if not args.input:
            ap.error("--input or --generate required")
        input_path = args.input
    stats = run_pipeline(spark, input_path, args.output,
                         **pipeline_kwargs(args))
    print(json.dumps(stats))


def add_pipeline_args(ap) -> None:
    """The shared pipeline-stage CLI surface, defined ONCE for every
    entry point (the in-package runner above and the spark-submit wrapper
    tools/run_pipeline.py) so the two argparse blocks cannot drift.
    Each flag's ``dest`` is its :func:`run_pipeline` keyword and its
    ``type`` parses the value that keyword takes, so
    :func:`pipeline_kwargs` only collects them."""
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--dedup", action="store_true",
                    help="drop exact-duplicate turns before scrubbing")
    ap.add_argument("--near-dedup-threshold", type=float, default=None,
                    metavar="J", help="drop turns with a MinHash near-"
                    "duplicate (shingle Jaccard >= J) earlier in "
                    "(conv_id, turn_idx) order; capping metrics land in "
                    "the _lineage_neardup sidecar")
    ap.add_argument("--near-dedup-index", dest="near_dedup_index_path",
                    default=None, metavar="PATH",
                    help="incremental near-dedup: LSH-join this ingest "
                    "slice against the persisted MinHash index at PATH "
                    "(bootstrap-created on first run, appended after every "
                    "successful write) instead of recomputing the corpus")
    ap.add_argument("--near-dedup-scope", default="turn",
                    choices=("turn", "conversation"),
                    help="near-dedup granularity: drop individual turns "
                    "(default) or whole near-duplicate conversations "
                    "(union-of-turn-shingle Jaccard, keep-first by conv_id)")
    ap.add_argument("--embedding-dedup-threshold", type=float, default=None,
                    metavar="C", help="drop turns whose embedding cosine "
                    ">= C matches an earlier turn (or the corpus, with "
                    "--embedding-index); input must carry the embedding "
                    "column")
    ap.add_argument("--embedding-index", dest="embedding_index_path",
                    default=None, metavar="PATH",
                    help="incremental embedding dedup against the "
                    "persisted hyperplane index at PATH (bootstrap-created "
                    "on first run, appended after every successful write)")
    ap.add_argument("--embedding-col", default="embedding",
                    help="input embedding column (default: embedding)")
    ap.add_argument("--embedding-n-planes", type=int, default=16,
                    help="hyperplanes for the LSH bucketing (default: 16; "
                    "only used when creating a new index)")
    ap.add_argument("--reindex-changed", action="store_true",
                    help="after the write, rebuild committed index keys "
                    "whose slice content changed (re-crawled doc, grown "
                    "conversation, re-embedded turn) into a fresh index "
                    "epoch instead of only counting them; rows appended "
                    "to the _lineage_reindex sidecar (requires "
                    "--near-dedup-index and/or --embedding-index)")
    ap.add_argument("--sample-fraction", type=float, default=None,
                    metavar="F", help="keep a deterministic hash sample "
                    "of ~F of the dedup survivors (md5 of key cols + "
                    "seed; rerun-stable, nested across fractions at the "
                    "same seed); counts land in the _lineage_sample "
                    "sidecar")
    ap.add_argument("--sample-seed", type=int, default=0,
                    help="sampling seed (default: 0; disjoint seeds give "
                    "independent samples)")
    ap.add_argument("--sample-key-cols", type=_csv, default=None,
                    metavar="C1,C2",
                    help="comma-separated key columns the sampling hash "
                    "is keyed on (default: conv_id,turn_idx)")
    ap.add_argument("--sample-n-per-stratum", type=int, default=None,
                    metavar="N", help="keep exactly min(N, stratum size) "
                    "rows per stratum, by the same deterministic hash "
                    "rank (requires --sample-strata-cols; duplicate keys "
                    "fail loudly -- run with --dedup)")
    ap.add_argument("--sample-strata-cols", type=_csv, default=None,
                    metavar="C1,C2",
                    help="comma-separated stratum columns for "
                    "--sample-n-per-stratum (e.g. role)")
    ap.add_argument("--drop-toxic-above", type=float, default=None,
                    metavar="T", help="drop turns with toxicity score > T")
    ap.add_argument("--gopher-quality-rules", type=_gopher_or_json,
                    default=None, metavar="GOPHER|JSON",
                    help="drop turns breaching any Gopher quality rule: "
                    "the literal 'gopher' for the full Table A1 catalog "
                    "(English-centric), or a JSON metric->[min,max] dict "
                    "with nulls for unbounded sides (counts land in the "
                    "_lineage_docquality sidecar)")
    ap.add_argument("--repetition-thresholds", type=_gopher_or_json,
                    default=None, metavar="GOPHER|JSON",
                    help="drop turns breaching any Gopher repetition "
                    "threshold: the literal 'gopher' for the standard "
                    "catalog, or a JSON metric->max dict (counts land "
                    "in the _lineage_repetition sidecar)")
    ap.add_argument("--quality-model-path", default=None, metavar="PATH",
                    help="persisted hashed-NB quality model "
                    "(operators/quality_classifier.py); requires "
                    "--quality-min-score")
    ap.add_argument("--quality-min-score", type=float, default=None,
                    metavar="S", help="drop turns whose classifier "
                    "quality score is below S (counts land in the "
                    "_lineage_quality sidecar)")
    ap.add_argument("--perplexity-model-path", default=None,
                    metavar="PATH",
                    help="persisted unigram LM "
                    "(operators/lm_perplexity.py); requires "
                    "--perplexity-max")
    ap.add_argument("--perplexity-max", type=float, default=None,
                    metavar="P", help="drop turns whose mean negative "
                    "token log-prob (nats) exceeds P (counts land in "
                    "the _lineage_perplexity sidecar)")
    ap.add_argument("--decontaminate-against", default=None, metavar="PATH",
                    help="drop turns sharing exact k-gram shingles with "
                    "the benchmark parquet at PATH (eval-contamination "
                    "gate; counts land in the _lineage_decontam sidecar)")
    ap.add_argument("--decontam-text-col", default="text",
                    help="benchmark text column (default: text)")
    ap.add_argument("--decontam-k", type=int, default=13,
                    help="shingle length in chars (default: 13)")
    ap.add_argument("--decontam-min-hits", type=int, default=1,
                    help="flag a turn at >= this many distinct benchmark "
                    "k-gram hits (default: 1)")
    ap.add_argument("--decontam-ngrams", default="char",
                    choices=("char", "word"),
                    help="k-gram unit: chars (default; right for ja) or "
                    "whitespace tokens (GPT-3-style word n-grams)")
    ap.add_argument("--decontam-scope", default="turn",
                    choices=("turn", "conversation"),
                    help="drop granularity: the flagged turn (default) or "
                    "its whole conversation (document-level rule)")
    ap.add_argument("--decontam-min-containment", type=float, default=None,
                    metavar="C", help="PaLM-style rule: flag when >= C of "
                    "any single benchmark row's distinct k-grams appear "
                    "in the turn (default: off = global-set min-hits rule)")
    ap.add_argument("--sample-token-shares", type=_json, default=None,
                    metavar="JSON",
                    help="token-budget mixture gate: JSON dict of "
                    "{stratum value: target token share} (requires "
                    "--sample-token-stratum-col)")
    ap.add_argument("--sample-token-stratum-col", default=None,
                    help="column whose values --sample-token-shares keys "
                    "on (e.g. role)")
    ap.add_argument("--sample-token-budget", type=int, default=None,
                    metavar="N", help="total token budget for the mixture "
                    "(default: largest feasible)")
    ap.add_argument("--sample-token-col", default=None,
                    help="precomputed token-count column (default: "
                    "length(text) as the char proxy)")
    ap.add_argument("--sample-token-allow-short", action="store_true",
                    help="accept a skewed mix when --sample-token-budget "
                    "exceeds what a stratum can supply (default: refuse)")
    ap.add_argument("--decontam-mode", default="exact",
                    choices=("exact", "fuzzy"),
                    help="exact k-gram matching (default) or fuzzy: "
                    "windowed MinHash-LSH + short-shingle containment, "
                    "catching lightly paraphrased eval rows (requires "
                    "--decontam-min-containment; --decontam-k is the "
                    "shingle size then -- keep it small, e.g. 7)")


def pipeline_kwargs(args) -> dict:
    """The :func:`run_pipeline` keyword arguments of a parsed
    :func:`add_pipeline_args` namespace: each flag's ``dest`` is its
    keyword."""
    import argparse

    ap = argparse.ArgumentParser(add_help=False)
    add_pipeline_args(ap)
    return {k: getattr(args, k) for k in vars(ap.parse_args([]))}


def _csv(s: str) -> Optional[list]:
    return s.split(",") if s else None


def _json(s: str):
    return json.loads(s) if s else None


def _gopher_or_json(s: str):
    return s if s == "gopher" else json.loads(s)


if __name__ == "__main__":
    main()
