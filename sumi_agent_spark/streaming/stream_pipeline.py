"""Structured Streaming variant of the scrub pipeline.

The reference is strictly batch (SURVEY.md §2.10), but every transform here
is per-row, so the exact same ``scrub_transcripts`` composition runs
unchanged under ``readStream`` -- batch/streaming unification is the point
of declaring the pipeline as DataFrame transforms.

Adds the streaming-only pieces the batch path has no use for:
* file-source ingestion with schema pinning (``maxFilesPerTrigger`` for
  backpressure on a 100 TB backfill),
* event-time watermarking + tumbling-window per-conversation keep/drop
  counters (late turns beyond the watermark are dropped from the counters,
  never from the scrubbed output -- masking is stateless),
* exactly-once parquet sink with checkpointing; resuming a killed stream
  re-uses the sink commit log, which is the streaming analog of the batch
  anti-join resume (plans/checkpoint.py).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType, StringType, StructField, StructType, TimestampType,
)

from ..plans.pipeline import scrub_transcripts

TRANSCRIPT_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("role", StringType(), False),
    StructField("text", StringType(), True),
    StructField("tool", StringType(), True),
    StructField("ts", TimestampType(), False),
])


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def scrub_stream(stream: DataFrame, **scrub_kwargs) -> DataFrame:
    """Identical transform chain as batch -- same UDFs, same output schema."""
    return scrub_transcripts(stream, **scrub_kwargs)


def dedup_stream(
    stream: DataFrame, watermark: str = "10 minutes",
    text_col: str = "text", fingerprint: str = "exact",
) -> DataFrame:
    """Streaming dedup: keep the FIRST arrival of each fingerprint within
    the watermark horizon.

    ``fingerprint="exact"`` is the streaming analog of
    ``plans.pipeline.deduplicate_turns``: md5 of whitespace-normalized text
    (NULL coalesced to the same sentinel, so NULL-text turns dedup against
    each other instead of vanishing).

    ``fingerprint="simhash"`` gives the stream NEAR-dup semantics with the
    same exact-equality state machinery: the key is the 64-bit SimHash of
    the text (operators/dedup.py), so two turns collapse whenever their
    SimHashes are bit-identical (hamming 0).  Because SimHash tokenizes on
    whitespace, lowercases, and sign-sums per bit, that collapses
    case variants, whitespace variants, token REORDERINGS (sign sums are
    order-invariant), and most small-typo variants of long texts -- while
    the state store still holds one 8-byte key per horizon text, exactly
    as cheap as exact mode.  Stated limitation: variants at hamming >= 1
    survive; full banded near-dedup (hamming <= k) needs the batch
    operators -- backfills run batch, the stream mode is the cheap online
    guard.

    Why there is NO ``hamming <= k`` stream mode (evaluated r5, declined
    with numbers): the pigeonhole trick the batch operator uses (split
    the 64-bit hash into k+1 chunks; a hamming<=k pair shares a chunk)
    only generates CANDIDATES -- the batch operator then verifies exact
    hamming, which a chunk-keyed ``dropDuplicatesWithinWatermark`` state
    cannot do (it holds seen KEYS, not the full hashes behind them).
    Without verification the false-drop rate is
    ``1 - (1 - (k+1) * 2^-(64/(k+1)))^N`` against N in-horizon texts:
    at k=3 (16-bit chunks) that is ~45% at N=10^4 and ~100% by N=10^5
    -- the 65536-value chunk space simply saturates and the stream
    starts dropping everything; even k=1 reaches ~5% at N=10^8.
    Verified streaming near-dedup needs chunk-keyed
    ``applyInPandasWithState`` holding every in-horizon hash (k+1)x,
    CHAINED into a per-row all-chunks aggregation whose append-mode
    emission waits on the watermark -- two stateful stages and a
    full-horizon state copy to approximate what the batch operator does
    exactly in one pass.  Wrong trade; run the batch operator on the
    landed output instead.

    Both modes use ``dropDuplicatesWithinWatermark`` so the dedup state is
    BOUNDED by the event-time horizon -- an unbounded ``dropDuplicates``
    would grow state forever on a 100 TB backfill.  Semantics difference
    vs batch, stated plainly: batch picks the (conv_id, turn_idx)-minimal
    winner; a stream cannot know future arrivals, so the winner is the
    first ARRIVAL, and duplicates separated by more than the watermark are
    NOT collapsed (horizon trade-off)."""
    if fingerprint == "exact":
        fp = F.md5(F.coalesce(
            F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "),
            F.lit("\x00<null-text>")))
    elif fingerprint == "simhash":
        from ..operators.dedup import make_simhash_udf

        # NULL -> "" tokenizes to zero tokens -> the all-zero SimHash, so
        # NULL/empty/whitespace-only texts share one fingerprint (the same
        # collapse rule exact mode's sentinel gives NULL)
        fp = make_simhash_udf()(F.coalesce(F.col(text_col), F.lit("")))
    else:
        raise ValueError(
            f"fingerprint must be 'exact' or 'simhash', got {fingerprint!r}")
    return (stream.withColumn("_fp", fp)
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["_fp"])
            .drop("_fp"))


def decontaminate_stream(
    stream: DataFrame,
    benchmark_df: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    k: int = 13,
    min_hits: int = 1,
    ngrams: str = "char",
) -> DataFrame:
    """Drop stream rows that share >= ``min_hits`` exact k-gram shingles
    with a STATIC benchmark set (operators/decontaminate.py semantics,
    online).

    The contamination check is per-row independent, so streaming needs no
    state at all: the benchmark shingle-hash set is computed ONCE at
    query-definition time (eval suites are MBs -> ~10^6-10^7 hashes; a
    bounded driver materialization, same size class as a broadcast) and
    rides sorted inside the count UDF's closure
    (``decontaminate.make_hit_count_udf``), so each micro-batch pays one
    Arrow shingle pass + one vectorized searchsorted -- no join, no
    watermark, no state store, drop decisions identical to the batch
    gate (same shingle machinery, same hash family).  Emission is
    immediate.  ``benchmark_df`` must be a BATCH DataFrame; re-create
    the query to pick up a benchmark update."""
    from ..operators.decontaminate import (
        _shingler, benchmark_shingle_set, make_hit_count_udf)

    # Arrow-path fetch: ~8 B per hash end to end.  A Row-object collect()
    # would build 10^6-10^7 Python objects (GBs of driver heap) at the
    # benchmark sizes the docstring advertises.
    bench_hashes = benchmark_shingle_set(
        benchmark_df, bench_text_col, k, ngrams).toPandas()["s"].to_numpy()
    sh = _shingler(k, ngrams)
    hits = make_hit_count_udf(bench_hashes)
    return (stream
            .withColumn("_n_hits", hits(sh(F.col(text_col))))
            .filter(F.col("_n_hits") < F.lit(int(min_hits)))
            .drop("_n_hits"))


def repetition_stream(
    stream: DataFrame,
    text_col: str = "text",
    thresholds=None,
) -> DataFrame:
    """Drop stream rows breaching any Gopher repetition threshold
    (operators/repetition.py semantics, online).

    The metrics are per-row functions of the text, and the batch
    operator computes them in one row-local Arrow kernel, so the stream
    gate is the batch gate's own keep Column
    (``repetition.make_repetition_keep_udf`` over
    ``repetition_keep_col``): drop decisions are identical by
    construction, pinned by the parity test.  No state store, no
    watermark, immediate emission.  ``thresholds`` as in
    ``run_pipeline`` (None = the Gopher catalog)."""
    from ..operators.repetition import make_repetition_keep_udf

    keep = make_repetition_keep_udf(thresholds)
    return stream.filter(keep(F.col(text_col)))


def gopher_quality_stream(
    stream: DataFrame,
    text_col: str = "text",
    rules=None,
) -> DataFrame:
    """Drop stream rows breaching any Gopher quality rule
    (operators/doc_quality.py semantics, online).

    Like the repetition gate, the stream gate is the batch operator's
    own keep condition -- here pure row-local Catalyst expressions: no
    UDF, no state store, no watermark; batch parity is by construction
    (one shared keep-condition), not by a Python replica.  ``rules`` as in ``run_pipeline`` (None = the full
    Gopher catalog)."""
    from ..operators.doc_quality import gopher_quality_keep_condition

    return stream.filter(
        gopher_quality_keep_condition(F.col(text_col), rules))


def decontaminate_stream_fuzzy(
    stream: DataFrame,
    benchmark_df: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    threshold: float = 0.5,
    shingle_k: int = 7,
    n_hashes: int = 128,
    bands: int = 64,
    window_chars: int = 400,
    stride: int | None = None,
    min_hits: int = 1,
) -> DataFrame:
    """Drop stream rows whose short-shingle containment vs ANY benchmark
    row reaches ``threshold`` -- the paraphrase-tolerant
    (``flag_benchmark_near_overlap``) semantics, online.

    Like :func:`decontaminate_stream` this is STATELESS: the benchmark
    side (per-row gram arrays + the windowed-LSH probe table, same
    fixed-seed geometry as the batch operator) is computed once at query
    definition and rides in the flag UDF's closure
    (``decontaminate.make_fuzzy_flag_udf``), so each micro-batch pays
    one numpy window-signature pass + dictionary probes + exact verify
    on the rare candidates -- no join, no watermark, no state store.
    Flag decisions match the batch operator's (same windows, same hash
    family, same exact verify; the closure probe's integer band keys can
    only ADD candidates vs the batch side's md5 keys, which the exact
    verify then filters identically).  ``benchmark_df`` must be a BATCH
    DataFrame; re-create the query to pick up a benchmark update."""
    from ..operators.decontaminate import make_fuzzy_flag_udf

    flag = make_fuzzy_flag_udf(
        benchmark_df, bench_text_col=bench_text_col, threshold=threshold,
        shingle_k=shingle_k, n_hashes=n_hashes, bands=bands,
        window_chars=window_chars, stride=stride, min_hits=min_hits)
    return stream.filter(~flag(F.col(text_col)))


def windowed_conversation_counts(
    scrubbed: DataFrame,
    watermark: str = "10 minutes",
    window_len: str = "5 minutes",
) -> DataFrame:
    """Event-time keep/drop counters per (window, conv_id) with late-data
    handling; state is bounded by the watermark."""
    return (
        scrubbed
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_len).alias("w"), "conv_id")
        .agg(F.count("*").alias("n_turns"),
             F.sum(F.col("keep").cast("long")).alias("n_keep"),
             F.sum("n_detections").alias("n_detections"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "conv_id", "n_turns", "n_keep", "n_detections")
    )


SESSION_OUTPUT = StructType([
    StructField("conv_id", StringType(), False),
    StructField("session_start", TimestampType(), False),
    StructField("session_end", TimestampType(), False),
    StructField("n_turns", IntegerType(), False),
    StructField("n_keep", IntegerType(), False),
    StructField("n_detections", IntegerType(), False),
])

# state carried between micro-batches, timestamps as epoch micros
_SESSION_STATE = "start_us LONG, last_us LONG, n_turns INT, n_keep INT, n_det INT"


def sessionize_conversations(
    scrubbed: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): conversation
    sessionization with idle-gap splitting.

    Per conv_id the state holds the open session's (start, last-activity,
    counters).  A session is emitted when (a) a new turn arrives more than
    ``gap_minutes`` after the last one -- the gap splits the conversation --
    or (b) the event-time watermark passes last-activity + gap
    (``EventTimeTimeout``), flushing idle conversations without waiting for
    their next turn.  State is therefore bounded by the number of
    *currently active* conversations, not the corpus -- the property that
    matters at 10^12-turn scale.  The checkpoint persists state across
    restarts (test: two availableNow runs against one checkpoint)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def fn(key, pdfs, state: GroupState):
        (conv_id,) = key
        closed: list[tuple] = []

        def close(st):
            closed.append((
                conv_id,
                pd.Timestamp(st[0], unit="us"),
                pd.Timestamp(st[1], unit="us"),
                st[2], st[3], st[4]))

        if state.hasTimedOut:
            if state.exists:
                close(list(state.get))
                state.remove()
        else:
            st = list(state.get) if state.exists else None
            # concatenate BEFORE sorting: a group larger than the Arrow
            # batch size arrives as multiple chunks, and chunk-local sorts
            # would process turns out of event-time order across chunks
            chunks = list(pdfs)
            batch = pd.concat(chunks) if chunks else None
            if batch is not None and len(batch):
                batch = batch.sort_values("ts")
                for ts, keep, ndet in zip(batch["ts"], batch["keep"],
                                          batch["n_detections"]):
                    t = pd.Timestamp(ts).value // 1000  # ns -> us
                    if st is None:
                        st = [t, t, 0, 0, 0]
                    elif t - st[1] > gap_us:
                        close(st)
                        st = [t, t, 0, 0, 0]
                    st[1] = max(st[1], t)
                    st[2] += 1
                    st[3] += int(bool(keep))
                    st[4] += int(ndet)
            if st is not None:
                state.update(tuple(st))
                # flush when the watermark passes last-activity + gap
                state.setTimeoutTimestamp((st[1] + gap_us) // 1000)  # ms
        if closed:
            yield pd.DataFrame(closed, columns=[f.name for f in
                                                SESSION_OUTPUT.fields])

    return (scrubbed
            .withWatermark("ts", watermark)
            .groupBy("conv_id")
            .applyInPandasWithState(
                fn, SESSION_OUTPUT, _SESSION_STATE, "append",
                GroupStateTimeout.EventTimeTimeout))


def start_scrub_sink(
    scrubbed: DataFrame, output_dir: str, checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once parquet sink.  ``available_now`` drains the current
    backlog then stops -- the pattern for incremental backfills."""
    writer = (scrubbed.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
