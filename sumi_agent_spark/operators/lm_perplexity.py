"""Unigram language-model perplexity scoring (the CCNet pattern).

Reference anchor: the reference's quality screens are static ratios
(``functions/quality.py``; reference heuristics at
``src/app/RedactPro.tsx:1124-1539``); its AI layer
(``src/app/api/ai/route.ts``) is the only *model-based* judgment and is
an external service.  This module adds the standard self-contained
model-based quality signal those lack, complementing the hashed-NB
classifier (:mod:`operators.quality_classifier`): CCNet
(Wenzek et al. 2020) ranks crawl text by the perplexity of a language
model trained on a clean reference corpus -- low perplexity means
"looks like the reference distribution".  Here the LM is a unigram
categorical model with add-alpha smoothing and an UNK bucket, which
keeps both training and scoring pure Spark aggregations:

* ``fit_unigram_lm`` -- one ``explode`` + ``groupBy(token)`` count over
  the reference corpus (map-side combinable, scales like a word
  count).  Vocabulary = tokens with ``count >= min_count``; rarer
  tokens fold into a single UNK bucket whose probability mass they
  contribute.  ``lp(t) = ln((c_t + alpha) / (N + alpha * (V + 1)))``
  with ``N`` = total reference tokens, ``V`` = vocabulary size; the
  ``+1`` is the UNK cell.  Only two scalars (N, V cutoff aggregates)
  reach the driver; the weight table stays distributed.
* ``score_perplexity`` -- explode + broadcast token join + one narrow
  groupBy: ``log_ppl = -(sum lp) / n_tokens`` (cross-entropy in nats;
  ``exp(log_ppl)`` is the perplexity).  Fully JVM-side, no UDFs.
  Token-less documents score NULL and are never dropped by the
  pipeline gate, like NULL text in the toxicity gate.

Tokenization is shared verbatim with the classifier
(``quality_classifier.token_col``: explicit ASCII whitespace class,
ASCII-only lowercase) so one tokenizer definition serves every
model-based gate, and a DuckDB auditor can recompute the whole model
live from the raw parquet (the ``lm_perplexity`` contract query does).

Scale shape: the weight table is one row per vocabulary token --
reference vocabularies at ``min_count >= 2`` are tens of MBs,
broadcastable; for a corpus-sized vocabulary raise ``min_count`` or
pass ``score_perplexity(..., broadcast=False)`` to let the planner
shuffle the token join instead.  Determinism: all
counts are exact ints, probabilities are one division + one ``ln``;
per-document sums of doubles carry summation-order slack, bridged by
``round(6)`` exactly like the classifier twin.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .index_store import commit_model
from .quality_classifier import token_col

DEFAULT_ALPHA = 1.0
DEFAULT_MIN_COUNT = 2

_META_DDL = ("alpha double, min_count long, n_tokens long, vocab_size long, "
             "unk_lp double")


def fit_unigram_lm(
    ref_df: DataFrame,
    text_col: str = "text",
    min_count: int = DEFAULT_MIN_COUNT,
    alpha: float = DEFAULT_ALPHA,
) -> dict:
    """Fit the smoothed unigram LM on a reference corpus (module
    docstring).  Returns ``{"weights": DataFrame(token, lp), "meta"}``.
    Raises on an empty/token-less reference (a model of nothing) and on
    non-positive ``alpha`` (zero probabilities would make ``ln``
    diverge)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    counts = (ref_df.select(
                  F.explode(token_col(F.col(text_col))).alias("token"))
              .groupBy("token").agg(F.count("*").alias("c")))
    s = counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n"),
        F.coalesce(F.sum((F.col("c") >= min_count).cast("long")),
                   F.lit(0)).alias("v"),
        F.coalesce(F.sum(F.when(F.col("c") < min_count, F.col("c"))
                         .otherwise(0)), F.lit(0)).alias("cu")).first()
    n, v, cu = int(s["n"]), int(s["v"]), int(s["cu"])
    if n == 0:
        raise ValueError(
            "reference corpus has no tokens; cannot fit a language model")
    import math
    denom = float(n) + float(alpha) * (float(v) + 1.0)
    unk_lp = math.log((float(cu) + float(alpha)) / denom)
    weights = (counts.filter(F.col("c") >= min_count)
               .select("token",
                       F.log((F.col("c").cast("double") + F.lit(float(alpha)))
                             / F.lit(denom)).alias("lp")))
    return {"weights": weights,
            "meta": {"alpha": float(alpha), "min_count": int(min_count),
                     "n_tokens": n, "vocab_size": v,
                     "unk_lp": float(unk_lp)}}


def score_perplexity(
    df: DataFrame,
    model: dict,
    id_cols: list[str],
    text_col: str = "text",
    output_col: str = "log_ppl",
    broadcast: bool = True,
) -> DataFrame:
    """Append per-row ``output_col`` = mean negative token log-prob in
    nats (NULL for token-less rows).  ``id_cols`` must uniquely key
    ``df`` (the per-row aggregate is joined back on them -- the same
    documented requirement as the classifier/sampling operators).

    ``broadcast=True`` (default) hints the weight table into a broadcast
    join -- right for reference-corpus vocabularies (tens of MBs).  Pass
    ``False`` for a corpus-sized vocabulary that would not fit a
    broadcast and let the planner shuffle the token join instead (the
    same escape hatch ``flag_benchmark_overlap`` exposes; values are
    identical either way)."""
    unk = float(model["meta"]["unk_lp"])
    weights = model["weights"]
    if broadcast:
        weights = F.broadcast(weights)
    toks = (df.select(*id_cols,
                      F.explode(token_col(F.col(text_col)))
                      .alias("token")))
    scored = (toks.join(weights, "token", "left")
              .groupBy(*id_cols)
              .agg(F.sum(F.coalesce(F.col("lp"), F.lit(unk))).alias("_s"),
                   F.count("*").alias("_n")))
    return (df.join(scored, id_cols, "left")
            .withColumn(output_col,
                        F.round(-(F.col("_s") / F.col("_n")), 6))
            .drop("_s", "_n"))


def write_unigram_lm(spark: SparkSession, model: dict,
                     path: str) -> None:
    """Persist the model: ``weights/`` parquet + one-row ``meta/``,
    weights first, meta LAST as the commit marker -- the same commit as
    the classifier (:func:`index_store.commit_model`)."""
    commit_model(spark, path, model["weights"], model["meta"], _META_DDL,
                 "language model")


def read_unigram_lm(spark: SparkSession, path: str) -> dict:
    meta = spark.read.parquet(f"{path}/meta").first().asDict()
    meta["min_count"] = int(meta["min_count"])
    meta["n_tokens"] = int(meta["n_tokens"])
    meta["vocab_size"] = int(meta["vocab_size"])
    return {"weights": spark.read.parquet(f"{path}/weights"),
            "meta": meta}
