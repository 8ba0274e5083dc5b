"""Model-based quality filtering: a hashed Naive-Bayes text classifier.

The heuristic quality scores (``functions/quality.py``) catch structural
junk -- length, mojibake, repetition.  What they cannot catch is fluent
boilerplate: text that is well-formed but not the *kind* of text a
training mix wants.  Web-scale pipelines solve that with a model-based
quality filter -- GPT-3 and PaLM filter Common Crawl with a linear
classifier trained on a high-quality reference corpus vs. raw crawl
(GPT-3 appendix A; CCNet does the same with fastText).  This module is
that filter, built Spark-first:

* **Features** = word unigrams (optionally + adjacent bigrams, the
  fastText ``wordNgrams=2`` convention), hashed into ``dim`` buckets.
* **Model** = multinomial Naive Bayes log-odds: per-bucket weight
  ``ln P(b|pos) - ln P(b|neg)`` with add-``alpha`` smoothing, plus a
  class prior.  Training is TWO pure Spark aggregations (explode ->
  groupBy bucket, count per class) -- map-side combining, one shuffle,
  no Python, no iterative solver; it scales to a 100 TB labeled corpus
  exactly as far as a word count does.
* **Scoring** is fully JVM-side: explode tokens, broadcast-join the
  (<= ``dim``-row) weight table, per-doc sum -- no Python UDF anywhere,
  so the whole path stays inside WholeStageCodegen + one broadcast
  hash join + one narrow groupBy shuffle on the document key.

Determinism contract (the reason every choice below looks pedantic):

* Tokenization splits on the EXPLICIT class ``[ \\t\\n\\r\\f\\x0B]+``.
  NOT ``\\v``: Java regex reads ``\\v`` as the vertical-whitespace
  CLASS (``\\x85``, ``\\u2028``...) while RE2/Python read it as the
  vertical tab -- the one escape that silently desyncs JVM split from
  a DuckDB/Python auditor.  And NOT ``\\s``, which would split U+3000.
* Lowercasing is ASCII-only ``translate(A-Z -> a-z)``: full Unicode
  lowercase differs BETWEEN engines (JVM maps U+0130 to ``i`` +
  combining dot, utf8proc maps it to bare ``i``), which would change
  md5 feature hashes.  ASCII translate is a pure codepoint map with
  identical semantics everywhere.
* The feature hash is the md5 60-bit-prefix trick shared with
  ``operators/sampling.py``: md5 is bit-identical across engines
  (xxhash64 is not), and 15 hex digits parse exactly into a BIGINT in
  both Spark (``conv``) and DuckDB (``('0x'||h)::BIGINT``).

Labels come from the caller (a reference corpus vs. a crawl sample, or
any deterministic split); the pipeline consumes a *persisted* model via
``run_pipeline(quality_model_path=, quality_min_score=)``.
"""

from __future__ import annotations

import math
import string

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .index_store import commit_model

# Explicit ASCII whitespace class -- see module docstring for why not
# \v and not \s.  Kept as a raw string so the backslashes reach the
# regex engine (Java or RE2) unprocessed.
TOKEN_WS_CLASS = r"[ \t\n\r\f\x0B]+"

_ASCII_UPPER = string.ascii_uppercase
_ASCII_LOWER = string.ascii_lowercase

# 60-bit md5 prefix (15 hex digits) -- same geometry as sampling.py's
# threshold compare; fits a signed 64-bit integer with headroom.
_PREFIX_DIGITS = 15

DEFAULT_DIM = 1 << 20  # ~16 MB of weights -- comfortably broadcastable
DEFAULT_ALPHA = 1.0


def token_col(text: Column) -> Column:
    """``array<string>`` of non-empty, ASCII-lowercased word tokens."""
    low = F.translate(F.coalesce(text, F.lit("")),
                      _ASCII_UPPER, _ASCII_LOWER)
    arr = F.split(low, TOKEN_WS_CLASS)
    return F.filter(arr, lambda t: t != F.lit(""))


def feature_col(text: Column, ngram: int = 1) -> Column:
    """Token features: unigrams, plus space-joined adjacent bigrams when
    ``ngram=2`` (fastText's ``wordNgrams`` convention -- lower orders
    are always included).  A bigram feature cannot collide with a
    unigram: unigram tokens contain no spaces by construction."""
    toks = token_col(text)
    if ngram == 1:
        return toks
    if ngram != 2:
        raise ValueError(f"ngram must be 1 or 2, got {ngram}")
    n = F.size(toks)
    bigrams = F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def bucket_col(token: Column, dim: int) -> Column:
    """Feature hash: 60-bit md5 prefix mod ``dim`` (cross-engine exact;
    a DuckDB auditor recomputes it as
    ``('0x' || substr(md5(t), 1, 15))::BIGINT % dim``)."""
    return (F.conv(F.substring(F.md5(token), 1, _PREFIX_DIGITS), 16, 10)
            .cast("long") % F.lit(int(dim)))


def fit_quality_classifier(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str = "text",
    dim: int = DEFAULT_DIM,
    alpha: float = DEFAULT_ALPHA,
    ngram: int = 1,
    normalize: bool = True,
) -> dict:
    """Train the hashed-NB quality model from a positive (reference
    corpus) and a negative (raw crawl) sample.

    Returns ``{"weights": DataFrame(b: long, weight: double),
    "meta": {...}}``.  ``weights`` holds only buckets SEEN in training
    (<= ``dim`` rows); unseen buckets take the smoothed default
    ``meta["w0"]`` at scoring time.  Training is one explode + one
    groupBy-bucket aggregation; only four scalar totals reach the
    driver.  The input frames need no key columns and may contain
    duplicates -- every row is a training example.
    """
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    labeled = (
        pos.select(feature_col(F.col(text_col), ngram).alias("toks"),
                   F.lit(1).alias("y"))
        .unionByName(
            neg.select(feature_col(F.col(text_col), ngram).alias("toks"),
                       F.lit(0).alias("y")))
    )
    counts = (
        labeled.select(F.explode("toks").alias("tok"), "y")
        .select(bucket_col(F.col("tok"), dim).alias("b"), "y")
        .groupBy("b")
        .agg(F.sum("y").alias("pos_c"),
             F.sum(1 - F.col("y")).alias("neg_c"))
    )
    # One tiny action for the four totals; doc counts ride along so the
    # caller's frames are each scanned once more at most.
    tot = counts.agg(F.sum("pos_c").alias("pt"),
                     F.sum("neg_c").alias("nt")).first()
    pos_tokens = int(tot["pt"] or 0)
    neg_tokens = int(tot["nt"] or 0)
    n_pos_docs = pos.count()
    n_neg_docs = neg.count()
    if pos_tokens == 0 or neg_tokens == 0:
        raise ValueError(
            "both classes need at least one token "
            f"(pos_tokens={pos_tokens}, neg_tokens={neg_tokens})")
    pos_denom = float(pos_tokens) + alpha * dim
    neg_denom = float(neg_tokens) + alpha * dim
    weights = counts.select(
        "b",
        (F.log((F.col("pos_c") + F.lit(float(alpha))) / F.lit(pos_denom))
         - F.log((F.col("neg_c") + F.lit(float(alpha))) / F.lit(neg_denom))
         ).alias("weight"),
    )
    # Default weight for buckets unseen in training: both counts zero.
    w0 = math.log(alpha / pos_denom) - math.log(alpha / neg_denom)
    prior = math.log(float(n_pos_docs) / float(n_neg_docs))
    meta = {
        "dim": int(dim),
        "alpha": float(alpha),
        "ngram": int(ngram),
        "normalize": bool(normalize),
        "prior": float(prior),
        "w0": float(w0),
        "pos_tokens": pos_tokens,
        "neg_tokens": neg_tokens,
        "n_pos_docs": int(n_pos_docs),
        "n_neg_docs": int(n_neg_docs),
    }
    return {"weights": weights, "meta": meta}


def score_quality_classifier(
    df: DataFrame,
    model: dict,
    id_cols: list[str],
    text_col: str = "text",
    output_col: str = "quality_clf_score",
    broadcast: bool = True,
) -> DataFrame:
    """Attach the classifier score to ``df`` (all columns preserved).

    ``score = prior + mean(token weights)`` when the model was fit with
    ``normalize=True`` (the CCNet convention -- length-invariant, so a
    long document is not "higher quality" just by repeating itself), or
    ``prior + sum(token weights)`` otherwise.  A zero-token document
    scores exactly ``prior``.  NULL text counts as empty, never drops.

    ``id_cols`` must uniquely key ``df`` (same documented requirement as
    the index/sampling operators): the per-document token aggregate is
    joined back on them.  The weight table is broadcast by default
    (<= ``dim`` rows, a few MB at the default geometry); pass
    ``broadcast=False`` for an unusually large ``dim`` and let the join
    shuffle on the bucket key instead.
    """
    meta = model["meta"]
    weights = model["weights"]
    if broadcast:
        weights = F.broadcast(weights)
    toks = df.select(
        *id_cols,
        F.explode(feature_col(F.col(text_col), meta["ngram"])).alias("tok"))
    per_doc = (
        toks.select(*id_cols, bucket_col(F.col("tok"), meta["dim"]).alias("b"))
        .join(weights, "b", "left")
        .groupBy(*id_cols)
        .agg(F.sum(F.coalesce(F.col("weight"),
                              F.lit(float(meta["w0"])))).alias("_wsum"),
             F.count(F.lit(1)).alias("_ntok"))
    )
    if meta["normalize"]:
        contrib = F.col("_wsum") / F.col("_ntok")
    else:
        contrib = F.col("_wsum")
    score = F.lit(float(meta["prior"])) + F.coalesce(contrib, F.lit(0.0))
    return (df.join(per_doc, id_cols, "left")
            .withColumn(output_col, score)
            .drop("_wsum", "_ntok"))


def quality_score_expr(model: dict, text: Column) -> Column:
    """Self-contained scoring EXPRESSION for models whose weight table
    fits in a plan literal -- the streaming path, where a broadcast join
    against a static frame would work but a pure column expression keeps
    the query stateless and join-free.

    Builds a ``map<long,double>`` literal from the collected weights and
    folds the token array through it with ``aggregate`` -- one codegen
    expression, no shuffle, no state.  Refuses models with more than
    ``500_000`` seen buckets (the literal would bloat the plan); batch
    scoring via :func:`score_quality_classifier` has no such limit.
    """
    meta = model["meta"]
    rows = model["weights"].collect()
    if len(rows) > 500_000:
        raise ValueError(
            f"model has {len(rows)} seen buckets; too large for a plan "
            "literal -- use score_quality_classifier (join path) instead")
    pairs = []
    for r in rows:
        pairs.append(F.lit(int(r["b"])))
        pairs.append(F.lit(float(r["weight"])))
    wmap = F.create_map(*pairs) if pairs else F.create_map().cast(
        "map<bigint,double>")
    toks = feature_col(text, meta["ngram"])
    w0 = F.lit(float(meta["w0"]))
    wsum = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.coalesce(
            F.element_at(wmap, bucket_col(t, meta["dim"])), w0),
    )
    n = F.size(toks)
    contrib = F.when(n > 0,
                     (wsum / n) if meta["normalize"] else wsum
                     ).otherwise(F.lit(0.0))
    return F.lit(float(meta["prior"])) + contrib


_META_DDL = ("dim long, alpha double, ngram long, normalize boolean, "
             "prior double, w0 double, pos_tokens long, neg_tokens long, "
             "n_pos_docs long, n_neg_docs long")


def write_quality_model(spark: SparkSession, model: dict,
                        path: str) -> None:
    """Persist the model: ``weights/`` parquet + a one-row ``meta/``,
    weights FIRST, meta LAST as the commit marker
    (:func:`index_store.commit_model`: marker-based existence, torn-meta
    recovery, transient FS errors propagate)."""
    commit_model(spark, path, model["weights"], model["meta"], _META_DDL,
                 "quality model")


def read_quality_model(spark: SparkSession, path: str) -> dict:
    meta = spark.read.parquet(f"{path}/meta").first().asDict()
    meta["dim"] = int(meta["dim"])
    meta["ngram"] = int(meta["ngram"])
    meta["normalize"] = bool(meta["normalize"])
    return {"weights": spark.read.parquet(f"{path}/weights"), "meta": meta}
