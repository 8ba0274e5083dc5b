"""Repetition signals for quality filtering (the Gopher/MassiveText rules).

Reference anchor: the reference's quality heuristics are length/density
ratios over parsed files (``src/app/RedactPro.tsx:1124-1539`` sparse-page
and text-density checks; re-expressed in ``functions/quality.py``), plus a
distinct-trigram repetition screen (``functions/quality.py:395``).  This
module adds the *web-scale corpus* repetition battery those heuristics do
not cover -- the filter set from Gopher (Rae et al. 2021, "Scaling
Language Models", Table A1) and MassiveText: duplicate line / paragraph
fractions and top/duplicate word-n-gram character fractions, used by
essentially every LLM data pipeline to kill boilerplate, templated spam
and stuck-generation loops.

All metrics are PER-DOCUMENT and are computed in one vectorized Arrow
batch kernel (r7; the "vectorized per-batch metric kernel" section
below has the design history and exactness contract), per document:

* ``dup_line_frac`` / ``dup_para_frac`` -- fraction of lines (paragraphs)
  whose exact text occurs more than once in the document, occurrence-
  weighted: a line appearing 3x contributes 3 to the numerator.
* ``dup_line_char_frac`` / ``dup_para_char_frac`` -- same, weighted by
  unit character length over the total characters across units.
* ``top{n}_char_frac`` (n = 2..4) -- characters covered by occurrences
  of the single most frequent word n-gram, over ``length(text)``; 0.0
  when the most frequent gram occurs only once (a single occurrence is
  not repetition -- without this guard every short document's one
  4-gram covers a large fraction and the Gopher thresholds would drop
  ordinary prose; the standard reimplementations skip that case too).
  Ties on count break to the lexicographically smallest gram (binary
  collation in both engines) so the metric is deterministic.
* ``dup{n}_char_frac`` (n = 5..10) -- characters covered by all
  occurrences of word n-grams that occur more than once, over
  ``length(text)``, capped at 1.0.  NOTE: occurrences of overlapping
  duplicated grams are counted independently (then capped), not merged
  into character spans as Gopher's exact definition does -- span-merge
  needs per-position state; this proxy is monotone in the same signal,
  cross-engine exact, and stays a pure aggregation.

Tokens are split on the explicit ASCII whitespace class
``[ \\t\\n\\r\\f\\x0B]+`` -- NOT ``str.split`` / ``\\s`` semantics, which
differ between JVM, Python and DuckDB on U+3000/Unicode spaces (the same
trap documented in ``operators/decontaminate.py``).  A gram's character
length counts its tokens joined by single spaces, as written in Gopher.

Scale shape (r7): every counter is row-local, so the batch operator is
one fan-out-repaired scan + one Arrow-vectorized pass -- ZERO corpus
shuffles, no windows over the corpus, no driver collects; memory is
O(batch tokens), bounded by the Arrow batch size.  (The pre-r7 shape --
one explode + ``groupBy(doc, unit)`` per metric -- was map-side
combinable but paid 11 corpus-wide exchanges for per-document
counters.)
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# explicit ASCII whitespace: identical semantics in Java regex, DuckDB
# RE2 and Python re (\x0B spelled out -- Java reads \v as a class)
WS_CLASS = r"[ \t\n\r\f\x0B]+"
LINE_SPLIT = r"\n"
PARA_SPLIT = r"\n{2,}"

TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)

#: Gopher Table A1 thresholds -- a doc breaching ANY is dropped.
GOPHER_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top2_char_frac": 0.20,
    "top3_char_frac": 0.18,
    "top4_char_frac": 0.16,
    "dup5_char_frac": 0.15,
    "dup6_char_frac": 0.14,
    "dup7_char_frac": 0.13,
    "dup8_char_frac": 0.12,
    "dup9_char_frac": 0.11,
    "dup10_char_frac": 0.10,
}


# ─── vectorized per-batch metric kernel (r7 optimization) ───
#
# Every metric in this module is PER-DOCUMENT, so nothing about it needs
# a shuffle.  Two earlier shapes were measured at sf1.0 and rejected:
# the original explode + groupBy formulation paid 11 corpus-wide
# exchanges (+ 11 joins) for per-document counters (~15 s), and a
# Catalyst rewrite over sorted arrays with ``aggregate`` folds removed
# the exchanges but ran interpreted per element (~13 s -- higher-order
# functions do not codegen).  The shipped kernel hands each Arrow batch
# to numpy (optimization-guide §4.2): tokens are hashed once with the
# shared vectorized polynomial (splitmix64-finalized, the same scheme
# the word-shingle decontamination UDF uses), every gram size is a
# k-pass rolling combine over the token-hash array, and duplicate
# counting is one lexsort + run-length pass per size (~2 s, zero
# Exchange).  Counter values stay exact integers; divisions and the
# HALF_UP rounding replicate ``F.round(x, 6)`` via the same Decimal
# quantize the streaming kernel uses, so results are bit-identical.
# Gram identity is the 64-bit mixed hash: two different grams colliding
# could in principle perturb a count -- the same risk class every
# hash-keyed operator in this repo accepts (and the lexicographic
# tie-break for the top gram is still decided on the REAL strings of
# the tied candidates, reconstructed only for ties).


def _r6(x: float) -> float:
    """EXACT ``F.round(x, 6)`` replica.  Spark's Round on doubles is
    ``BigDecimal.valueOf(d)`` = HALF_UP over the SHORTEST decimal
    representation (``Double.toString``), which Python's ``repr`` also
    produces -- so the replica must quantize ``Decimal(repr(x))``.
    Quantizing the exact binary expansion ``Decimal(x)`` instead
    diverges on values like 3/640 whose shortest repr is a decimal
    midpoint while the underlying double sits just below it (verified
    against Spark 4.1); the ``round`` builtin is banker's and diverges
    at representable midpoints like 1/128.  ``float(x)`` first: under
    numpy >= 2 ``repr(np.float64(x))`` reads ``np.float64(...)``, which
    ``Decimal`` rejects."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"),
                                                  rounding=ROUND_HALF_UP))


def metric_names(top_ns: tuple[int, ...],
                 dup_ns: tuple[int, ...]) -> list[str]:
    return (["dup_line_frac", "dup_line_char_frac",
             "dup_para_frac", "dup_para_char_frac"]
            + [f"top{n}_char_frac" for n in top_ns]
            + [f"dup{n}_char_frac" for n in dup_ns])


def make_repetition_stats_udf(top_ns: tuple[int, ...] = TOP_NS,
                              dup_ns: tuple[int, ...] = DUP_NS):
    """Series[str] -> struct of the repetition metrics, batch-vectorized
    (module-section comment above has the full design rationale)."""
    import re as _re

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from .decontaminate import _HASH_BASE, _hash_windows, _mix64

    names = metric_names(top_ns, dup_ns)
    schema = ", ".join(f"{nm}: double" for nm in names)
    line_re = _re.compile(LINE_SPLIT)
    para_re = _re.compile(PARA_SPLIT)
    ws_re = _re.compile(WS_CLASS)
    gram_sizes = tuple(sorted(set(top_ns) | set(dup_ns)))
    top_set, dup_set = set(top_ns), set(dup_ns)

    @pandas_udf(f"struct<{schema}>")
    def repetition_metrics(texts: pd.Series) -> pd.DataFrame:
        from collections import Counter

        n = len(texts)
        cols = {nm: np.zeros(n, dtype=np.float64) for nm in names}
        if n == 0:
            return pd.DataFrame(cols)
        tl = texts.fillna("").tolist()
        total = np.fromiter((len(t) for t in tl), np.int64, count=n)

        # line/paragraph duplicate fractions: units per doc are few, so
        # a per-row Counter (the proven streaming kernel's shape) is
        # cheaper than any batch machinery
        for prefix, rex in (("dup_line", line_re), ("dup_para", para_re)):
            fr = cols[f"{prefix}_frac"]
            cf = cols[f"{prefix}_char_frac"]
            for i, t in enumerate(tl):
                units = [u for u in rex.split(t) if u]
                if not units:
                    continue
                c = Counter(units)
                nd = chd = ch = 0
                for u, v in c.items():
                    ln = v * len(u)
                    ch += ln
                    if v >= 2:
                        nd += v
                        chd += ln
                fr[i] = _r6(nd / len(units))
                cf[i] = _r6(chd / ch) if ch else 0.0

        tok_lists = [[x for x in ws_re.split(t) if x] for t in tl]
        n_toks = np.fromiter((len(x) for x in tok_lists), np.int64,
                             count=n)
        flat = [tok for tlst in tok_lists for tok in tlst]
        if not flat:
            return pd.DataFrame(cols)
        tokh = _mix64(_hash_windows(flat))
        tok_lens = np.fromiter((len(t) for t in flat), np.int64,
                               count=len(flat))
        cum = np.concatenate([[0], np.cumsum(tok_lens)])
        row_of = np.repeat(np.arange(n), n_toks)

        for g in gram_sizes:
            W = len(tokh) - g + 1
            if W <= 0:
                continue
            acc = np.zeros(W, dtype=np.uint64)
            for j in range(g):  # one fused vector chain per pass
                acc = acc * _HASH_BASE + tokh[j:j + W]
            valid = row_of[:W] == row_of[g - 1:g - 1 + W]
            gv, rv = acc[valid], row_of[:W][valid]
            iv = np.nonzero(valid)[0]  # window start, global token idx
            # gram char length: its tokens + (g-1) joining spaces
            glen = (cum[iv + g] - cum[iv]) + (g - 1)
            order = np.lexsort((gv, rv))
            gs, rs = gv[order], rv[order]
            newrun = np.ones(len(gs), dtype=bool)
            if len(gs) > 1:
                newrun[1:] = (rs[1:] != rs[:-1]) | (gs[1:] != gs[:-1])
            run_id = np.cumsum(newrun) - 1
            counts = np.bincount(run_id)
            starts = np.nonzero(newrun)[0]
            run_row = rs[starts]
            run_len = glen[order][starts]
            run_pos = iv[order][starts]
            if g in dup_set:
                m = counts >= 2
                dch = np.bincount(
                    run_row[m],
                    weights=(counts[m] * run_len[m]).astype(np.float64),
                    minlength=n)  # exact: integer-valued < 2^53
                col = cols[f"dup{g}_char_frac"]
                for i in np.nonzero((total > 0) & (dch > 0))[0]:
                    col[i] = _r6(min(1.0, dch[i] / total[i]))
            if g in top_set:
                max_count = np.zeros(n, dtype=np.int64)
                np.maximum.at(max_count, run_row, counts)
                cand = (counts >= 2) & (counts == max_count[run_row])
                c_rows = run_row[cand]
                c_len = run_len[cand]
                c_pos = run_pos[cand]
                o2 = np.argsort(c_rows, kind="stable")
                c_rows, c_len, c_pos = c_rows[o2], c_len[o2], c_pos[o2]
                col = cols[f"top{g}_char_frac"]
                k = 0
                while k < len(c_rows):
                    k2 = k
                    while k2 < len(c_rows) and c_rows[k2] == c_rows[k]:
                        k2 += 1
                    i = int(c_rows[k])
                    if total[i] > 0:
                        if k2 - k == 1:
                            ln = int(c_len[k])
                        else:
                            # tie on count: the REAL lexicographically
                            # smallest gram string decides (code-point
                            # order == binary UTF-8 order)
                            best = None
                            ln = 0
                            for idx in range(k, k2):
                                s = " ".join(
                                    flat[int(c_pos[idx]):
                                         int(c_pos[idx]) + g])
                                if best is None or s < best:
                                    best, ln = s, len(s)
                        col[i] = _r6(min(
                            1.0, (int(max_count[i]) * ln) / total[i]))
                    k = k2
        return pd.DataFrame(cols)

    return repetition_metrics


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    top_ns: tuple[int, ...] = TOP_NS,
    dup_ns: tuple[int, ...] = DUP_NS,
) -> DataFrame:
    """Per-document repetition metrics (module docstring has the exact
    definitions).  Returns one row per input row: ``id_cols`` + the
    metric columns, fractions rounded to 6 -- every metric is a single
    division of exact integer counters, so the values are bit-identical
    across engines and partitionings.

    ``id_cols`` must uniquely key ``df`` (like the index/sampling
    operators, duplicate keys would merge two documents' counters).

    Execution shape (r7 optimization): one vectorized Arrow pass per
    batch (:func:`make_repetition_stats_udf`) over a fan-out-repaired
    scan -- the plan has no Exchange at all, where the previous explode
    + groupBy formulation paid 11 corpus-wide shuffles and 11 joins for
    per-document metrics."""
    if id_cols is None:
        id_cols = ["doc_id"]
    for g in (*top_ns, *dup_ns):
        if g < 2:
            raise ValueError(f"n-gram sizes must be >= 2, got {g}")
    from ..parallel import fan_out

    udf = make_repetition_stats_udf(tuple(top_ns), tuple(dup_ns))
    names = metric_names(tuple(top_ns), tuple(dup_ns))
    out = fan_out(df).select(*id_cols, udf(F.col(text_col)).alias("_r"))
    return out.select(*id_cols,
                      *[F.col(f"_r.{nm}").alias(nm) for nm in names])


def repetition_keep_condition(
    stats_df: DataFrame,
    thresholds: dict[str, float] | None = None,
) -> Column:
    """Boolean keep column over a :func:`repetition_stats` frame: True
    when NO metric breaches its threshold (Gopher drops on any breach).
    ``thresholds`` defaults to :data:`GOPHER_THRESHOLDS`; keys must be
    metric columns present in ``stats_df``."""
    if thresholds is None:
        thresholds = GOPHER_THRESHOLDS
    missing = [k for k in thresholds if k not in stats_df.columns]
    if missing:
        raise ValueError(
            f"thresholds reference metrics not in the stats frame: "
            f"{missing}; computed: "
            f"{[c for c in stats_df.columns if c.endswith('_frac')]}")
    cond = F.lit(True)
    for k, v in sorted(thresholds.items()):
        cond = cond & (F.col(k) <= F.lit(float(v)))
    return cond


def _keep_gram_sizes(
    thresholds: dict[str, float],
) -> tuple[tuple[int, ...], tuple[int, ...]]:
    """:func:`threshold_gram_sizes`, rejecting gram sizes below 2 and
    metric names outside the battery."""
    top_ns, dup_ns = threshold_gram_sizes(thresholds)
    for g in (*top_ns, *dup_ns):
        if g < 2:
            raise ValueError(f"n-gram sizes must be >= 2, got {g}")
    names = metric_names(top_ns, dup_ns)
    unknown = [k for k in thresholds if k not in names]
    if unknown:
        raise ValueError(
            f"unknown repetition metrics: {unknown} (not in the stats "
            f"frame; computed: {names})")
    return top_ns, dup_ns


def repetition_keep_col(text: Column,
                        thresholds: dict[str, float] | None = None,
                        ) -> Column:
    """Row-local, non-NULL keep Column over ``text``: True when NO
    metric breaches its threshold (Gopher drops on any breach).

    The batch Arrow kernel (:func:`make_repetition_stats_udf`, only the
    gram sizes the thresholds need) read as a struct -- no stats frame,
    no key join, so the input needs no unique key.  One UDF call per
    row: Spark extracts semantically equal Python UDF calls of one
    operator once.  ``run_pipeline``'s repetition gate,
    :func:`repetition_filter` and the streaming twin
    (:func:`make_repetition_keep_udf`) all build on it."""
    if thresholds is None:
        thresholds = GOPHER_THRESHOLDS
    r = make_repetition_stats_udf(*_keep_gram_sizes(thresholds))(text)
    cond = F.lit(True)
    for k, v in sorted(thresholds.items()):
        cond = cond & (r[k] <= F.lit(float(v)))
    return cond


def make_repetition_keep_udf(thresholds: dict[str, float] | None = None):
    """``text Column -> keep Column`` for the streaming path: the batch
    gate itself (:func:`repetition_keep_col`), so the stream is stateless
    and its drop decisions equal the batch's by construction.  Unknown
    metric names raise here, before any Column is built."""
    thr = dict(GOPHER_THRESHOLDS if thresholds is None else thresholds)
    _keep_gram_sizes(thr)
    return lambda text: repetition_keep_col(text, thr)


def threshold_gram_sizes(
    thresholds: dict[str, float],
) -> tuple[tuple[int, ...], tuple[int, ...]]:
    """The ``(top_ns, dup_ns)`` gram sizes a threshold set needs --
    :func:`repetition_stats` then computes only those (the line/
    paragraph metrics are always computed; they are cheap)."""
    top_ns = tuple(sorted(
        int(k[3:-10]) for k in thresholds
        if k.startswith("top") and k.endswith("_char_frac")))
    dup_ns = tuple(sorted(
        int(k[3:-10]) for k in thresholds
        if k.startswith("dup") and k.endswith("_char_frac")
        and not k.startswith("dup_")))
    return top_ns, dup_ns


def repetition_filter(
    df: DataFrame,
    text_col: str = "text",
    id_cols: list[str] | None = None,
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """Drop documents breaching any repetition threshold (Gopher rule).
    Returns ``df``'s rows (original columns) whose metrics all pass;
    computes only the metrics the thresholds need.  Row-local
    (:func:`repetition_keep_col` over a fan-out-repaired scan, like
    :func:`repetition_stats`), so the rows need no unique key;
    ``id_cols`` is accepted for compatibility and ignored."""
    from ..parallel import fan_out

    return fan_out(df).filter(repetition_keep_col(F.col(text_col),
                                                  thresholds))
