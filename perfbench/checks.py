"""Output checks for one ``run_pipeline`` call.

Each check returns a list of failure strings; an empty list means the call's
output is correct.  They read the written parquet with pyarrow in the worker
process (no Spark job), after the timed region.
"""

from __future__ import annotations

import glob
import os
import re

import pandas as pd
import pyarrow.parquet as pq

from sumi_agent_spark.functions.oracle import scrub_text
from sumi_agent_spark.operators.toxicity import MILD_RE, SEVERE_RE

from workloads import TOXIC_ABOVE, norm_text

_SEVERE = re.compile(SEVERE_RE)
_MILD = re.compile(MILD_RE)
_JAVA_TOKEN = re.compile(r"[^ \t\n\x0B\f\r]+")  # Java's ASCII \S+


def toxicity_score(text: str) -> float:
    """``operators.toxicity.toxicity_score_col`` for one string."""
    low = text.lower()
    score = ((2.0 * len(_SEVERE.findall(low)) + len(_MILD.findall(low)))
             / max(len(_JAVA_TOKEN.findall(text)), 4.0))
    return min(score, 1.0)


def read_output(out: str) -> pd.DataFrame:
    """Data files in write order (part number order)."""
    files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    if not files:
        return pd.DataFrame(columns=["conv_id", "turn_idx", "text",
                                     "masked_text"])
    return pd.concat([pq.read_table(f).to_pandas() for f in files],
                     ignore_index=True)


def read_sidecar(out: str, name: str) -> pd.DataFrame | None:
    path = os.path.join(out, name)
    if not os.path.isdir(path):
        return None
    return pq.read_table(path).to_pandas()


def _keys(df: pd.DataFrame) -> set:
    return set(zip(df["conv_id"], df["turn_idx"].astype(int)))


def check_scrub(written: pd.DataFrame) -> list[str]:
    """Every written row is masked exactly as the reference oracle, and the
    output is totally ordered by (conv_id, turn_idx)."""
    fails = []
    bad = sum(1 for t, m in zip(written["text"], written["masked_text"])
              if scrub_text(t or "")[0] != m)
    if bad:
        fails.append(f"{bad} rows' masked_text differ from oracle.scrub_text")
    keys = list(zip(written["conv_id"], written["turn_idx"]))
    if any(a >= b for a, b in zip(keys, keys[1:])):
        fails.append("output is not strictly ordered by (conv_id, turn_idx)")
    return fails


def _guard(out: str, n_written: int) -> tuple[int, list[str]]:
    g = read_sidecar(out, "_lineage_guards")
    if g is None or len(g) != 1:
        return -1, ["missing or repeated _lineage_guards row"]
    rows_in, rows_out = int(g["rows_in"].iat[0]), int(g["rows_out"].iat[0])
    if not rows_in == rows_out == n_written:
        return rows_in, [f"scrub stage rows_in {rows_in}, rows_out "
                         f"{rows_out}, written {n_written} disagree"]
    return rows_in, []


def check_bulk(inp: pd.DataFrame, out: str) -> list[str]:
    written = read_output(out)
    _, fails = _guard(out, len(written))
    if _keys(written) != _keys(inp):
        fails.append("written keys differ from input keys")
    return fails + check_scrub(written)


def _dropped(out: str, sidecar: str) -> int:
    s = read_sidecar(out, sidecar)
    return -1 if s is None else int(s["n_dropped"].sum())


def check_gated(inp: pd.DataFrame, out: str, planted: dict) -> list[str]:
    """Gate-by-gate accounting, ``rows_in - dropped = rows_out``, from the
    run's own sidecars plus exact replicas of the two gates that write
    none (exact dedup, toxicity); planted rows must all be gone."""
    fails = []
    written = read_output(out)
    wkeys = _keys(written)

    # exact dedup: first (conv_id, turn_idx) per normalized text survives
    srt = inp.sort_values(["conv_id", "turn_idx"])
    s1 = srt[~srt["text"].map(norm_text).duplicated()]
    # conversation near-dedup: the run's persisted drop set
    nd = read_sidecar(out, "_neardup_drops")
    near_convs = set() if nd is None else set(nd["conv_id"])
    if len(near_convs) != _dropped(out, "_lineage_neardup"):
        fails.append("_neardup_drops disagrees with _lineage_neardup")
    s2 = s1[~s1["conv_id"].isin(near_convs)]
    # toxicity runs after decontamination; scoring s2 is exact because no
    # planted toxic turn quotes the eval set and no other turn is toxic
    n_toxic = int((s2["text"].map(toxicity_score) > TOXIC_ABOVE).sum())
    gates = [("exact_dedup", len(inp), len(inp) - len(s1)),
             ("near_dedup_conversations", len(s1), len(s1) - len(s2))]
    rows = len(s2)
    for gate, dropped in (
            ("decontaminate", _dropped(out, "_lineage_decontam")),
            ("toxicity", n_toxic),
            ("gopher_quality", _dropped(out, "_lineage_docquality")),
            ("repetition", _dropped(out, "_lineage_repetition"))):
        if dropped < 0:
            fails.append(f"{gate}: lineage sidecar missing")
        gates.append((gate, rows, dropped))
        rows -= dropped
    rows_in, g_fails = _guard(out, len(written))
    fails += g_fails
    if rows != rows_in:
        fails.append(f"gate accounting: {gates} leaves {rows} rows, the "
                     f"scrub stage saw {rows_in}")
    if not wkeys <= _keys(s2):
        fails.append("written rows include exact or near duplicates")
    for kind in ("exact", "contaminated"):
        left = {tuple(k) for k in planted[kind]} & wkeys
        if left:
            fails.append(f"{len(left)} planted {kind} rows were written")
    if set(planted["near_convs"]) & set(written["conv_id"]):
        fails.append("a planted near-copied conversation was written")
    return fails + check_scrub(written)
