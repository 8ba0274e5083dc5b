"""Seeded inputs for the benchmark workloads.

Every workload starts from ``sources.transcripts.generate_transcripts`` and
then plants the rows its gates must act on.  The same ``(workload, seed,
cores)`` always yields byte-identical parquet inputs, and the planted keys
are returned in a manifest so the output checks can find them again.

* ``bulk_scrub``: the generator's hot-conversation skew plus ~5% multi-KB
  agent/tool turns, split into ``2 * cores`` equal parquet files.
* ``gated_slice``: one file with planted exact copies, one-token edits,
  near-copied conversations, contaminated turns (against a planted eval
  set whose text appears nowhere in the generator's pools) and a few
  toxic turns.

Each workload also carries an eval set, so the traced run can time the
decontamination layer on either input.
"""

from __future__ import annotations

import os
import random
import re

import pandas as pd

from sumi_agent_spark.sources.transcripts import generate_transcripts

WORKLOADS = ("bulk_scrub", "gated_slice")

# Base turns per workload, cut from the generator's output so every seed
# has the same size (near-copied conversations then add ~5% to gated_slice).
# Each run times one cold pass; at these sizes a run of either workload ends
# in about a minute on a 4-core host.
BULK_TURNS = 7000
GATED_TURNS = 1500

LONG_SHARE = 0.05
EXACT_SHARE = 0.15
EDIT_SHARE = 0.15
NEAR_CONV_SHARE = 0.05
CONTAM_SHARE = 0.02
TOXIC_SHARE = 0.01

# language-neutral Gopher bounds: the full catalog's word-count, stopword
# and alphabetic-word rules assume English and would drop most ja turns
GATED_GOPHER_RULES = {
    "word_count": (1, 100_000),
    "hash_word_ratio": (None, 0.1),
    "ellipsis_word_ratio": (None, 0.1),
    "bullet_line_frac": (None, 0.9),
    "ellipsis_line_frac": (None, 0.3),
}
TOXIC_ABOVE = 0.3

_SYLLABLES = ("zo", "qu", "vex", "ly", "tra", "mo", "xi", "pel", "dra", "nu",
              "kez", "fo", "rix", "ul", "wam", "yth")
_TOXIC = ("shut up you idiot", "you worthless loser", "stupid moron",
          "バカ アホ 消えろ")
_NORM_WS = re.compile(r"\s+", re.ASCII)
_TOKEN = re.compile(r"\w+")


def norm_text(text: str) -> str:
    """``deduplicate_turns``'s fingerprint input: Spark ``trim`` strips
    spaces only, and Java's ``\\s`` is the ASCII whitespace class."""
    return _NORM_WS.sub(" ", text.strip(" "))


def _base(n_turns: int, seed: int) -> pd.DataFrame:
    """The first ``n_turns`` generated turns (~29 turns per conversation
    with the generator's hot-conversation skew)."""
    df = generate_transcripts(n_convs=n_turns // 20, avg_turns=20, seed=seed)
    while len(df) < n_turns:  # the turn counts are drawn at random
        df = generate_transcripts(n_convs=len(df["conv_id"].unique()) * 2,
                                  avg_turns=20, seed=seed)
    return df.iloc[:n_turns].copy()


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Microsecond timestamps: Spark cannot scan parquet TIMESTAMP(NANOS)."""
    df.to_parquet(path, index=False, coerce_timestamps="us",
                  allow_truncated_timestamps=True)


def _write_files(df: pd.DataFrame, directory: str, n_files: int) -> None:
    """``df`` as ``n_files`` parquet files of equal row counts."""
    os.makedirs(directory, exist_ok=True)
    bounds = [len(df) * i // n_files for i in range(n_files + 1)]
    for i in range(n_files):
        write_parquet(df.iloc[bounds[i]:bounds[i + 1]],
                      os.path.join(directory, f"part-{i:03d}.parquet"))


def edit_one_token(text: str, rng: random.Random) -> str:
    """Replace the last character of one word token (a near-duplicate)."""
    toks = list(_TOKEN.finditer(text))
    if not toks:
        return text + "。"
    end = rng.choice(toks).end() - 1
    repl = "ぬ" if text[end] != "ぬ" else "ね"
    if text[end].isascii():
        repl = "q" if text[end] != "q" else "z"
    return text[:end] + repl + text[end + 1:]


def _long_text(pool: list[str], rng: random.Random) -> str:
    """A multi-KB agent/tool turn: a log of pool texts, 2-5 KB."""
    parts, size, target = [], 0, rng.randint(2000, 5000)
    while size < target:
        t = rng.choice(pool)
        parts.append(t)
        size += len(t.encode()) + 1
    return "\n".join(parts)


def _pseudo_sentence(rng: random.Random, n_words: int) -> str:
    return " ".join("".join(rng.choice(_SYLLABLES)
                            for _ in range(rng.randint(2, 4)))
                    for _ in range(n_words))


def _shares(df: pd.DataFrame) -> dict:
    norm = df["text"].map(norm_text)
    return {"turns": len(df),
            "exact_dup_share": round(float(norm.duplicated().mean()), 4)}


def _bulk(seed: int, work: str, cores: int) -> dict:
    rng = random.Random(seed)
    df = _base(BULK_TURNS, seed)
    pool = df["text"].tolist()
    agent = [i for i in range(len(df))
             if df.at[i, "role"] in ("assistant", "tool")]
    long_rows = rng.sample(agent, round(LONG_SHARE * len(df)))
    for i in long_rows:
        df.at[i, "text"] = _long_text(pool, rng)
    _write_files(df, os.path.join(work, "in"), 2 * cores)
    eval_path = os.path.join(work, "eval.parquet")
    evals = [f"Q{j}: {_pseudo_sentence(rng, 12)}?" for j in range(40)]
    write_parquet(pd.DataFrame({"text": evals}), eval_path)
    shares = _shares(df)
    shares.update(long_turn_share=round(len(long_rows) / len(df), 4),
                  files=2 * cores)
    return {"calls": [{"input": os.path.join(work, "in"),
                       "eval": eval_path}],
            "n_turns": len(df), "shares": shares}


def _gated(seed: int, work: str) -> dict:
    rng = random.Random(seed)
    df = _base(GATED_TURNS, seed)
    texts = df["text"].tolist()
    n = len(texts)
    # exact planted counts at random positions: every seed does the same
    # amount of gate work
    order = rng.sample(range(1, n), n - 1)
    cuts = [0]
    for share in (EXACT_SHARE, EDIT_SHARE, CONTAM_SHARE, TOXIC_SHARE):
        cuts.append(cuts[-1] + round(share * n))
    exact, edits, contam, toxic = (set(order[a:b])
                                   for a, b in zip(cuts, cuts[1:]))
    eval_rows, originals = [], [0]  # sources: earlier rows left as made
    for i in range(1, n):
        if i in exact:
            texts[i] = texts[rng.choice(originals)]
        elif i in edits:
            texts[i] = edit_one_token(texts[rng.choice(originals)], rng)
        elif i in contam:
            q = f"Q{len(eval_rows)}: {_pseudo_sentence(rng, 12)}?"
            eval_rows.append(q)
            texts[i] = f"この問題を解いてください: {q}"
        elif i in toxic:
            texts[i] = f"{rng.choice(_TOXIC)} #{i}"
        else:
            originals.append(i)
    df["text"] = texts
    # unused eval rows: the eval set is larger than what leaked
    eval_rows += [f"Q{len(eval_rows) + j}: {_pseudo_sentence(rng, 12)}?"
                  for j in range(max(20, len(eval_rows)))]

    # near-copied conversations: later conv_ids re-posting every turn of a
    # source conversation that survives exact dedup, with one character
    # appended: no turn is an exact copy (exact dedup keeps them all), and
    # after exact dedup the copy's shingle union is ~0.95 Jaccard to its
    # source's
    first = ~df["text"].map(norm_text).duplicated()
    convs = sorted(df["conv_id"].unique())
    sources = convs[len(convs) // 2:]
    rng.shuffle(sources)
    copies, n_copied, target = [], 0, int(NEAR_CONV_SHARE * n)
    next_conv = len(convs)
    for src in sources:
        if n_copied >= target:
            break
        rows = df[(df["conv_id"] == src) & first]
        if not 3 <= len(rows) <= target - n_copied:  # skips hot ones
            continue
        cid = f"conv_{next_conv:05d}"
        next_conv += 1
        cp = rows.copy()
        cp["conv_id"] = cid
        cp["turn_idx"] = range(len(cp))
        cp["turn_idx"] = cp["turn_idx"].astype("int32")
        cp["text"] = cp["text"] + "。"
        copies.append(cp)
        n_copied += len(cp)
    near_convs = [c["conv_id"].iat[0] for c in copies]
    df = pd.concat([df] + copies, ignore_index=True)

    os.makedirs(os.path.join(work, "in"), exist_ok=True)
    path = os.path.join(work, "in", "slice.parquet")
    write_parquet(df, path)
    eval_path = os.path.join(work, "eval.parquet")
    write_parquet(pd.DataFrame({"text": eval_rows}), eval_path)

    def key(i: int) -> list:
        return [str(df.at[i, "conv_id"]), int(df.at[i, "turn_idx"])]

    shares = _shares(df)
    shares.update(
        planted_exact_share=round(len(exact) / len(df), 4),
        planted_edit_share=round(len(edits) / len(df), 4),
        near_conv_share=round(n_copied / len(df), 4),
        near_convs=len(near_convs),
        contaminated_share=round(len(contam) / len(df), 4),
        toxic_share=round(len(toxic) / len(df), 4),
        files=1)
    return {"calls": [{"input": path, "eval": eval_path}],
            "n_turns": len(df), "shares": shares,
            "planted": {"exact": [key(i) for i in sorted(exact)],
                        "contaminated": [key(i) for i in sorted(contam)],
                        "near_convs": near_convs}}


def build(workload: str, seed: int, work: str, cores: int) -> dict:
    """Write ``workload``'s inputs under ``work``; return its manifest."""
    if workload == "bulk_scrub":
        m = _bulk(seed, work, cores)
    elif workload == "gated_slice":
        m = _gated(seed, work)
    else:
        raise ValueError(f"unknown workload {workload!r}; "
                         f"known: {', '.join(WORKLOADS)}")
    m.update(workload=workload, seed=seed)
    return m
