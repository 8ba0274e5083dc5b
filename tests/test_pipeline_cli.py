"""The shared pipeline CLI: every ``add_pipeline_args`` flag reaches its
``run_pipeline`` keyword through ``pipeline_kwargs``."""

import argparse
import inspect

from sumi_agent_spark.plans.pipeline import (
    add_pipeline_args, pipeline_kwargs, run_pipeline)

ARGV = [
    "--resume", "--dedup",
    "--near-dedup-threshold", "0.8", "--near-dedup-index", "/idx/mh",
    "--near-dedup-scope", "conversation",
    "--embedding-dedup-threshold", "0.95", "--embedding-index", "/idx/emb",
    "--embedding-col", "vec", "--embedding-n-planes", "8",
    "--reindex-changed",
    "--sample-fraction", "0.5", "--sample-seed", "7",
    "--sample-key-cols", "conv_id,turn_idx",
    "--sample-n-per-stratum", "3", "--sample-strata-cols", "role,tool",
    "--drop-toxic-above", "0.3",
    "--gopher-quality-rules", '{"word_count": [5, null]}',
    "--repetition-thresholds", '{"dup_line_frac": 0.3}',
    "--quality-model-path", "/m/q", "--quality-min-score", "0.5",
    "--perplexity-model-path", "/m/lm", "--perplexity-max", "9.5",
    "--decontaminate-against", "/bench", "--decontam-text-col", "q",
    "--decontam-k", "7", "--decontam-min-hits", "2",
    "--decontam-ngrams", "word", "--decontam-scope", "conversation",
    "--decontam-min-containment", "0.7", "--decontam-mode", "fuzzy",
    "--sample-token-shares", '{"user": 0.7, "assistant": 0.3}',
    "--sample-token-stratum-col", "role", "--sample-token-budget", "1000",
    "--sample-token-col", "n_tok", "--sample-token-allow-short",
]

EXPECTED = dict(
    resume=True, dedup=True,
    near_dedup_threshold=0.8, near_dedup_index_path="/idx/mh",
    near_dedup_scope="conversation",
    embedding_dedup_threshold=0.95, embedding_index_path="/idx/emb",
    embedding_col="vec", embedding_n_planes=8,
    reindex_changed=True,
    sample_fraction=0.5, sample_seed=7,
    sample_key_cols=["conv_id", "turn_idx"],
    sample_n_per_stratum=3, sample_strata_cols=["role", "tool"],
    drop_toxic_above=0.3,
    gopher_quality_rules={"word_count": [5, None]},
    repetition_thresholds={"dup_line_frac": 0.3},
    quality_model_path="/m/q", quality_min_score=0.5,
    perplexity_model_path="/m/lm", perplexity_max=9.5,
    decontaminate_against="/bench", decontam_text_col="q",
    decontam_k=7, decontam_min_hits=2, decontam_ngrams="word",
    decontam_scope="conversation", decontam_min_containment=0.7,
    decontam_mode="fuzzy",
    sample_token_shares={"user": 0.7, "assistant": 0.3},
    sample_token_stratum_col="role", sample_token_budget=1000,
    sample_token_col="n_tok", sample_token_allow_short=True,
)

DEFAULTS = dict(
    resume=False, dedup=False,
    near_dedup_threshold=None, near_dedup_index_path=None,
    near_dedup_scope="turn",
    embedding_dedup_threshold=None, embedding_index_path=None,
    embedding_col="embedding", embedding_n_planes=16,
    reindex_changed=False,
    sample_fraction=None, sample_seed=0, sample_key_cols=None,
    sample_n_per_stratum=None, sample_strata_cols=None,
    drop_toxic_above=None, gopher_quality_rules=None,
    repetition_thresholds=None,
    quality_model_path=None, quality_min_score=None,
    perplexity_model_path=None, perplexity_max=None,
    decontaminate_against=None, decontam_text_col="text",
    decontam_k=13, decontam_min_hits=1, decontam_ngrams="char",
    decontam_scope="turn", decontam_min_containment=None,
    decontam_mode="exact",
    sample_token_shares=None, sample_token_stratum_col=None,
    sample_token_budget=None, sample_token_col=None,
    sample_token_allow_short=False,
)


def _kwargs(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--output")  # an entry point's own flag
    add_pipeline_args(ap)
    return pipeline_kwargs(ap.parse_args(["--output", "/out", *argv]))


def test_every_flag_reaches_its_keyword():
    params = inspect.signature(run_pipeline).parameters
    for argv, expected in ((ARGV, EXPECTED), ([], DEFAULTS)):
        kw = _kwargs(argv)
        assert kw == expected
        assert set(kw) <= set(params)
    # the CLI defaults are run_pipeline's own
    assert {k: params[k].default for k in DEFAULTS} == DEFAULTS


def test_literal_gopher_passes_through():
    kw = _kwargs(["--gopher-quality-rules", "gopher",
                  "--repetition-thresholds", "gopher"])
    assert kw["gopher_quality_rules"] == "gopher"
    assert kw["repetition_thresholds"] == "gopher"
