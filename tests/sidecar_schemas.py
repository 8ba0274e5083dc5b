"""Pinned parquet schemas of the index-gate and decontamination sidecars
of ``run_pipeline``: the tests assert column names, order and arrow
types with :func:`schema`, so a refactor of the gates cannot change
them unnoticed."""

import pyarrow.parquet as pq


def schema(path):
    """``[(name, arrow type)]`` of the parquet dataset at ``path``."""
    return [(f.name, str(f.type)) for f in pq.read_table(path).schema]


# dict-built lineage rows: Spark sorts the fields by name
EMBDEDUP = [
    ("max_bucket_n", "int64"), ("metrics_observed", "bool"),
    ("n_capped_buckets", "int64"), ("n_capped_rows", "int64"),
    ("n_dropped", "int64"), ("n_preindexed_changed", "int64"),
    ("n_preindexed_rows_dropped", "int64"), ("stage", "string")]
NEARDUP = [("drop_set_reused", "bool"), *EMBDEDUP]
# explicit-schema rows keep their declared order
DECONTAM = [
    ("stage", "string"), ("n_dropped", "int64"), ("k", "int64"),
    ("min_hits", "int64"), ("ngrams", "string"), ("scope", "string"),
    ("min_containment", "double"), ("mode", "string"),
    ("benchmark_path", "string")]
REINDEX = [("stage", "string"), ("n_keys", "int64"), ("epoch", "int64")]
UPSERT = [("stage", "string"), ("n_upsert", "int64"),
          ("n_update", "int64"), ("n_delete", "int64"),
          ("n_sampled_out", "int64")]
# scrub_transcripts' computed columns, after the pass-through ones
SCRUBBED = [
    ("masked_text", "string"), ("n_detections", "int32"),
    ("n_regex", "int32"), ("n_dict", "int32"), ("n_heuristic", "int32"),
    ("n_ai", "int32"), ("lang", "string"), ("nll", "double"),
    ("n_chars", "int32"), ("symbol_ratio", "double"),
    ("distinct_trigram_ratio", "double"), ("mojibake", "bool"),
    ("keep", "bool"), ("drop_reason", "string")]


def changed_upsert(input_path):
    """The ``_changed_upsert`` schema of a run over ``input_path``: the
    pass-through columns typed as the input has them, the scrub's
    columns, then ``_action``."""
    src = dict(schema(input_path))
    return ([(c, src[c]) for c in
             ("conv_id", "turn_idx", "role", "tool", "ts", "text")]
            + SCRUBBED + [("_action", "string")])
