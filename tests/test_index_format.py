"""On-disk format pin for every persisted index and model.

Each artifact runs its whole life cycle on tiny frames -- create, append,
reindex, compact for the MinHash doc and group indexes and the embedding
index; create, append, re-create for the line index; one commit per
model -- and the test pins the relative directory tree (part-file names
ignored) plus the parquet schema of every data directory.  Directory
names, partitioning, meta schemas and the set of commit markers are the
format readers of older indexes depend on; any change to them shows up
here as a diff against the literal below."""

import os
import re

import pyarrow.parquet as pq

T1 = ("the quick brown fox jumps over the lazy dog while the sun sets "
      "slowly behind the distant mountains")
T2 = ("a completely different document about query engines, shuffle "
      "partitioning and bucketed joins")
T3 = ("a third text on storage formats, column pruning and predicate "
      "pushdown in lakehouse tables")

_PART = re.compile(r"^\.?part-")


def build_artifacts(spark, root):
    """Write every artifact's life cycle under ``root``; returns the
    artifact directories by name."""
    from sumi_agent_spark.operators.embedding_index import (
        append_to_embedding_index, compact_embedding_index,
        reindex_embeddings, write_embedding_index)
    from sumi_agent_spark.operators.line_index import (
        append_line_index, write_line_index)
    from sumi_agent_spark.operators.lm_perplexity import (
        fit_unigram_lm, write_unigram_lm)
    from sumi_agent_spark.operators.minhash_index import (
        append_grouped_to_minhash_index, append_to_minhash_index,
        compact_doc_index, compact_grouped_index, reindex_docs,
        reindex_groups, write_grouped_minhash_index, write_minhash_index)
    from sumi_agent_spark.operators.quality_classifier import (
        fit_quality_classifier, write_quality_model)

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id string, text string")

    def vecs(rows):
        return spark.createDataFrame(rows, "doc_id string, v array<float>")

    p = {name: os.path.join(root, name) for name in (
        "doc", "doc_compact", "group", "group_compact", "emb",
        "emb_compact", "line", "clf", "lm")}
    geo = dict(threshold=0.75, n_hashes=16, bands=4, shingle_k=3)

    write_minhash_index(docs([("d1", T1), ("d2", T2)]), "doc_id", "text",
                        p["doc"], **geo)
    append_to_minhash_index(docs([("d3", T3)]), "doc_id", "text", p["doc"])
    reindex_docs(docs([("d1", T3)]), "doc_id", "text", p["doc"])
    compact_doc_index(spark, p["doc"], p["doc_compact"])

    write_grouped_minhash_index(docs([("g1", T1), ("g1", T2)]), "doc_id",
                                "text", p["group"], **geo)
    append_grouped_to_minhash_index(docs([("g2", T3)]), "doc_id", "text",
                                    p["group"])
    reindex_groups(docs([("g1", T1), ("g1", T3)]), "doc_id", "text",
                   p["group"])
    compact_grouped_index(spark, p["group"], p["group_compact"])

    write_embedding_index(vecs([("e1", [1.0, 0.0, 0.0]),
                                ("e2", [0.0, 1.0, 0.0])]),
                          "doc_id", "v", p["emb"], n_planes=4,
                          model_rev="m@1")
    append_to_embedding_index(vecs([("e3", [0.0, 0.0, 1.0])]), "doc_id",
                              "v", p["emb"])
    reindex_embeddings(vecs([("e1", [0.5, 0.5, 0.0])]), "doc_id", "v",
                       p["emb"])
    compact_embedding_index(spark, p["emb"], p["emb_compact"])

    write_line_index(docs([("d1", "one line\ntwo line")]), p["line"])
    append_line_index(docs([("d2", "two line\nthree line")]), p["line"])
    write_line_index(docs([("d1", "one line")]), p["line"], overwrite=True)

    text = spark.createDataFrame([(T1,), (T2,)], ["text"])
    junk = spark.createDataFrame([(T3,)], ["text"])
    write_quality_model(spark, fit_quality_classifier(text, junk, dim=64),
                        p["clf"])
    write_unigram_lm(spark, fit_unigram_lm(text, min_count=1), p["lm"])
    return p


def layout(path):
    """(relative tree, {data directory: schemas}) of one artifact.

    The tree lists directories (trailing ``/``) and every file except
    part files, whose names carry a per-write UUID.  Schemas are read
    from the part files; ``band=N`` partition directories of one store
    share a key."""
    tree, schemas = [], {}
    for d, dirs, files in os.walk(path):
        rel = os.path.relpath(d, path)
        if rel != ".":
            tree.append(rel + "/")
        for f in files:
            if not _PART.match(f):
                tree.append(os.path.normpath(os.path.join(rel, f)))
            elif f.endswith(".parquet"):
                s = pq.read_schema(os.path.join(d, f)).remove_metadata()
                key = re.sub(r"band=\d+", "band=*", rel)
                schemas.setdefault(key, set()).add(
                    ", ".join(f"{x.name}: {x.type}"
                              + ("" if x.nullable else " not null")
                              for x in s))
    return sorted(tree), {k: sorted(v) for k, v in schemas.items()}


def _bands(prefix, n=4):
    return [f"{prefix}/"] + [f"{prefix}/band={b}/" for b in range(n)] + [
        f"{prefix}/._SUCCESS.crc", f"{prefix}/_SUCCESS"]


def _store(name):
    return [f"{name}/", f"{name}/._SUCCESS.crc", f"{name}/_SUCCESS"]


DOC_META = ("bands: int64, granularity: string, n_hashes: int64, "
            "shingle_k: int64, threshold: double")
DOC_META_E = ("bands: int64, epoch: int64, granularity: string, "
              "n_hashes: int64, shingle_k: int64, threshold: double")
BANDS = "doc_id: string, band_key: string not null"
# a compaction copies the resolved rows back from parquet, which reads
# every column as nullable
BANDS_COPY = "doc_id: string, band_key: string"
EMB_META = ("n_planes: int64, dim: int64, threshold: double, "
            "model_rev: string")

EXPECTED = {
    "doc": (
        _bands("bands") + _bands("bands_e1") + _store("meta")
        + _store("meta_e1") + _store("shingles") + _store("shingles_e1"),
        {"bands/band=*": [BANDS], "bands_e1/band=*": [BANDS],
         "meta": [DOC_META], "meta_e1": [DOC_META_E],
         "shingles": ["doc_id: string, sh: list<element: int64>"],
         "shingles_e1": ["doc_id: string, sh: list<element: int64>"]}),
    "doc_compact": (
        _bands("bands") + _store("meta") + _store("shingles"),
        {"bands/band=*": [BANDS_COPY], "meta": [DOC_META_E],
         "shingles": ["doc_id: string, sh: list<element: int64>"]}),
    "group": (
        _bands("bands") + _bands("bands_e1") + _store("meta")
        + _store("meta_e1") + _store("shingles") + _store("shingles_e1"),
        {"bands/band=*": [BANDS], "bands_e1/band=*": [BANDS],
         "meta": [DOC_META], "meta_e1": [DOC_META_E],
         "shingles": ["doc_id: string, sh: int64"],
         "shingles_e1": ["doc_id: string, sh: int64"]}),
    "group_compact": (
        _bands("bands") + _store("meta") + _store("shingles"),
        {"bands/band=*": [BANDS_COPY], "meta": [DOC_META_E],
         "shingles": ["doc_id: string, sh: int64"]}),
    "emb": (
        _store("buckets") + _store("buckets_e1") + _store("meta")
        + _store("meta_e1") + _store("vectors") + _store("vectors_e1"),
        {"buckets": ["doc_id: string, bkt: int64"],
         "buckets_e1": ["doc_id: string, bkt: int64"],
         "meta": [EMB_META], "meta_e1": [EMB_META + ", epoch: int64"],
         "vectors": ["doc_id: string, v: list<element: float>"],
         "vectors_e1": ["doc_id: string, v: list<element: float>"]}),
    "emb_compact": (
        _store("buckets") + _store("meta") + _store("vectors"),
        {"buckets": ["doc_id: string, bkt: int64"], "meta": [EMB_META],
         "vectors": ["doc_id: string, v: list<element: float>"]}),
    "line": (
        _store("keys") + _store("meta"),
        {"keys": ["h: string not null"],
         "meta": ["unit: string, normalize: bool, min_chars: int32"]}),
    "clf": (
        _store("meta") + _store("weights"),
        {"meta": ["dim: int64, alpha: double, ngram: int64, "
                  "normalize: bool, prior: double, w0: double, "
                  "pos_tokens: int64, neg_tokens: int64, "
                  "n_pos_docs: int64, n_neg_docs: int64"],
         "weights": ["b: int64, weight: double"]}),
    "lm": (
        _store("meta") + _store("weights"),
        {"meta": ["alpha: double, min_count: int64, n_tokens: int64, "
                  "vocab_size: int64, unk_lp: double"],
         "weights": ["token: string not null, lp: double"]}),
}


def test_persisted_format_is_pinned(spark, tmp_path):
    paths = build_artifacts(spark, str(tmp_path))
    got = {name: layout(path) for name, path in paths.items()}
    for name, (tree, schemas) in EXPECTED.items():
        assert got[name][0] == sorted(tree), name
        assert got[name][1] == schemas, name
