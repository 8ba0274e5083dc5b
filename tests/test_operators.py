"""Operator tests: dedup family, similarity search, textstats, multimodal."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sumi_agent_spark.operators.dedup import (
    embedding_near_duplicates,
    exact_duplicates,
    make_jaccard_udf,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from sumi_agent_spark.operators.multimodal import (
    decode_assets,
    extract_features,
    generate_assets,
    sample_frames,
)
from sumi_agent_spark.operators.similarity import (
    build_lsh_index,
    cosine_topk,
    lsh_topk,
)
from sumi_agent_spark.operators.textstats import (
    content_fingerprint,
    make_winnow_udf,
    quality_score,
    token_counts,
)

BASE = ("the quick brown fox jumps over the lazy dog while the sun sets "
        "slowly behind the distant mountains and the river keeps flowing")


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    # 3 exact duplicate groups + near-duplicates + unique docs
    for i in range(4):
        rows.append((i, BASE))
    rows.append((4, BASE.replace("quick", "swift")))          # near-dup of BASE
    rows.append((5, BASE.replace("dog", "cat") + " indeed"))  # near-dup of BASE
    rows.append((6, "completely different text about query engines and "
                    "shuffle partitioning strategies at petabyte scale"))
    rows.append((7, "another unrelated short document"))
    rows.append((8, "yet another document discussing window functions, "
                    "watermarks and stateful streaming operators in detail"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(docs):
    out = exact_duplicates(docs, "doc_id", "text").toPandas()
    assert len(out) == 1
    assert out.iloc[0]["n_docs"] == 4
    assert list(out.iloc[0]["doc_ids"]) == [0, 1, 2, 3]


def test_exact_duplicates_caps_hot_group(spark):
    # 1e5 byte-identical texts (the "OK"-boilerplate shape of LLM corpora):
    # n_docs stays exact while doc_ids is bounded at max_ids smallest ids
    big = spark.range(100_000).select(
        F.col("id").alias("doc_id"), F.lit("boilerplate OK").alias("text"))
    out = exact_duplicates(big, "doc_id", "text", max_ids=5).toPandas()
    assert len(out) == 1
    assert out.iloc[0]["n_docs"] == 100_000
    assert list(out.iloc[0]["doc_ids"]) == [0, 1, 2, 3, 4]


def brute_force_jaccard_pairs(df, id_col, text_col, threshold=0.8,
                              shingle_k=5):
    """Exact all-pairs Jaccard (the small-data oracle for LSH recall tests).

    O(n^2) cross join -- only for validation scales."""
    jac = make_jaccard_udf(shingle_k)
    base = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    a = base.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = base.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    return (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
            .withColumn("jaccard", jac("text_a", "text_b"))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def test_minhash_lsh_matches_brute_force(docs):
    brute = brute_force_jaccard_pairs(docs, "doc_id", "text", threshold=0.6)
    lsh = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.6,
                                  n_hashes=128, bands=32)
    bp = {(r.id_a, r.id_b): r.jaccard for r in brute.collect()}
    lp = {(r.id_a, r.id_b): r.jaccard for r in lsh.collect()}
    assert set(lp) <= set(bp)  # no false positives by construction
    assert len(bp) >= 7  # 4 exact-dup pairs (j=1.0) + near-dup pairs
    recall = len(lp) / len(bp)
    assert recall >= 0.9  # 128 hashes / 32 bands at j>=0.6 -> near-certain
    for k, v in lp.items():
        assert abs(bp[k] - v) < 1e-9


def test_minhash_grouped_matches_union_jaccard(spark):
    """Grouped near-dup pairs must carry the EXACT Jaccard of the groups'
    union-of-turn shingle sets (the operator's document definition),
    computed here independently in Python from _shingle_hashes."""
    from sumi_agent_spark.operators.dedup import (
        _shingle_hashes, minhash_near_duplicates_grouped)

    t1 = BASE
    t2 = "a second turn about watermarks, state stores and output modes"
    t3 = "closing remarks touching on checkpointing and exactly-once sinks"
    b1, b3 = t1.replace("quick", "swift"), t3.replace("sinks", "sources")
    rows = [("a", 0, t1), ("a", 1, t2), ("a", 2, t3),
            ("b", 0, b1), ("b", 1, t2), ("b", 2, b3),
            ("c", 0, "entirely unrelated content on broadcast joins"),
            ("c", 1, "and another turn mentioning nothing shared at all")]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = minhash_near_duplicates_grouped(
        df, "conv_id", "text", threshold=0.5, bands=32)
    got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}

    def union_set(texts):
        s: set = set()
        for t in texts:
            s |= set(_shingle_hashes(t, 5).tolist())
        return s

    sa, sb = union_set([t1, t2, t3]), union_set([b1, t2, b3])
    expected = len(sa & sb) / len(sa | sb)
    assert expected >= 0.5  # fixture sanity: a~b really is a near-dup pair
    assert set(got) == {("a", "b")}
    assert abs(got[("a", "b")] - round(expected, 6)) < 1e-9


def test_group_signatures_equal_union_minhash(spark):
    """The group signature must equal the MinHash of the union shingle set
    computed independently in numpy -- INCLUDING signature values with the
    int64 sign bit set (single-shingle short texts draw uniformly over
    uint64, so ~half are negative as int64; a signed min aggregate picks
    the wrong element there and becomes partition-dependent)."""
    from sumi_agent_spark.operators.dedup import (
        _group_signatures, _hash_family, _shingle_hashes)

    texts = {"g1": ["the quick brown fox jumps over the lazy dog",
                    "ok",   # 1 shingle -> uniform sig values, ~half negative
                    "a third turn with yet more distinct content"],
             "g2": ["yes", "no"],
             "g3": ["one ordinary sentence mentioning several things"]}
    rows = [(g, t) for g, ts in texts.items() for t in ts]
    df = spark.createDataFrame(rows, ["conv_id", "text"])
    got = {r["gid"]: list(r["sig"]) for r in
           _group_signatures(df, "conv_id", "text", 32, 5).collect()}
    a, b = _hash_family(32)

    def sig_of(shingle_sets):
        union = np.unique(np.concatenate(shingle_sets))
        return np.array([np.min(a[i] * union + b[i]) for i in range(32)],
                        dtype=np.uint64)

    mismatch_signed = False
    for g, ts in texts.items():
        sets = [_shingle_hashes(t, 5) for t in ts]
        expected = sig_of(sets)
        assert got[g] == list(expected.view(np.int64)), g
        # would a SIGNED min over the per-row minima have gotten this
        # wrong?  (guards the fixture: the adversarial case must occur)
        row_sigs = np.stack([sig_of([s]) for s in sets])
        signed_min = row_sigs.view(np.int64).min(axis=0)
        if not np.array_equal(signed_min, expected.view(np.int64)):
            mismatch_signed = True
    assert mismatch_signed  # the fixture really exercises the sign bit


def test_minhash_grouped_validates_bands(docs):
    """The grouped operator shares the per-doc geometry validation: an
    all-pairs-degenerate band count is rejected, not silently executed."""
    from sumi_agent_spark.operators.dedup import (
        minhash_near_duplicates_grouped)

    with pytest.raises(ValueError, match="exceeds n_hashes"):
        minhash_near_duplicates_grouped(docs, "doc_id", "text", bands=256)


def test_minhash_grouped_degenerates_to_per_doc(docs):
    """With one row per group, grouped == per-doc: same pairs, same exact
    jaccard (the group signature min-agg over a single row is the row's
    signature, and the union shingle set is the row's set)."""
    from sumi_agent_spark.operators.dedup import (
        minhash_near_duplicates_grouped)

    flat = minhash_near_duplicates(docs, "doc_id", "text",
                                   threshold=0.6, bands=32)
    grouped = minhash_near_duplicates_grouped(docs, "doc_id", "text",
                                              threshold=0.6, bands=32)
    fp = {(r.id_a, r.id_b): r.jaccard for r in flat.collect()}
    gp = {(r.id_a, r.id_b): r.jaccard for r in grouped.collect()}
    assert fp == gp and len(fp) > 0


def test_minhash_grouped_capping_observed(spark):
    """The bucket cap + observation machinery works at group granularity,
    and an all-capped empty-output run is recountable with the grouped
    audit job."""
    from pyspark.sql import Observation

    from sumi_agent_spark.operators.dedup import (
        capped_bucket_metrics, minhash_grouped_bucket_audit,
        minhash_near_duplicates_grouped)

    rows = [(f"g{i}", j, BASE) for i in range(8) for j in range(2)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    obs = Observation("grouped_capping")
    out = minhash_near_duplicates_grouped(
        df, "conv_id", "text", threshold=0.6, max_bucket_size=2,
        observation=obs)
    assert out.count() == 0  # every bucket holds all 8 identical groups
    m = capped_bucket_metrics(obs)
    if m is None:  # empty output pruned the observed subtree (see dedup.py)
        m = minhash_grouped_bucket_audit(
            df, "conv_id", "text", threshold=0.6, max_bucket_size=2)
    assert m["max_bucket_n"] == 8
    assert m["n_capped_rows"] > 0


def test_simhash_near_duplicates(docs):
    out = simhash_near_duplicates(docs, "doc_id", "text", max_hamming=6)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    # exact dups have hamming 0
    assert {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)} <= pairs
    # near-dup variants within a few bits
    assert (0, 4) in pairs or (0, 5) in pairs
    # unrelated docs are not close
    assert (6, 7) not in pairs


def test_embedding_near_duplicates(spark):
    rng = np.random.RandomState(3)
    base = rng.standard_normal(16).astype(np.float32)
    rows = []
    for i in range(20):
        v = rng.standard_normal(16).astype(np.float32)
        rows.append((i, [float(x) for x in v]))
    rows.append((100, [float(x) for x in base]))
    rows.append((101, [float(x) for x in base + 0.01]))  # near-identical
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = embedding_near_duplicates(df, threshold=0.99, n_planes=8,
                                    vec_col="embedding")
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (100, 101) in pairs
    assert all(a in (100,) and b in (101,) for a, b in pairs) or len(pairs) >= 1


def test_cosine_topk_brute_force(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    brute = cosine_topk(emb.filter("vec_id > 0"), q, k=5).toPandas()
    assert len(brute) == 5
    assert brute["cos_sim"].is_monotonic_decreasing


def test_lsh_topk_recovers_similar_cluster(spark):
    # LSH buckets prune for genuinely-similar vectors (the near-dup /
    # retrieval use case), not for uniformly random ones where the true
    # top-k is itself barely similar (cos ~0.3)
    rng = np.random.RandomState(11)
    base = rng.standard_normal(32)
    rows = []
    for i in range(10):  # planted cluster: cos ~0.99+ with base
        v = base + 0.05 * rng.standard_normal(32)
        rows.append((i, [float(x) for x in v]))
    for i in range(10, 300):  # background noise
        rows.append((i, [float(x) for x in rng.standard_normal(32)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    indexed, planes = build_lsh_index(df, dim=32, n_planes=8)
    ann = lsh_topk(indexed, planes, [float(x) for x in base], k=10).toPandas()
    brute = cosine_topk(df, [float(x) for x in base], k=10).toPandas()
    overlap = len(set(brute["vec_id"]) & set(ann["vec_id"]))
    assert overlap >= 8  # cluster members share the query's bucket(s)
    assert len(ann) == 10


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "hello world, it's 42 degrees"), (1, ""), (2, "  one  ")],
        ["doc_id", "text"])
    out = token_counts(df).toPandas().set_index("doc_id")
    assert out.loc[0, "n_ws_tokens"] == 5
    assert out.loc[1, "n_ws_tokens"] == 0
    assert out.loc[2, "n_ws_tokens"] == 1
    assert out.loc[0, "n_bpe_tokens"] >= 6  # hello/world/,/'s/42/degrees...


def test_content_fingerprint(spark):
    df = spark.createDataFrame(
        [(0, "a  b\nc"), (1, "a b c"), (2, "a b d")], ["doc_id", "text"])
    out = content_fingerprint(df).toPandas()
    assert out.loc[0, "fingerprint"] == out.loc[1, "fingerprint"]
    assert out.loc[0, "fingerprint"] != out.loc[2, "fingerprint"]


def test_winnow_fingerprints(spark):
    winnow = make_winnow_udf(k=5, window=3)
    df = spark.createDataFrame([(0, BASE), (1, BASE), (2, "xy")],
                               ["doc_id", "text"])
    out = df.select("doc_id", winnow("text").alias("fp")).toPandas()
    assert list(out.loc[0, "fp"]) == list(out.loc[1, "fp"])  # deterministic
    assert len(out.loc[0, "fp"]) > 5
    assert list(out.loc[2, "fp"]) == []  # shorter than k


def test_quality_score(spark):
    df = spark.createDataFrame(
        [(0, BASE), (1, "1234567890 000 111 222 333"), (2, "")],
        ["doc_id", "text"])
    out = quality_score(df).toPandas().set_index("doc_id")
    assert out.loc[0, "quality_score"] > out.loc[1, "quality_score"]
    assert 0.0 <= out.loc[2, "quality_score"] <= 0.3


def test_codecs_round_trip():
    """Pure-stdlib codecs: encode -> decode must be lossless."""
    from sumi_agent_spark.operators.codecs import (
        decode_png, decode_wav, decode_y4m, encode_png, encode_wav,
        encode_y4m, resize_nearest,
    )
    rng = np.random.RandomState(5)
    for shape in [(7, 11), (11, 7, 3), (5, 5, 4)]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)
    samples = (np.sin(np.arange(1234) / 17.0) * 20000).astype(np.int16)
    got, rate = decode_wav(encode_wav(samples, rate=8000))
    assert rate == 8000 and np.array_equal(got.reshape(-1), samples)
    frames = rng.randint(0, 256, (4, 12, 16)).astype(np.uint8)
    got_f, w, h = decode_y4m(encode_y4m(frames))
    assert (w, h) == (16, 12) and np.array_equal(got_f, frames)
    # resize: exact on integer upscale of a constant image
    const = np.full((4, 4), 9, np.uint8)
    assert (resize_nearest(const, 8, 8) == 9).all()
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxJUNK")


def test_png_all_filter_types_decode():
    """The decoder must handle Sub/Up/Average/Paeth rows, not just
    filter-0 (our encoder's choice)."""
    import struct
    import zlib

    from sumi_agent_spark.operators.codecs import PNG_MAGIC, decode_png
    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (5, 6, 3)).astype(np.uint8)
    c, stride = 3, 6 * 3
    raw = bytearray()
    prev = np.zeros(stride, np.int64)
    for y, f in enumerate([0, 1, 2, 3, 4]):  # one row per filter type
        cur = img[y].reshape(-1).astype(np.int64)
        enc = np.zeros(stride, np.int64)
        for x in range(stride):
            left = cur[x - c] if x >= c else 0
            up = prev[x]
            ul = prev[x - c] if x >= c else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (
                    up if pb <= pc else ul)
            enc[x] = (cur[x] - pred) & 0xFF
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data)))

    png = (PNG_MAGIC
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 5, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    assert np.array_equal(decode_png(png), img)


def test_multimodal_pipeline_real_decode(spark):
    assets = generate_assets(spark, n=24)
    decoded = decode_assets(assets).toPandas()
    assert len(decoded) == 24
    img = decoded[decoded["kind"] == "image"]
    assert ((img["width"] >= 8) & (img["width"] <= 48)).all()
    aud = decoded[decoded["kind"] == "audio"]
    assert (aud["duration_ms"] > 0).all()   # real RIFF duration math
    vid = decoded[decoded["kind"] == "video"]
    assert ((vid["n_frames"] >= 2) & (vid["width"] == 16)).all()

    feats = extract_features(generate_assets(spark, n=24)).toPandas()
    assert len(feats) == 24
    assert all(len(f) == 32 for f in feats["feature"])
    norms = [np.linalg.norm(f) for f in feats["feature"]]
    assert all(abs(n - 1.0) < 1e-4 for n in norms)
    # deterministic across runs
    feats2 = extract_features(generate_assets(spark, n=24)).toPandas()
    assert list(feats.loc[0, "feature"]) == list(feats2.loc[0, "feature"])
    frames = sample_frames(decode_assets(generate_assets(spark, n=24)),
                           every_n=2).toPandas()
    assert (frames["frame_idx"] % 2 == 0).all()
    assert len(frames) > len(vid)  # multi-frame videos sampled >1 index


def test_multimodal_resize_stage(spark):
    from sumi_agent_spark.operators.codecs import decode_png
    from sumi_agent_spark.operators.multimodal import resize_images
    assets = generate_assets(spark, n=9)
    small = resize_images(assets, 10, 6).toPandas()
    for _, r in small[small["kind"] == "image"].iterrows():
        assert decode_png(bytes(r["payload"])).shape[:2] == (6, 10)


def test_multimodal_unsupported_format_raises(spark):
    import pandas as pd

    from sumi_agent_spark.operators.multimodal import ASSET_SCHEMA
    junk = pd.DataFrame({"asset_id": [0], "kind": ["image"],
                         "payload": [b"\xff\xd8JFIFnot-supported"],
                         "mime": ["image/jpeg"], "source_doc_id": [0]})
    df = spark.createDataFrame(junk, ASSET_SCHEMA)
    with pytest.raises(Exception):  # ValueError inside the executor
        decode_assets(df).collect()
    # fake mode still accepts arbitrary bytes (plumbing tests)
    assert decode_assets(df, decode_mode="fake").count() == 1


def test_batch_shingles_match_per_row():
    import numpy as np

    from sumi_agent_spark.operators.dedup import _batch_shingles, _shingle_hashes
    texts = ["hello world this is a test", "", "ab", "同じ本文です" * 3,
             "x" * 4, "hello world this is a test", "あ", " \n "]
    vals, rs = _batch_shingles(texts, 5)
    for i, t in enumerate(texts):
        assert np.array_equal(_shingle_hashes(t, 5), vals[rs[i]:rs[i + 1]])


def test_cosine_pairs_blocked_matches_brute(spark):
    from pyspark.sql import functions as F

    from sumi_agent_spark.operators.similarity import cosine_pairs_blocked

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(60)]
    # plant two highly similar pairs
    rows.append((100, rows[0][1]))
    rows.append((101, [v * 1.001 + 0.0001 for v in rows[5][1]]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    blocked = {(r.id_a, r.id_b): r.cos_sim
               for r in cosine_pairs_blocked(df, threshold=0.5).collect()}

    # brute-force HOF reference (the DuckDB-twin definition)
    nrm = F.sqrt(F.aggregate(F.transform(
        "embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x))
    base = df.select("vec_id", "embedding", nrm.alias("nrm"))
    a = base.select(F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col("vec_id").alias("id_b"),
                    F.col("embedding").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(F.zip_with("va", "vb",
                                 lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    brute = {(r.id_a, r.id_b): r.cos_sim for r in
             (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b",
                      F.round(dot / (F.col("na") * F.col("nb")), 4)
                       .alias("cos_sim"))
              .filter(F.col("cos_sim") >= 0.5)).collect()}
    assert blocked == brute
    assert (0, 100) in blocked and (5, 101) in blocked


def test_cosine_pairs_blocked_matches_broadcast_sf001(spark):
    """The distributed block-both-sides plan is byte-identical to the
    broadcast fast-path on the real sf0.01 embeddings table."""
    from sumi_agent_spark.operators.similarity import (
        cosine_pairs_blocked, cosine_pairs_broadcast)

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    blocked = {(r.id_a, r.id_b): r.cos_sim
               for r in cosine_pairs_blocked(emb, threshold=0.5).collect()}
    bcast = {(r.id_a, r.id_b): r.cos_sim
             for r in cosine_pairs_broadcast(emb, threshold=0.5).collect()}
    assert blocked == bcast and len(blocked) > 0


def test_cosine_pairs_blocked_never_collects(spark, monkeypatch):
    """The default all-pairs plan must not materialize the table on the
    driver: patch DataFrame.collect to raise and run the operator end to
    end (internal Spark actions do not route through DataFrame.collect)."""
    from pyspark.sql import DataFrame

    from sumi_agent_spark.operators.similarity import cosine_pairs_blocked

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)],
        ["vec_id", "embedding"])

    def boom(self):
        raise AssertionError("driver-side collect on the blocked path")

    monkeypatch.setattr(DataFrame, "collect", boom)
    out = cosine_pairs_blocked(df, threshold=0.9)
    assert out.count() >= 0  # executes the full plan without collecting


def test_cosine_pairs_broadcast_row_cap(spark):
    """The broadcast fast-path refuses to collect above its hard cap
    instead of silently OOMing the driver."""
    import pytest

    from sumi_agent_spark.operators.similarity import cosine_pairs_broadcast

    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(20)], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="max_build_rows"):
        cosine_pairs_broadcast(df, max_build_rows=10).count()


def test_oracle_pins_fresh(spark):
    """Stored pins must match a live re-run of (cheap) pinned queries at
    the driver's correctness scale -- catches semantics changes that forgot
    `python tools/gen_pins.py` before the driver gate does."""
    import json
    import os

    import pandas as pd

    if not os.path.isdir("/root/testdata/sf0.01"):
        pytest.skip("driver testdata unavailable")
    import __spark_entry__ as entrymod
    pins = json.load(open(
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tests/golden/oracle_pins.json")))
    qs = entrymod.queries()
    for name in ["winnow_stats", "sections", "lang_id_detect",
                 "asset_features"]:
        got = qs[name](spark, "/root/testdata/sf0.01").toPandas()
        exp = pd.DataFrame(pins[name]["rows"], columns=pins[name]["columns"])
        got = got[sorted(got.columns)].sort_values(list(sorted(got.columns)))
        exp = exp[sorted(exp.columns)].sort_values(list(sorted(exp.columns)))
        assert [tuple(map(str, r)) for r in got.itertuples(index=False)] == \
               [tuple(map(str, r)) for r in exp.itertuples(index=False)], name


def test_toxicity_scores(spark):
    from sumi_agent_spark.operators.toxicity import toxicity_scores

    rows = [(0, "you are an idiot and a loser"),
            (1, "お前はバカだ。死ね。"),
            (2, "a perfectly nice message about data pipelines"),
            (3, "idiot " * 50),            # saturation capped at 1.0
            (4, ""), (5, None),
            (6, "the word idiotic is not the word idiot-")]  # \b semantics
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = toxicity_scores(df).toPandas().set_index("doc_id")
    assert out.loc[0, "n_mild"] == 2 and out.loc[0, "n_severe"] == 0
    assert out.loc[1, "n_severe"] == 1 and out.loc[1, "n_mild"] == 1
    assert out.loc[1, "toxicity"] > out.loc[0, "toxicity"] > 0
    assert out.loc[2, "toxicity"] == 0.0
    assert out.loc[3, "toxicity"] == 1.0
    assert out.loc[4, "toxicity"] == 0.0 and out.loc[5, "toxicity"] == 0.0
    assert out.loc[6, "n_mild"] == 1  # "idiotic" no, trailing "idiot-" yes


def test_ivf_topk_recovers_similar_cluster(spark):
    """IVF probes must recover a planted similar cluster, like the LSH
    path; also checks assignment determinism across repartitionings."""
    from sumi_agent_spark.operators.similarity import (
        assign_ivf_lists, cosine_topk, ivf_topk, train_ivf_centroids,
    )
    rng = np.random.RandomState(23)
    base = rng.standard_normal(32)
    rows = [(i, [float(x) for x in base + 0.05 * rng.standard_normal(32)])
            for i in range(10)]
    rows += [(i, [float(x) for x in rng.standard_normal(32)])
             for i in range(10, 300)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = train_ivf_centroids(df, n_lists=8, sample=300)
    indexed = assign_ivf_lists(df, cents)
    ann = ivf_topk(indexed, cents, [float(x) for x in base],
                   k=10, n_probe=2).toPandas()
    brute = cosine_topk(df, [float(x) for x in base], k=10).toPandas()
    assert len(set(brute["vec_id"]) & set(ann["vec_id"])) >= 8
    # probing scans a subset, not everything
    n_probed = indexed.filter(
        indexed["list_id"].isin([0, 1, 2, 3, 4, 5, 6, 7])).count()
    assert n_probed == 300
    # deterministic across partitionings
    a = sorted(map(tuple, ann.itertuples(index=False)))
    ann2 = ivf_topk(assign_ivf_lists(df.repartition(7), cents), cents,
                    [float(x) for x in base], k=10, n_probe=2).toPandas()
    assert sorted(map(tuple, ann2.itertuples(index=False))) == a


def test_empty_inputs_do_not_crash(spark):
    """Empty tables / empty Arrow batches degrade to empty results."""
    from sumi_agent_spark.operators.dedup import (
        _batch_shingles, minhash_near_duplicates,
    )
    from sumi_agent_spark.operators.similarity import (
        assign_ivf_lists, cosine_pairs_blocked,
    )
    vals, rs = _batch_shingles([], 5)
    assert len(vals) == 0 and list(rs) == [0]
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert cosine_pairs_blocked(empty_emb).count() == 0
    cents = np.eye(4)
    assert assign_ivf_lists(empty_emb, cents).count() == 0
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert minhash_near_duplicates(empty_docs, "doc_id", "text").count() == 0


def test_minhash_bands_derived_from_threshold():
    from sumi_agent_spark.operators.dedup import bands_for_threshold

    assert bands_for_threshold(0.8) == 16   # midpoint 0.707
    assert bands_for_threshold(0.7) == 32   # midpoint 0.420
    assert bands_for_threshold(0.3) == 64   # midpoint 0.125
    for thr in (0.3, 0.5, 0.7, 0.8, 0.9):
        bands = bands_for_threshold(thr)
        rows = 128 // bands
        assert (1.0 / bands) ** (1.0 / rows) <= thr - 0.08


def test_minhash_unsafe_explicit_bands_warns(docs):
    """An explicit band count whose S-curve midpoint exceeds the threshold
    silently halves edge recall -- it must warn."""
    import warnings

    from sumi_agent_spark.operators.dedup import minhash_near_duplicates

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        minhash_near_duplicates(docs, "doc_id", "text",
                                threshold=0.6, bands=16)
        assert any("midpoint" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        minhash_near_duplicates(docs, "doc_id", "text", threshold=0.6)
        assert not w  # derived geometry is always safe


def test_batch_fnv_matches_scalar():
    from sumi_agent_spark.operators.dedup import _batch_fnv64, _poly64

    toks = ["hello", "", "a", "世界", "x" * 300, "mixed123", "日本語テスト"]
    got = _batch_fnv64([t.encode("utf-8") for t in toks])
    for t, h in zip(toks, got):
        assert int(h) == _poly64(t), t
    assert len(_batch_fnv64([])) == 0


def test_batch_fnv_tier_boundaries_and_mix():
    """Every pad-tier boundary (8/16/.../256, +-1) and the ADVICE scenario
    -- one near-cutoff token among many tiny ones -- must hash identically
    to the scalar loop; the tiered padding is a pure memory optimization."""
    from sumi_agent_spark.operators.dedup import (
        _FNV_TIERS, _batch_fnv64, _poly64)

    toks = []
    for w in _FNV_TIERS:
        for d in (-1, 0, 1):
            toks.append("b" * (w + d))
    toks += ["x"] * 1000 + ["y" * 250] + ["z"] * 1000  # mixed-tier batch
    got = _batch_fnv64([t.encode("utf-8") for t in toks])
    for t, h in zip(toks, got):
        assert int(h) == _poly64(t), len(t)


def test_simhash_udf_batch_matches_per_row(spark):
    """The vectorized simhash must equal the scalar definition: sign of
    the per-bit +-1 token sums under per-token FNV-1a."""
    from sumi_agent_spark.operators.dedup import _poly64, make_simhash_udf

    texts = [BASE, "", "   ", "one", "ONE one OnE", "日本語 テスト 文章",
             BASE.replace("quick", "swift"), None, "\t\n", "a b c d e " * 50]

    def scalar_simhash(t):
        toks = (t or "").lower().split()
        if not toks:
            return 0
        v = np.zeros(64, dtype=np.int64)
        for tok in toks:
            h = _poly64(tok)
            for j in range(64):
                v[j] += 1 if (h >> j) & 1 else -1
        out = 0
        for j in range(64):
            if v[j] > 0:
                out |= 1 << j
        return np.uint64(out).astype(np.int64)

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    sim = make_simhash_udf()
    got = {r.doc_id: r.sh for r in
           df.select("doc_id", sim("text").alias("sh")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == int(scalar_simhash(t)), (i, t)


def test_ann_containment_contract_values(spark):
    """The live cross-algorithm gate's expected values at the pin scale:
    IVF top-10 fully contained in brute top-20, zero MinHash false
    extras; hyperplane-LSH overlaps 1/10 on these isotropic random
    embeddings (global top-k of barely-similar vectors spreads across
    all buckets -- its cluster recall is gated separately above)."""
    import __spark_entry__ as e

    row = (e.queries()["ann_containment"](spark, "/root/testdata/sf0.01")
           .collect()[0])
    assert row.n_ivf_in_brute20 == 10
    assert row.n_minhash_extra == 0
    assert row.n_lsh_in_brute20 == 1


def test_minhash_capped_bucket_observed(spark, tmp_path):
    """A pathological boilerplate bucket is dropped by max_bucket_size (the
    right 100 TB behavior) but must be VISIBLE: the observation reports the
    dropped buckets/rows on the same pass, and the counts land in a
    lineage row a 100 TB operator can read for recall risk."""
    from pyspark.sql import Observation

    from sumi_agent_spark.operators.dedup import (
        capped_bucket_metrics, minhash_near_duplicates)

    hot = [(i, "boilerplate legal disclaimer common to every doc " * 3)
           for i in range(20)]
    near = [(100, BASE), (101, BASE.replace("quick", "swift"))]
    df = spark.createDataFrame(hot + near, ["doc_id", "text"])
    obs = Observation("minhash_capping")
    pairs = minhash_near_duplicates(df, "doc_id", "text", threshold=0.6,
                                    max_bucket_size=10, observation=obs)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (100, 101) in got
    assert all(a >= 100 for a, _ in got)  # hot bucket fully capped out

    m = capped_bucket_metrics(obs)
    # threshold 0.6 derives 32 bands; the 20 identical docs form ONE
    # over-cap bucket per band
    assert m["n_capped_buckets"] == 32
    assert m["n_capped_rows"] == 32 * 20
    assert m["max_bucket_n"] == 20

    path = str(tmp_path / "_lineage_guards")
    spark.createDataFrame([{"stage": "minhash_near_dup", **m}]) \
        .write.mode("append").parquet(path)
    back = spark.read.parquet(path).collect()[0]
    assert back.n_capped_buckets == 32 and back.max_bucket_n == 20


def test_simhash_and_embedding_capping_observed(spark):
    from pyspark.sql import Observation

    from sumi_agent_spark.operators.dedup import (
        capped_bucket_metrics, embedding_near_duplicates,
        simhash_near_duplicates)

    hot = [(i, "identical text for everyone here") for i in range(12)]
    near = [(100, BASE), (101, BASE.replace("quick", "swift"))]
    df = spark.createDataFrame(hot + near, ["doc_id", "text"])
    obs = Observation("simhash_capping")
    out = simhash_near_duplicates(df, "doc_id", "text", max_hamming=6,
                                  max_bucket_size=5, observation=obs)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (100, 101) in pairs and all(a >= 100 for a, _ in pairs)
    m = capped_bucket_metrics(obs)
    # the 12 identical docs over-cap their bucket in each of the 4 chunks
    assert m["n_capped_buckets"] == 4
    assert m["n_capped_rows"] == 4 * 12
    assert m["max_bucket_n"] == 12

    rng = np.random.RandomState(7)
    hot_v = [(i, [1.0, 0.5, -0.25, 2.0]) for i in range(12)]
    other = [float(x) for x in rng.standard_normal(4)]
    near_v = [(100, other), (101, [v * 1.0001 for v in other])]
    edf = spark.createDataFrame(hot_v + near_v, ["vec_id", "embedding"])
    eobs = Observation("emb_capping")
    eout = embedding_near_duplicates(edf, max_bucket_size=5,
                                     observation=eobs)
    epairs = {(r.id_a, r.id_b) for r in eout.collect()}
    assert (100, 101) in epairs and all(a >= 100 for a, _ in epairs)
    em = capped_bucket_metrics(eobs)
    assert em["n_capped_buckets"] == 1
    assert em["n_capped_rows"] == 12
    assert em["max_bucket_n"] == 12


def test_capping_metrics_empty_output_corner(spark):
    """When EVERYTHING is capped the final output is empty and Spark never
    executes the observed subtree (empty-build-side join + AQE empty
    propagation): capped_bucket_metrics must report None -- never a silent
    zero -- and the dedicated audit job must return the exact counts."""
    from pyspark.sql import Observation

    from sumi_agent_spark.operators.dedup import (
        capped_bucket_metrics, minhash_bucket_audit, minhash_near_duplicates)

    df = spark.createDataFrame(
        [(i, "boilerplate disclaimer " * 4) for i in range(20)],
        ["doc_id", "text"])
    obs = Observation("minhash_capping_empty")
    pairs = minhash_near_duplicates(df, "doc_id", "text", threshold=0.8,
                                    max_bucket_size=10, observation=obs)
    assert pairs.count() == 0
    assert capped_bucket_metrics(obs) is None

    audit = minhash_bucket_audit(df, "doc_id", "text", threshold=0.8,
                                 max_bucket_size=10)
    assert audit == {"n_capped_rows": 16 * 20, "n_capped_buckets": 16,
                     "max_bucket_n": 20}


def test_minhash_non_divisor_bands_warns_with_real_geometry(docs):
    """The executed geometry truncates rows/band; the safety warning must
    use that, not the fractional midpoint (which would fire spuriously),
    and must flag the silently-discarded hashes."""
    import warnings

    from sumi_agent_spark.operators.dedup import minhash_near_duplicates

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        # 128/48 -> 2 rows/band (96 hashes used), midpoint 0.144 <= 0.2
        minhash_near_duplicates(docs, "doc_id", "text",
                                threshold=0.2, n_hashes=128, bands=48)
        msgs = [str(x.message) for x in w]
        assert any("discarded" in m for m in msgs)
        assert not any("midpoint" in m for m in msgs)  # geometry is safe


def test_minhash_bands_exceeding_hashes_rejected(docs):
    """bands > n_hashes truncates rows/band to 0 -- every band key would
    collapse to the empty-slice hash and the self-join goes all-pairs."""
    from sumi_agent_spark.operators.dedup import minhash_near_duplicates

    with pytest.raises(ValueError, match="exceeds"):
        minhash_near_duplicates(docs, "doc_id", "text",
                                threshold=0.5, n_hashes=128, bands=256)
