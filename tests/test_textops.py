"""Training-data operators: dedup family, text analysis, similarity
search (brute force vs LSH recall), multimodal plumbing."""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="testdata not present")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_minhash_near_dups_found(spark):
    """Near-identical docs must collide in every band; unrelated docs
    in none."""
    from neleval_spark.functions.textops import minhash_lsh_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely different content about spark engines"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["n_bands"]
             for r in minhash_lsh_pairs(d).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_similar_docs_close(spark):
    from neleval_spark.functions.textops import simhash

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "one two three four five six seven eight"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    s = {r["doc_id"]: r["simhash"] for r in simhash(d).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(s[1], s[2]) < ham(s[1], s[3])


def test_ngram_jaccard(spark):
    from neleval_spark.functions.textops import ngram_jaccard_pairs

    rows = [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 3)],
                                  "doc_a long, doc_b long")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(d, pairs).collect()}
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 0.0


def test_fingerprint_order_sensitive(spark):
    from neleval_spark.functions.textops import doc_fingerprint

    rows = [(1, "alpha beta gamma"), (2, "gamma beta alpha"),
            (3, "alpha beta gamma")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: r["fingerprint"]
          for r in doc_fingerprint(d).collect()}
    assert fp[1] == fp[3]
    assert fp[1] != fp[2]  # same bag of words, different order


def test_lang_id_heuristic(spark):
    """The testdata documents table carries random lang labels over
    English-ish token salads, so lang-ID is tested on real snippets."""
    from neleval_spark.functions.textops import lang_id

    rows = [
        (1, "the cat sat on the mat and looked to the door", "en"),
        (2, "der hund ist nicht mit der katze und das haus", "de"),
        (3, "le chat est dans la maison pour les vacances", "fr"),
        (4, "zzz qqq xxx", "und"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, "
                              "expected string")
    got = {r["doc_id"]: r["lang_guess"] for r in lang_id(d).collect()}
    exp = {r[0]: r[2] for r in rows}
    assert got == exp


def test_quality_features(spark):
    from neleval_spark.functions.textops import quality_features

    d = spark.createDataFrame(
        [(1, "The cat, and the dog!"), (2, "")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in quality_features(d).collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 5
    assert r1["stopword_ratio"] == 0.6  # the, and, the
    assert r1["punct_ratio"] > 0
    r2 = rows[2]
    assert r2["n_tokens"] == 0 and r2["stopword_ratio"] == 0.0


def test_staged_arrays_survive_optimizer(spark):
    """Plan pin for the interpreted-HOF fix (PLANS.md "higher-order
    functions are interpreted"): the materialized normalization /
    token arrays must survive as staging projections in the OPTIMIZED
    plan.  If CollapseProject inlines them back into the lambda
    bodies (alias gone from the plan), interpreted eval re-runs the
    tokenize/normalize expression per element — the O(len²)/doc
    regression this test guards against."""
    from neleval_spark.functions.textops import (
        lang_id, ngram_jaccard_pairs, quality_features)

    d = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")

    def opt(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "_li_norm" in opt(lang_id(d)), "lang_id norm inlined"
    assert "_qf_toks" in opt(quality_features(d)), \
        "quality_features tokens inlined"
    pairs = spark.createDataFrame([(1, 1)], "doc_a long, doc_b long")
    assert "_toks" in opt(ngram_jaccard_pairs(d, pairs, n=2)), \
        "shingle tokens inlined"


def test_ann_lsh_recall(spark):
    """LSH top-k must recover most of the exact top-k (the scale
    path's recall contract)."""
    from neleval_spark.functions.similarity import ann_lsh_topk, cosine_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb = F.col("embedding").cast("array<double>")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), emb.alias("qv"))
    c = e.select(F.col("vec_id").alias("cid"), emb.alias("cv"))

    exact = {(r["qid"], r["cid"])
             for r in cosine_topk(q, c, k=5).collect()}
    approx = {(r["qid"], r["cid"])
              for r in ann_lsh_topk(q, c, k=5, n_tables=12,
                                    n_planes=4).collect()}
    recall = len(exact & approx) / len(exact)
    # recall/candidate-count tradeoff is tunable via tables/planes;
    # 12x4 on 64-dim uniform-ish vectors must recover the majority
    assert recall >= 0.6, recall


def test_cosine_topk_refuses_large_cross_join(spark):
    """cosine_topk is the exact-baseline cross join; above max_pairs
    it must refuse with a pointer at the scale paths."""
    import pytest
    from neleval_spark.functions.similarity import cosine_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb = F.col("embedding").cast("array<double>")
    q = e.select(F.col("vec_id").alias("qid"), emb.alias("qv"))
    c = e.select(F.col("vec_id").alias("cid"), emb.alias("cv"))
    with pytest.raises(ValueError, match="ann_lsh_topk"):
        cosine_topk(q, c, k=5, max_pairs=10)
    # explicit opt-out skips the guard entirely
    assert cosine_topk(q.limit(2), c.limit(3), k=1,
                       max_pairs=None).count() > 0


def test_pq_encode_matches_hand_computation(spark):
    """Per-subspace argmin encoding must equal the pure-Python
    computation over the same fixed codebooks, for every vector."""
    from neleval_spark.functions.similarity import (pq_codebooks,
                                                    pq_encode)

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb = F.col("embedding").cast("array<double>")
    c = e.select(F.col("vec_id").alias("cid"), emb.alias("cv"))
    books = pq_codebooks()
    got = {r["cid"]: list(r["codes"]) for r in pq_encode(c).collect()}
    rows = {r["vec_id"]: list(r["embedding"]) for r in e.collect()}
    for cid, v in rows.items():
        exp = []
        for s in range(8):
            sub = v[s * 8:(s + 1) * 8]
            exp.append(min(
                (sum((a - b) ** 2 for a, b in zip(sub, cb)), j)
                for j, cb in enumerate(books[s]))[1])
        assert got[cid] == exp, cid
    assert all(len(cs) == 8 and all(0 <= x < 16 for x in cs)
               for cs in got.values())


def test_ivfpq_recall_on_clustered_data(spark):
    """On data with real cluster structure (what PQ is for — the
    sf embeddings are near-uniform, where distance concentration
    defeats ANY 8-byte sketch), trained codebooks + true anchors
    must put every top-5 neighbour in the query's own cluster."""
    from neleval_spark.functions.similarity import (
        ivfpq_topk, train_pq_codebooks)

    def jit(i, d):
        return ((((i * 1009 + d * 9176 + 7) * 2654435761)
                 % (1 << 32)) / float(1 << 32)) * 0.2 - 0.1

    anchors = [[(3.0 if (c >> b) & 1 else -3.0) for b in range(16)]
               for c in range(8)]
    rows = [(c * 25 + p,
             [anchors[c][d] + jit(c * 25 + p, d) for d in range(16)])
            for c in range(8) for p in range(25)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    q = df.where(F.col("id") % 25 == 0).select(
        F.col("id").alias("qid"), F.col("v").alias("qv"))
    c_ = df.select(F.col("id").alias("cid"), F.col("v").alias("cv"))
    books = train_pq_codebooks(c_, n_sub=4, k_sub=8)
    got = ivfpq_topk(q, c_, k=5, centroids=anchors,
                     codebooks=books, n_probe=2).collect()
    assert len(got) == 8 * 5
    assert all(r["cid"] // 25 == r["qid"] // 25 for r in got)


def test_ivfpq_requires_fixed_centroids(spark):
    import pytest
    from neleval_spark.functions.similarity import ivfpq_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb = F.col("embedding").cast("array<double>")
    q = e.limit(2).select(F.col("vec_id").alias("qid"),
                          emb.alias("qv"))
    c = e.select(F.col("vec_id").alias("cid"), emb.alias("cv"))
    with pytest.raises(ValueError, match="centroids"):
        ivfpq_topk(q, c, k=3)


def test_semantic_dedup_flags_planted_neardups(spark):
    """SemDeDup policy: a planted near-identical vector must be
    flagged against its lower-id twin (same cell by construction); a
    far-off vector must survive; chains follow greedy lowest-id."""
    from neleval_spark.functions.similarity import semantic_dedup

    base = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, base),
        (1, [0.999, 0.01, 0.0, 0.0]),     # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),        # different direction
        (3, [0.998, 0.02, 0.0, 0.0]),     # near-dup of 0 and 1
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    out = {r["id"]: r for r in semantic_dedup(
        df, threshold=0.99, centroids=cents).collect()}
    assert not out[0]["is_dup"] and not out[2]["is_dup"]
    assert out[1]["is_dup"] and out[1]["dup_of"] == 0
    assert out[3]["is_dup"] and out[3]["dup_of"] == 0
    assert out[3]["n_dups"] == 2  # flagged by both 0 and 1
    # survivors carry NULL dup metadata
    assert out[0]["dup_of"] is None and out[0]["dup_cos"] is None


def test_semantic_dedup_refuses_hot_cells(spark):
    """All vectors in one cell → quadratic pair fan-in; must refuse
    above max_cell_pairs with a pointer at n_cells (the
    refuse-cartesian stance of cosine_topk)."""
    import pytest
    from neleval_spark.functions.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, [1.0, float(i) / 100.0]) for i in range(30)],
        "id long, vec array<double>")
    cents = [[1.0, 0.0], [-1.0, 0.0]]
    with pytest.raises(ValueError, match="n_cells"):
        semantic_dedup(df, threshold=0.9, centroids=cents,
                       max_cell_pairs=100)
    assert semantic_dedup(df, threshold=0.9, centroids=cents,
                          max_cell_pairs=None).count() == 30


def test_multimodal_plumbing(spark):
    from neleval_spark.functions.multimodal import (
        FEATURE_DIM, bucketed, decode_stub, extract_features,
        synth_assets)

    assets = synth_assets(spark, 50)
    feats = extract_features(assets).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r["feature"]) == FEATURE_DIM
        assert r["n_bytes"] > 0
    # deterministic: same bytes → same feature
    f2 = extract_features(synth_assets(spark, 50)).collect()
    assert sorted((r["asset_id"], tuple(r["feature"])) for r in feats) \
        == sorted((r["asset_id"], tuple(r["feature"])) for r in f2)
    # bucketing is stable
    b = bucketed(synth_assets(spark, 50))
    assert b.select("bucket").distinct().count() <= 64
    with pytest.raises(NotImplementedError):
        decode_stub(b"x", "image")


# --- round 2: real header-level media decode ----------------------------------

def _png(w, h):
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))


def _gif(w, h):
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def _jpeg(w, h):
    import struct

    return (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
            + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", h, w) + b"\x01\x00\x00\x00")


def _wav(rate=8000, channels=1, bits=16, n_samples=8000):
    import struct

    data_size = n_samples * channels * bits // 8
    return (b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, channels, rate,
                          rate * channels * bits // 8,
                          channels * bits // 8, bits)
            + b"data" + struct.pack("<I", data_size))


def test_decode_headers_pure():
    from neleval_spark.functions.multimodal import decode_headers

    assert decode_headers(_png(640, 480)) == {
        "format": "png", "width": 640, "height": 480}
    assert decode_headers(_gif(320, 200)) == {
        "format": "gif", "width": 320, "height": 200}
    assert decode_headers(_jpeg(1024, 768)) == {
        "format": "jpeg", "width": 1024, "height": 768}
    wav = decode_headers(_wav(rate=8000, n_samples=4000))
    assert wav == {"format": "wav", "channels": 1,
                   "sample_rate_hz": 8000, "bits_per_sample": 16,
                   "duration_ms": 500}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_headers(b"\x00" * 64)


def test_header_feature_pinned():
    """Default FEATURE_FN is the real header-derived vector:
    [ok, fmt, w, h, ch, rate, bits, dur_ms, n_bytes, 0...]."""
    from neleval_spark.functions.multimodal import (
        FEATURE_DIM, FEATURE_FN, header_feature)

    assert FEATURE_FN is header_feature
    png = _png(640, 480)
    v = header_feature(png, "image")
    assert v[:9] == [1.0, 1.0, 640.0, 480.0, 0.0, 0.0, 0.0, 0.0,
                     float(len(png))]
    assert v[9:] == [0.0] * (FEATURE_DIM - 9)
    wav = _wav(rate=8000, n_samples=4000)
    assert header_feature(wav, "audio")[:9] == [
        1.0, 4.0, 0.0, 0.0, 1.0, 8000.0, 16.0, 500.0, float(len(wav))]
    # undecodable input: zero vector + n_bytes, never an error
    assert header_feature(b"\x00" * 64, "image")[:9] == [
        0.0] * 8 + [64.0]
    assert header_feature(None, "image")[8] == 0.0


def test_synth_media_assets_real_containers(spark):
    """synth_media_assets emits PARSEABLE containers whose header
    params equal the generating arithmetic (the oracle contract)."""
    from neleval_spark.functions.multimodal import (
        decode_headers, synth_media_assets)

    keys = spark.createDataFrame(
        [(k, 7 * k + 3) for k in range(1, 60)], "k long, c long")
    rows = {r["asset_id"]: r
            for r in synth_media_assets(keys).collect()}
    assert len(rows) == 59
    for k in range(1, 60):
        c = 7 * k + 3
        r = rows[f"m{k}"]
        if k % 17 == 0:
            with pytest.raises(ValueError):
                decode_headers(r["bytes"])
            continue
        meta = decode_headers(r["bytes"])
        if k % 3 == 0:
            assert (meta["format"], meta["width"], meta["height"]) == \
                ("gif", 1 + k % 1024, 1 + c % 1024)
        elif k % 3 == 1:
            assert meta["format"] == "wav"
            assert meta["channels"] == 1 + k % 2
            assert meta["sample_rate_hz"] == 8000 * (1 + c % 3)
            assert meta["duration_ms"] == \
                (1000 * 48 * (5 + c % 40)) // (8000 * (1 + c % 3))
        else:
            assert meta["format"] == "mp4"
            assert meta["duration_ms"] == 500 + c % 9999


def test_extract_media_meta_spark(spark):
    """Distributed header decode: one mapInPandas hop, undecodable
    rows carry error instead of failing the job."""
    from neleval_spark.functions.multimodal import extract_media_meta

    rows = [
        ("a1", "image", _png(640, 480), None),
        ("a2", "image", _jpeg(100, 50), None),
        ("a3", "audio", _wav(rate=16000, n_samples=16000), None),
        ("a4", "image", b"\xde\xad\xbe\xef" * 8, None),
    ]
    df = spark.createDataFrame(
        rows, "asset_id string, kind string, bytes binary, "
              "meta map<string,string>")
    got = {r["asset_id"]: r for r in extract_media_meta(df).collect()}
    assert (got["a1"]["format"], got["a1"]["width"],
            got["a1"]["height"]) == ("png", 640, 480)
    assert (got["a2"]["width"], got["a2"]["height"]) == (100, 50)
    assert (got["a3"]["sample_rate_hz"],
            got["a3"]["duration_ms"]) == (16000, 1000)
    assert got["a4"]["format"] is None
    assert "unrecognized container" in got["a4"]["error"]


def test_shingle_ids_match_python(spark):
    """The w-shingle polynomial hash is a pure function — pin it
    against a straight Python recomputation (this is the value the
    DuckDB dedup_cluster oracle computes independently)."""
    import re

    from neleval_spark.functions.textops import (
        MINHASH_PRIME, SHINGLE_MULT, shingle_ids)

    texts = {
        1: "The quick brown fox jumps over the lazy dog again",
        2: "short doc",          # < n tokens -> whole-doc fallback
        3: "",                   # no tokens  -> fold over nothing = 0
    }
    d = spark.createDataFrame(list(texts.items()),
                              "doc_id long, text string")
    got = {}
    for r in shingle_ids(d, n=5).collect():
        got.setdefault(r["doc_id"], []).append(r["token_id"])

    def tok_hash(t):
        acc = 0
        for ch in t:
            acc = (acc * 31 + ord(ch)) % MINHASH_PRIME
        return acc

    def expected(text, n=5):
        ids = [tok_hash(t)
               for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        if len(ids) < n:
            acc = 0
            for t in ids:
                acc = (acc * SHINGLE_MULT + t) % MINHASH_PRIME
            return [acc]
        out = []
        for i in range(len(ids) - n + 1):
            acc = ids[i]
            for j in range(1, n):
                acc = (acc * SHINGLE_MULT + ids[i + j]) % MINHASH_PRIME
            out.append(acc)
        return out

    for doc_id, text in texts.items():
        assert sorted(got[doc_id]) == sorted(expected(text)), doc_id


def test_dedup_cluster_vs_duckdb(spark):
    """Full near-dup clustering (shingle MinHash -> LSH pairs ->
    distributed CC -> canonical doc) against the independent DuckDB
    recursive-CTE oracle at sf0.001."""
    import duckdb

    import __spark_entry__ as em

    mine = em.queries()["dedup_cluster"](spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')")
    oracle = con.execute(em.oracle_sql()["dedup_cluster"]).df()
    assert len(mine) == len(oracle)
    m = mine.sort_values("doc_id").reset_index(drop=True)
    o = oracle.sort_values("doc_id").reset_index(drop=True)
    for c in ("doc_id", "cluster", "cluster_size"):
        assert (m[c].astype("int64") == o[c].astype("int64")).all(), c
    assert (m["is_canonical"].astype(bool)
            == o["is_canonical"].astype(bool)).all()
    # the clustering is non-degenerate on this corpus: real near-dup
    # groups exist and the corpus does NOT collapse into one blob
    assert (m["cluster_size"] > 1).any()
    assert m["cluster_size"].max() < len(m) / 10


def test_ivf_recall(spark):
    """IVF (k-means cells + n_probe) top-k must recover most of the
    exact top-k; deterministic for a fixed seed."""
    from neleval_spark.functions.similarity import cosine_topk, ivf_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb = F.col("embedding").cast("array<double>")
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), emb.alias("qv"))
    c = e.select(F.col("vec_id").alias("cid"), emb.alias("cv"))

    exact = {(r["qid"], r["cid"])
             for r in cosine_topk(q, c, k=5).collect()}
    approx = {(r["qid"], r["cid"])
              for r in ivf_topk(q, c, k=5, n_cells=8,
                                n_probe=3).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall
    again = {(r["qid"], r["cid"])
             for r in ivf_topk(q, c, k=5, n_cells=8,
                               n_probe=3).collect()}
    assert again == approx  # seeded quantizer -> stable result


def test_decode_jpeg_fill_bytes():
    """0xFF fill bytes before a marker are legal padding (ITU T.81
    B.1.1.2) and must not desync the header scan."""
    import struct

    from neleval_spark.functions.multimodal import decode_headers

    app0 = b"\xff\xff\xff\xe0" + struct.pack(">H", 6) + b"JF\x00\x00"
    sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 99, 123) + b"\x01\x00\x00\x00")
    meta = decode_headers(b"\xff\xd8" + app0 + sof0)
    assert meta == {"format": "jpeg", "width": 123, "height": 99}


def test_redact_pii(spark):
    from neleval_spark.functions.textops import redact_pii

    rows = [(1, "mail a.b@x.org or http://x.y/z?q=1 from 10.0.0.1 "
                "call +1(555)123-4567 now"),
            (2, "nothing sensitive here")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_pii(d).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_url"], r1["n_ip"], r1["n_phone"]) \
        == (1, 1, 1, 1)
    assert r1["redacted"] == ("mail <EMAIL> or <URL> from <IP> "
                              "call <PHONE> now")
    r2 = out[2]
    assert r2["redacted"] == "nothing sensitive here"
    assert r2["n_email"] == r2["n_url"] == r2["n_ip"] == r2["n_phone"] == 0


def _mp4_bytes(w, h, dur_ms, timescale=1000):
    import struct

    dur = dur_ms * timescale // 1000
    mvhd = (b"\x00" + b"\x00" * 3 + struct.pack(">II", 0, 0)
            + struct.pack(">II", timescale, dur) + b"\x00" * 80)
    mvhd_box = struct.pack(">I4s", 8 + len(mvhd), b"mvhd") + mvhd
    tkhd = (b"\x00" + b"\x00" * 3 + b"\x00" * 76
            + struct.pack(">II", w << 16, h << 16))
    tkhd_box = struct.pack(">I4s", 8 + len(tkhd), b"tkhd") + tkhd
    trak = struct.pack(">I4s", 8 + len(tkhd_box), b"trak") + tkhd_box
    moov = (struct.pack(">I4s", 8 + len(mvhd_box) + len(trak), b"moov")
            + mvhd_box + trak)
    ftyp = struct.pack(">I4s", 16, b"ftyp") + b"isom\x00\x00\x00\x01"
    return ftyp + moov


def test_decode_mp4_header():
    from neleval_spark.functions.multimodal import decode_headers

    meta = decode_headers(_mp4_bytes(640, 360, 12345))
    assert meta == {"format": "mp4", "duration_ms": 12345,
                    "width": 640, "height": 360}


def test_sample_frames(spark):
    """Frame sampling: duration-driven sample points, deterministic
    fake frames, real mapInPandas plumbing."""
    import hashlib

    from neleval_spark.functions.multimodal import sample_frames

    rows = [("v1", "video", _mp4_bytes(320, 240, 3500), None),
            ("v2", "video", b"\x00" * 20, None)]  # undecodable
    assets = spark.createDataFrame(
        rows, "asset_id string, kind string, bytes binary, "
              "meta map<string,string>")
    got = {(r["asset_id"], r["frame_idx"]): r
           for r in sample_frames(assets, every_ms=1000).collect()}
    # 3500ms at 1000ms cadence -> frames at 0,1000,2000,3000
    assert sorted(i for a, i in got if a == "v1") == [0, 1, 2, 3]
    # undecodable asset still yields one frame row (idx 0)
    assert sorted(i for a, i in got if a == "v2") == [0]
    f = got[("v1", 2)]
    assert f["ts_ms"] == 2000
    assert bytes(f["frame"]) == hashlib.sha256(b"v1\x002").digest()


def test_decode_mp4_truncated_v1_mvhd_is_error_row(spark):
    """A truncated version-1 mvhd (20-31 content bytes) is malformed
    untrusted input: decode_headers raises ValueError (not
    struct.error) and extract_media_meta converts it to an error ROW
    instead of failing the job."""
    import struct

    import pytest

    from neleval_spark.functions.multimodal import (
        decode_headers, extract_media_meta)

    # v1 mvhd with only 24 content bytes (needs 32)
    mvhd = b"\x01" + b"\x00" * 23
    mvhd_box = struct.pack(">I4s", 8 + len(mvhd), b"mvhd") + mvhd
    moov = struct.pack(">I4s", 8 + len(mvhd_box), b"moov") + mvhd_box
    ftyp = struct.pack(">I4s", 16, b"ftyp") + b"isom\x00\x00\x00\x01"
    data = ftyp + moov

    with pytest.raises(ValueError, match="truncated v1 mvhd"):
        decode_headers(data)

    rows = [("ok", "video", _mp4_bytes(320, 240, 3500), None),
            ("bad", "video", data, None)]
    df = spark.createDataFrame(
        rows, "asset_id string, kind string, bytes binary, meta string")
    out = {r["asset_id"]: r for r in extract_media_meta(df).collect()}
    assert out["ok"]["error"] is None
    assert out["ok"]["duration_ms"] == 3500
    assert "truncated v1 mvhd" in out["bad"]["error"]


def test_lsh_hot_bucket_guard(spark):
    """One mass-duplicated bucket (500 identical docs) must produce
    O(n) representative-star pairs, not n(n-1)/2 — and the downstream
    dedup clustering is unchanged (single component)."""
    from neleval_spark.functions.textops import minhash_lsh_pairs
    from neleval_spark.graph.connected_components import (
        connected_components)

    boiler = "cookie policy terms of service all rights reserved " * 6
    rows = [(f"d{i:04d}", boiler) for i in range(500)]
    rows += [(f"u{i}", f"unique document number {i} about topic {i}")
             for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")

    pairs = minhash_lsh_pairs(docs, n_hashes=8, band_size=4,
                              max_bucket=100)
    n = pairs.count()
    # star edges: 499 (one per non-representative member), far below
    # the 124 750 of full expansion; unique docs may add a few pairs
    assert n < 1000, n
    star = {(r["doc_a"], r["doc_b"]) for r in
            pairs.where(F.col("doc_a") == "d0000").collect()}
    assert len(star) == 499

    comps = connected_components(
        pairs.select("doc_a", "doc_b"), src="doc_a", dst="doc_b")
    boiler_comps = {r["component"] for r in
                    comps.where(F.col("vertex").startswith("d"))
                    .collect()}
    assert boiler_comps == {"d0000"}

    # guard off (cap above bucket size): same clusters, full pairs
    full = minhash_lsh_pairs(docs, n_hashes=8, band_size=4,
                             max_bucket=100000)
    assert full.where((F.col("doc_a").startswith("d"))
                      & (F.col("doc_b").startswith("d"))
                      ).count() == 499 * 500 // 2


def test_lang_id_trigram_accuracy_mixed(spark):
    """Char-trigram profiles must classify real mixed-language prose
    (sentences the old 8-stopword toy could not all separate),
    including stopword-free technical text."""
    from neleval_spark.functions.textops import lang_id

    rows = [
        (1, "The committee published its annual report on economic "
            "growth and employment this morning.", "en"),
        (2, "Researchers found that reading comprehension improves "
            "when students discuss their ideas.", "en"),
        (3, "Die Regierung hat gestern eine neue Verordnung zur "
            "Sicherheit der Arbeitsplaetze beschlossen.", "de"),
        (4, "Wissenschaftler untersuchen die Entwicklung der Sprache "
            "bei Kindern in verschiedenen Regionen.", "de"),
        (5, "Le gouvernement annonce une nouvelle politique pour les "
            "transports dans les grandes villes.", "fr"),
        (6, "Les chercheurs etudient depuis des annees ces questions "
            "dans leurs laboratoires.", "fr"),
        # stopword-free fragments still carry trigram signal
        (7, "international understanding strengthens growing "
            "nations", "en"),
        (8, "Versicherungsgesellschaften Geschwindigkeitsbegrenzung "
            "Bundesausbildungsfoerderung", "de"),
        (9, "", "und"),
        (10, "12345 67890 %%%", "und"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, "
                              "expected string")
    got = {r["doc_id"]: r["lang_guess"] for r in lang_id(d).collect()}
    exp = {r[0]: r[2] for r in rows}
    assert got == exp


def test_lang_id_15_languages_heldout(spark):
    """Held-out accuracy sweep over all 15 supported languages (none
    of these sentences appear in the embedded training snippets);
    asserts a clean confusion-matrix diagonal. Script languages take
    the Unicode-script stage; Latin languages the trigram stage."""
    from collections import defaultdict

    from neleval_spark.functions.textops import lang_id

    heldout = [
        ("en", "We expect the weather to improve before the weekend "
               "so the match can be played outside."),
        ("en", "She wrote a long letter to her brother about the trip "
               "and the people they had met."),
        ("de", "Der Zug nach Berlin hatte wegen eines Unwetters mehr "
               "als zwei Stunden Verspätung."),
        ("de", "Im Herbst werden die Blätter bunt und viele Menschen "
               "wandern durch die Wälder."),
        ("fr", "Nous avons visité le musée avant de prendre le train "
               "pour rentrer à la maison."),
        ("fr", "Il faut beaucoup de patience pour apprendre à jouer "
               "du piano correctement."),
        ("es", "Mi hermana quiere viajar a la montaña este verano con "
               "sus amigos de la universidad."),
        ("es", "Los niños juegan en el parque mientras sus padres "
               "preparan la comida."),
        ("it", "Domani andiamo al mare con gli amici se il tempo "
               "rimane bello tutta la giornata."),
        ("it", "Il treno per Milano parte alle otto dal secondo "
               "binario della stazione centrale."),
        ("pt", "Amanhã vamos à praia com os amigos se o tempo "
               "continuar bom durante todo o dia."),
        ("pt", "As crianças brincam no parque enquanto os pais "
               "preparam o almoço de domingo."),
        ("nl", "Morgen gaan we met de fiets naar de markt om verse "
               "groenten en fruit te kopen."),
        ("nl", "Het museum is op maandag gesloten maar de rest van de "
               "week geopend voor bezoekers."),
        ("sv", "I morgon åker vi till stranden med vännerna om vädret "
               "fortsätter att vara fint."),
        ("sv", "Barnen leker i parken medan föräldrarna lagar middag "
               "hemma i köket."),
        ("ru", "Правительство объявило вчера новую экономическую "
               "политику для крупнейших городов страны."),
        ("ru", "Дети играют в парке, пока родители готовят обед."),
        ("el", "Η κυβέρνηση ανακοίνωσε χθες μια νέα οικονομική "
               "πολιτική για τις μεγαλύτερες πόλεις της χώρας."),
        ("el", "Τα παιδιά παίζουν στο πάρκο ενώ οι γονείς ετοιμάζουν "
               "το φαγητό."),
        ("ar", "أعلنت الحكومة أمس عن سياسة اقتصادية جديدة لأكبر مدن "
               "البلاد."),
        ("ar", "يلعب الأطفال في الحديقة بينما يعد الآباء الطعام."),
        ("hi", "सरकार ने कल देश के सबसे बड़े शहरों के लिए एक नई "
               "आर्थिक नीति की घोषणा की।"),
        ("hi", "बच्चे बगीचे में खेलते हैं जबकि माता-पिता खाना बनाते "
               "हैं।"),
        ("ko", "정부는 어제 국가의 가장 큰 도시들을 위한 새로운 경제 "
               "정책을 발표했다."),
        ("ko", "아이들은 부모가 저녁을 준비하는 동안 공원에서 논다."),
        ("ja", "政府は昨日、国内の大都市のための新しい経済政策を発表"
               "しました。"),
        ("ja", "子供たちは公園で遊んでいて、親は夕食を作っています。"),
        ("zh", "政府昨天宣布了针对全国大城市的新经济政策。"),
        ("zh", "孩子们在公园里玩耍，父母在家准备晚饭。"),
    ]
    rows = [(i, t, lg) for i, (lg, t) in enumerate(heldout)]
    d = spark.createDataFrame(rows, "doc_id long, text string, "
                              "expected string")
    got = {r["doc_id"]: r["lang_guess"] for r in lang_id(d).collect()}
    confusion = defaultdict(int)
    for i, (lg, _) in enumerate(heldout):
        confusion[(lg, got[i])] += 1
    off_diagonal = {k: v for k, v in confusion.items() if k[0] != k[1]}
    assert not off_diagonal, (
        f"misclassified: {off_diagonal}; full matrix: {dict(confusion)}")


def test_pack_sequences_layout(spark):
    """Concat-and-chunk invariants: contiguous offsets per shard,
    chunk ids/offsets from integer arithmetic, multi-chunk spans,
    empty docs addressable."""
    from neleval_spark.functions.textops import pack_sequences

    rows = [
        (1, "a b c d", "en"),        # 4 tokens, start 0
        (2, "e f g", "en"),          # 3 tokens, start 4
        (3, "", "en"),               # 0 tokens, start 7
        (4, "h i j k l m n", "en"),  # 7 tokens, start 7, spans 2 chunks
        (5, "x y", "de"),            # separate shard restarts at 0
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r for r in
           pack_sequences(d, capacity=8).collect()}
    assert [got[i]["pack_start"] for i in (1, 2, 3, 4)] == [0, 4, 7, 7]
    assert got[4]["chunk_id"] == 0 and got[4]["chunk_offset"] == 7
    assert got[4]["n_chunks"] == 2  # tokens 7..13 span chunks 0 and 1
    assert got[3]["pack_weight"] == 0 and got[3]["n_chunks"] == 1
    assert got[5]["pack_start"] == 0 and got[5]["chunk_id"] == 0
    # shard-partitioned window: the plan must NOT collapse to a single
    # partition (the WindowExec no-partition trap)
    plan = pack_sequences(d, capacity=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan[:1500]


def test_hash_sample_consistent_and_stratified(spark):
    """Hash thresholds give per-stratum rates, full determinism, and
    CONSISTENCY: the kept-set of a subset is the subset of the
    kept-set (what RNG sampling cannot promise)."""
    from neleval_spark.functions.textops import hash_sample

    rows = [(i, "t", "en" if i % 2 == 0 else "de")
            for i in range(2000)]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = hash_sample(d, {"en": 0.3, "de": 1.0}).collect()
    en = [r["doc_id"] for r in kept if r["lang"] == "en"]
    de = [r["doc_id"] for r in kept if r["lang"] == "de"]
    assert len(de) == 1000  # rate 1.0 keeps everything
    assert 200 <= len(en) <= 400  # ~0.3 of 1000
    # determinism
    again = {r["doc_id"] for r in
             hash_sample(d, {"en": 0.3, "de": 1.0}).collect()}
    assert again == {r["doc_id"] for r in kept}
    # consistency under dataset growth: sampling half the data keeps
    # exactly the intersection
    half = hash_sample(d.where(F.col("doc_id") < 1000),
                       {"en": 0.3, "de": 1.0})
    assert {r["doc_id"] for r in half.collect()} == \
        {i for i in again if i < 1000}
    # default rate drops unknown strata
    assert hash_sample(d, {"zz": 1.0}).count() == 0
