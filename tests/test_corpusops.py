"""Corpus curation ops: cross-document line dedup semantics (shared
lines removed everywhere, order preserved, fully-boilerplate docs
emptied, within-doc repeats counted once) and per-domain caps
(two-phase partial top-k ≡ the one-window reference, deterministic
across n_partial, no unpartitioned window)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from neleval_spark.functions.corpusops import (
    cap_per_domain, dedup_corpus_lines, dedup_substrings)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_lines_semantics(spark):
    d = _docs(spark, [
        (1, "unique alpha\ncookie banner\nunique beta"),
        (2, "cookie banner\nanother body line"),
        (3, "cookie banner"),                    # all boilerplate
        (4, "repeat me\nrepeat me\nsolo tail"),  # within-doc repeat
    ])
    out = {r["doc_id"]: r for r in
           dedup_corpus_lines(d, min_docs=2).collect()}
    assert out[1]["clean_text"] == "unique alpha\nunique beta"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 2)
    assert out[2]["clean_text"] == "another body line"
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    # "repeat me" occurs twice in ONE doc only -> 1 distinct doc,
    # below min_docs=2 -> kept, order preserved
    assert out[4]["clean_text"] == "repeat me\nrepeat me\nsolo tail"


def test_dedup_lines_common_set_is_broadcast(spark):
    d = _docs(spark, [(i, f"body {i}\nshared footer") for i in range(6)])
    plan = (dedup_corpus_lines(d)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastExchange" in plan


def test_cap_per_domain_matches_one_window_reference(spark):
    rows = [(i, f"line {i}", "en", f"src{i % 3}", 10)
            for i in range(200)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    got = cap_per_domain(d, cap=7)
    from neleval_spark.stats.significance import token_hash
    h = token_hash(F.concat(F.col("doc_id").cast("string"),
                            F.lit("#cap")))
    w = Window.partitionBy("source").orderBy("_h", "doc_id")
    want = (d.withColumn("_h", h)
            .withColumn("domain_rank", F.row_number().over(w))
            .where(F.col("domain_rank") <= 7).drop("_h"))
    key = ["doc_id", "source", "domain_rank"]
    assert sorted(map(tuple, got.select(*key).collect())) == \
        sorted(map(tuple, want.select(*key).collect()))
    per = {r["source"]: r["n"] for r in
           got.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert all(n == 7 for n in per.values())


def test_cap_per_domain_invariant_to_n_partial(spark):
    rows = [(i, "t", "en", "only", 1) for i in range(50)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    a = sorted(r["doc_id"] for r in
               cap_per_domain(d, cap=5, n_partial=2).collect())
    b = sorted(r["doc_id"] for r in
               cap_per_domain(d, cap=5, n_partial=64).collect())
    assert a == b and len(a) == 5


def test_cap_per_domain_no_global_window(spark):
    d = spark.createDataFrame(
        [(1, "t", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    plan = (cap_per_domain(d, cap=3)
            ._jdf.queryExecution().executedPlan().toString())
    # every Window node must be partitioned (no single-partition sort)
    assert "SinglePartition" not in plan


def test_budget_sample_semantics(spark):
    from neleval_spark.functions.corpusops import budget_sample
    rows = [(i, "w " * 10, ["en", "de", "zh"][i % 3], "s", 1)
            for i in range(90)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    # en: 30 docs x 10 tokens = 300 total; budget 100 -> thr 1/3
    # de: budget >> supply -> saturates (keeps all 30)
    # zh: absent from budgets -> dropped entirely
    out = budget_sample(d, {"en": 100, "de": 10_000})
    by_lang = {r["lang"]: r["n"] for r in
               out.groupBy("lang").agg(F.count("*").alias("n"))
               .collect()}
    assert by_lang.get("de") == 30
    assert "zh" not in by_lang
    assert 0 < by_lang.get("en", 0) < 30
    thr = {r["lang"]: r["threshold"] for r in
           out.select("lang", "threshold").distinct().collect()}
    assert thr["de"] == 1_000_000 and thr["en"] == 333_333
    # consistent: kept ids are a fixed hash property, not sampled anew
    again = sorted(r["doc_id"] for r in
                   budget_sample(d, {"en": 100, "de": 10_000})
                   .collect())
    assert again == sorted(r["doc_id"] for r in out.collect())


def test_temperature_sample_semantics(spark):
    from neleval_spark.functions.corpusops import temperature_sample
    # en: 80 docs x 10 tokens = 800; de: 20 x 10 = 200 (4:1 skew)
    rows = ([(i, "w " * 10, "en", "s", 1) for i in range(80)] +
            [(100 + i, "w " * 10, "de", "s", 1) for i in range(20)])
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    # alpha=0.5: weights isqrt(800)=28, isqrt(200)=14 -> shares 2:1,
    # so de gets 2x the per-token keep rate of en (rebalanced up)
    out = temperature_sample(d, total_budget=300, alpha=0.5)
    bud = {r["lang"]: r["stratum_budget"] for r in
           out.select("lang", "stratum_budget").distinct().collect()}
    assert bud == {"en": 199, "de": 99}  # ppm share 666666/333333
    thr = {r["lang"]: r["threshold"] for r in
           out.select("lang", "threshold").distinct().collect()}
    # en: 199*1e6 div 800 = 248750; de: 99*1e6 div 200 = 495000
    assert (thr["en"], thr["de"]) == (248750, 495000)
    # alpha=1.0 degenerates to a uniform keep rate across strata
    out1 = temperature_sample(d, total_budget=300, alpha=1.0)
    thr1 = {r["lang"]: r["threshold"] for r in
            out1.select("lang", "threshold").distinct().collect()}
    assert thr1["en"] == thr1["de"]
    # alpha=0.0 gives equal budgets regardless of supply
    bud0 = {r["lang"]: r["stratum_budget"] for r in
            temperature_sample(d, total_budget=300, alpha=0.0)
            .select("lang", "stratum_budget").distinct().collect()}
    assert bud0["en"] == bud0["de"]
    # off-lattice alpha refused (cross-engine pow is not exact)
    with pytest.raises(ValueError, match="lattice"):
        temperature_sample(d, total_budget=300, alpha=0.3)
    # deterministic: same kept set on re-run
    again = sorted(r["doc_id"] for r in
                   temperature_sample(d, total_budget=300).collect())
    assert again == sorted(r["doc_id"] for r in out.collect())


def test_split_by_cluster_semantics(spark):
    from neleval_spark.functions.corpusops import split_by_cluster
    # 200 docs in 50 clusters of 4 members each
    rows = [(i, i % 50) for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id long, cluster long")
    out = split_by_cluster(
        d, {"train": 800_000, "valid": 100_000, "test": 100_000})
    res = out.collect()
    assert all(r["split"] in ("train", "valid", "test") for r in res)
    # leakage safety: every member of a cluster gets the SAME split
    by_cluster = {}
    for r in res:
        by_cluster.setdefault(r["cluster"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    # train dominates at an 80/10/10 layout over 50 clusters
    n_train = sum(1 for r in res if r["split"] == "train")
    assert 100 < n_train < 200
    # partial partitions refused (silent drop would be a silent cap)
    with pytest.raises(ValueError, match="sum to denom"):
        split_by_cluster(d, {"train": 500_000})
    # deterministic across recomputation
    again = {(r["doc_id"], r["split"]) for r in out.collect()}
    assert again == {(r["doc_id"], r["split"]) for r in res}
    # NULL cluster ids fail LOUDLY (split=NULL rows would otherwise
    # land in a __HIVE_DEFAULT_PARTITION__ leaf of a sharded write)
    with_null = spark.createDataFrame(
        [(1, 7), (2, None)], "doc_id long, cluster long")
    with pytest.raises(Exception, match="NULL cluster id"):
        split_by_cluster(
            with_null,
            {"train": 800_000, "valid": 100_000, "test": 100_000}
        ).collect()


def test_shuffle_shards_semantics(spark, tmp_path):
    from neleval_spark.functions.corpusops import (shuffle_shards,
                                                   write_shards)
    d = spark.createDataFrame([(i,) for i in range(100)],
                              "doc_id long")
    out = shuffle_shards(d, n_shards=8)
    res = out.collect()
    # shuffle_idx is a permutation of 0..N-1
    assert sorted(r["shuffle_idx"] for r in res) == list(range(100))
    # round-robin: shard sizes differ by at most one row
    sizes = {}
    for r in res:
        assert r["shard"] == r["shuffle_idx"] % 8
        assert r["shard_pos"] == r["shuffle_idx"] // 8
        sizes[r["shard"]] = sizes.get(r["shard"], 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 1
    assert sum(sizes.values()) == 100 and len(sizes) == 8
    # the permutation actually shuffles (not identity order)
    assert [r["shuffle_idx"] for r in
            sorted(res, key=lambda r: r["doc_id"])] != list(range(100))
    # deterministic across recomputation; salt redraws
    again = {(r["doc_id"], r["shuffle_idx"]) for r in out.collect()}
    assert again == {(r["doc_id"], r["shuffle_idx"]) for r in res}
    redrawn = shuffle_shards(d, n_shards=8, salt="#other").collect()
    assert {(r["doc_id"], r["shuffle_idx"]) for r in redrawn} != again
    with pytest.raises(ValueError, match="n_shards"):
        shuffle_shards(d, n_shards=0)
    # writer: one file per shard directory, rows in shard_pos order
    out_dir = str(tmp_path / "shards")
    write_shards(out, out_dir, n_shards=8)
    import glob
    for k in range(8):
        parts = glob.glob(f"{out_dir}/shard={k}/*.parquet")
        assert len(parts) == 1, (k, parts)
    back = spark.read.parquet(out_dir)
    assert back.count() == 100
    one = spark.read.parquet(f"{out_dir}/shard=3/*.parquet").collect()
    assert [r["shard_pos"] for r in one] == sorted(
        r["shard_pos"] for r in one)


def test_dedup_substrings_semantics(spark):
    shared = " ".join(f"tok{i}" for i in range(10))
    d = _docs(spark, [
        # doc 1/2 share a 10-token run (>= k=8 windows duplicated)
        (1, f"alpha beta {shared} gamma"),
        (2, f"{shared} delta epsilon"),
        (3, "wholly original words only here nothing shared at all"),
        (4, "short doc"),                       # < k tokens: untouched
        (5, f"alpha beta {shared} gamma"),      # exact dup of doc 1
    ])
    out = {r["doc_id"]: r for r in
           dedup_substrings(d, k=8, min_docs=2).collect()}
    # shared run removed from every carrier; flanks survive when not
    # themselves covered by a duplicated window
    assert out[2]["clean_text"] == "delta epsilon"
    assert out[2]["n_removed"] == 10 and out[2]["n_tokens"] == 12
    # docs 1 and 5 are full duplicates of each other: every window
    # duplicated -> whole text removed
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 13
    assert out[5]["clean_text"] == ""
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"].startswith("wholly original")
    assert out[4]["clean_text"] == "short doc"
    assert out[4]["n_removed"] == 0 and out[4]["n_tokens"] == 2


def test_dedup_substrings_min_docs_and_case_sensitive(spark):
    run = " ".join(f"w{i}" for i in range(8))
    d = _docs(spark, [
        (1, run), (2, run.upper()),     # case differs: NOT duplicates
        (3, f"{run} x"), (4, f"y {run}"),
    ])
    # run appears in docs 1,3,4 (3 distinct docs); min_docs=4 keeps it
    out = {r["doc_id"]: r for r in
           dedup_substrings(d, k=8, min_docs=4).collect()}
    assert all(out[i]["n_removed"] == 0 for i in (1, 2, 3, 4))
    out2 = {r["doc_id"]: r for r in
            dedup_substrings(d, k=8, min_docs=3).collect()}
    assert out2[1]["clean_text"] == ""
    assert out2[3]["clean_text"] == "x"
    assert out2[4]["clean_text"] == "y"
    assert out2[2]["n_removed"] == 0   # uppercase variant untouched


def test_dedup_substrings_dup_set_broadcast_modes(spark):
    """Default (None) carries NO broadcast hint — AQE decides from
    the dup set's runtime size (a heavily-duplicated corpus must not
    OOM the driver through an unconditional hint); True forces the
    hint; all modes agree on results."""
    d = _docs(spark, [(i, f"filler {i} " + " ".join(
        f"c{j}" for j in range(12))) for i in range(6)])
    # forced hint: broadcast exchange in the static plan
    plan = (dedup_substrings(d, k=8, broadcast_dup=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastExchange" in plan
    # adaptive default: no hint in the optimized logical plan...
    auto = dedup_substrings(d, k=8)
    logical = auto._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical
    rows_auto = {r["doc_id"]: r["clean_text"] for r in auto.collect()}
    # ...but AQE still broadcasts this tiny set at runtime
    final = auto._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in final
    rows_forced = {r["doc_id"]: r["clean_text"] for r in
                   dedup_substrings(d, k=8, broadcast_dup=True)
                   .collect()}
    rows_shuffle = {r["doc_id"]: r["clean_text"] for r in
                    dedup_substrings(d, k=8, broadcast_dup=False)
                    .collect()}
    assert rows_auto == rows_forced == rows_shuffle


def test_latest_snapshot_keeps_newest_and_is_deterministic(spark):
    import datetime as dt
    from neleval_spark.pipeline.run import latest_snapshot

    def t(s):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

    rows = [
        ("u1", t(1), b"old", "a"), ("u1", t(9), b"new", "b"),
        ("u2", t(5), b"only", "c"),
        # equal-ts tie on u3: resolved by xxhash64(html), max wins
        ("u3", t(3), b"x", "d"), ("u3", t(3), b"y", "e"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, tag string")
    got = {r["url"]: r["tag"]
           for r in latest_snapshot(pages).collect()}
    assert got["u1"] == "b" and got["u2"] == "c"
    # tie-break is deterministic across partitionings
    a = latest_snapshot(pages.repartition(1)).collect()
    b = latest_snapshot(pages.repartition(7)).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))
    assert got["u3"] in ("d", "e")
    # map-side combine shape: partial aggregate, no window sort
    plan = latest_snapshot(pages)._jdf.queryExecution() \
        .executedPlan().toString().split("== Initial Plan ==")[0]
    assert "Window" not in plan


def test_chunk_text_layout_and_edges(spark):
    """Window layout: starts step by max-overlap, last chunk is the
    remainder, short docs give exactly one chunk, token-less docs
    give none, overlap >= max refuses."""
    import pytest
    from neleval_spark.functions.corpusops import chunk_text

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),
         (2, "a b c"),
         (3, "   ")],
        "doc_id long, text string")
    rows = chunk_text(docs, max_tokens=4, overlap=1) \
        .orderBy("doc_id", "chunk_id").collect()
    got = [(r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk"])
           for r in rows]
    assert got == [
        (1, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 4, "t3 t4 t5 t6"),
        (1, 2, 4, "t6 t7 t8 t9"),
        (2, 0, 3, "a b c"),
    ]
    # every token of doc 1 appears in some chunk (coverage), and
    # consecutive chunks share exactly `overlap` tokens
    c0, c1 = got[0][3].split(), got[1][3].split()
    assert c0[-1:] == c1[:1]
    with pytest.raises(ValueError, match="overlap"):
        chunk_text(docs, max_tokens=4, overlap=4)


def test_chunk_text_no_shuffle(spark):
    """The chunking plan must contain no exchange — in-row layout +
    one generate only."""
    from neleval_spark.functions.corpusops import chunk_text

    docs = spark.createDataFrame([(1, "a b c d e f g h")],
                                 "doc_id long, text string")
    plan = chunk_text(docs, max_tokens=4, overlap=1)._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_chunk_text_reassembly_property(spark):
    """For any (n_tokens, max_tokens, overlap): chunks overlap by
    exactly `overlap` (except a shorter final remainder) and
    reassemble to the original token stream losslessly."""
    from neleval_spark.functions.corpusops import chunk_text

    cases = [(n, m, o)
             for n in (1, 2, 5, 16, 17, 31, 32, 33, 100)
             for (m, o) in ((16, 4), (8, 7), (32, 0), (5, 1))]
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(n)))
         for i, (n, _, _) in enumerate(cases)],
        "doc_id long, text string")
    for (m, o) in {(m, o) for _, m, o in cases}:
        rows = chunk_text(docs, max_tokens=m, overlap=o) \
            .orderBy("doc_id", "chunk_id").collect()
        per = {}
        for r in rows:
            per.setdefault(r["doc_id"], []).append(r["chunk"].split())
        for i, (n, _, _) in enumerate(cases):
            toks = [f"w{i}_{j}" for j in range(n)]
            chunks = per[i]
            rec = chunks[0][:]
            for c in chunks[1:]:
                assert rec[-o:] == c[:o] if o else True
                rec += c[o:]
            assert rec == toks, (i, n, m, o)
            # no chunk exceeds max, only the last may be short of it
            assert all(len(c) <= m for c in chunks)
            assert all(len(c) == m for c in chunks[:-1])


def test_clean_lines_c4_rules(spark):
    from neleval_spark.functions.corpusops import clean_lines

    d = _docs(spark, [
        # 6 lines: 4 survive (short/javascript dropped), doc kept
        (0, "This line has enough words to keep it.\nshort one.\n"
            "Another good line with plenty of words here!\n"
            "Please enable JavaScript to view the comments.\n"
            "A third fine line that also ends with a mark?\n"
            'A "quoted" ending line with enough words here."'),
        # only 1 survivor (< min_lines=3) -> doc dropped
        (1, "Only one good line that ends with a period here.\n"
            "no punct line with many words but no mark\nshort."),
        # lorem-ipsum page -> doc dropped even with 4 good lines
        (2, "Lorem Ipsum dolor sit amet something else here today.\n"
            "Second acceptable line with enough words right here.\n"
            "Third acceptable line with enough words right here.\n"
            "Fourth acceptable line with enough words right here."),
        # curly brace (code page) -> doc dropped
        (3, "function f() { return 1; } with enough words here.\n"
            "Second acceptable line with enough words right here.\n"
            "Third acceptable line with enough words right here.\n"
            "Fourth acceptable line with enough words right here."),
        (4, ""),
    ])
    out = {r["doc_id"]: r for r in clean_lines(d).collect()}
    assert (out[0]["n_lines"], out[0]["n_kept"]) == (6, 4)
    assert out[0]["keep_doc"]
    assert out[0]["clean_text"].startswith("This line has")
    assert "JavaScript" not in out[0]["clean_text"]
    assert "short one" not in out[0]["clean_text"]
    assert out[1]["n_kept"] == 1 and not out[1]["keep_doc"]
    # doc-level token rules fire on the RAW text, case-insensitive
    assert out[2]["n_kept"] == 4 and not out[2]["keep_doc"]
    assert out[3]["n_kept"] == 4 and not out[3]["keep_doc"]
    assert (out[4]["n_kept"], out[4]["keep_doc"]) == (0, False)


def test_clean_lines_is_shuffle_free(spark):
    from neleval_spark.functions.corpusops import clean_lines

    d = _docs(spark, [(i, "A good enough line with words here.")
                      for i in range(4)])
    plan = (clean_lines(d)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    # the interpreted line-filter is staged ONCE (three consumers);
    # its predicate must not be duplicated by the optimizer
    assert plan.count("javascript") == 1


def test_contrastive_pairs_ring_semantics(spark):
    from neleval_spark.functions.corpusops import contrastive_pairs

    cl = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "B"), (6, "C")],
        "doc_id long, cluster string")
    out = contrastive_pairs(cl, n_sub=4).collect()
    byc = {}
    for r in out:
        byc.setdefault(r["cluster"], []).append((r["doc_a"],
                                                 r["doc_b"]))
    # n pairs per n-cluster (linear), singletons dropped
    assert len(byc["A"]) == 3 and len(byc["B"]) == 2
    assert "C" not in byc
    # ring: each member once as doc_a, once as doc_b; never self
    a_side = sorted(p[0] for p in byc["A"])
    b_side = sorted(p[1] for p in byc["A"])
    assert a_side == b_side == ["1", "2", "3"]
    assert all(a != b for ps in byc.values() for a, b in ps)
    # deterministic across partitionings
    out2 = contrastive_pairs(cl.repartition(3), n_sub=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_dense_index_two_phase_window(spark):
    """ranks.dense_index must never rank a whole group in one window
    partition — every row_number spec carries the sub-bucket key."""
    from neleval_spark.functions.ranks import dense_index

    df = spark.createDataFrame([(i, "g") for i in range(50)],
                               "doc_id long, cluster string")
    base = df.selectExpr("cluster", "CAST(doc_id AS STRING) AS doc")
    out = dense_index(base, ["cluster"], "doc", n_sub=8)
    ids = sorted(r["idx"] for r in out.collect())
    assert ids == list(range(50))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    rn = [line for line in plan.split("\n") if "row_number" in line]
    assert rn and all("_dr_sub" in line for line in rn), rn


def test_upsample_to_budget_semantics(spark):
    from neleval_spark.functions.corpusops import upsample_to_budget

    # stratum a: 10 docs x 10 tokens = 100; b: 5 docs x 10 = 50
    rows = [(i, "w " * 10, "a" if i < 10 else "b")
            for i in range(15)]
    d = spark.createDataFrame(rows, "doc_id long, text string, "
                              "lang string")
    # a at 2.5 epochs, b at exactly 1.0; no third stratum
    out = upsample_to_budget(d, {"a": 250, "b": 50}).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["copy_idx"])
    # b: exactly one copy per doc (integer epoch, no coin)
    for i in range(10, 15):
        assert by_doc[i] == [0], i
    # a: 2 or 3 copies per doc, contiguous idx from 0
    n3 = 0
    for i in range(10):
        assert by_doc[i] in ([0, 1], [0, 1, 2]), i
        n3 += len(by_doc[i]) == 3
    # the fractional .5 epoch lands on SOME but not all docs
    assert 0 < n3 < 10
    # expected-token accounting: total ~= budget for a
    a_rows = sum(len(v) for k, v in by_doc.items() if k < 10)
    assert 20 <= a_rows <= 30
    # deterministic
    again = upsample_to_budget(d, {"a": 250, "b": 50}).collect()
    assert sorted((r["doc_id"], r["copy_idx"]) for r in again) == \
        sorted((r["doc_id"], r["copy_idx"]) for r in out)
    # absurd budget fails loudly instead of exploding the corpus
    import pytest
    with pytest.raises(Exception, match="max_epochs"):
        upsample_to_budget(d, {"a": 10_000_000}, max_epochs=100) \
            .count()
