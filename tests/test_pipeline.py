"""Construction pipeline (BASELINE.json north_rule): extraction
byte-identity, end-to-end triple P/R ≥ 0.95 vs the constructed gold,
neleval-measure agreement, NIL canonicalization stability, and the
crash-safe triple sink."""

import os

import pytest

from pyspark.sql import functions as F

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    from neleval_spark.pipeline.corpus import synth_corpus

    return synth_corpus(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def gold(spark):
    from neleval_spark.pipeline.corpus import synth_gold_mentions

    return synth_gold_mentions(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def built(spark, corpus):
    from neleval_spark.pipeline.corpus import kb_table
    from neleval_spark.pipeline.run import build_mentions

    return build_mentions(corpus, kb_table(spark)).cache()


def test_extraction_byte_identical(spark, corpus):
    """UDF-extracted text equals the stored per-url text byte-for-byte
    (the input_hint invariant)."""
    from neleval_spark.pipeline.extract import with_extracted_text

    re_extracted = with_extracted_text(
        corpus.select("url", "html", F.col("text").alias("stored")),
        out_col="roundtrip",
    )
    mismatches = re_extracted.where(
        F.col("roundtrip") != F.col("stored")).count()
    assert mismatches == 0


def test_extraction_pure_function(corpus):
    """Driver-side pure function agrees with the distributed UDF on a
    sample (locale/batching independence)."""
    from neleval_spark.pipeline.extract import extract_text

    for row in corpus.limit(20).collect():
        assert extract_text(row["html"]) == row["text"]


def test_ner_finds_exactly_gold_spans(spark, corpus, gold):
    from neleval_spark.pipeline.ner import detect_mentions

    found = detect_mentions(
        corpus.where(F.col("lang") == "en")).select(
        "url", "start", "end", "surface")
    exp = gold.select("url", "start", "end", "surface")
    assert found.exceptAll(exp).count() == 0
    assert exp.exceptAll(found).count() == 0


def test_triple_prf_gate(spark, built, gold):
    """North-rule gate: P/R ≥ 0.95 vs the reference triple set."""
    from neleval_spark.pipeline.run import (
        gold_triples_from_mentions, triple_prf)
    from neleval_spark.pipeline.triples import emit_triples

    sys_t = emit_triples(built)
    gold_t = gold_triples_from_mentions(gold)
    res = triple_prf(sys_t, gold_t)
    assert res["precision"] >= 0.95, res
    assert res["recall"] >= 0.95, res


def test_neleval_measures_on_pipeline(spark, built, gold):
    """Evaluate the pipeline with the measure engine: the distributed
    strong_link_match / strong_typed_all_match / mention_ceaf / b_cubed
    must be perfect on the constructed corpus (the system resolves all
    planted ambiguity by context)."""
    from neleval_spark.measures import evaluate
    from neleval_spark.pipeline.run import to_neleval_mentions

    sys_m = to_neleval_mentions(built)
    gold_m = to_neleval_mentions(
        gold.select("url", "start", "end", "eid", "type", "sent_uid")
        .withColumn("score", F.lit(1.0))
        .withColumn(
            "candidates",
            F.array(
                F.struct(
                    F.col("eid"), F.col("score"), F.col("type"),
                    F.lit(None).cast("map<string,string>").alias("attrs"),
                )
            ),
        )
    )
    res = evaluate(
        sys_m, gold_m,
        measures=["strong_link_match", "strong_typed_all_match",
                  "mention_ceaf", "b_cubed"],
    )
    for name, r in res.items():
        assert r["fscore"] == 1.0, (name, r)


def test_nil_ids_match_gold_labels(spark, built, gold):
    """Canonicalizer emits the same deterministic NIL labels as the
    gold generator (pure function of the cluster's surfaces)."""
    sys_nils = built.where(F.col("eid").startswith("NIL")) \
        .select("url", "start", "eid")
    gold_nils = gold.where(F.col("eid").startswith("NIL")) \
        .select("url", "start", F.col("eid").alias("gold_eid"))
    j = sys_nils.join(gold_nils, ["url", "start"], "full_outer")
    assert j.where(
        F.col("eid").isNull() | F.col("gold_eid").isNull()
        | (F.col("eid") != F.col("gold_eid"))).count() == 0


def _fold(df):
    """(rows, bit_xor(xxhash64(subj, pred, obj))) of a triple frame."""
    r = df.agg(F.count(F.lit(1)).alias("n"), F.expr(
        "bit_xor(xxhash64(subj, pred, obj))").alias("x")).first()
    return r["n"], r["x"]


def _sink_state(spark, out):
    """The committed sink's fold, and its manifest's sum(n_rows)."""
    from neleval_spark.pipeline.triples import read_triples

    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    return (_fold(read_triples(spark, out)),
            manifest.agg(F.sum("n_rows")).first()[0])


@pytest.fixture(scope="module")
def sink_triples(built):
    from neleval_spark.pipeline.triples import emit_triples

    return emit_triples(built, n_buckets=8).cache()


@pytest.fixture(scope="module")
def clean_fold(spark, sink_triples, tmp_path_factory):
    """Fold of one clean write of ``sink_triples``."""
    from neleval_spark.pipeline.triples import write_triples

    out = str(tmp_path_factory.mktemp("clean"))
    write_triples(sink_triples, out)
    fold, manifest_rows = _sink_state(spark, out)
    assert fold[0] == manifest_rows == sink_triples.count()
    return fold


def test_sink_crash_after_data_commit(spark, sink_triples, clean_fold,
                                     tmp_path, monkeypatch):
    """Fault (a): the manifest write raises after the data write
    committed; re-running the same call must not duplicate rows."""
    from pyspark.sql.readwriter import DataFrameWriter

    from neleval_spark.pipeline.triples import write_triples

    out = str(tmp_path / "sink")
    real = DataFrameWriter.parquet

    def crash_on_manifest(self, path, *args, **kwargs):
        if f"{os.sep}manifest" in path:
            raise RuntimeError("injected crash before the manifest")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_manifest)
    with pytest.raises(RuntimeError, match="injected"):
        write_triples(sink_triples, out)
    monkeypatch.setattr(DataFrameWriter, "parquet", real)

    write_triples(sink_triples, out)
    fold, manifest_rows = _sink_state(spark, out)
    assert fold == clean_fold
    assert manifest_rows == fold[0]


def test_sink_replay_crash_mid_write(spark, sink_triples, clean_fold,
                                    tmp_path):
    """Fault (b): a replay of a committed run dies mid data write (one
    bucket's task raises).  Until it is re-run the sink shows none of
    that run's rows — never a partial run — and the re-run restores
    the clean fold."""
    from neleval_spark.pipeline.triples import read_triples, write_triples

    out = str(tmp_path / "sink")
    prev = sink_triples.where(F.col("part_id") < 4)
    write_triples(prev, out, run_id="gen-000001")
    write_triples(sink_triples, out, run_id="gen-000002")

    @F.udf("string")
    def crash_on_bucket(subj, part_id):
        if part_id == 5:
            raise RuntimeError("injected crash in bucket 5")
        return subj

    poisoned = sink_triples.withColumn(
        "subj", crash_on_bucket("subj", "part_id"))
    with pytest.raises(Exception, match="injected crash"):
        write_triples(poisoned, out, run_id="gen-000002")

    visible = read_triples(spark, out)
    assert visible.where(F.col("run_id") == "gen-000002").count() == 0
    assert _fold(visible) == _fold(prev)

    write_triples(sink_triples, out, run_id="gen-000002")
    fold, manifest_rows = _sink_state(spark, out)
    prev_n, prev_x = _fold(prev)
    assert fold == (prev_n + clean_fold[0], prev_x ^ clean_fold[1])
    assert manifest_rows == fold[0]


def test_sink_same_run_twice(spark, sink_triples, clean_fold, tmp_path):
    """Fault (c): writing the same run twice keeps exactly one copy,
    with one manifest row per occupied bucket."""
    from neleval_spark.pipeline.triples import write_triples

    out = str(tmp_path / "sink")
    write_triples(sink_triples, out)
    manifest = write_triples(sink_triples, out)
    fold, manifest_rows = _sink_state(spark, out)
    assert fold == clean_fold
    assert manifest_rows == fold[0]
    counts = manifest.groupBy("part_id").count().collect()
    assert all(r["count"] == 1 for r in counts)
    assert len(counts) == sink_triples.select("part_id").distinct().count()


def test_write_evaluates_input_once(spark, tmp_path):
    """The writer evaluates its lazy input plan exactly once: an
    accumulator ticked by a Python UDF on the input counts each row
    one time."""
    from neleval_spark.pipeline.triples import write_triples

    ticks = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tick(s):
        ticks.add(1)
        return s

    n = 500
    triples = spark.range(n).select(
        tick(F.concat(F.lit("e"), F.col("id").cast("string")))
        .alias("subj"),
        F.lit("mentioned_in").alias("pred"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("obj"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 8).alias("part_id"))
    manifest = write_triples(triples, str(tmp_path / "sink"))
    assert manifest.agg(F.sum("n_rows")).first()[0] == n
    assert ticks.value == n


def test_write_refuses_overwrite_run_false(spark, sink_triples, tmp_path):
    from neleval_spark.pipeline.triples import write_triples

    with pytest.raises(ValueError, match="overwrite_run"):
        write_triples(sink_triples, str(tmp_path / "sink"),
                      overwrite_run=False)
    assert not os.path.exists(tmp_path / "sink")


def test_write_one_file_per_bucket(spark, built, tmp_path):
    """The sink must not exhibit the partitionBy small-files
    explosion: an upstream frame with MANY partitions still lands
    exactly one parquet file per occupied (run, part_id) bucket
    (write_triples repartitions on part_id before the write; the
    round-5 merge probe measured 2,752 files for one 5.5M-row
    generation without this)."""
    import glob

    from neleval_spark.pipeline.triples import emit_triples, write_triples

    triples = emit_triples(built, n_buckets=8).repartition(16)

    out = str(tmp_path / "run")
    write_triples(triples, out, run_id="gen-000001",
                  overwrite_run=True)
    dirs = glob.glob(f"{out}/triples/run_id=*/part_id=*")
    assert dirs
    for d in dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def _hash_exchange_keys(plan: str) -> list[str]:
    """Key lists of the hash exchanges in a final plan, attribute ids
    dropped: ``["part_id"]``, ``["url", "start", "end"]``."""
    import re

    return [re.sub(r"#\d+L?", "", keys).split(", ")[:-1]
            for keys in re.findall(
                r"Exchange hashpartitioning\(([^)]*)\)", plan)]


@pytest.mark.parametrize("n_buckets", [8, 1])
def test_sink_write_ships_mentions_once(spark, built, tmp_path,
                                        n_buckets):
    """emit_triples hashes the mentions by part_id, and that exchange
    is also the write's: the data write of ``write_triples(
    emit_triples(m))`` plans exactly one hash exchange, keyed on
    part_id (the write's own repartition is satisfied), and still
    lands one parquet file per bucket.  Before, the mentions went by
    url and the triples again by part_id."""
    import glob

    from neleval_spark.pipeline.triples import emit_triples, write_triples
    from tests.test_incremental import _final_plans

    # a scan, as run_pipeline's materialized mentions are
    m_dir = str(tmp_path / "mentions")
    built.select("url", "sent_uid", "eid").write.parquet(m_dir)
    m = spark.read.parquet(m_dir)
    out = str(tmp_path / "sink")
    plans = _final_plans(spark, lambda: write_triples(
        emit_triples(m, n_buckets=n_buckets), out))
    data = [p for p in plans if "triples/run_id=run" in p]
    assert len(data) == 1, plans
    assert _hash_exchange_keys(data[0]) == [["part_id"]], data[0]
    dirs = glob.glob(f"{out}/triples/run_id=run/part_id=*")
    assert len(dirs) == n_buckets, dirs
    for d in dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_scored_mentions_ship_once(spark, tmp_path):
    """The score UDF runs before the url exchange, in the NER stage, so
    the scored-mention snapshot's plan has one hash exchange, by url,
    and no (url, start, end) re-exchange for the top-1 aggregate (a
    Python operator after the url exchange dropped its
    partitioning)."""
    from neleval_spark.pipeline.corpus import kb_table, synth_corpus
    from neleval_spark.pipeline.run import (
        build_mentions, release_materialized)
    from tests.test_incremental import _final_plans

    pages_dir = str(tmp_path / "pages")
    synth_corpus(spark, 40).write.parquet(pages_dir)
    pages = spark.read.parquet(pages_dir)
    got = []
    plans = _final_plans(spark, lambda: got.append(build_mentions(
        pages, kb_table(spark), canonicalize=False)))
    try:
        snap = [p for p in plans if got[0]._scratch_dir in p]
        assert len(snap) == 1, plans
        assert _hash_exchange_keys(snap[0]) == [["url"]], snap[0]
        assert got[0].count() > 0
    finally:
        release_materialized(got[0])


def test_sink_buckets_sized_from_input(spark, tmp_path):
    """The sink bucket count is derived from the input size: a small
    run lands in ONE bucket and one file, every part_id falls in
    range(sink_buckets(mentions)), and the manifest counts the rows
    read back.  An explicit n_buckets still wins."""
    import glob

    from neleval_spark.pipeline.corpus import kb_table, synth_corpus
    from neleval_spark.pipeline.run import run_pipeline
    from neleval_spark.pipeline.triples import read_triples, sink_buckets

    pages = synth_corpus(spark, 30)
    for n_buckets, max_dirs in ((None, 1), (8, 8)):
        out = str(tmp_path / f"sink{n_buckets}")
        res = run_pipeline(pages, kb_table(spark), out_dir=out,
                           n_buckets=n_buckets)
        dirs = glob.glob(f"{out}/triples/run_id=*/part_id=*")
        assert 1 <= len(dirs) <= max_dirs
        n = n_buckets or sink_buckets(res["mentions"])
        assert n == (n_buckets or 1)
        back = read_triples(spark, out)
        assert {r["part_id"] for r in back.select("part_id").distinct()
                .collect()} <= set(range(n))
        assert res["manifest"].agg(F.sum("n_rows")).first()[0] \
            == back.count()
        if n_buckets is None:
            files = glob.glob(f"{out}/triples/run_id=*/part_id=*/*.parquet")
            assert len(files) == 1, files


def test_materialize_reads_back_what_it_wrote(spark, tmp_path):
    """A scratch snapshot has the column names, types and rows of the
    frame it was written from, nested candidates and a timestamp
    included, and costs the jobs of the write alone (reading it back
    through parquet schema inference was one job more)."""
    import datetime

    from neleval_spark.pipeline.run import (
        _materialize, release_materialized)

    df = spark.createDataFrame(
        [("u1", datetime.datetime(2024, 5, 1, 12, 30),
          [("E1", 0.5, "PER"), ("E2", 0.25, "ORG")]),
         ("u2", None, [])],
        "url string, warc_ts timestamp, "
        "candidates array<struct<eid:string,score:double,type:string>>")
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    _, bare = jobs("materialize-bare-write",
                   lambda: df.write.parquet(str(tmp_path / "bare")))
    snap, n = jobs("materialize-snapshot", lambda: _materialize(df))
    try:
        assert [(f.name, f.dataType) for f in snap.schema] == \
            [(f.name, f.dataType) for f in df.schema]
        assert snap.orderBy("url").collect() == df.orderBy("url").collect()
    finally:
        release_materialized(snap)
    assert n == bare, (n, bare)


def test_canonicalize_hub_surface_skew(spark):
    """Hub-entity skew (north_rule): one NIL surface appearing in a
    large share of all documents must not blow up canonicalization.
    The design answer is contract-then-iterate — the CC loop runs on
    the KEY graph (distinct surface/acronym keys), so a surface in
    100% of docs contributes exactly the same graph size as one in a
    single doc; the mention-side work is one hash aggregation plus a
    broadcast-able label join."""
    import pyspark.sql.functions as F

    from neleval_spark.pipeline.canonicalize import (
        acronym_key, canonicalize_nils, surface_key)

    n = 20_000
    # 60% hub surface, 40% spread over 50 rare surfaces
    base = spark.range(n).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.lit(0).alias("start"), F.lit(5).alias("end"),
        F.when(F.col("id") % 5 < 3, F.lit("Hub Corp Global"))
        .otherwise(F.concat(F.lit("Rare Co "),
                            (F.col("id") % 50).cast("string")))
        .alias("surface"),
        F.lit(None).cast("string").alias("eid"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("string").alias("type"),
    )
    out = canonicalize_nils(base).cache()
    assert out.count() == n
    # every mention got a deterministic NIL label; the hub surface maps
    # to ONE cluster id
    hub = (out.where(F.col("surface") == "Hub Corp Global")
           .select("eid").distinct().collect())
    assert len(hub) == 1 and hub[0]["eid"].startswith("NIL")
    # key-graph size is O(distinct surfaces), not O(mentions): the
    # distinct key count bounds the CC input regardless of skew
    keys = base.select(
        surface_key(F.col("surface")).alias("s"),
        acronym_key(F.col("surface")).alias("a")).distinct()
    assert keys.count() <= 51  # 51 distinct surfaces, whatever the skew
    spark.catalog.clearCache()


def _nil_frame(spark, surfaces):
    """One NIL mention per surface, plus one linked mention."""
    rows = [(f"u{i}", 0, len(s), s, None) for i, s in enumerate(surfaces)]
    rows.append(("linked", 0, 4, "Acme", "E1"))
    return spark.createDataFrame(
        rows, "url string, start int, end int, surface string, eid string"
    ).withColumn("score", F.lit(None).cast("double")) \
     .withColumn("type", F.lit(None).cast("string"))


def _union_find_labels(surfaces, keys):
    """Pure-Python reference: union the keys of each surface, label a
    component "NIL" + sha1(min first-kind key)[:10]."""
    import hashlib

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s in surfaces:
        ks = [(i, k(s)) for i, k in enumerate(keys)]
        for a, b in zip(ks, ks[1:]):
            parent[find(a)] = find(b)
        find(ks[0])
    min_first = {}
    for v in parent:
        if v[0] == 0:
            r = find(v)
            min_first[r] = min(min_first.get(r, v[1]), v[1])
    return {s: "NIL" + hashlib.sha1(
        min_first[find((0, keys[0](s)))].encode()).hexdigest()[:10]
        for s in surfaces}


def test_nil_labels_match_union_find_reference(spark, monkeypatch):
    """NIL labels are read off the CC component id.  Pinned against a
    pure-Python union-find on surfaces whose acronym keys sort BELOW
    their surface keys ("za" < "zeta_able") and whose components hold
    several surfaces each, for the default keys and for a single key,
    on CC's driver path and on its distributed path."""
    import functools
    import random

    from neleval_spark.graph import connected_components
    import neleval_spark.pipeline.canonicalize as canonicalize
    from neleval_spark.pipeline.canonicalize import (
        canonicalize_nils, surface_key)

    words = ["zeta", "zulu", "able", "alpha", "yard", "york", "bravo"]
    rng = random.Random(5)
    surfaces = sorted({" ".join(w.capitalize() for w in
                                rng.sample(words, rng.randint(1, 3)))
                       for _ in range(60)})
    norm = lambda s: s.strip().lower().replace(" ", "_")  # noqa: E731
    acro = lambda s: "".join(  # noqa: E731
        w[:1] for w in s.strip().split(" ")).lower()
    df = _nil_frame(spark, surfaces)

    def labels(**kw):
        out = canonicalize_nils(df, **kw).collect()
        assert {r["eid"] for r in out if r["url"] == "linked"} == {"E1"}
        return {r["surface"]: r["eid"] for r in out if r["url"] != "linked"}

    want = _union_find_labels(surfaces, (norm, acro))
    # the fixture exercises the ordering hazard: a component with
    # several surfaces whose shared acronym sorts below all of them
    by_label = {}
    for s, label in want.items():
        by_label.setdefault(label, []).append(s)
    assert any(len(ss) > 1 and all(acro(s) < norm(s) for s in ss)
               for ss in by_label.values())

    def check():
        assert labels() == want
        assert labels(key_fns=(("surface", surface_key),)) == \
            _union_find_labels(surfaces, (norm,))

    check()  # driver path: the key graph is below DRIVER_CC_MAX_EDGES
    monkeypatch.setattr(canonicalize, "connected_components",
                        functools.partial(connected_components,
                                          driver_max_edges=0))
    check()  # distributed path


def test_canonicalize_driver_path_plan_has_no_shuffle(spark):
    """Below the driver-CC cap the CC result is broadcast: labelling
    the NIL mentions is a broadcast hash join, with no sort-merge join
    and no shuffle of the mention side."""
    from neleval_spark.pipeline.canonicalize import canonicalize_nils

    df = _nil_frame(spark, ["Red Sable Group", "Rsg", "Zeta Able", "Za"])
    out = canonicalize_nils(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert out.count() == 5


def test_dedupe_snapshots_drops_recrawls(spark, corpus, built):
    """A recrawled corpus (every url duplicated with an OLDER
    warc_ts and junk html) must produce the same mention table as
    the clean corpus when dedupe_snapshots=True."""
    from pyspark.sql import functions as F

    from neleval_spark.pipeline.corpus import kb_table
    from neleval_spark.pipeline.run import build_mentions

    stale = (corpus
             .withColumn("warc_ts",
                         F.col("warc_ts") - F.expr("INTERVAL 1 DAY"))
             .withColumn("html",
                         F.encode(F.lit("<html>stale</html>"),
                                  "utf-8")))
    recrawled = corpus.unionByName(stale)
    deduped = build_mentions(recrawled, kb_table(spark),
                             dedupe_snapshots=True)
    want = built.select("url", "start", "end", "eid").collect()
    got = deduped.select("url", "start", "end", "eid").collect()
    assert sorted(map(str, got)) == sorted(map(str, want))


def test_chain_mentions(spark):
    """Single-token anaphors chain to the EARLIEST same-doc multi-word
    antecedent by last token or acronym; multi-word mentions and
    unmatched singles pass through with the -1 sentinel; chaining
    never crosses documents."""
    from neleval_spark.pipeline.canonicalize import chain_mentions

    rows = [
        # d1: full name, then last-token anaphor, then acronym anaphor
        ("d1", 0, 11, "Barack Obama"),
        ("d1", 50, 54, "Obama"),
        ("d1", 90, 104, "Red Sable Group"),
        ("d1", 200, 202, "RSG"),
        # later full mention must NOT capture the earlier anaphor,
        # and the EARLIEST antecedent wins for a later anaphor
        ("d1", 300, 311, "Michele Obama"),
        ("d1", 400, 404, "Obama"),
        # unmatched single token: sentinel
        ("d1", 500, 504, "Plaza"),
        # d2: same surface as d1's anaphor, but no antecedent here
        ("d2", 0, 4, "Obama"),
    ]
    d = spark.createDataFrame(
        rows, "url string, start long, end long, surface string")
    out = chain_mentions(d)
    got = {(r["url"], r["start"]): (r["chain_surface"],
                                    r["antecedent_start"])
           for r in out.collect()}
    assert len(got) == len(rows)
    assert got[("d1", 50)] == ("Barack Obama", 0)
    assert got[("d1", 200)] == ("Red Sable Group", 90)
    # earliest antecedent wins (Barack at 0, not Michele at 300)
    assert got[("d1", 400)] == ("Barack Obama", 0)
    # multi-word mentions and unmatched singles pass through
    assert got[("d1", 0)] == ("Barack Obama", -1)
    assert got[("d1", 300)] == ("Michele Obama", -1)
    assert got[("d1", 500)] == ("Plaza", -1)
    # no cross-document chaining
    assert got[("d2", 0)] == ("Obama", -1)
