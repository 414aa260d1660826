"""Shell-level CLI parity: drive every subcommand through
``neleval_spark.__main__.main`` (mirrors the reference's shell tests
exercising each app, neleval/__main__.py:23-41).

Runs in-process (``main(argv)``) so the session-scoped Spark fixture
is reused instead of paying a JVM per subcommand.
"""

import json
import os

import pytest

EXAMPLES = "/root/reference/neleval/examples"

# only the tests that read the reference's example files (through
# ``gold_path``/``sys_path`` or ``EXAMPLES``) need its checkout
needs_reference = pytest.mark.skipif(
    not os.path.isdir(EXAMPLES), reason="reference fixtures not present")


def _run(capsys, *argv):
    from neleval_spark.__main__ import main

    main(list(argv))
    return capsys.readouterr().out


@pytest.fixture()
def gold_path():
    return os.path.join(EXAMPLES, "tac_gold.combined.tsv")


@pytest.fixture()
def sys_path():
    return os.path.join(EXAMPLES, "tac_system.combined.tsv")


@needs_reference
def test_cli_evaluate_tab(spark, capsys, gold_path, sys_path):
    out = _run(capsys, "evaluate", sys_path, "-g", gold_path,
               "-m", "strong_link_match")
    lines = out.strip().split("\n")
    assert lines[0].startswith("ptp\tfp\trtp\tfn")
    assert lines[1].split("\t")[-1] == "strong_link_match"
    assert "1.000" in lines[1]


@needs_reference
def test_cli_evaluate_type_weights(spark, capsys, tmp_path,
                                   gold_path, sys_path):
    w = tmp_path / "weights.tsv"
    w.write_text("GPE\tLOC\t0.5\n")
    out = _run(capsys, "evaluate", sys_path, "-g", gold_path,
               "-m", "strong_typed_all_match",
               "--type-weights", str(w))
    assert "strong_typed_all_match" in out


def test_cli_prepare_tac_with_options(spark, capsys, tmp_path):
    q = tmp_path / "q.xml"
    q.write_text(
        '<?xml version="1.0" encoding="UTF-8"?><kbpentlink>'
        '<query id="q1"><name>A</name><docid>D1</docid>'
        "<beg>5</beg><end>9</end></query>"
        '<query id="q2"><name>B</name><docid>D2</docid>'
        "<beg>1</beg><end>3</end></query></kbpentlink>")
    links = tmp_path / "links.tab"
    links.write_text("q1\tE_one\tPER\t0.5\nq2\tE_two\tGPE\t0.5\n")
    m = tmp_path / "map.tsv"
    m.write_text("One Entity\tE_one\n")
    x = tmp_path / "exc.tsv"
    x.write_text("D2\t0\t4\n")
    out = _run(capsys, "prepare-tac", str(links), "-q", str(q),
               "-m", str(m), "-x", str(x))
    assert out.strip().split("\n") == ["D1\t5\t9\tOne_Entity\t0.5\tPER"]


def test_cli_prepare_conll_coref(spark, capsys, tmp_path):
    p = tmp_path / "coref.txt"
    p.write_text("#begin document (dX)\na\t(1\nb\t1)\nc\t(2)\n"
                 "#end document\n")
    out = _run(capsys, "prepare-conll-coref", str(p))
    assert out.rstrip("\n").split("\n") == [
        "(dX)\t1\t2\tNIL1:(dX)\t\t",
        "(dX)\t3\t3\tNIL2:(dX)\t\t",
    ]


def test_cli_to_weak(spark, capsys, tmp_path):
    p = tmp_path / "a.tsv"
    p.write_text("d1\t3\t5\tE1\n")
    out = _run(capsys, "to-weak", str(p))
    # reference ToWeak (weak.py:17-21): one annotation per char i with
    # span (i, i+1)
    assert out.rstrip("\n").split("\n") == [
        "d1\t3\t4\tE1\t\t", "d1\t4\t5\tE1\t\t", "d1\t5\t6\tE1\t\t"]


@needs_reference
def test_cli_rank_compose_compare(spark, capsys, tmp_path,
                                  gold_path, sys_path):
    # build two evaluation files
    out_a = _run(capsys, "evaluate", sys_path, "-g", gold_path,
                 "-m", "strong_link_match", "-m", "strong_all_match")
    out_b = _run(capsys, "evaluate", gold_path, "-g", gold_path,
                 "-m", "strong_link_match", "-m", "strong_all_match")
    fa, fb = tmp_path / "sysA.eval", tmp_path / "sysB.eval"
    fa.write_text(out_a)
    fb.write_text(out_b)

    ranked = _run(capsys, "rank-systems", str(fa), str(fb),
                  "-m", "strong_link_match", "--metric", "fscore")
    lines = ranked.strip().split("\n")
    assert lines[0] == "measure\tmetric\trank\tscore\tsystem"
    assert len(lines) == 3
    # both systems score 1.0 → shared rank 1
    assert [l.split("\t")[2] for l in lines[1:]] == ["1", "1"]

    composed = _run(capsys, "compose-measures", str(fa), "-o", "-",
                    "-r", "strong_link_match", "strong_all_match")
    last = composed.strip().split("\n")[-1].split("\t")
    assert last[-1] == "strong_link_match/strong_all_match"
    assert last[4] == "1.000"  # precision ratio

    compared = _run(capsys, "compare-measures", str(fa), str(fb),
                    "-m", "strong_link_match", "-m", "strong_all_match",
                    "-f", "json")
    data = json.loads(compared)
    assert "quartiles" in data and "correlations" in data
    assert data["quartiles"]["strong_link_match"][2] == 1.0


def test_cli_list_measures(spark, capsys):
    out = _run(capsys, "list-measures")
    assert "strong_link_match" in out and "mention_ceaf" in out


@needs_reference
def test_cli_analyze_summary(spark, capsys, gold_path, sys_path):
    out = _run(capsys, "analyze", sys_path, "-g", gold_path, "-s")
    assert "correct" in out


@needs_reference
def test_cli_significance_and_confidence(spark, capsys, tmp_path,
                                         gold_path, sys_path):
    """Reference CLI parity: one significance invocation covers ALL
    system pairs × ALL measures (significance.py:144-149); confidence
    emits the reference's tab layout with interval columns
    (significance.py:330-361) and re-ingests it."""
    import shutil

    third = tmp_path / "sys_b.tsv"
    shutil.copy(sys_path, third)
    # 3 systems × 2 measures, tab format (the default)
    out = _run(capsys, "significance",
               sys_path, gold_path, str(third),
               "-g", gold_path, "-n", "50",
               "-m", "strong_link_match", "-m", "strong_all_match")
    lines = out.strip().split("\n")
    header = lines[0].split("\t")
    assert [h.strip() for h in header[:3]] == ["sys1", "sys2",
                                               "measure"]
    # Δ/p per metric × 3 metrics
    assert [h.strip() for h in header[3:]] == [
        "Δ-precis", "p-precis", "Δ-recall", "p-recall",
        "Δ-fscore", "p-fscore"]
    assert len(lines) == 1 + 3 * 2  # C(3,2) pairs × 2 measures
    row0 = [c.strip() for c in lines[1].split("\t")]
    assert row0[0] == sys_path and row0[1] == gold_path
    # measures in input order within each pair (reference sorts by
    # self.measures.index, significance.py:147-149)
    assert row0[2] == "strong_link_match"
    assert [c.strip() for c in lines[2].split("\t")][2] == \
        "strong_all_match"

    # json mode carries the same records
    out = _run(capsys, "significance", sys_path, gold_path,
               "-g", gold_path, "-n", "50", "-f", "json",
               "-m", "strong_link_match")
    data = json.loads(out)
    assert data[0]["measure"] == "strong_link_match"
    assert "p" in data[0]["stats"]["fscore"]

    # confidence: tab layout + read_tab_format roundtrip
    out = _run(capsys, "confidence", sys_path, "-g", gold_path,
               "-n", "50", "-m", "strong_link_match",
               "-m", "strong_all_match")
    lines = out.strip().split("\n")
    header = [h.strip() for h in lines[0].split("\t")]
    assert header == ["measure", "metric", "99%(", "95%(", "90%(",
                      "score", ")90%", ")95%", ")99%"]
    assert len(lines) == 1 + 2 * 3  # 2 measures × 3 metrics

    import io

    from neleval_spark.stats.significance import (
        read_confidence_tab_format)

    # byte-level width parity with reference Confidence.tab_format
    # (significance.py:350-352): pad only to the longest NAME, no
    # header-derived minimum — short names yield short columns
    from neleval_spark.stats.significance import confidence_tab_format
    short = confidence_tab_format(
        [{"measure": "m1",
          "overall": {"f": 0.5},
          "intervals": {"f": {90: (0.4, 0.6)}}}],
        metrics=("f",), percentiles=(90,))
    slines = short.split("\n")
    assert slines[0].startswith("measure\tmetric\t")  # never truncated
    assert slines[1] == "m1\tf\t0.400\t0.500\t0.600"

    back = read_confidence_tab_format(io.StringIO(out))
    by_measure = {e["measure"]: e for e in back}
    assert set(by_measure) == {"strong_link_match",
                               "strong_all_match"}
    e = by_measure["strong_link_match"]
    lo, hi = e["intervals"]["fscore"][95]
    assert lo <= e["overall"]["fscore"] <= hi

    # multinomial (reference-exact resampling protocol) also runs
    out = _run(capsys, "confidence", sys_path, "-g", gold_path,
               "-n", "50", "-m", "strong_link_match",
               "--method", "multinomial", "-f", "json")
    data = json.loads(out)
    assert data[0]["measure"] == "strong_link_match"


@needs_reference
def test_cli_validate_and_weights(spark, capsys, tmp_path, sys_path):
    out = _run(capsys, "validate-spans", sys_path,
               "--duplicate", "warn")
    # no duplicates in the fixture → no issues printed
    assert out.strip() == ""
    h = tmp_path / "hier.json"
    h.write_text('{"PER": ["ACTOR"], "ORG": ["COMPANY"]}')
    out = _run(capsys, "weights-for-hierarchy", str(h))
    assert "ACTOR" in out


def test_cli_select_alternatives(spark, capsys, tmp_path):
    g = tmp_path / "gold.tsv"
    g.write_text("d1\t0\t5\tE1\t1.0\tPER\n")
    s = tmp_path / "sys.tsv"
    s.write_text("d1\t0\t5\tE9\t0.5\tPER\tE1\t0.4\tPER\n")
    out = _run(capsys, "select-alternatives", str(s), "-g", str(g))
    assert out.strip().split("\n")[0].startswith("d1\t0\t5\tE1")


@needs_reference
def test_cli_plot_systems_data(spark, capsys, tmp_path,
                               gold_path, sys_path):
    out_a = _run(capsys, "evaluate", sys_path, "-g", gold_path,
                 "-m", "strong_link_match")
    fa = tmp_path / "teamX.run1.eval"
    fb = tmp_path / "teamX.run2.eval"
    fa.write_text(out_a)
    fb.write_text(out_a)
    out = _run(capsys, "plot-systems", str(fa), str(fb),
               "-m", "strong_link_match", "--sort-by", "name",
               "--group-re", r"team\w+")
    figs = json.loads(out)
    assert figs[0]["figure"] == "strong_link_match"
    pts = figs[0]["points"]
    assert len(pts) == 2 and all(p["group"] == "teamX" for p in pts)
    assert pts[0]["score"] == 1.0
    # best-in-group collapses to one point per group
    out = _run(capsys, "plot-systems", str(fa), str(fb),
               "-m", "strong_link_match", "--group-re", r"team\w+",
               "--best-in-group")
    assert len(json.loads(out)[0]["points"]) == 1


@needs_reference
def test_cli_plot_systems_confidence_input(spark, capsys, tmp_path,
                                           gold_path, sys_path):
    out = _run(capsys, "confidence", sys_path, "-g", gold_path,
               "-n", "50", "-m", "strong_link_match")
    f = tmp_path / "conf.json"
    f.write_text(out)
    out = _run(capsys, "plot-systems", str(f),
               "--input-type", "confidence",
               "-m", "strong_link_match")
    pts = json.loads(out)[0]["points"]
    assert pts[0]["lo"] <= pts[0]["score"] <= pts[0]["hi"]


def test_cli_run_pipeline_stream(spark, tmp_path, capsys):
    """`run-pipeline --stream` drains the corpus dir incrementally and
    reports the triple count."""
    import json

    from neleval_spark.__main__ import main
    from neleval_spark.pipeline.corpus import synth_corpus

    corpus = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    synth_corpus(spark, 120).write.parquet(corpus)
    main(["run-pipeline", corpus, "-o", out, "--stream"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "stream" and rep["triples"] > 0
    # second drain with no new files adds nothing
    main(["run-pipeline", corpus, "-o", out, "--stream"])
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["triples"] == rep["triples"]


@needs_reference
def test_cli_plot_systems_figure_variants(spark, capsys, tmp_path,
                                          gold_path, sys_path):
    """Figure-JSON structure parity with the reference's variants
    (summary.py:442-560): prf triples on evaluate input (markers /
    recall-precision scatter), heatmap matrices, and interval error
    bars on confidence input."""
    out_a = _run(capsys, "evaluate", sys_path, "-g", gold_path,
                 "-m", "strong_link_match", "-m", "strong_all_match")
    fa = tmp_path / "teamX.run1.eval"
    fb = tmp_path / "teamY.run1.eval"
    fa.write_text(out_a)
    fb.write_text(out_a)

    # markers: every point carries its full prf triple
    out = _run(capsys, "plot-systems", str(fa), str(fb),
               "-m", "strong_link_match")
    fig = json.loads(out)[0]
    assert fig["secondary"] == "markers"
    assert fig["points"][0]["prf"] == [1.0, 1.0, 1.0]

    # heatmap: measures x systems score matrix
    out = _run(capsys, "plot-systems", str(fa), str(fb),
               "-m", "strong_link_match", "-m", "strong_all_match",
               "--secondary", "heatmap")
    figs = json.loads(out)
    assert len(figs) == 1
    hm = figs[0]
    assert hm["rows"] == ["strong_all_match", "strong_link_match"] \
        or hm["rows"] == ["strong_link_match", "strong_all_match"]
    assert set(hm["columns"]) == {str(fa), str(fb)}
    assert hm["matrix"] == [[1.0, 1.0], [1.0, 1.0]]

    # confidence input, rows orientation: interval error bars
    conf = _run(capsys, "confidence", sys_path, "-g", gold_path,
                "-n", "50", "-m", "strong_link_match")
    fc = tmp_path / "conf.tab"
    fc.write_text(conf)
    out = _run(capsys, "plot-systems", str(fc),
               "--input-type", "confidence",
               "-m", "strong_link_match", "--secondary", "rows")
    fig = json.loads(out)[0]
    assert fig["secondary"] == "rows"
    p = fig["points"][0]
    assert p["lo"] <= p["score"] <= p["hi"]


@needs_reference
def test_cli_evaluate_official_regression(spark, capsys, tmp_path):
    """Byte-diff regression against committed evaluate outputs for the
    bundled TAC and CoNLL examples (analogue of the reference's
    scripts/run_evaluation_regression_test.sh, which diffs a fresh
    evaluate run against a frozen official-score file).  The frozen
    values themselves are reference-verified by the pinned dicts in
    tests/test_tagging_measures.py."""
    fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
    for sys_file, gold_file, frozen in [
        ("tac_system.combined.tsv", "tac_gold.combined.tsv",
         "tac_system_vs_gold.all.eval"),
        ("conll_multi_sysa.unstitched.tsv",
         "conll_multi_gold.unstitched.tsv",
         "conll_multi_sysa_vs_gold.all.eval"),
    ]:
        out = _run(capsys, "evaluate",
                   os.path.join(EXAMPLES, sys_file),
                   "-g", os.path.join(EXAMPLES, gold_file),
                   "-m", "all")
        with open(os.path.join(fixtures, frozen)) as f:
            assert out == f.read(), f"drift vs frozen {frozen}"


def test_cli_compact_sink(spark, capsys, tmp_path):
    """Full operational lifecycle from the CLI: stream-ingest into a
    run_id-partitioned sink, then compact it into one run."""
    from neleval_spark.pipeline.corpus import synth_corpus

    corpus = str(tmp_path / "pages")
    synth_corpus(spark, 120).write.parquet(corpus)
    out = str(tmp_path / "kg")
    streamed = json.loads(_run(
        capsys, "run-pipeline", corpus, "-o", out, "--stream"))
    compacted = json.loads(_run(capsys, "compact-sink", out))
    assert compacted["triples"] == streamed["triples"]
    triples = spark.read.parquet(os.path.join(out, "triples"))
    runs = [r["run_id"] for r in
            triples.select("run_id").distinct().collect()]
    assert len(runs) == 1 and runs[0].startswith("compact-")


@needs_reference
def test_cli_track_eval(spark, capsys, tmp_path):
    """Track pipeline analogue (reference run_tac14_evaluation.sh):
    prepare gold + every system in a dir, evaluate with the track
    measure set incl. custom :is_first:span strings, write the
    TAC-2014-format report — one session, no per-system processes."""
    import shutil

    sysdir = tmp_path / "systems"
    sysdir.mkdir()
    shutil.copy(os.path.join(EXAMPLES, "tac_system.tab"),
                sysdir / "teamA.tab")
    shutil.copy(os.path.join(EXAMPLES, "tac_system.xml"),
                sysdir / "teamA.xml")
    out = tmp_path / "track"
    res = json.loads(_run(
        capsys, "track-eval",
        os.path.join(EXAMPLES, "tac_gold.xml"),
        os.path.join(EXAMPLES, "tac_gold.tab"),
        str(sysdir), "-o", str(out)))
    assert res["systems"] == 1
    # gold conversion matches the committed combined fixture
    with open(out / "gold.combined.tsv") as f:
        got = sorted(f.read().rstrip("\n").split("\n"))
    with open(os.path.join(EXAMPLES, "tac_gold.combined.tsv")) as f:
        want = sorted(f.read().rstrip("\n").split("\n"))
    assert got == want
    # evaluation file carries standard AND custom measures
    with open(out / "teamA.evaluation") as f:
        ev = f.read()
    assert "mention_ceaf:is_first:span" in ev
    assert "strong_all_match" in ev
    # report: header + one row, perfect system scores 1.000 across
    with open(out / "00report.tab") as f:
        lines = f.read().rstrip("\n").split("\n")
    assert lines[0].split("\t")[-1] == "System"
    row = lines[1].split("\t")
    assert row[-1] == "teamA" and set(row[:-1]) == {"1.000"}


@needs_reference
def test_cli_filtered_track_eval(spark, capsys, tmp_path):
    """Filtered-subset rerun (reference run_tac14_filtered.sh +
    run_filtrate.sh): per-filter egrep-equivalent rlike over the
    combined.tsv lines, per-subset evaluations + report; empty-gold
    filters are skipped with a warning like the reference."""
    import shutil

    sysdir = tmp_path / "systems"
    sysdir.mkdir()
    shutil.copy(os.path.join(EXAMPLES, "tac_system.tab"),
                sysdir / "teamA.tab")
    shutil.copy(os.path.join(EXAMPLES, "tac_system.xml"),
                sysdir / "teamA.xml")
    out = tmp_path / "track"
    _run(capsys, "track-eval",
         os.path.join(EXAMPLES, "tac_gold.xml"),
         os.path.join(EXAMPLES, "tac_gold.tab"),
         str(sysdir), "-o", str(out))

    # six of the default TAC14 filters, passed explicitly to keep the
    # test lean (the full default list is 15 subsets of the same code
    # path); regexes verbatim from TAC14_FILTERS
    from neleval_spark.__main__ import TAC14_FILTERS

    want = dict(TAC14_FILTERS)
    args = []
    for subset in ("PER", "ORG", "GPE", "NW", "WB", "DF"):
        args += ["--filter", f"{subset}:::{want[subset]}"]
    res = json.loads(_run(capsys, "filtered-track-eval", str(out),
                          *args).splitlines()[-1])
    # the example corpus has PER/ORG/GPE and NW/WB/DF docids
    for subset in ("PER", "ORG", "GPE", "NW", "WB", "DF"):
        assert res["subsets"].get(subset) == 1, (subset, res)
        rep = out / "00filtered" / subset / "00report.tab"
        with open(rep) as f:
            lines = f.read().rstrip("\n").split("\n")
        row = lines[1].split("\t")
        # system == gold on every subset of a perfect system
        assert row[-1] == "teamA" and set(row[:-1]) == {"1.000"}
        with open(out / "00filtered" / subset /
                  "teamA.evaluation") as f:
            assert "mention_ceaf:is_first:span" in f.read()
    # custom filter + no-match filter (skipped, not failed)
    res2 = json.loads(_run(
        capsys, "filtered-track-eval", str(out),
        "--filter", "kbA:::kb_A",
        "--filter", "nothing:::^NO_SUCH_DOC")
        .splitlines()[-1])
    assert list(res2["subsets"]) == ["kbA"]
    # netype split writes one dir per CoNLL03 type with gold mentions
    res3 = json.loads(_run(capsys, "filtered-track-eval", str(out),
                           "--netype-split").splitlines()[-1])
    assert set(res3["subsets"]) <= {"PER", "LOC", "ORG", "MISC"}
    assert "PER" in res3["subsets"]


def test_cli_curate_funnel(spark, capsys, tmp_path):
    docs = str(tmp_path / "docs")
    near_dup_text = ("unique body line about entity linking\n"
                     "shared cookie banner")
    promo = ("buy now the amazing twelve token promotional sentence "
             "repeated verbatim everywhere")  # 12 tokens
    rows = []
    for i in range(40):
        body = (near_dup_text if i in (7, 23)   # near-dup pair
                else f"document {i} body line\nshared cookie banner")
        if i in (30, 31):                       # substring-dup pair
            body += "\n" + promo
        rows.append((i, body, "en" if i % 2 else "de", f"d{i % 4}.com"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(docs)

    out = _run(capsys, "curate", docs, "-o", str(tmp_path / "cur"),
               "--line-dedup-min-docs", "3",
               "--substring-dedup-k", "12",
               "--minhash-index", str(tmp_path / "idx"),
               "--run-id", "inc-1",
               "--surprisal-tail", "99999999",
               "--cap-per-domain", "8",
               "--budget", "en=40", "--budget", "de=1000000")
    funnel = json.loads(out)["funnel"]
    assert funnel["in"] == 40
    # every surviving doc has tokens, so a huge tail threshold keeps
    # all of them (wiring check; thresholds semantics are pinned in
    # test_webquality)
    assert funnel["after_surprisal"] == funnel["after_neardup"]
    # the 40-doc banner line is removed; the 2-doc shared body line
    # stays (below min_docs=3), so no doc is emptied
    assert funnel["after_line_dedup"] == 40
    # the 12-token promo run (2 docs) is excised; no doc is emptied
    assert funnel["after_substring_dedup"] == 40
    # one of the near-dup pair (same cleaned text) is dropped
    assert funnel["after_neardup"] == 39
    assert funnel["after_domain_cap"] <= 4 * 8
    assert funnel["after_budget"] < funnel["after_domain_cap"]
    cur = spark.read.parquet(str(tmp_path / "cur"))
    assert cur.count() == funnel["out"]
    assert not cur.filter(cur.text.contains("cookie banner")).count()
    assert not cur.filter(cur.text.contains("promotional")).count()


def test_cli_curate_c4_clean(spark, capsys, tmp_path):
    docs = str(tmp_path / "docs")
    good = "\n".join(
        ["A perfectly fine sentence with enough words here."] * 3)
    rows = [(0, good, "en", "a.com"),
            (1, "short.\nno punct line here at all", "en", "a.com"),
            (2, good + "\nlorem ipsum", "en", "b.com")]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(docs)
    out = _run(capsys, "curate", docs, "-o", str(tmp_path / "cur"),
               "--c4-clean")
    funnel = json.loads(out)["funnel"]
    assert funnel == {"in": 3, "after_clean": 1, "out": 1}


def test_cli_curate_upsample(spark, capsys, tmp_path):
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "w " * 10, "en" if i < 20 else "de", "a.com")
         for i in range(30)],
        "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(docs)
    # en: 20 docs x 10 tok = 200 supply at budget 200 (exactly 1
    # epoch); de: 100 supply at budget 250 (2.5 epochs)
    out = _run(capsys, "curate", docs, "-o", str(tmp_path / "cur"),
               "--upsample", "en=200", "--upsample", "de=250",
               "--split", "train=900000", "--split", "valid=100000",
               "--shards", "3")
    funnel = json.loads(out)["funnel"]
    assert funnel["in"] == 30
    # en exactly once each; de 2-3 copies each (20..30 rows)
    assert 40 <= funnel["after_upsample"] <= 50
    assert funnel["out"] == funnel["after_upsample"]
    cur = spark.read.parquet(str(tmp_path / "cur"))
    rows = cur.collect()
    # copies keep copy_idx and NEVER straddle splits
    splits_by_doc = {}
    for r in rows:
        splits_by_doc.setdefault(r["doc_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in splits_by_doc.values())
    # every (doc_id, copy_idx) shard position is unique (composite
    # shard id: duplicate doc_ids don't collapse the permutation)
    pos = [(r["split"], r["shard"], r["shard_pos"]) for r in rows]
    assert len(pos) == len(set(pos))
    # de docs with 3 copies exist; their copies are spread across
    # shards at least once (the permutation keys on copy_idx too)
    de3 = [k for k, v in
           {r["doc_id"]: sum(1 for x in rows
                             if x["doc_id"] == r["doc_id"])
            for r in rows if r["lang"] == "de"}.items() if v == 3]
    assert de3
    spread = any(
        len({r["shard"] for r in rows if r["doc_id"] == d}) > 1
        for d in de3)
    assert spread


def test_cli_curate_temperature(spark, capsys, tmp_path):
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "w " * 10, "en" if i < 80 else "de", "a.com")
         for i in range(100)],
        "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(docs)
    out = _run(capsys, "curate", docs, "-o", str(tmp_path / "cur"),
               "--temperature-budget", "300")
    funnel = json.loads(out)["funnel"]
    assert funnel["in"] == 100
    assert 0 < funnel["after_temperature"] < 100
    assert funnel["out"] == funnel["after_temperature"]
    # rebalance: de (20% of docs) keeps a HIGHER fraction than en
    cur = spark.read.parquet(str(tmp_path / "cur")).collect()
    kept = {"en": 0, "de": 0}
    for r in cur:
        kept[r["lang"]] += 1
    assert kept["de"] / 20 > kept["en"] / 80


def test_cli_curate_split_shards(spark, capsys, tmp_path):
    import glob
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"doc {i} body", "en", "a.com") for i in range(120)],
        "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(docs)
    # cluster table pairs docs (2i, 2i+1) -> same cluster
    clusters = str(tmp_path / "clusters")
    spark.createDataFrame(
        [(i, i - (i % 2)) for i in range(120)],
        "doc_id long, cluster long"
    ).write.mode("overwrite").parquet(clusters)
    out = _run(capsys, "curate", docs, "-o", str(tmp_path / "cur"),
               "--split", "train=800000", "--split", "valid=100000",
               "--split", "test=100000",
               "--split-clusters", clusters,
               "--shards", "4")
    funnel = json.loads(out)["funnel"]
    assert funnel["in"] == 120 and funnel["out"] == 120
    assert sum(funnel["split"].values()) == 120
    assert funnel["split"]["train"] > funnel["split"]["valid"]
    cur = spark.read.parquet(str(tmp_path / "cur"))
    rows = cur.collect()
    # leakage safety survives the CLI: cluster pairs share a split
    by_doc = {r["doc_id"]: r["split"] for r in rows}
    for i in range(0, 120, 2):
        assert by_doc[i] == by_doc[i + 1], i
    # per-split shards exactly balanced (within one row)
    sizes = {}
    for r in rows:
        sizes.setdefault((r["split"], r["shard"]), 0)
        sizes[(r["split"], r["shard"])] += 1
    for sp in set(s for s, _ in sizes):
        per = [n for (s, _), n in sizes.items() if s == sp]
        assert max(per) - min(per) <= 1, (sp, per)
    # one file per (split, shard) leaf
    for (sp, sh) in sizes:
        parts = glob.glob(
            f"{tmp_path}/cur/split={sp}/shard={sh}/*.parquet")
        assert len(parts) == 1, (sp, sh, parts)


def test_cli_curate_split_keeps_user_cluster_col(spark, capsys,
                                                 tmp_path):
    # input docs that ALREADY carry a `cluster` column (e.g. joined
    # dedup output): splitting must neither raise an ambiguous-column
    # error nor clobber/drop the user's column
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"doc {i} body", "en", "a.com", 1000 + i % 5)
         for i in range(60)],
        "doc_id long, text string, lang string, source string, "
        "cluster long"
    ).write.mode("overwrite").parquet(docs)
    clusters = str(tmp_path / "clusters")
    spark.createDataFrame(
        [(i, i - (i % 2)) for i in range(60)],
        "doc_id long, cluster long"
    ).write.mode("overwrite").parquet(clusters)
    out = _run(capsys, "curate", docs, "-o", str(tmp_path / "cur"),
               "--split", "train=800000", "--split", "valid=100000",
               "--split", "test=100000",
               "--split-clusters", clusters)
    funnel = json.loads(out)["funnel"]
    assert funnel["in"] == 60 and funnel["out"] == 60
    rows = spark.read.parquet(str(tmp_path / "cur")).collect()
    # the user's cluster column survives untouched
    assert {r["cluster"] for r in rows} == {1000, 1001, 1002,
                                            1003, 1004}
    # and the split still keys off the SPLIT-CLUSTERS table
    by_doc = {r["doc_id"]: r["split"] for r in rows}
    for i in range(0, 60, 2):
        assert by_doc[i] == by_doc[i + 1], i


def test_cli_curate_subsample(spark, capsys, tmp_path):
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"the alpha{i} the beta{i} the", "en", "a.com")
         for i in range(100)],
        "doc_id long, text string, lang string, source string"
    ).write.mode("overwrite").parquet(docs)
    out = _run(capsys, "curate", docs, "-o", str(tmp_path / "cur"),
               "--subsample-den", "100")
    funnel = json.loads(out)["funnel"]
    # every doc keeps its two rare words -> no doc emptied
    assert funnel == {"in": 100, "after_subsample": 100, "out": 100}
    cur = spark.read.parquet(str(tmp_path / "cur")).collect()
    the_kept = sum(r["text"].split().count("the") for r in cur)
    rare = sum(1 for r in cur for t in r["text"].split()
               if t != "the")
    assert rare == 200 and 10 <= the_kept <= 80

def test_cli_resolve_entities(spark, capsys, tmp_path):
    names = str(tmp_path / "names")
    spark.createDataFrame(
        [("a", "acme corp"), ("b", "acme cord"), ("c", "corp acme"),
         ("z", "totally different business")],
        "id string, name string"
    ).write.mode("overwrite").parquet(names)
    out = _run(capsys, "resolve-entities", names,
               "-o", str(tmp_path / "er"), "--pairs")
    res = json.loads(out)
    # a~b dist 1, a~c dist 0 (token sort), b~c dist 1 -> one cluster
    assert res == {"out_path": str(tmp_path / "er"), "max_dist": 2,
                   "pairs": 3, "records": 4, "clusters": 2,
                   "largest_cluster": 3}
    resolved = spark.read.parquet(str(tmp_path / "er") + "/resolved")
    got = {r["id"]: r["canonical"] for r in resolved.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "z": "z"}


def test_cli_fact_intervals(spark, capsys, tmp_path):
    obs = spark.createDataFrame(
        [("e1", "employer", "acme", "2024-01-01 00:00:00"),
         ("e1", "employer", "acme", "2024-02-01 00:00:00"),
         ("e1", "employer", "globex", "2024-03-01 00:00:00")],
        "subj string, pred string, obj string, warc_ts string")
    src = str(tmp_path / "obs")
    obs.write.parquet(src)
    out_dir = str(tmp_path / "facts")
    out = _run(capsys, "fact-intervals", src, "-o", out_dir)
    info = json.loads(out.strip().splitlines()[-1])
    assert info["intervals"] == 2
    assert info["facts"] == 1
    assert info["open_runs"] == 1
    # --asof at an instant inside the first (closed) run
    import calendar
    from datetime import datetime
    t = calendar.timegm(
        datetime(2024, 1, 15).timetuple()) * 1000
    out = _run(capsys, "fact-intervals", src, "-o",
               str(tmp_path / "asof"), "--asof", str(t))
    info = json.loads(out.strip().splitlines()[-1])
    assert info["intervals"] == 1 and info["open_runs"] == 0
    got = spark.read.parquet(str(tmp_path / "asof")).collect()
    assert got[0]["obj"] == "acme"


def test_cli_chain_mentions(spark, capsys, tmp_path):
    m = spark.createDataFrame(
        [("d1", 0, 11, "Barack Obama"), ("d1", 50, 54, "Obama"),
         ("d1", 90, 94, "Plaza")],
        "url string, start long, end long, surface string")
    src = str(tmp_path / "mentions")
    m.write.parquet(src)
    out_dir = str(tmp_path / "chained")
    out = _run(capsys, "chain-mentions", src, "-o", out_dir)
    info = json.loads(out.strip().splitlines()[-1])
    assert info["mentions"] == 3 and info["chained"] == 1
    got = {r["start"]: r["chain_surface"]
           for r in spark.read.parquet(out_dir).collect()}
    assert got[50] == "Barack Obama" and got[90] == "Plaza"


def test_cli_rerank_coherence(spark, capsys, tmp_path):
    cands = spark.createDataFrame(
        [("u1", 0, "A", 3), ("u1", 0, "B", 2), ("u1", 1, "C", 5)],
        "url string, mention_id long, eid string, prior long")
    # directed edge only: the CLI symmetrizes before reranking
    edges = spark.createDataFrame([("B", "C")],
                                  "src string, dst string")
    src = str(tmp_path / "cands")
    esrc = str(tmp_path / "edges")
    cands.write.parquet(src)
    edges.write.parquet(esrc)
    out_dir = str(tmp_path / "reranked")
    out = _run(capsys, "rerank-coherence", src, "--edges", esrc,
               "-o", out_dir, "--alpha-ppm", "400000")
    info = json.loads(out.strip().splitlines()[-1])
    assert info["mentions"] == 2 and info["voted"] == 1
    assert info["passthrough_docs"] == 0
    got = {r["mention_id"]: r["eid"]
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {0: "B", 1: "C"}  # coherence flips m0 to B


def test_cli_nt_roundtrip(spark, capsys, tmp_path):
    t = spark.createDataFrame(
        [("e 1", "knows", "e2"), ("e3", "p", 'v"x')],
        "subj string, pred string, obj string")
    src = str(tmp_path / "triples")
    t.write.parquet(src)
    nt_dir = str(tmp_path / "nt")
    out = _run(capsys, "export-nt", src, "-o", nt_dir)
    info = json.loads(out.strip().splitlines()[-1])
    assert info["lines"] == 2
    back_dir = str(tmp_path / "back")
    out = _run(capsys, "import-nt", nt_dir, "-o", back_dir)
    info = json.loads(out.strip().splitlines()[-1])
    assert info == {"out_path": back_dir, "triples": 2,
                    "bad_lines": 0}
    got = {(r["subj"], r["pred"], r["obj"])
           for r in spark.read.parquet(back_dir).collect()}
    assert got == {("e 1", "knows", "e2"), ("e3", "p", 'v"x')}


def test_cli_fuse_facts(spark, capsys, tmp_path):
    claims = spark.createDataFrame(
        [("a", "E1", "p", "x"), ("b", "E1", "p", "x"),
         ("a", "E2", "p", "y"), ("b", "E2", "p", "y"),
         ("c", "E2", "p", "z")],
        "source string, subj string, pred string, obj string")
    src = str(tmp_path / "claims")
    claims.write.parquet(src)
    out_dir = str(tmp_path / "fused")
    trust_dir = str(tmp_path / "trust")
    out = _run(capsys, "fuse-facts", src, "-o", out_dir,
               "--trust-out", trust_dir)
    info = json.loads(out.strip().splitlines()[-1])
    assert info["facts"] == 2 and info["conflicted"] == 1
    got = {r["subj"]: r["obj"]
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {"E1": "x", "E2": "y"}
    trust = {r["source"]: r["trust"]
             for r in spark.read.parquet(trust_dir).collect()}
    assert trust["c"] < trust["a"] == trust["b"]


def test_cli_align_predicates(spark, capsys, tmp_path):
    triples = spark.createDataFrame(
        [("born_in", f"E{k}", f"C{k}") for k in range(4)]
        + [("place_of_birth", f"E{k}", f"C{k}") for k in range(2)]
        + [("works_at", f"E{k}", f"W{k}") for k in range(4)],
        "pred string, subj string, obj string")
    src = str(tmp_path / "triples")
    triples.write.parquet(src)
    out_dir = str(tmp_path / "aligned")
    out = _run(capsys, "align-predicates", src, "-o", out_dir)
    info = json.loads(out.strip().splitlines()[-1])
    assert info["candidate_pairs"] == 1
    [r] = spark.read.parquet(out_dir).collect()
    assert (r["pred_a"], r["pred_b"]) == ("born_in", "place_of_birth")
    assert r["containment_b"] == 1.0


def test_cli_distant_label(spark, capsys, tmp_path):
    mentions = spark.createDataFrame(
        [("u1", 0, 0, 2, "E1"), ("u1", 0, 26, 31, "E2"),
         ("u2", 0, 0, 2, "E3"), ("u2", 0, 26, 31, "E4")],
        "url string, sent_id long, start long, end long, eid string")
    kb = spark.createDataFrame(
        [("E1", "born_in", "E2"), ("E3", "born_in", "E4")],
        "subj string, pred string, obj string")
    sents = spark.createDataFrame(
        [("u1", 0, "Ada was born in   1815 in London"),
         ("u2", 0, "Bob was born in   1900 in Berlin")],
        "url string, sent_id long, text string")
    m_src, kb_src, s_src = (str(tmp_path / d)
                            for d in ("mentions", "kb", "sents"))
    mentions.write.parquet(m_src)
    kb.write.parquet(kb_src)
    sents.write.parquet(s_src)
    out_dir = str(tmp_path / "labeled")
    pat_dir = str(tmp_path / "patterns")
    out = _run(capsys, "distant-label", m_src, "--kb", kb_src,
               "-o", out_dir, "--na-ppm", "0",
               "--sentences", s_src, "--patterns-out", pat_dir)
    info = json.loads(out.strip().splitlines()[-1])
    assert info["examples"] == 2 and info["positives"] == 2
    assert info["na"] == 0 and info["patterns"] == 1
    [r] = spark.read.parquet(pat_dir).collect()
    assert r["pattern"] == "was born in 0 in"
    assert r["support"] == 2


def test_cli_distant_label_patterns_needs_sentences(spark, capsys,
                                                    tmp_path):
    m = spark.createDataFrame(
        [("u1", 0, 0, 2, "E1")],
        "url string, sent_id long, start long, end long, eid string")
    src = str(tmp_path / "m2")
    m.write.parquet(src)
    with pytest.raises(SystemExit, match="go together"):
        _run(capsys, "distant-label", src, "--kb", src,
             "-o", str(tmp_path / "o2"),
             "--patterns-out", str(tmp_path / "p2"))


def test_cli_score_triples(spark, capsys, tmp_path):
    triples = spark.createDataFrame(
        [("a", "born_in", "paris"), ("b", "born_in", "lyon"),
         ("c", "born_in", "acme"), ("d", "born_in", "unknown")],
        "subj string, pred string, obj string")
    types = spark.createDataFrame(
        [("paris", "place"), ("lyon", "place"), ("acme", "org")],
        "entity string, type string")
    t_src, ty_src = str(tmp_path / "t"), str(tmp_path / "ty")
    triples.write.parquet(t_src)
    types.write.parquet(ty_src)
    out_dir = str(tmp_path / "scored")
    sig_dir = str(tmp_path / "sig")
    out = _run(capsys, "score-triples", t_src, "--types", ty_src,
               "-o", out_dir, "--signature-out", sig_dir,
               "--flag-ppm", "500000")
    info = json.loads(out.strip().splitlines()[-1])
    assert info["triples"] == 4 and info["untyped"] == 1
    assert info["flagged"] == 1  # acme/org: 1/3 < 0.5
    got = {r["obj"]: r["plaus_ppm"]
           for r in spark.read.parquet(out_dir).collect()}
    assert got["paris"] == 666666 and got["acme"] == 333333
    assert got["unknown"] == -1
    sig = {(r["pred"], r["type"]): r["support"]
           for r in spark.read.parquet(sig_dir).collect()}
    assert sig[("born_in", "place")] == 2
