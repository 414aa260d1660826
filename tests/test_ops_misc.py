"""Tests for analysis, stats, summary, select-alternatives, span
validation, weak conversion, hierarchy weights, brat and CoNLL-coref
readers."""

import json
import os
import textwrap

import pytest
from pyspark.sql import functions as F

EXAMPLES = "/root/reference/neleval/examples"
FIXTURES = "/root/reference/test_fixtures"


def _read(spark, path):
    from neleval_spark.sources.tsv import read_annotations_tsv

    return read_annotations_tsv(spark, path)


@pytest.fixture(scope="module")
def annotations(tmp_path_factory):
    """Generated gold and perturbed system TSVs (the benchmark's
    annotation generator): 60 docs, ~10 mentions each."""
    from perfbench.inputs import write_annotations

    d = tmp_path_factory.mktemp("annotations")
    write_annotations(str(d), 60, seed=11)
    return {"gold": str(d / "gold.tsv"), "system": str(d / "system.tsv")}


# --- analyze ----------------------------------------------------------------

def test_error_summary_tac(spark):
    from neleval_spark.analyze import error_summary

    gold = _read(spark, f"{EXAMPLES}/tac_gold.combined.tsv")
    sys_ = _read(spark, f"{EXAMPLES}/tac_system.combined.tsv")
    counts = {r["label"]: r["count"]
              for r in error_summary(sys_, gold).collect()}
    assert counts == {"correct link": 6, "correct nil": 4}


def test_error_labels(spark):
    from neleval_spark.analyze import error_table

    gold = _read(spark, f"{EXAMPLES}/conll_gold.unstitched.tsv")
    sys_ = _read(spark, f"{EXAMPLES}/conll_sysa.unstitched.tsv")
    labels = {(r["docid"], r["start"]): r["label"]
              for r in error_table(sys_, gold).collect()}
    # gold: (0,2) NIL, (7,8) Paris; sysA: (0,2) The_Dog, (7,8) Paris
    assert labels[("doc1", 0)] == "nil-as-link"
    assert labels[("doc1", 7)] == "correct link"


# --- significance / confidence ----------------------------------------------

def test_nist_percentile():
    from neleval_spark.stats import nist_percentile

    # NIST handbook example semantics: interpolation between order
    # statistics at p/100*(n+1)
    vals = [1.0, 2.0, 3.0, 4.0]
    assert nist_percentile(vals, 50) == 2.5
    assert nist_percentile(vals, 1) == 1.0
    assert nist_percentile(vals, 99) == 4.0


def test_permutation_identical_systems(spark, annotations):
    from neleval_spark.stats import per_doc_contingency, permutation_test

    gold = _read(spark, annotations["gold"])
    sys_ = _read(spark, annotations["gold"])
    pd1 = per_doc_contingency(sys_, gold, "strong_all_match")
    res = permutation_test(pd1, pd1, n_trials=200)
    for m, r in res.items():
        assert r["diff"] == 0.0
        assert r["p"] == 1.0  # zero diff: every trial is "as extreme"


def test_permutation_detects_difference(spark, annotations):
    from neleval_spark.stats import per_doc_contingency, permutation_test

    gold = _read(spark, annotations["gold"])
    good = _read(spark, annotations["gold"])
    # a clearly worse system: every mention's span shifted
    bad = good.withColumn("start", F.col("start") + 1000) \
        .withColumn("end", F.col("end") + 1000)
    pd1 = per_doc_contingency(good, gold, "strong_all_match")
    pd2 = per_doc_contingency(bad, gold, "strong_all_match")
    res = permutation_test(pd1, pd2, n_trials=500, seed=3)
    assert res["fscore"]["diff"] == 1.0
    assert res["fscore"]["p"] < 0.05


def test_permutation_poly_hash_mode(spark, annotations):
    """hash_mode='poly' (the DuckDB-replayable flip derivation behind
    the permutation_pvalue driver oracle) must behave like a real
    permutation test: deterministic, p=1 on identical systems, small
    p on a clearly different pair; flips must actually mix (p < 1 on
    a same-ish pair would fail if all flips were constant)."""
    from neleval_spark.stats import per_doc_contingency, permutation_test

    gold = _read(spark, annotations["gold"])
    good = _read(spark, annotations["gold"])
    bad = good.withColumn("start", F.col("start") + 1000) \
        .withColumn("end", F.col("end") + 1000)
    pd1 = per_doc_contingency(good, gold, "strong_all_match")
    pd2 = per_doc_contingency(bad, gold, "strong_all_match")
    res = permutation_test(pd1, pd1, n_trials=100, hash_mode="poly")
    assert all(r["p"] == 1.0 and r["diff"] == 0.0
               for r in res.values())
    res1 = permutation_test(pd1, pd2, n_trials=200, seed=3,
                            hash_mode="poly")
    res2 = permutation_test(pd1, pd2, n_trials=200, seed=3,
                            hash_mode="poly")
    assert res1 == res2  # deterministic regardless of partitioning
    assert res1["fscore"]["diff"] == 1.0
    assert res1["fscore"]["p"] < 0.05


def test_bootstrap_ci_contains_point(spark, annotations):
    from neleval_spark.stats import bootstrap_confidence, per_doc_contingency

    gold = _read(spark, annotations["gold"])
    sys_ = _read(spark, annotations["gold"])
    pdc = per_doc_contingency(sys_, gold, "strong_all_match")
    cis = bootstrap_confidence(pdc, n_trials=300)
    for metric in ("precision", "recall", "fscore"):
        lo, hi = cis[metric][95]
        assert lo <= 1.0 <= hi  # perfect system: CI must cover 1.0
        assert lo > 0.5


def test_multinomial_bootstrap_doc_bound(spark, annotations, monkeypatch):
    """method='multinomial' collects per-doc rows to the driver; above
    MULTINOMIAL_MAX_DOCS it must refuse with a pointer to the
    distributed Poisson default, not OOM."""
    import pytest

    from neleval_spark.stats import (bootstrap_confidence,
                                     per_doc_contingency)
    from neleval_spark.stats import significance as sig

    gold = _read(spark, annotations["gold"])
    sys_ = _read(spark, annotations["system"])
    pdc = per_doc_contingency(sys_, gold, "strong_all_match")
    monkeypatch.setattr(sig, "MULTINOMIAL_MAX_DOCS", 1)
    with pytest.raises(ValueError, match="poisson"):
        bootstrap_confidence(pdc, n_trials=10, method="multinomial")
    # poisson mode is unaffected by the bound
    cis = bootstrap_confidence(pdc, n_trials=10, method="poisson")
    assert "fscore" in cis


# --- select-alternatives ------------------------------------------------------

@pytest.mark.parametrize("fields,expected_file", [
    (("eid",), "gold_exp_eid.txt"),
    (("eid", "type"), "gold_exp_eidtype.txt"),
])
def test_select_alternatives_fixture(spark, fields, expected_file):
    from neleval_spark.operators.select_alternatives import (
        select_alternatives)
    from neleval_spark.sources.tsv import annotations_to_tsv_lines

    sa = f"{FIXTURES}/select-alternatives"
    gold = _read(spark, f"{sa}/gold.txt")
    sys_ = _read(spark, f"{sa}/sys.txt")
    out = select_alternatives(gold, sys_, fields=fields)
    lines = sorted(
        r["value"] for r in annotations_to_tsv_lines(out).collect())
    with open(f"{sa}/{expected_file}") as f:
        expected = sorted(f.read().rstrip("\n").split("\n"))
    assert lines == expected


# --- validation / weak / weights ---------------------------------------------

def test_validate_spans(spark):
    from neleval_spark.operators.validate import (
        classify_span_pairs, validate_spans)

    rows = [("d", 0, 1), ("d", 2, 3), ("d", 3, 4), ("d", 2, 3)]
    df = spark.createDataFrame(rows, "docid string, start long, end long")
    issues = {r["issue"] for r in classify_span_pairs(df).collect()}
    assert "duplicate" in issues
    with pytest.raises(ValueError, match="duplicate"):
        validate_spans(df, duplicate="error", crossing="ignore",
                       nested="ignore")

    crossing = spark.createDataFrame(
        [("d", 0, 1), ("d", 2, 4), ("d", 3, 5)],
        "docid string, start long, end long")
    got = classify_span_pairs(crossing).collect()
    assert [r["issue"] for r in got] == ["crossing"]

    nested = spark.createDataFrame(
        [("d", 2, 5), ("d", 3, 4)], "docid string, start long, end long")
    assert [r["issue"] for r in classify_span_pairs(nested).collect()] \
        == ["nested"]


def test_to_weak(spark):
    from neleval_spark.operators.validate import to_weak

    df = spark.createDataFrame([("d", 3, 5, "E1")],
                               "docid string, start long, end long, "
                               "eid string")
    rows = sorted((r["start"], r["end"])
                  for r in to_weak(df).collect())
    assert rows == [(3, 4), (4, 5), (5, 6)]


def test_weights_for_hierarchy(spark):
    from neleval_spark.operators.weights import weights_for_hierarchy

    h = json.dumps({"A": ["B", "C"], "B": ["D"]})
    rows = {(r["gold_type"], r["sys_type"]): r["weight"]
            for r in weights_for_hierarchy(spark, h, decay=0.5).collect()}
    assert rows == {("A", "B"): 0.5, ("A", "C"): 0.5, ("A", "D"): 0.25,
                    ("B", "D"): 0.5}


def test_weighted_measure(spark):
    """Type-weighted sets measure (reference doc/approximate.rst:91-108
    example shape: weight ('type1','type2')=0.123)."""
    from neleval_spark.measures.catalog import MeasureSpec
    from neleval_spark.measures.sets import sets_contingency

    gold = spark.createDataFrame(
        [("d", 0, 1, "E1", "type1", False, True, "E1")],
        "docid string, start long, end long, eid string, type string, "
        "is_nil boolean, is_linked boolean, kbid string")
    sys_ = spark.createDataFrame(
        [("d", 0, 1, "E1", "type2", False, True, "E1")],
        "docid string, start long, end long, eid string, type string, "
        "is_nil boolean, is_linked boolean, kbid string")
    w = spark.createDataFrame(
        [("type1", "type2", 0.123)],
        "gold_type string, sys_type string, weight double")
    spec = MeasureSpec(("span", "type"), None, "sets", {"type": w})
    row = sets_contingency(sys_, gold, spec).collect()[0]
    assert abs(row["ptp"] - 0.123) < 1e-9
    assert abs(row["fp"] - (1 - 0.123)) < 1e-9
    assert abs(row["fn"] - (1 - 0.123)) < 1e-9


# --- summary -------------------------------------------------------------------

def test_rank_and_compose_and_compare(spark):
    from neleval_spark.summary import (
        compare_measures, compose_measures, rank_systems)

    rows = [
        ("sysA", "m1", 0.9), ("sysB", "m1", 0.8), ("sysC", "m1", 0.9),
        ("sysA", "m2", 0.5), ("sysB", "m2", 0.4), ("sysC", "m2", 0.45),
    ]
    df = spark.createDataFrame(rows, "system string, measure string, "
                               "fscore double")
    ranked = rank_systems(df)
    got = {(r["system"], r["measure"]): r["rank"]
           for r in ranked.collect()}
    assert got[("sysA", "m1")] == 1 and got[("sysC", "m1")] == 1
    assert got[("sysB", "m1")] == 3  # ties share rank, next skips

    composed = {r["system"]: r["fscore"]
                for r in compose_measures(df, "m2", "m1").collect()}
    assert abs(composed["sysA"] - 0.5 / 0.9) < 1e-9

    corr = compare_measures(df)
    stats = corr[("m1", "m2")]
    assert -1 <= stats["pearson"] <= 1
    assert -1 <= stats["kendall"] <= 1


# --- brat + CoNLL coref readers ------------------------------------------------

def test_brat_reader(spark, tmp_path):
    d = tmp_path / "brat"
    d.mkdir()
    (d / "docA.ann").write_text(
        "T1\tPER 0 5\tAlice\n"
        "T2\tORG 10 18\tAcme Inc\n"
        "N1\tReference T1 Wikipedia:Alice%20Smith\tAlice Smith\n"
    )
    from neleval_spark.sources.brat import read_brat

    rows = {(r["docid"], r["start"], r["end"]): r
            for r in read_brat(spark, str(d)).collect()}
    alice = rows[("docA", 0, 5)]
    assert alice["eid"] == "Alice_Smith"  # unquoted + normalized
    assert alice["type"] == "PER"
    acme = rows[("docA", 10, 18)]
    # bare span (no normalization): reference Annotation.__getattr__
    # yields None for is_nil/is_linked (annotation.py:91-99)
    assert acme["eid"] is None and acme["is_nil"] is None
    assert acme["is_linked"] is None and acme["kbid"] is None


CONLL_COREF = textwrap.dedent("""\
    #begin document (docX); part 000
    a\t(1
    b\t1)
    c\t(2)
    d\t-
    e\t(1)
    #end document
""")


def test_conll_coref_reader(spark, tmp_path):
    p = tmp_path / "coref.conll"
    p.write_text(CONLL_COREF)
    from neleval_spark.sources.conll import (
        parse_conll_coref_lines, read_conll_coref)

    # pure parser matches the reference's semantics
    clusters = parse_conll_coref_lines(CONLL_COREF.splitlines())
    assert clusters == {"1": {(1, 2), (5, 5)}, "2": {(3, 3)}}

    rows = {(r["cid"], r["start"], r["end"])
            for r in read_conll_coref(spark, str(p)).collect()}
    assert rows == {("1", 1, 2), ("1", 5, 5), ("2", 3, 3)}


def test_conll_coref_matches_reference(spark):
    """Cross-implementation check against the reference's own parser
    (SURVEY.md §5.4)."""
    import io
    import sys as _sys

    import numpy as np

    np.bool = bool
    _sys.path.insert(0, "/root/reference")
    try:
        from neleval.coref_metrics import read_conll_coref as ref_parse
    finally:
        _sys.path.remove("/root/reference")
    from neleval_spark.sources.conll import parse_conll_coref_lines

    ref = ref_parse(io.StringIO(CONLL_COREF))
    ours = parse_conll_coref_lines(CONLL_COREF.splitlines())
    assert {str(k): v for k, v in ref.items()} == ours


def test_calibrate_trials(spark, annotations):
    """R3 (reference significance.py:272-288): stdev of the CI bound
    shrinks with trial count; values recompute exactly from the trial
    history with plain numpy."""
    import numpy as np

    from neleval_spark.stats import calibrate_trials, per_doc_contingency
    from neleval_spark.stats.significance import (
        _metrics_from, _trial_partials, nist_percentile)
    import pyspark.sql.functions as F

    gold = _read(spark, annotations["gold"])
    sys_ = _read(spark, annotations["system"])
    pdc = per_doc_contingency(sys_, gold, "strong_all_match")

    rows = calibrate_trials(pdc, trials=(50, 200, 800), max_trials=1000,
                            percentiles=(90,), metrics=("fscore",),
                            n_resamples=50, seed=7)
    by_n = {r["trials"]: r["stdev"] for r in rows}
    assert set(by_n) == {50, 200, 800}
    # more trials -> tighter percentile estimate
    assert by_n[800] <= by_n[50]

    # independent numpy recomputation from the same trial history
    joined = pdc.select(
        "docid", F.col("ptp").alias("ptp1"), F.col("fp").alias("fp1"),
        F.col("rtp").alias("rtp1"), F.col("fn").alias("fn1"),
    ).withColumns({"ptp2": F.lit(0.0), "fp2": F.lit(0.0),
                   "rtp2": F.lit(0.0), "fn2": F.lit(0.0)})
    trials, _ = _trial_partials(joined, 1000, 7, "poisson")
    X = _metrics_from(trials[:, :4])["fscore"]
    rng = np.random.default_rng(7)
    exp = {}
    for n in (50, 200, 800):
        stats = [nist_percentile(np.sort(rng.choice(X, size=n,
                                                    replace=False)), 5.0)
                 for _ in range(50)]
        exp[n] = float(np.std(stats))
    assert by_n == pytest.approx(exp)
