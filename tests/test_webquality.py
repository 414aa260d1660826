"""Web-corpus quality operators: Gopher-style repetition signals,
benchmark decontamination and vocabulary stats — hand-computed
fixtures plus plan-shape assertions (the at-scale contracts:
repetition is shuffle-free, the contamination eval side is
broadcast)."""

import pytest
from pyspark.sql import functions as F

from neleval_spark.functions.webquality import (
    contamination, repetition_signals, vocab_stats)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "a b a b a b c", "en"),                # modal 2-gram "a b" ×3
        (2, "x y z w", "en"),                      # no repetition
        (3, "", "en"),                             # empty
        (4, "l1\nl2\nl1\n\npara2\n\npara2", "en"),  # dup lines + paras
        (5, "q", "en"),                            # single token < n
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string")


def test_repetition_signals_values(spark, docs):
    got = {r["doc_id"]: r for r in
           repetition_signals(docs, ngram_ns=(2, 3)).collect()}
    # doc 1: tokens a b a b a b c -> six 2-grams, three distinct
    assert got[1]["dup_2gram_frac"] == 0.5
    # modal 2-gram "a b" occurs 3x, len 3, stream "a b a b a b c" len 13
    assert got[1]["top_2gram_char_frac"] == round(3 * 3 / 13, 6)
    # doc 2: all distinct; top 2-gram is the lexicographically
    # smallest single-occurrence gram "x y" (len 3 / stream 7)
    assert got[2]["dup_2gram_frac"] == 0.0
    assert got[2]["top_2gram_char_frac"] == round(3 / 7, 6)
    # doc 4: lines [l1,l2,l1,para2,para2] -> 2 of 5 repeat; repeated
    # chars (2+2)+(5+5)=14 of 16
    assert got[4]["dup_line_frac"] == 0.4
    assert got[4]["dup_line_char_frac"] == 0.875
    # paragraphs ["l1\nl2\nl1","para2","para2"]
    assert got[4]["dup_para_frac"] == 0.333333
    assert got[4]["dup_para_char_frac"] == round(10 / 18, 6)
    # degenerate docs: all-zero, never null
    for d in (3, 5):
        for c in ("dup_line_frac", "dup_2gram_frac",
                  "top_3gram_char_frac"):
            assert got[d][c] == 0.0


def test_repetition_signals_shuffle_free(spark, docs):
    """The at-scale contract: every signal (including the per-doc
    modal n-gram) is in-row — the executed plan has NO exchange."""
    plan = _plan(repetition_signals(docs))
    assert "Exchange" not in plan, plan[:2000]


def test_repetition_signals_staged_arrays(spark, docs):
    """Plan pin for the interpreted-HOF fix (PLANS.md "higher-order
    functions are interpreted"): the shared token/sorted arrays must
    survive as staging projections in the OPTIMIZED plan.  If
    CollapseProject ever inlines them back into the lambda bodies
    (alias gone from the plan), interpreted eval re-tokenizes and
    re-sorts the document per element — the O(G²·len)/doc regression
    this test guards against."""
    plan = (repetition_signals(docs)
            ._jdf.queryExecution().optimizedPlan().toString())
    for alias in ("_rs_tok", "_rs_lines_s", "_rs_g2_s"):
        assert alias in plan, f"staging column {alias} was inlined"


def test_contamination_counts_and_plan(spark, docs):
    ev = spark.createDataFrame([(100, "a b a b a", "en")],
                               "doc_id long, text string, lang string")
    out = contamination(docs, ev, n=2, threshold=0.3)
    got = {r["doc_id"]: r for r in out.collect()}
    # doc 1 distinct 2-grams {a b, b a, b c}; eval set {a b, b a}
    assert (got[1]["n_grams"], got[1]["n_contaminated"]) == (3, 2)
    assert got[1]["contamination_frac"] == 0.666667
    assert got[1]["is_contaminated"]
    assert not got[2]["is_contaminated"]
    # gram-less docs stay addressable and clean
    assert (got[3]["n_grams"], got[5]["n_grams"]) == (0, 0)
    assert not got[3]["is_contaminated"]
    assert len(got) == 5
    # eval side rides a broadcast join, never a corpus-scale shuffle
    assert "BroadcastExchange" in _plan(out)


def test_contamination_token_array_staged(spark, docs):
    """Plan pin for the r6 staging fix: the token array feeding the
    n-gram transform must survive as a ``_tok`` staging projection on
    BOTH sides.  If CollapseProject ever inlines it back, the
    interpreted lambda re-runs split+lower once per GRAM instead of
    once per row (measured 5x on the sf0.1 entry query)."""
    ev = spark.createDataFrame([(100, "a b a b a", "en")],
                               "doc_id long, text string, lang string")
    plan = (contamination(docs, ev, n=2)
            ._jdf.queryExecution().optimizedPlan().toString())
    import re
    # one staging projection per side, each sliced by its own lambda
    staged = set(re.findall(r"AS _tok#(\d+)", plan))
    assert len(staged) == 2, "token staging column was inlined"
    assert all(f"slice(_tok#{i}," in plan for i in staged), plan
    # the lambda bodies must slice the staged attribute, not a split()
    lam = [m for m in re.findall(r"slice\(([^,]*),", plan)]
    assert lam and all("split" not in s for s in lam), lam


def test_vocab_stats(spark, docs):
    got = {r["token"]: (r["tf"], r["df"]) for r in
           vocab_stats(docs).collect()}
    assert got["a"] == (3, 1)
    assert got["b"] == (3, 1)
    assert got["l1"] == (2, 1)
    assert got["q"] == (1, 1)
    assert "" not in got


def test_unigram_surprisal_hand_computed(spark):
    """Integer-bit surprisal on a corpus small enough to verify by
    hand: C=8 total tokens → bitlen(C)=4; 'the' occurs 4× (bitlen 3,
    1 bit each), rare tokens occur 1× (bitlen 1, 3 bits each)."""
    from neleval_spark.functions.webquality import unigram_surprisal

    docs = spark.createDataFrame(
        [(1, "the the the the"), (2, "zebra quark axolotl umbra")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in unigram_surprisal(docs).collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["bits_sum"] == 4 * 1
    assert out[2]["n_tokens"] == 4 and out[2]["bits_sum"] == 4 * 3
    assert out[1]["millibits_per_token"] == 1000
    assert out[2]["millibits_per_token"] == 3000


def test_unigram_surprisal_buckets_and_empty_docs(spark):
    from neleval_spark.functions.webquality import unigram_surprisal

    docs = spark.createDataFrame(
        [(1, "a a a a a a a"), (2, "b c d e f g h"), (3, "   ")],
        "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in unigram_surprisal(
               docs, thresholds=(1500, 2500)).collect()}
    # common-token doc scores low (head), rare-token doc high (tail)
    assert out[1]["bucket"] == "head"
    assert out[2]["bucket"] == "tail"
    # token-less doc: zero counts, -1 sentinel, middle-by-default is
    # wrong — -1 < lo puts it in head, which callers filter on
    # n_tokens == 0 anyway
    assert out[3]["n_tokens"] == 0 and out[3]["bits_sum"] == 0
    assert out[3]["millibits_per_token"] == -1


def test_dsir_weights_prefers_target_like_docs(spark):
    from neleval_spark.functions.webquality import dsir_weights

    target = spark.createDataFrame(
        [(i, "spark shuffle partition broadcast join catalyst plan")
         for i in range(5)],
        "doc_id long, text string")
    raw = spark.createDataFrame(
        [(0, "spark shuffle partition broadcast join runs fast"),
         (1, "cooking recipes with garlic butter and fresh basil"),
         (2, "catalyst plan broadcast join shuffle partition spark"),
         (3, "football match results and league standings today"),
         (4, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dsir_weights(raw, target, n_buckets=512).collect()}
    assert len(out) == 5
    # on-target docs outscore off-target ones
    assert min(out[0]["score_bits"], out[2]["score_bits"]) \
        > max(out[1]["score_bits"], out[3]["score_bits"])
    # token-less docs get the zero score, not a NULL
    assert (out[4]["n_grams"], out[4]["score_bits"]) == (0, 0)
    # keep = deterministic top-k by (score DESC, doc_id)
    top = dsir_weights(raw, target, n_buckets=512, keep=2).collect()
    assert sorted(r["doc_id"] for r in top) == [0, 2]


def test_dsir_lambda_table_is_broadcast(spark):
    from neleval_spark.functions.webquality import dsir_weights

    d = spark.createDataFrame(
        [(i, f"some words {i}") for i in range(8)],
        "doc_id long, text string")
    plan = (dsir_weights(d, d.limit(3), n_buckets=64)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
