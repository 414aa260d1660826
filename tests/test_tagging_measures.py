"""Expected-metric tests ported from the reference's pinned dicts
(neleval/test.py:188-582): full ``evaluate`` with ALL measures against
hand-verified contingency values for TAC sys-vs-gold and the CoNLL
unstitched fixtures."""

import os

import pytest

EXAMPLES = "/root/reference/neleval/examples"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(EXAMPLES), reason="reference fixtures not present")

from .util import check_correct  # noqa: E402


def _stats(spark, gold_file, sys_file):
    from neleval_spark.measures import evaluate
    from neleval_spark.sources.tsv import read_annotations_tsv

    gold = read_annotations_tsv(spark, os.path.join(EXAMPLES, gold_file))
    sys_ = read_annotations_tsv(spark, os.path.join(EXAMPLES, sys_file))
    return evaluate(sys_, gold, measures="all")


def _perfect(ptp, rtp=None):
    rtp = ptp if rtp is None else rtp
    return {
        "ptp": ptp, "rtp": rtp, "fp": 0, "fn": 0,
        "precision": 1.0, "recall": 1.0, "fscore": 1.0,
    }


# neleval/test.py:195-266
EXPECTED_TAC_SYS = {
    "entity_match": _perfect(6),
    "strong_link_match": _perfect(6),
    "strong_nil_match": _perfect(4),
    "strong_all_match": _perfect(10),
    "strong_typed_link_match": _perfect(6),
    "strong_mention_match": _perfect(10),
    "strong_linked_mention_match": _perfect(6),
    # NB: the reference's test.py pins entity_ceaf ptp=2.0, but its own
    # current coref_metrics code returns 4.0 (verified by importing
    # /root/reference/neleval/coref_metrics.py directly; reference
    # test.py is unrunnable — stale imports, SURVEY.md §3.4). We pin to
    # the behavior of the reference CODE.
    "entity_ceaf": _perfect(4.0),
    "mention_ceaf": _perfect(10.0),
    # pairwise: gold clusters kb_A(4)+kb_B(2)+NIL000(2)+NIL001(2) →
    # C(4,2)+1+1+1 = 9 co-clustered pairs, sys identical up to NIL ids
    "pairwise": _perfect(9.0),
}


def test_tac_eval(spark):
    check_correct(
        EXPECTED_TAC_SYS,
        _stats(spark, "tac_gold.combined.tsv", "tac_system.combined.tsv"))


# neleval/test.py:271-342
EXPECTED_CONLL_SELFEVAL = {
    "entity_match": _perfect(1),
    "strong_link_match": _perfect(1),
    # bare spans are dropped by boolean filters (is_nil is None when
    # there are no candidates, annotation.py:91-99) → empty NIL sets;
    # verified against the live reference code (test.py's table is stale)
    "strong_nil_match": {"fn": 0, "fp": 0, "fscore": 0.0, "precision": 0.0,
                         "recall": 0.0, "ptp": 0, "rtp": 0},
    "strong_all_match": _perfect(2),
    "strong_typed_link_match": _perfect(1),
    "strong_mention_match": _perfect(2),
    "strong_linked_mention_match": _perfect(1),
    "entity_ceaf": _perfect(2.0),
    "mention_ceaf": _perfect(2.0),
}


def test_conll_selfeval(spark):
    check_correct(
        EXPECTED_CONLL_SELFEVAL,
        _stats(spark, "conll_gold.unstitched.tsv",
               "conll_gold.unstitched.tsv"))


# neleval/test.py:349-420
EXPECTED_CONLL_SYSA = {
    "entity_match": {"fn": 0, "fp": 1, "fscore": 2 / 3, "precision": 0.5,
                     "recall": 1.0, "ptp": 1, "rtp": 1},
    "strong_link_match": {"fn": 0, "fp": 1, "fscore": 2 / 3,
                          "precision": 0.5, "recall": 1.0, "ptp": 1,
                          "rtp": 1},
    "strong_nil_match": {"fn": 0, "fp": 0, "fscore": 0.0, "precision": 0.0,
                         "recall": 0.0, "ptp": 0, "rtp": 0},
    "strong_all_match": {"fn": 1, "fp": 1, "fscore": 0.5, "precision": 0.5,
                         "recall": 0.5, "ptp": 1, "rtp": 1},
    "strong_typed_link_match": {"fn": 0, "fp": 1, "fscore": 2 / 3,
                                "precision": 0.5, "recall": 1.0,
                                "ptp": 1, "rtp": 1},
    "strong_mention_match": _perfect(2),
    "strong_linked_mention_match": {"fn": 0, "fp": 1, "fscore": 2 / 3,
                                    "precision": 0.5, "recall": 1.0,
                                    "ptp": 1, "rtp": 1},
    "entity_ceaf": _perfect(2.0),
    "mention_ceaf": _perfect(2.0),
}


def test_conll_sysa(spark):
    check_correct(
        EXPECTED_CONLL_SYSA,
        _stats(spark, "conll_gold.unstitched.tsv",
               "conll_sysa.unstitched.tsv"))


# neleval/test.py:428-499
EXPECTED_CONLL_MULTI_SELFEVAL = {
    "entity_match": _perfect(3),
    "strong_link_match": _perfect(3),
    "strong_nil_match": {"fn": 0, "fp": 0, "fscore": 0.0, "precision": 0.0,
                         "recall": 0.0, "ptp": 0, "rtp": 0},
    "strong_all_match": _perfect(4),
    "strong_typed_link_match": _perfect(3),
    "strong_mention_match": _perfect(4),
    "strong_linked_mention_match": _perfect(3),
    "entity_ceaf": _perfect(4.0),
    "mention_ceaf": _perfect(4.0),
}


def test_conll_multi_selfeval(spark):
    check_correct(
        EXPECTED_CONLL_MULTI_SELFEVAL,
        _stats(spark, "conll_multi_gold.unstitched.tsv",
               "conll_multi_gold.unstitched.tsv"))


# neleval/test.py:506-577
EXPECTED_CONLL_MULTI_SYSA = {
    "entity_match": {"fn": 2, "fp": 2, "fscore": 1 / 3, "precision": 1 / 3,
                     "recall": 1 / 3, "ptp": 1, "rtp": 1},
    "strong_link_match": {"fn": 2, "fp": 2, "fscore": 1 / 3,
                          "precision": 1 / 3, "recall": 1 / 3,
                          "ptp": 1, "rtp": 1},
    "strong_nil_match": {"fn": 0, "fp": 0, "fscore": 0.0, "precision": 0.0,
                         "recall": 0.0, "ptp": 0, "rtp": 0},
    "strong_all_match": {"fn": 3, "fp": 3, "fscore": 0.25,
                         "precision": 0.25, "recall": 0.25,
                         "ptp": 1, "rtp": 1},
    "strong_typed_link_match": {"fn": 2, "fp": 2, "fscore": 1 / 3,
                                "precision": 1 / 3, "recall": 1 / 3,
                                "ptp": 1, "rtp": 1},
    "strong_mention_match": _perfect(4),
    "strong_linked_mention_match": {"fn": 1, "fp": 1, "fscore": 2 / 3,
                                    "precision": 2 / 3, "recall": 2 / 3,
                                    "ptp": 2, "rtp": 2},
    "entity_ceaf": _perfect(4.0),
    "mention_ceaf": _perfect(4.0),
}


def test_conll_multi_sysa(spark):
    check_correct(
        EXPECTED_CONLL_MULTI_SYSA,
        _stats(spark, "conll_multi_gold.unstitched.tsv",
               "conll_multi_sysa.unstitched.tsv"))


def test_evaluate_unpersists_inputs(spark):
    """evaluate() materializes its inputs for the run but must not
    leak cached tables afterwards (callers' own persisted frames are
    left untouched)."""
    from neleval_spark.measures import evaluate
    from neleval_spark.sources.tac import prepare_tac

    E = "/root/reference/neleval/examples"
    gold = prepare_tac(spark, f"{E}/tac_gold.tab", f"{E}/tac_gold.xml")
    sys_ = prepare_tac(spark, f"{E}/tac_system.tab",
                       f"{E}/tac_system.xml")
    evaluate(sys_, gold, measures=["strong_mention_match"])
    assert not sys_.storageLevel.useMemory
    assert not gold.storageLevel.useMemory

    gold.persist()
    try:
        evaluate(sys_, gold, measures=["strong_mention_match"])
        assert gold.storageLevel.useMemory  # caller's persist kept
        assert not sys_.storageLevel.useMemory
    finally:
        gold.unpersist()
