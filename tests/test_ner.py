"""Golden fixtures for the gazetteer + casing-evidence NER tagger
(pipeline/ner.py): dictionary longest-match precedence, capitalized-run
fallback, and the Mikheev-style sentence-initial casing rules, pinned
per document on hand-written texts."""

import pytest

from neleval_spark.pipeline.corpus import KB
from neleval_spark.pipeline.ner import (build_gazetteer,
                                        detect_mentions_text)

GAZ = build_gazetteer(
    [alias for _, _, aliases, _, _, _ in KB for alias in aliases])


def spans(text, gazetteer=GAZ):
    return [(s, e, surf, li)
            for s, e, surf, li, _ in detect_mentions_text(text, gazetteer)]


def surfaces(text, gazetteer=GAZ):
    return [surf for _, _, surf, _ in spans(text, gazetteer)]


def test_gazetteer_longest_match_wins():
    # "Blue Harbor Bank" contains the shorter alias "Blue Harbor";
    # longest-first buckets make the first hit the longest match
    assert surfaces("t\nthe firm Blue Harbor Bank lent money.") == \
        ["Blue Harbor Bank"]
    # shorter alias still matches when the long one doesn't continue
    assert surfaces("t\nthe firm Blue Harbor lent money.") == \
        ["Blue Harbor"]


def test_gazetteer_beats_sentence_initial_rule():
    # single-token sentence-initial "Apex" has no casing evidence, but
    # the dictionary owns it — found anyway
    assert surfaces("t\nApex expanded again.") == ["Apex"]


def test_adjacent_gazetteer_entities_split():
    assert surfaces(
        "t\nthe report said Mercury Motors and Mercury Observatory "
        "met.") == ["Mercury Motors", "Mercury Observatory"]


def test_sentence_initial_function_word_dropped():
    assert surfaces("t\nThe company said nothing more.") == []
    assert surfaces("t\nMeanwhile nothing happened.") == []


def test_sentence_initial_name_needs_document_evidence():
    # no interior evidence for "Zorblatt" → initial occurrence dropped
    assert surfaces("t\nZorblatt is far away.") == []
    # interior occurrence elsewhere in the SAME document licenses it
    text = "t\nZorblatt is far away.\nwe visited Zorblatt in spring."
    assert surfaces(text) == ["Zorblatt", "Zorblatt"]


def test_multi_token_run_kept_even_sentence_initial():
    # internal capitalization is itself the evidence
    assert surfaces("t\nQuiet Elm Company declined to comment.") == \
        ["Quiet Elm Company"]


def test_mid_sentence_function_word_cap_dropped():
    assert surfaces("t\nhe said I cannot go.") == []


def test_offsets_inclusive_and_line_indexed():
    text = "daily brief 7\na statement from Kestrel Air was read."
    got = spans(text)
    assert len(got) == 1
    s, e, surf, li = got[0]
    assert surf == "Kestrel Air"
    assert text[s:e + 1] == "Kestrel Air"  # end is INCLUSIVE
    assert li == 0  # first sentence line after the title


def test_punctuation_starts_new_sentence_midline():
    # after ".", a lone unknown capitalized token is initial again
    assert surfaces("t\nit ended. Vantor spoke.") == []
    # but a dictionary name after "." is found
    assert surfaces("t\nit ended. Apex spoke.") == ["Apex"]


def test_no_gazetteer_fallback_matches_corpus_gold():
    """Without a dictionary, mid-sentence runs still behave like the
    corpus generator expects (slots are never sentence-initial)."""
    text = ("daily brief 3\nobservers noted that Apex and Port Alden "
            "discussed the software plan at length.")
    assert surfaces(text, gazetteer=None) == ["Apex", "Port Alden"]


def test_run_stops_before_dictionary_token():
    # a capitalized run must not swallow the start of a dictionary
    # name: "Red Sable Group" (unknown) directly before "Apex" (known)
    assert surfaces("t\nper Red Sable Group Apex filed suit.") == \
        ["Red Sable Group", "Apex"]


@pytest.mark.parametrize("n_docs", [40])
def test_tagger_exactly_matches_corpus_gold_driverside(n_docs):
    """Pure-python sweep: tagger output == generated gold mentions on
    the synthetic corpus (the distributed twin of this assertion is
    test_pipeline.test_ner_finds_exactly_gold_spans)."""
    from neleval_spark.pipeline.corpus import gen_doc

    for i in range(n_docs):
        d = gen_doc(i)
        if d["lang"] != "en":
            continue
        got = [(s, e, surf) for s, e, surf, _, _ in
               detect_mentions_text(d["text"], GAZ)]
        exp = [(s, e, surf) for s, e, surf, _, _, _ in d["mentions"]]
        assert got == exp, (i, got, exp)


def _jobs_in_group(spark, group, fn):
    """Number of Spark jobs ``fn`` runs, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_gazetteer_collect_is_bounded(spark, monkeypatch):
    """gazetteer_from_kb must refuse a KB whose alias set would OOM
    the driver, with a pointer at the casing-only fallback."""
    import neleval_spark.pipeline.ner as ner_mod

    kb = spark.createDataFrame(
        [(f"a{i}",) for i in range(10)], "alias string")
    monkeypatch.setattr(ner_mod, "MAX_GAZETTEER_ALIASES", 5)

    def overflow():
        with pytest.raises(ValueError, match="casing evidence"):
            ner_mod.gazetteer_from_kb(kb)

    # the overflow path runs its one bounded collect and nothing more:
    # the same jobs as that query alone (under AQE a shuffle query is a
    # map-stage job plus a result job), no re-count for the message
    collect_jobs = _jobs_in_group(
        spark, "gaz-collect",
        lambda: kb.select("alias").distinct().limit(6).collect())
    assert _jobs_in_group(spark, "gaz-overflow", overflow) == collect_jobs
    monkeypatch.setattr(ner_mod, "MAX_GAZETTEER_ALIASES", 100)
    gaz = ner_mod.gazetteer_from_kb(kb)
    assert gaz is not None
