"""Golden prepare test: prepare_tac output must equal the reference's
committed combined.tsv fixtures byte-for-byte per line (reference:
neleval/test.py:41-47). Output order is not meaningful distributedly,
so both sides are compared as sorted line lists."""

import os

import pytest

EXAMPLES = "/root/reference/neleval/examples"

needs_examples = pytest.mark.skipif(
    not os.path.isdir(EXAMPLES), reason="reference fixtures not present")


@needs_examples
@pytest.mark.parametrize(
    "links,queries,combined",
    [
        ("tac_gold.tab", "tac_gold.xml", "tac_gold.combined.tsv"),
        ("tac_system.tab", "tac_system.xml", "tac_system.combined.tsv"),
    ],
)
def test_tac_prepare_golden(spark, links, queries, combined):
    from neleval_spark.sources.tac import prepare_tac
    from neleval_spark.sources.tsv import annotations_to_tsv_lines

    df = prepare_tac(
        spark,
        os.path.join(EXAMPLES, links),
        os.path.join(EXAMPLES, queries),
    )
    lines = [r["value"] for r in annotations_to_tsv_lines(df).collect()]
    with open(os.path.join(EXAMPLES, combined)) as f:
        expected = f.read().rstrip("\n").split("\n")
    assert sorted(lines) == sorted(expected)


@needs_examples
def test_tsv_read_write_roundtrip(spark):
    """Read ↔ write round-trip (reference: test.py:69-72)."""
    from neleval_spark.sources.tsv import (
        annotations_to_tsv_lines, read_annotations_tsv)

    path = os.path.join(EXAMPLES, "tac_gold.combined.tsv")
    df = read_annotations_tsv(spark, path)
    lines = [r["value"] for r in annotations_to_tsv_lines(df).collect()]
    with open(path) as f:
        expected = f.read().rstrip("\n").split("\n")
    assert sorted(lines) == sorted(expected)

# --- round 2: alignment validation, mapping/excluded files, tie-break ------
#
# Expected strings below were produced by executing the reference
# PrepareTac (shimmed for py3) on the same synthetic inputs.

TIE_QUERIES_XML = """<?xml version="1.0" encoding="UTF-8"?>
<kbpentlink>
  <query id="q2"><name>B</name><docid>D1</docid><beg>5</beg><end>9</end></query>
  <query id="q1"><name>A</name><docid>D1</docid><beg>5</beg><end>9</end></query>
  <query id="q3"><name>C</name><docid>D2</docid><beg>1</beg><end>3</end></query>
</kbpentlink>"""

TIE_LINKS = (
    "q1\tE_one\tPER\t0.5\n"
    "q2\tE_two\tPER\t0.5\n"
    "q2\tE_three\tORG\t0.5\n"
    "q3\tNIL1\tGPE\t0.5\n"
)


def _write_tie_inputs(tmp_path):
    q = tmp_path / "q.xml"
    links = tmp_path / "links.tab"
    q.write_text(TIE_QUERIES_XML)
    links.write_text(TIE_LINKS)
    return str(links), str(q)


def test_prepare_tac_equal_score_tiebreak(spark, tmp_path):
    """Equal scores: candidate order = (query XML position, link-file
    line), reference tac.py:126-131 stable sort."""
    from neleval_spark.sources.tac import prepare_tac
    from neleval_spark.sources.tsv import annotations_to_tsv_lines

    links, queries = _write_tie_inputs(tmp_path)
    df = prepare_tac(spark, links, queries)
    lines = sorted(r["value"]
                   for r in annotations_to_tsv_lines(df).collect())
    assert lines == [
        "D1\t5\t9\tE_two\t0.5\tPER\tE_three\t0.5\tORG\tE_one\t0.5\tPER",
        "D2\t1\t3\tNIL1\t0.5\tGPE",
    ]


def test_prepare_tac_gold_projection(spark, tmp_path):
    """gold=True mirrors the reference awk step
    (run_tac14_evaluation.sh:24): a real TAC gold tab carries a
    NON-NUMERIC 4th column (genre) that must neither crash the float
    parse (ANSI cast) nor perturb score ordering — every gold
    candidate scores a literal 1.0."""
    from neleval_spark.sources.tac import prepare_tac
    from neleval_spark.sources.tsv import annotations_to_tsv_lines

    q = tmp_path / "q.xml"
    q.write_text(TIE_QUERIES_XML)
    links = tmp_path / "gold.tab"
    links.write_text(
        "q1\tE_one\tPER\tWB\n"
        "q2\tE_two\tPER\tNW\n"
        "q2\tE_three\tORG\tNW\n"
        "q3\tNIL1\tGPE\tWB\n")
    df = prepare_tac(spark, str(links), str(q), gold=True)
    lines = sorted(r["value"]
                   for r in annotations_to_tsv_lines(df).collect())
    assert lines == [
        "D1\t5\t9\tE_two\t1.0\tPER\tE_three\t1.0\tORG\tE_one\t1.0\tPER",
        "D2\t1\t3\tNIL1\t1.0\tGPE",
    ]


def test_prepare_tac_mapping_file(spark, tmp_path):
    """Mapping file: first col canonical, rest aliases, spaces→_,
    later lines overwrite earlier (reference tac.py:83-95)."""
    from neleval_spark.sources.tac import prepare_tac, read_mapping_file
    from neleval_spark.sources.tsv import annotations_to_tsv_lines

    links, queries = _write_tie_inputs(tmp_path)
    m = tmp_path / "map.tsv"
    m.write_text("Two Entity\tE_two\nThree Entity\tE_three\tE_two\n")
    mapping = read_mapping_file(spark, str(m))
    df = prepare_tac(spark, links, queries, mapping=mapping)
    lines = sorted(r["value"]
                   for r in annotations_to_tsv_lines(df).collect())
    assert lines == [
        "D1\t5\t9\tThree_Entity\t0.5\tPER\tThree_Entity\t0.5\tORG"
        "\tE_one\t0.5\tPER",
        "D2\t1\t3\tNIL1\t0.5\tGPE",
    ]


def test_prepare_tac_excluded_file(spark, tmp_path):
    from neleval_spark.sources.tac import (
        prepare_tac, read_excluded_spans_file)
    from neleval_spark.sources.tsv import annotations_to_tsv_lines

    links, queries = _write_tie_inputs(tmp_path)
    x = tmp_path / "exc.tsv"
    x.write_text("D2\t0\t4\n")
    excluded = read_excluded_spans_file(spark, str(x))
    df = prepare_tac(spark, links, queries, excluded=excluded)
    lines = sorted(r["value"]
                   for r in annotations_to_tsv_lines(df).collect())
    assert lines == [
        "D1\t5\t9\tE_two\t0.5\tPER\tE_three\t0.5\tORG\tE_one\t0.5\tPER",
    ]


def test_prepare_tac_raises_on_unaligned_links(spark, tmp_path):
    from neleval_spark.sources.tac import prepare_tac

    links, queries = _write_tie_inputs(tmp_path)
    bad = tmp_path / "links_extra.tab"
    bad.write_text(TIE_LINKS + "q9\tE_x\tPER\t0.1\n")
    with pytest.raises(ValueError, match="unaligned to queries"):
        prepare_tac(spark, str(bad), queries)


def test_prepare_tac_raises_on_query_without_candidates(spark, tmp_path):
    from neleval_spark.sources.tac import prepare_tac

    links, queries = _write_tie_inputs(tmp_path)
    bad = tmp_path / "links_missing.tab"
    bad.write_text("q1\tE_one\tPER\t0.5\nq2\tE_two\tPER\t0.5\n")
    with pytest.raises(ValueError, match="No candidates found for query"):
        prepare_tac(spark, str(bad), queries)


def test_tsv_malformed_candidate_tail_raises(spark, tmp_path):
    """>2 tail columns not divisible by 3 → SyntaxError in the
    reference (annotation.py:228-235); raised Spark-side here."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from neleval_spark.sources.tsv import read_annotations_tsv

    p = tmp_path / "bad.tsv"
    p.write_text("d1\t0\t5\tE1\t0.5\tPER\tE2\n")
    with pytest.raises((SparkRuntimeException, Py4JJavaError),
                       match="Need id, score and type"):
        read_annotations_tsv(spark, str(p)).collect()


def test_tsv_multi_attr_json_roundtrip(spark, tmp_path):
    """Multi-attr candidates render as json.dumps with ', '/': '
    separators in input key order (annotation.py:195-206)."""
    from neleval_spark.sources.tsv import (
        annotations_to_tsv_lines, read_annotations_tsv)

    line = ('d1\t0\t5\tE1\t0.5\t{"type": "PER", "reftype": "NOM"}')
    p = tmp_path / "multi.tsv"
    p.write_text(line + "\n" + "d1\t7\t9\tE2\t0.25\tORG\n")
    df = read_annotations_tsv(spark, str(p))
    rows = {r["start"]: r for r in df.collect()}
    assert rows[0]["type"] == "PER"
    assert rows[0]["attrs"]["reftype"] == "NOM"
    out = sorted(r["value"]
                 for r in annotations_to_tsv_lines(df).collect())
    assert out == [line, "d1\t7\t9\tE2\t0.25\tORG"]


def test_prepare_tac_span_mate_candidates_accepted(spark, tmp_path):
    """A qid with zero link rows is fine when a span-mate has
    candidates: the reference concatenates candidates across all qids
    of one (docid, start, end) span BEFORE the no-candidates raise
    (tac.py:125-131 then :71-72).  q1 has no links; its span-mate q2
    does -> the span keeps q2's candidates and nothing raises."""
    from neleval_spark.sources.tac import prepare_tac
    from neleval_spark.sources.tsv import annotations_to_tsv_lines

    links, queries = _write_tie_inputs(tmp_path)
    partial = tmp_path / "links_partial.tab"
    partial.write_text(
        "q2\tE_two\tPER\t0.5\n"
        "q2\tE_three\tORG\t0.5\n"
        "q3\tNIL1\tGPE\t0.5\n"
    )
    df = prepare_tac(spark, str(partial), queries)
    lines = sorted(r["value"]
                   for r in annotations_to_tsv_lines(df).collect())
    assert lines == [
        "D1\t5\t9\tE_two\t0.5\tPER\tE_three\t0.5\tORG",
        "D2\t1\t3\tNIL1\t0.5\tGPE",
    ]
