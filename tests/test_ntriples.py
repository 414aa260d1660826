"""N-Triples reader: round-trip identity with the exporter,
standard literal/lang/datatype/bnode forms, comment and malformed
line handling."""

from pyspark.sql import functions as F

from neleval_spark.pipeline.kg import from_ntriples, to_ntriples

TRIPLE_SCHEMA = "subj string, pred string, obj string"
LINE_SCHEMA = "line string"


def test_roundtrip_restores_ids_exactly(spark):
    rows = [
        ("e1", "knows", "e2"),
        ("a b", "rel<x>", 'q"uote'),           # every escaped char
        ("plus+sign", "p", "back\\slash"),
        ("e3", "mentioned_in", "http://ex.com/a page?q=1"),
    ]
    t = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    back = from_ntriples(to_ntriples(t))
    got = {(r["subj"], r["pred"], r["obj"]) for r in back.collect()}
    assert got == set(rows)
    # url_preds objects come back as full IRIs (foreign base kept)
    kinds = {r["obj"]: r["kind"] for r in back.collect()}
    assert kinds["http://ex.com/a page?q=1"] == "iri"
    assert all(k == "iri" for k in kinds.values())


def test_literals_lang_datatype_bnodes(spark):
    lines = [
        '<http://e/s> <http://p/n> "Alice" .',
        '<http://e/s> <http://p/n> "Grüße"@de-AT .',
        '<http://e/s> <http://p/age> '
        '"42"^^<http://www.w3.org/2001/XMLSchema#integer> .',
        '<http://e/s> <http://p/q> "say \\"hi\\"" .',
        '_:b0 <http://p/link> _:b1 .',
    ]
    df = spark.createDataFrame([(x,) for x in lines], LINE_SCHEMA)
    got = [(r["subj"], r["pred"], r["obj"], r["kind"], r["lang"],
            r["datatype"])
           for r in from_ntriples(
               df, subj_base="http://e/", pred_base="http://p/",
               obj_base="http://e/").collect()]
    assert sorted(got) == sorted([
        ("s", "n", "Alice", "literal", "", ""),
        ("s", "n", "Grüße", "literal", "de-AT", ""),
        ("s", "age", "42", "literal", "",
         "http://www.w3.org/2001/XMLSchema#integer"),
        ("s", "q", 'say "hi"', "literal", "", ""),
        ("_:b0", "link", "_:b1", "bnode", "", ""),
    ])


def test_comments_blanks_and_malformed_surfaced(spark):
    lines = [
        "# a comment",
        "",
        "   ",
        "<http://e/a> <http://p/x> <http://e/b> .",
        "not a triple at all",
        "<http://e/a> <http://p/x> missing-dot <http://e/b>",
    ]
    df = spark.createDataFrame([(x,) for x in lines], LINE_SCHEMA)
    stats = {}
    got = from_ntriples(df, subj_base="http://e/",
                        pred_base="http://p/", obj_base="http://e/",
                        stats=stats).collect()
    assert stats["bad_lines"] == 2
    assert [(r["subj"], r["pred"], r["obj"]) for r in got] \
        == [("a", "x", "b")]


def test_export_then_read_text_file_roundtrip(spark, tmp_path):
    t = spark.createDataFrame(
        [(f"e{i}", f"p{i % 3}", f"e{i + 1}") for i in range(20)],
        TRIPLE_SCHEMA)
    path = str(tmp_path / "dump.nt")
    to_ntriples(t).write.mode("overwrite").text(path)
    back = from_ntriples(spark.read.text(path), col="value")
    assert back.count() == 20
    joined = (back.select("subj", "pred", "obj")
              .exceptAll(t).count())
    assert joined == 0
