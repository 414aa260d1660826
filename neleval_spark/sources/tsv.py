"""Annotation TSV reader/writer.

Wire format (reference doc/formats.rst:9-38; parser at
neleval/annotation.py:102-114 and :217-235):

    docid <TAB> start <TAB> end [<TAB> candidate-tail]

where the candidate tail is one of

* ``eid`` — id only;
* ``eid TAB score`` — id and score;
* one or more ``eid TAB score TAB type`` triples, where ``type`` may be
  a JSON object whose keys become dynamic attributes.

All parsing happens JVM-side as Catalyst expressions over
``spark.read.text`` — no per-row Python.  At scale the prepared data
lives in parquet and this path only serves the fixture boundary.

Predicate pushdown substitutes derived-column aliases into
scan-level predicates, duplicating the parse expression tree
(docs/PLANS.md, "predicate-pushdown inlining"), so a filter over this
reader needs a barrier below it.  The measures have one:
``evaluate()`` takes one eager local checkpoint of the columns its
measures read, both sides in one side-tagged frame, and
``contingency_df`` (the stats' per-doc tables) filters above the
``inline`` Generate of its measure stack, which pushdown cannot
cross.  Other filter-heavy workloads should
materialize the frame first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import ATTRS_TYPE
from ..operators.normalize import derive_mention_columns, with_is_first


def _candidates_expr(colname: str, cols_colname: str):
    """Parse the variable-arity candidate tail into an array of
    candidate structs; ``type`` JSON objects land in ``attrs`` with
    ``attrs['type']`` promoted to the type column.

    ``cols_colname`` must hold the MATERIALIZED tab-split of
    ``colname`` (see `parse_annotation_lines`): the per-candidate
    ``transform`` lambda indexes into it several times per element,
    and higher-order functions evaluate interpreted — an inline
    split expression would re-split the tail once per reference
    (PLANS.md "higher-order functions are interpreted").

    Mirrors neleval/annotation.py:217-235 (Candidate.from_string).
    """
    cols = F.col(cols_colname)
    n = F.size(cols)

    one = F.array(
        F.struct(
            F.element_at(cols, 1).alias("eid"),
            F.lit(None).cast("double").alias("score"),
            F.lit(None).cast("string").alias("type"),
            F.lit(None).cast(ATTRS_TYPE).alias("attrs"),
        )
    )
    two = F.array(
        F.struct(
            F.element_at(cols, 1).alias("eid"),
            F.element_at(cols, 2).cast("double").alias("score"),
            F.lit(None).cast("string").alias("type"),
            F.lit(None).cast(ATTRS_TYPE).alias("attrs"),
        )
    )

    def triple(i):
        raw_type = F.element_at(cols, i + 3)
        is_json = raw_type.startswith("{")
        attrs = F.when(is_json, F.from_json(raw_type, ATTRS_TYPE)).otherwise(
            F.map_from_arrays(F.array(F.lit("type")), F.array(raw_type))
        )
        return F.struct(
            F.element_at(cols, i + 1).alias("eid"),
            F.element_at(cols, i + 2).cast("double").alias("score"),
            attrs.getItem("type").alias("type"),
            attrs.alias("attrs"),
        )

    many = F.transform(
        F.sequence(F.lit(0), (n / 3).cast("int") - 1), lambda i: triple(i * 3)
    )
    cand_array_t = (
        "array<struct<eid:string,score:double,type:string,attrs:map<string,string>>>"
    )
    empty = F.expr(f"cast(array() as {cand_array_t})")
    # >2 columns whose count is not a multiple of 3 is undefined format:
    # the reference raises SyntaxError (neleval/annotation.py:228-235)
    malformed = F.raise_error(
        F.concat(
            F.lit("Need id, score and type when >1 candidates: "),
            F.col(colname),
        )
    ).cast(cand_array_t)
    return (
        F.when(F.col(colname).isNull() | (F.col(colname) == ""), empty)
        .when(n == 1, one)
        .when(n == 2, two)
        .when(n % 3 == 0, many)
        .otherwise(malformed)
    )


def read_annotations_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Read an annotation TSV into the normalized mentions DataFrame."""
    return parse_annotation_lines(spark.read.text(path))


def parse_annotation_lines(raw: DataFrame) -> DataFrame:
    """Parse a DataFrame of raw TSV ``value`` lines into the
    normalized mentions frame — the line-level entry point that lets
    callers pre-filter lines JVM-side (e.g. ``filtered-track-eval``'s
    egrep-equivalent ``rlike`` subsets) without a temp file."""
    parts = F.split(F.regexp_replace(F.col("value"), "[\n\t]+$", ""), "\t", 4)
    df = raw.select(
        F.element_at(parts, 1).alias("docid"),
        F.element_at(parts, 2).cast("long").alias("start"),
        F.element_at(parts, 3).cast("long").alias("end"),
        F.when(F.size(parts) >= 4, F.element_at(parts, 4)).alias("_tail"),
    )
    df = df.withColumn("_tail_cols", F.split(F.col("_tail"), "\t"))
    df = df.withColumn(
        "candidates", _candidates_expr("_tail", "_tail_cols")
    ).drop("_tail", "_tail_cols")
    df = derive_mention_columns(df, sort=True)
    return with_is_first(df)


def _json_scalar(c):
    """JSON-escape+quote a string column (via ``to_json(array(x))``
    minus the brackets) so multi-attr rendering matches json.dumps."""
    j = F.to_json(F.array(c))
    return j.substr(F.lit(2), F.length(j) - F.lit(2))


def _candidate_str(c):
    """Render one candidate as ``eid TAB score TAB type`` matching
    Candidate.__unicode__ (neleval/annotation.py:195-206):

    * score: ``self.score or ''`` in the reference — None AND 0.0 both
      render empty (0.0 is falsy); any other float as-is;
    * attrs empty/absent → '';
    * exactly one attr named 'type' → its bare value ('' for None);
    * multiple attrs → ``json.dumps(dict)`` with ', '/': ' separators,
      insertion (= input JSON) key order.
    """
    score = F.when(c["score"].isNull() | (c["score"] == 0.0), F.lit("")) \
        .otherwise(
            F.when(c["score"] == c["score"].cast("long").cast("double"),
                   F.concat(c["score"].cast("long").cast("string"), F.lit(".0")))
            .otherwise(c["score"].cast("string")))
    attrs = c["attrs"]
    multi = attrs.isNotNull() & (
        (F.size(attrs) > 1)
        | ((F.size(attrs) == 1) & ~F.map_contains_key(attrs, "type"))
    )
    as_json = F.concat(
        F.lit("{"),
        F.concat_ws(
            ", ",
            F.transform(
                F.map_entries(attrs),
                lambda e: F.concat(
                    _json_scalar(e["key"]), F.lit(": "),
                    F.when(e["value"].isNull(), F.lit("null"))
                    .otherwise(_json_scalar(e["value"])),
                ),
            ),
        ),
        F.lit("}"),
    )
    type_ = F.when(multi, as_json).otherwise(F.coalesce(c["type"], F.lit("")))
    return F.concat_ws("\t", c["eid"], score, type_)


def annotations_to_tsv_lines(df: DataFrame,
                             keep: list[str] | None = None) -> DataFrame:
    """Render mentions back to TSV lines (column ``value``), sorted the
    way the reference emits documents: insertion order is not
    reproducible distributedly, so we sort by (docid, start, -end) —
    callers doing byte-diff fixture checks sort both sides.  ``keep``
    carries extra ordering columns (e.g. a document ordinal) through."""
    cand_strs = F.transform(F.col("candidates"), _candidate_str)
    return df.select(
        F.concat_ws(
            "\t",
            F.col("docid"),
            F.col("start").cast("string"),
            F.col("end").cast("string"),
            F.concat_ws("\t", cand_strs),
        ).alias("value"),
        F.col("docid"), F.col("start"), F.col("end"),
        *[F.col(c) for c in (keep or [])],
    )
