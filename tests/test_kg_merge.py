"""Cross-generation KG maintenance (pipeline/triples.py:
aggregate_kg / merge_kg / prune_kg)."""

import pytest

from neleval_spark.pipeline.kg import aggregate_kg, merge_kg, prune_kg


def _wit(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, url string")


def test_aggregate_counts_distinct_urls(spark):
    t = _wit(spark, [
        ("a", "p", "b", "u1"), ("a", "p", "b", "u2"),
        ("a", "p", "b", "u1"),  # repeat witness
        ("a", "p", "c", "u1"),
    ])
    got = {(r.subj, r.obj): (r.n_pages, r.first_seen, r.last_seen)
           for r in aggregate_kg(t, generation=3).collect()}
    assert got == {("a", "b"): (2, 3, 3), ("a", "c"): (1, 3, 3)}


@pytest.fixture()
def gens(spark):
    g1 = aggregate_kg(_wit(spark, [
        ("a", "p", "b", "u1"), ("a", "p", "b", "u2"),
        ("stale", "p", "x", "u3"),
    ]), generation=1)
    g2 = aggregate_kg(_wit(spark, [
        ("a", "p", "b", "u9"),          # re-observed, fewer pages
        ("new", "p", "y", "u4"), ("new", "p", "y", "u5"),
    ]), generation=2)
    return g1, g2


def test_merge_replace(spark, gens):
    g1, g2 = gens
    got = {(r.subj, r.obj): (r.n_pages, r.first_seen, r.last_seen)
           for r in merge_kg(g1, g2, mode="replace").collect()}
    assert got == {
        ("a", "b"): (1, 1, 2),      # delta count supersedes
        ("stale", "x"): (1, 1, 1),  # base-only persists
        ("new", "y"): (2, 2, 2),    # delta-only inserted
    }


def test_merge_sum(spark, gens):
    g1, g2 = gens
    got = {(r.subj, r.obj): r.n_pages
           for r in merge_kg(g1, g2, mode="sum").collect()}
    assert got == {("a", "b"): 3, ("stale", "x"): 1, ("new", "y"): 2}


def test_merge_is_iterable(spark, gens):
    # fold a third generation over the merge of the first two
    g1, g2 = gens
    g3 = aggregate_kg(_wit(spark, [("a", "p", "b", "u1")]),
                      generation=3)
    kg = merge_kg(merge_kg(g1, g2), g3)
    got = {(r.subj, r.obj): (r.n_pages, r.first_seen, r.last_seen)
           for r in kg.collect()}
    assert got[("a", "b")] == (1, 1, 3)
    assert got[("stale", "x")] == (1, 1, 1)


def test_prune_staleness(spark, gens):
    g1, g2 = gens
    kg = merge_kg(g1, g2)
    kept = {r.subj for r in
            prune_kg(kg, current_gen=2, max_staleness=0).collect()}
    assert kept == {"a", "new"}  # stale (last_seen=1) evicted
    all_kept = {r.subj for r in
                prune_kg(kg, current_gen=2, max_staleness=1).collect()}
    assert all_kept == {"a", "new", "stale"}


def test_bad_mode_raises(spark, gens):
    with pytest.raises(ValueError, match="mode"):
        merge_kg(*gens, mode="max")


def test_merge_plan_single_join(spark, gens):
    """PLANS.md claim: ONE full-outer equi-join on the triple key."""
    g1, g2 = gens
    plan = merge_kg(g1, g2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("FullOuter") == 1
    assert "Window" not in plan and "CartesianProduct" not in plan


WITNESS_SCHEMA = "subj string, pred string, obj string, url string"


def test_validate_kg_clean(spark):
    from neleval_spark.pipeline.kg import validate_kg

    rows = [("E1", "mentioned_in", "u1", "u1"),
            ("E2", "mentioned_in", "u1", "u1"),
            ("E1", "cooccurs_with", "E2", "u1")]
    got = {r.check: r.violations for r in validate_kg(
        spark.createDataFrame(rows, WITNESS_SCHEMA),
        key=("subj", "pred", "obj", "url")).collect()}
    assert got == {"null_field": 0, "unknown_pred": 0, "self_loop": 0,
                   "non_canonical_pair": 0, "duplicate_key": 0,
                   "dangling_object": 0}


def test_validate_kg_empty(spark):
    from neleval_spark.pipeline.kg import validate_kg

    got = {r.check: r.violations for r in validate_kg(
        spark.createDataFrame([], WITNESS_SCHEMA)).collect()}
    assert set(got) == {"null_field", "unknown_pred", "self_loop",
                        "non_canonical_pair", "duplicate_key",
                        "dangling_object"}
    assert all(v == 0 for v in got.values())


def test_validate_kg_counts(spark):
    """Every check fires with an exact count; a self-loop on a
    canonical predicate counts as BOTH self_loop and
    non_canonical_pair (independent invariants)."""
    from neleval_spark.pipeline.kg import validate_kg

    rows = [
        # clean core
        ("E1", "mentioned_in", "u1", "u1"),
        ("E2", "mentioned_in", "u1", "u1"),
        ("E1", "cooccurs_with", "E2", "u1"),
        # violations
        ("E3", "mentioned_in", None, "u2"),    # null_field
        ("E1", "related_to", "E2", "u1"),      # unknown_pred
        ("E2", "cooccurs_with", "E2", "u3"),   # self_loop (+ canon)
        ("E9", "cooccurs_with", "E1", "u4"),   # non_canonical_pair
        ("E5", "cooccurs_with", "E7", "u5"),   # E7 dangling
        # duplicates of the clean pair (count 3 -> 2 extras)
        ("E1", "cooccurs_with", "E2", "u1"),
        ("E1", "cooccurs_with", "E2", "u1"),
    ]
    got = {r.check: r.violations for r in validate_kg(
        spark.createDataFrame(rows, WITNESS_SCHEMA)).collect()}
    assert got == {"null_field": 1, "unknown_pred": 1, "self_loop": 1,
                   "non_canonical_pair": 2, "duplicate_key": 2,
                   "dangling_object": 1}


def test_validate_kg_plan_shape(spark):
    """Scale claims: no cartesian, no window, no collect-backed
    literal plan; dangling check is a LeftAnti join."""
    from neleval_spark.pipeline.kg import validate_kg

    df = spark.createDataFrame(
        [("E1", "cooccurs_with", "E2", "u1")], WITNESS_SCHEMA)
    plan = validate_kg(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan and "Window" not in plan
    assert "LeftAnti" in plan

def test_conflate_kg_folds_name_variants(spark):
    from neleval_spark.pipeline.kg import conflate_kg

    kg = spark.createDataFrame(
        [
            # two spellings of the same subject node
            ("acme corp", "cooccurs_with", "beta labs", 3, 1, 1),
            ("acme cor", "cooccurs_with", "beta labs", 2, 2, 2),
            # entity OBJECT variant conflates too
            ("beta labs", "cooccurs_with", "acme cor", 1, 2, 2),
            # doc objects are NEVER conflated, even if near a name
            ("acme corp", "mentioned_in", "doc:acme cor", 5, 1, 2),
        ],
        "subj string, pred string, obj string, n_pages long, "
        "first_seen int, last_seen int")
    got = {(r["subj"], r["pred"], r["obj"]):
           (r["n_pages"], r["first_seen"], r["last_seen"])
           for r in conflate_kg(kg).collect()}
    # canonical = min name: "acme cor" < "acme corp"
    assert got == {
        ("acme cor", "cooccurs_with", "beta labs"): (5, 1, 2),
        ("beta labs", "cooccurs_with", "acme cor"): (1, 2, 2),
        ("acme cor", "mentioned_in", "doc:acme cor"): (5, 1, 2),
    }


def test_conflate_kg_identity_when_no_variants(spark):
    from neleval_spark.pipeline.kg import conflate_kg

    kg = spark.createDataFrame(
        [("Entity_Alpha_Holdings", "cooccurs_with",
          "Entirely_Different_Name_Beta", 1, 1, 1)],
        "subj string, pred string, obj string, n_pages long, "
        "first_seen int, last_seen int")
    rows = conflate_kg(kg).collect()
    assert len(rows) == 1
    assert rows[0]["subj"] == "Entity_Alpha_Holdings"
    assert rows[0]["n_pages"] == 1
