"""The evaluation engine's shape: one plan per measure family,
null-safe grouped clustering measures and single-pass trials.

Inputs come from the benchmark's annotation generator plus rows the
generator never writes: bare spans (no candidate), NIL-only rows
(NULL ``kbid``) and type-less rows (NULL ``type``).
"""

import json
import os
import random
import re

import pytest
from pyspark.sql import functions as F

from neleval_spark.measures import evaluate, get_measure, parse_measures
from neleval_spark.measures.contingency import Matrix, contingency_df
from neleval_spark.sources.tsv import read_annotations_tsv
from neleval_spark.stats import (bootstrap_confidence, per_doc_contingency,
                                 permutation_test)

# ``sets:None:span+eid`` keys a sets measure on the clustering family's
# cluster id: the other sets stacks must still see ``eid`` as NULL
COMPOSED = ["sets:is_first:docid+kbid", "overlap-maxmax:is_linked:span",
            "sets:None:span+eid"]
COUNTS = ("ptp", "fp", "rtp", "fn")


def _write_tsvs(d, n_docs, seed):
    from perfbench.inputs import write_annotations

    write_annotations(str(d), n_docs, seed)
    rng = random.Random(seed)
    for name in ("gold.tsv", "system.tsv"):
        with open(os.path.join(d, name), "a") as f:
            for _ in range(3 * n_docs // 5):
                doc = f"doc{rng.randrange(n_docs):07d}"
                start = 5000 + rng.randrange(40)
                kind = rng.random()
                if kind < 0.4:  # bare span
                    f.write(f"{doc}\t{start}\t{start + 3}\n")
                elif kind < 0.8:  # no type
                    f.write(f"{doc}\t{start}\t{start + 3}\t"
                            f"E{rng.randrange(5):05d}\t1.0\n")
                else:  # NIL id only
                    f.write(f"{doc}\t{start}\t{start + 3}\t"
                            f"NIL{rng.randrange(5):05d}\n")


@pytest.fixture(scope="module")
def sides(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("eval_engine")
    _write_tsvs(d, 20, seed=3)
    return (read_annotations_tsv(spark, str(d / "system.tsv")),
            read_annotations_tsv(spark, str(d / "gold.tsv")))


def _close(got: dict, exp: dict) -> bool:
    return all(abs(got[k] - exp[k]) <= 1e-9 * max(1.0, abs(exp[k]))
               for k in COUNTS)


def _matrix(row) -> dict:
    return (Matrix(*(row[k] for k in COUNTS)) if row is not None
            else Matrix()).results


def test_stacked_evaluate_equals_per_measure(sides):
    """Every family evaluated in one stacked plan gives exactly what
    the measure's own plan gives, NULL keys, NULL groups and bare
    spans included."""
    s, g = sides
    assert g.where(F.col("type").isNull()).limit(1).count() == 1
    names = parse_measures(["all", *COMPOSED])
    flat = evaluate(s, g, measures=names)
    grouped = evaluate(s, g, measures=names, group_by=["type"])
    types = {r[0] for r in g.select("type").distinct().collect()}
    for name in names:
        spec = get_measure(name)
        assert _close(flat[name],
                      _matrix(contingency_df(s, g, spec).first())), name
        rows = {r["type"]: r for r in
                contingency_df(s, g, spec, ["type"]).collect()}
        for t in types:
            label = f"{name};type={json.dumps(t)}"
            assert _close(grouped[label], _matrix(rows.get(t))), label


def test_grouped_clustering_matches_group_subsets(sides):
    """Grouped clustering measures (self-joins of one dedup frame in
    ``ns_join``) equal evaluating each group's rows alone."""
    s, g = sides
    names = ["b_cubed", "b_cubed_plus", "entity_ceaf"]
    grouped = evaluate(s, g, measures=names, group_by=["type"])
    for t in ("PER", "ORG", None):
        c = F.col("type").eqNullSafe(F.lit(t))
        alone = evaluate(s.where(c), g.where(c), measures=names)
        for name in names:
            label = f"{name};type={json.dumps(t)}"
            assert _close(grouped[label], alone[name]), label


def test_bootstrap_on_clustering_per_doc(sides):
    s, g = sides
    ci = bootstrap_confidence(per_doc_contingency(s, g, "b_cubed"),
                              n_trials=50)
    # clusters split at document borders: the per-doc sums are the
    # docid-grouped micro average, not the corpus-wide b_cubed
    f = evaluate(s, g, measures="b_cubed", group_by=["docid"])[
        "b_cubed;docid=<micro>"]["fscore"]
    assert ci["fscore"]["score"] == pytest.approx(f, rel=1e-12)
    assert ci["fscore"][90][0] <= f <= ci["fscore"][90][1]


def _ticking_per_doc(spark, n, seed):
    """A per-doc table whose every evaluation ticks an accumulator
    once per row (on ``ptp``, which the observed sums read too)."""
    ticks = spark.sparkContext.accumulator(0)

    @F.udf("double")
    def tick(v):
        ticks.add(1)
        return v

    rng = random.Random(seed)
    rows = [(f"d{i}", float(rng.randrange(5)), float(rng.randrange(3)),
             float(rng.randrange(5)), float(rng.randrange(3)))
            for i in range(n)]
    df = spark.createDataFrame(rows, "docid string, ptp double, "
                                     "fp double, rtp double, fn double")
    return df.withColumn("ptp", tick("ptp")), ticks


@pytest.mark.parametrize("method", ["poisson", "multinomial"])
def test_bootstrap_evaluates_per_doc_input_once(spark, method):
    per_doc, ticks = _ticking_per_doc(spark, 200, seed=1)
    ci = bootstrap_confidence(per_doc, n_trials=30, method=method)
    assert ticks.value == 200
    sums = per_doc.agg(*[F.sum(c).alias(c) for c in COUNTS]).first()
    assert ci["fscore"]["score"] == Matrix(*sums).results["fscore"]


def test_permutation_evaluates_each_input_once(spark):
    pd1, ticks1 = _ticking_per_doc(spark, 150, seed=2)
    pd2, ticks2 = _ticking_per_doc(spark, 150, seed=3)
    res = permutation_test(pd1, pd2, n_trials=40)
    assert (ticks1.value, ticks2.value) == (150, 150)
    m1 = Matrix(*pd1.agg(*[F.sum(c) for c in COUNTS]).first()).results
    m2 = Matrix(*pd2.agg(*[F.sum(c) for c in COUNTS]).first()).results
    assert res["fscore"]["diff"] == pytest.approx(
        m1["fscore"] - m2["fscore"], rel=1e-12)


def _executions(spark):
    """The SQL executions in the status store, oldest first."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore() \
        .executionsList().iterator()
    while it.hasNext():
        yield it.next()


def _across_the_cap(spark, monkeypatch, run):
    """``run()`` with the driver trial budget at 0 cells (every
    non-empty per-doc table mixes on the executors) and at 10^9 →
    ``[(result, trials, observed, MapInPandas executions)]``, distributed
    first."""
    from neleval_spark.stats import significance as sig

    real, out = sig._trial_partials, []
    for cells in (0, 10 ** 9):
        seen = []
        monkeypatch.setattr(sig, "TRIAL_CELLS", cells)
        monkeypatch.setattr(sig, "_trial_partials",
                            lambda *a, **k: seen.append(real(*a, **k))
                            or seen[-1])
        last = max((e.executionId() for e in _executions(spark)),
                   default=-1)
        result = run()
        pandas_runs = sum("MapInPandas" in e.physicalPlanDescription()
                          for e in _executions(spark)
                          if e.executionId() > last)
        (trials, observed), = seen
        out.append((result, trials, observed, pandas_runs))
    return out


def _assert_same_trials(across, exact):
    (res0, t0, o0, runs0), (res1, t1, o1, runs1) = across
    assert runs0 == 1 and runs1 == 0, (runs0, runs1)
    if exact:
        assert (t0 == t1).all() and (o0 == o1).all()
        assert res0 == res1
    else:
        assert t0 == pytest.approx(t1, rel=1e-12, abs=0)
        assert o0 == pytest.approx(o1, rel=1e-12, abs=0)


@pytest.mark.parametrize("measure,exact", [("strong_link_match", True),
                                           ("b_cubed", False)])
def test_bootstrap_trials_equal_across_the_cap(spark, sides, monkeypatch,
                                               measure, exact):
    """The driver-side trial pass gives the distributed pass's trials:
    bit-identical for integer counts, to 1e-12 for B-cubed's fractions.
    Below the cap no plan runs a Python worker."""
    per_doc = per_doc_contingency(*sides, measure).repartition(4)
    _assert_same_trials(_across_the_cap(
        spark, monkeypatch,
        lambda: bootstrap_confidence(per_doc, n_trials=300, seed=5)), exact)


@pytest.mark.parametrize("hash_mode", ["xxhash64", "poly"])
@pytest.mark.parametrize("measure,exact", [("strong_link_match", True),
                                           ("b_cubed", False)])
def test_permutation_trials_equal_across_the_cap(spark, sides, monkeypatch,
                                                 measure, exact, hash_mode):
    s, g = sides
    pd1 = per_doc_contingency(s, g, measure).repartition(4)
    pd2 = per_doc_contingency(g, s, measure).repartition(4)
    _assert_same_trials(_across_the_cap(
        spark, monkeypatch,
        lambda: permutation_test(pd1, pd2, n_trials=300, seed=5,
                                 hash_mode=hash_mode)), exact)


def test_trial_pass_above_the_cap_evaluates_each_input_once(spark,
                                                            monkeypatch):
    """Above the driver trial budget the ``mapInPandas`` pass reads the
    table the bounded collect cached, and the cache is gone after."""
    from neleval_spark.stats import significance as sig

    monkeypatch.setattr(sig, "TRIAL_CELLS", 0)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent().keys())
    last = max((e.executionId() for e in _executions(spark)), default=-1)
    per_doc, ticks = _ticking_per_doc(spark, 200, seed=1)
    bootstrap_confidence(per_doc, n_trials=30)
    pd1, ticks1 = _ticking_per_doc(spark, 150, seed=2)
    pd2, ticks2 = _ticking_per_doc(spark, 150, seed=3)
    permutation_test(pd1, pd2, n_trials=40)
    assert (ticks.value, ticks1.value, ticks2.value) == (200, 150, 150)
    assert sum("MapInPandas" in e.physicalPlanDescription()
               for e in _executions(spark) if e.executionId() > last) == 2
    assert set(persistent().keys()) == before


@pytest.mark.parametrize("measure", ["strong_link_match", "strong_nil_match"])
def test_per_doc_plan_parses_each_side_once(sides, measure):
    """A family of one stacks through ``inline`` like any family, so the
    filter cannot be pushed through the reader's projections: one
    candidate sort per side in the optimized plan (10 and 6 when a
    family of one was a plain select)."""
    plan = per_doc_contingency(*sides, measure)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert plan.count("array_sort(") == 2, plan.count("array_sort(")


@pytest.mark.parametrize("lone,companion,weighted", [
    ("strong_link_match", "strong_nil_match", False),
    ("overlap-maxmax:is_linked:span", "overlap-maxmax:None:span", False),
    ("strong_typed_mention_match", "strong_typed_all_match", True),
])
def test_family_of_one_equals_stacked(spark, tac14_inputs, lone, companion,
                                      weighted):
    """A lone measure (its own family) scores what it scores stacked
    with a companion of its family, alone and per doc."""
    s, g = tac14_inputs
    weighting = None
    if weighted:
        weighting = {"type": spark.createDataFrame(
            [("PER", "ORG", 0.5), ("GPE", "LOC", 0.25)],
            "gold_type string, sys_type string, weight double")}
    alone = evaluate(s, g, measures=[lone], weighting=weighting)
    stacked = evaluate(s, g, measures=[lone, companion], weighting=weighting)
    assert list(alone) == [lone]
    assert _close(alone[lone], stacked[lone]), (alone, stacked)
    spec = get_measure(lone, weighting=weighting)
    assert _close(_matrix(contingency_df(s, g, spec).first()), alone[lone])
    per_doc = contingency_df(s, g, spec, ["docid"]) \
        .agg(*[F.sum(c).alias(c) for c in COUNTS]).first()
    assert _close(_matrix(per_doc), alone[lone])


def _evaluate_observed(spark, s, g, **kw):
    """``evaluate(s, g, **kw)`` → (results, jobs run, the final plans
    of its executions, RDD ids newly in storage)."""
    sc = spark.sparkContext

    def stored():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    last = max((e.executionId() for e in _executions(spark)), default=-1)
    before = stored()
    # the tree form of the plans, which names each exchange's keys
    spark.conf.set("spark.sql.ui.explainMode", "extended")
    group = f"evaluate_after_{last}"
    sc.setJobGroup(group, "evaluate")
    try:
        results = evaluate(s, g, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.unset("spark.sql.ui.explainMode")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    plans = [e.physicalPlanDescription().split("== Initial Plan ==")[0]
             for e in _executions(spark) if e.executionId() > last]
    return results, len(jobs), plans, stored() - before


def _exchanges_below(plan: str, node: str) -> list[str]:
    """For every line of the tree-form ``plan`` that contains
    ``node``, the nearest exchanges in its subtree (an exchange's own
    subtree is not searched)."""
    lines = plan.split("\n")

    def depth(line):
        m = re.search(r"[+]- ", line)
        return m.start() if m else -1

    found = []
    for i, line in enumerate(lines):
        if node not in line:
            continue
        skip = None  # depth of the last exchange found
        for below in lines[i + 1:]:
            if depth(below) <= depth(line):
                break
            if skip is not None and depth(below) > skip:
                continue
            skip = depth(below) if "Exchange " in below else None
            if skip is not None:
                found.append(below.strip())
    return found


@pytest.fixture(scope="module")
def tac14_dir(tmp_path_factory):
    from perfbench.inputs import write_annotations

    d = tmp_path_factory.mktemp("tac14")
    write_annotations(str(d), 200, seed=5)
    return d


def _read_sides(spark, d):
    return (read_annotations_tsv(spark, str(d / "system.tsv")),
            read_annotations_tsv(spark, str(d / "gold.tsv")))


@pytest.fixture(scope="module")
def tac14_inputs(spark, tac14_dir):
    return _read_sides(spark, tac14_dir)


@pytest.fixture(scope="module")
def tac14_run(spark, tac14_inputs):
    spark.catalog.clearCache()
    return _evaluate_observed(spark, *tac14_inputs, measures="tac14")


def test_evaluate_tac14_jobs(tac14_run):
    """tac14 is one action for the sets and clustering families: 90
    jobs when every measure was its own action, 36 with one plan per
    family, at most 22 now (a job per query stage under AQE)."""
    assert tac14_run[1] <= 22, tac14_run[1]


DOCID_EXCHANGE = re.compile(
    r"Exchange hashpartitioning\(docid#\d+, \d+\), REPARTITION_BY_COL")


def test_evaluate_ships_mentions_once_on_docid(tac14_run):
    """The mention rows of both sides cross one exchange, on ``docid``:
    no struct-key (``_k``) repartition is left, and the sets aggregate
    and the clustering key aggregate (which deduplicates the
    membership pairs and forms the intersection cells) read that
    exchange with no other in between."""
    plans = tac14_run[2]
    assert not any(re.search(r"Exchange hashpartitioning\(_k#", p)
                   for p in plans)
    shipped = [ln for p in plans for ln in p.split("\n")
               if DOCID_EXCHANGE.search(ln) and "ReusedExchange" not in ln]
    assert len(shipped) == 1, shipped
    for node in ("max((_side#", "collect_set("):
        below = [ln for p in plans for ln in _exchanges_below(p, node)]
        assert below and all(DOCID_EXCHANGE.search(ln) for ln in below), \
            (node, below)


def test_evaluate_releases_its_barrier(spark, tac14_run):
    """The checkpoint is freed before ``evaluate`` returns:
    no RDD it stored is left, and no table is cached."""
    assert tac14_run[3] == set()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_overlap_measures_release_their_pairs(spark, tac14_inputs):
    """An overlap family keeps no RDD in storage once its results are
    collected, through ``evaluate`` and through a per-doc
    ``contingency_df`` alike."""
    sc = spark.sparkContext

    def stored():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    measure = "overlap-maxmax:is_linked:span"
    assert _evaluate_observed(spark, *tac14_inputs,
                              measures=[measure])[3] == set()
    before = stored()
    assert contingency_df(*tac14_inputs, get_measure(measure),
                          ["docid"]).collect()
    assert stored() - before == set()


def test_evaluate_tac14_driver_round_trips(spark, tac14_dir, monkeypatch):
    """Reading both sides and scoring tac14 builds its plans in at
    most 4,500 py4j round trips (GC deletes aside): 11.5k while every
    ``F.*``/``Column``/``DataFrame`` call also captured its Python call
    site in the JVM, 3.9k without.  The debugging flag is cached per
    process; clearing it makes the call re-read the session's conf."""
    from py4j.clientserver import ClientServerConnection
    from pyspark.errors import utils

    send = ClientServerConnection.send_command
    sent = 0

    def counted(self, command):
        nonlocal sent
        sent += not command.startswith("m\nd")
        return send(self, command)

    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    evaluate(*_read_sides(spark, tac14_dir), measures="tac14")
    monkeypatch.undo()
    assert sent <= 4500, sent


def test_grouped_evaluate_collects_group_values_in_the_same_action(
        spark, tac14_inputs, tac14_run):
    """The gold group values ride in the families' collect: a field
    costs no action of its own, only the one shuffle-stage job its
    distinct runs under AQE (38 jobs when each field ran a distinct
    collect before the family plans), and the per-group results are
    those of the measure's own grouped plan."""
    s, g = tac14_inputs
    grouped, jobs, _, _ = _evaluate_observed(
        spark, s, g, measures="tac14", group_by=["type"])
    assert jobs <= tac14_run[1] + 1, jobs
    types = sorted({r[0] for r in g.select("type").distinct().collect()},
                   key=lambda v: (v is None, v))
    for name in ("b_cubed", "typed_mention_ceaf", "strong_typed_all_match"):
        labels = [k for k in grouped if k.split(";")[0] == name]
        assert labels == [f"{name};type={json.dumps(t)}" for t in types] \
            + [f"{name};type=<macro>", f"{name};type=<micro>"], labels
        rows = {r["type"]: r for r in contingency_df(
            s, g, get_measure(name), ["type"]).collect()}
        for t in types:
            assert _close(grouped[f"{name};type={json.dumps(t)}"],
                          _matrix(rows.get(t))), (name, t)


# (docid, start, end, tail): "dnull" becomes a NULL docid; a NIL id
# has a NULL kbid, a bare span a NULL eid, kbid and type
NULL_GOLD = [("dnull", 0, 3, "E1\t1.0\tPER"), ("dnull", 5, 8, "NIL1"),
             ("dnull", 10, 12, ""), ("dnull", 20, 22, "E2\t1.0"),
             ("d1", 0, 3, "E1\t1.0\tPER"), ("d1", 5, 8, "NIL1"),
             ("d1", 10, 12, ""), ("d1", 20, 22, "E2\t1.0"),
             ("d2", 0, 4, "E3\t1.0\tORG"), ("d2", 6, 9, "NIL2"),
             ("", 40, 43, "E5\t1.0\tPER")]
NULL_SYS = [("dnull", 0, 3, "E1\t1.0\tPER"), ("dnull", 5, 8, "NIL1"),
            ("dnull", 10, 12, ""), ("dnull", 20, 22, "E2\t1.0"),
            ("d1", 0, 3, "E1\t1.0\tORG"), ("d1", 5, 8, "NIL7"),
            ("d1", 20, 22, "E9\t1.0"), ("d2", 0, 4, "E3\t1.0\tORG"),
            ("d2", 6, 9, "NIL2"), ("d2", 30, 33, "E4\t1.0\tPER"),
            ("dnull", 40, 43, "E5\t1.0\tPER")]


def _duckdb_counts(sides, names):
    """(ptp, fp, rtp, fn) of the sets and B-cubed measures of ``names``
    in DuckDB, where GROUP BY and IS NOT DISTINCT FROM match NULL
    with NULL (and never with '')."""
    import duckdb

    cols = ["docid", "start", "end", "eid", "type", "kbid", "is_linked",
            "is_nil"]
    con = duckdb.connect()
    try:
        for name, df in zip(("s", "g"), sides):
            con.register(f"{name}_rows", df.select(*cols).toPandas())
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_rows")
        out = {}
        for m in names:
            spec = get_measure(m)
            key = ", ".join(f'"{k}"' for k in
                            dict.fromkeys(k for f in spec.key for k in (
                                ["docid", "start", "end"] if f == "span"
                                else [f])))
            where = f"WHERE {spec.filter}" if spec.filter else ""
            if spec.agg == "sets":
                tp, fp, fn = con.execute(f"""
                    SELECT count(*) FILTER (WHERE g AND s),
                           count(*) FILTER (WHERE NOT g),
                           count(*) FILTER (WHERE NOT s)
                    FROM (SELECT {key}, bool_or(side = 1) AS g,
                                 bool_or(side = 2) AS s
                          FROM (SELECT {key}, 1 AS side FROM g {where}
                                UNION ALL SELECT {key}, 2 FROM s {where})
                          GROUP BY ALL)""").fetchone()
                out[m] = (tp, fp, tp, fn)
            elif spec.agg == "b_cubed":
                on = " AND ".join(f"gp.{k} IS NOT DISTINCT FROM sp.{k}"
                                  for k in key.split(", "))
                p_num, r_num, p_den, r_den = con.execute(f"""
                    WITH gp AS (SELECT DISTINCT eid, {key} FROM g),
                         sp AS (SELECT DISTINCT eid, {key} FROM s),
                         ng AS (SELECT eid, count(*) AS n FROM gp
                                GROUP BY eid),
                         ns AS (SELECT eid, count(*) AS n FROM sp
                                GROUP BY eid),
                         i AS (SELECT gp.eid AS ge, sp.eid AS se,
                                      count(*) AS c
                               FROM gp JOIN sp ON {on} GROUP BY 1, 2)
                    SELECT sum(c * c / ns.n), sum(c * c / ng.n),
                           (SELECT sum(n) FROM ns), (SELECT sum(n) FROM ng)
                    FROM i JOIN ns ON i.se IS NOT DISTINCT FROM ns.eid
                           JOIN ng ON i.ge IS NOT DISTINCT FROM ng.eid
                    """).fetchone()
                out[m] = (p_num, p_den - p_num, r_num, r_den - r_num)
        return out
    finally:
        con.close()


def test_null_docid_kbid_and_type_are_ordinary_values(spark, tmp_path):
    """A NULL ``docid``, ``kbid`` or ``type`` (and a NULL ``eid``) is a
    key value like any other on both sides, as in the reference's
    tuple keys: ``evaluate(tac14)`` counts what DuckDB's GROUP BY and
    IS NOT DISTINCT FROM count, a NULL docid never matches '', and
    each measure's own ``contingency_df`` gives ``evaluate``'s counts."""
    pytest.importorskip("duckdb")
    sides = []
    for name, rows in (("system", NULL_SYS), ("gold", NULL_GOLD)):
        path = tmp_path / f"{name}.tsv"
        path.write_text("".join(f"{d}\t{s}\t{e}" + (f"\t{t}" if t else "")
                                + "\n" for d, s, e, t in rows))
        df = read_annotations_tsv(spark, str(path))
        sides.append(df.withColumn(
            "docid", F.when(F.col("docid") != "dnull", F.col("docid"))))
    assert sides[1].where(F.col("docid").isNull()).count() == 4
    names = parse_measures("tac14")
    results = evaluate(*sides, measures=names)
    expected = _duckdb_counts(sides, names)
    assert len(expected) == 8
    for m, exp in expected.items():
        assert _close(results[m], dict(zip(COUNTS, exp))), (m, results[m],
                                                            exp)
    for m in names:
        row = contingency_df(*sides, get_measure(m)).first()
        assert _close(_matrix(row), results[m]), (m, row, results[m])
