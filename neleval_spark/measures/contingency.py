"""Contingency dispatch + evaluation orchestration.

Mirrors the reference control flow: ``Measure.contingency``
(neleval/annotation.py:503-521) dispatches sets / overlap-** /
clustering; ``Matrix`` (neleval/evaluate.py:233-292) is the additive
(ptp, fp, rtp, fn) monoid with derived P/R/F and the zero-denominator
→ 0.0 + warning rule (:279-286); ``Evaluate.__call__``
(neleval/evaluate.py:70-140) adds group-by with per-field macro/micro
averages (:122-138).

Like ``Evaluate``, which scores every measure over one load of the
annotations, ``evaluate`` checkpoints the columns its measures read
once, both sides in one side-tagged frame, and scores the sets and
clustering families in ONE Spark action (:func:`_collect_parts`).  The
tagged rows cross one exchange, by ``docid``, and are stacked once
above it, one row per distinct (key, filter) under a stack id ``_m``
(:func:`_family_plans`); each family's function groups by it, and its
``docid``-prefixed aggregates need no exchange of their own.  All
clustering aggregates are formulas over one set of cluster statistics
per stack, so tac14's four clustering measures need three stacks, all
shared with its sets measures.  The union collected holds the
per-(measure, group) counts, the CEAF similarity edge list up to the
driver-solve cap, and the gold group values; overlap families keep
their own plan and collect.  A single measure (:func:`contingency_df`,
the per-doc tables of the stats) is a family of one, a DataFrame with
its CEAF assignments solved eagerly.
"""

from __future__ import annotations

import itertools
import warnings
from collections import OrderedDict, defaultdict
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import clustering
from .catalog import MeasureSpec, get_measure, parse_measures
from .clustering import (CLUSTERING_FNS, clustering_plan, per_measure,
                         with_assignment_totals)
from .overlap import overlap_contingency
from .sets import (expand_key, measure_col, sets_contingency, side_counts,
                   tag_sides)


class StrictMetricWarning(Warning):
    pass


COUNTS = ["ptp", "fp", "rtp", "fn"]
METRICS = [*COUNTS, "precision", "recall", "fscore"]


@dataclass
class Matrix:
    """Additive contingency monoid (neleval/evaluate.py:233-292)."""

    ptp: float = 0
    fp: float = 0
    rtp: float = 0
    fn: float = 0

    def __add__(self, other: "Matrix") -> "Matrix":
        return Matrix(self.ptp + other.ptp, self.fp + other.fp,
                      self.rtp + other.rtp, self.fn + other.fn)

    def __iadd__(self, other: "Matrix") -> "Matrix":
        self.ptp += other.ptp
        self.fp += other.fp
        self.rtp += other.rtp
        self.fn += other.fn
        return self

    @staticmethod
    def _div(n, d):
        if d == 0:
            warnings.warn(
                "Strict P/R defaulting to zero score for zero denominator",
                StrictMetricWarning,
            )
            return 0.0
        return n / float(d)

    @property
    def precision(self):
        return self._div(self.ptp, self.ptp + self.fp)

    @property
    def recall(self):
        return self._div(self.rtp, self.rtp + self.fn)

    @property
    def fscore(self):
        p = self.precision
        r = self.recall
        return self._div(2 * p * r, p + r)

    @property
    def results(self) -> dict:
        return {
            "precision": self.precision,
            "recall": self.recall,
            "fscore": self.fscore,
            "ptp": self.ptp,
            "fp": self.fp,
            "rtp": self.rtp,
            "fn": self.fn,
        }


def prf(p_num, p_den, r_num, r_den):
    """(neleval/coref_metrics.py:253-262)"""
    p = p_num / p_den if p_den > 0 else 0.0
    r = r_num / r_den if r_den > 0 else 0.0
    f = 2 * p * r / (p + r) if p + r else 0.0
    return p, r, f


def family_contingency(
    sys_df: DataFrame,
    gold_df: DataFrame,
    specs: dict,
    gcols: list[str] | None = None,
) -> DataFrame:
    """→ (gcols..., _m, ptp, fp, rtp, fn) for every measure of one
    aggregation family ({name: spec}: sets, one overlap mode, or all
    clustering aggregates) in ONE plan, ``_m`` the measure name.  A
    clustering family with CEAF measures first solves their
    assignments (one action, :func:`clustering.with_assignment_totals`).

    A family of one over a ``docid``-prefixed key, grouped by
    ``docid`` (the stats' per-doc table), is partitioned by ``docid``
    alone, ready for the stats join."""
    gcols = list(gcols or [])
    return _family_counts(_tagged(sys_df, gold_df, specs.values(), gcols),
                          specs, gcols)


def _family_counts(tagged: DataFrame, specs: dict,
                   gcols: list[str]) -> DataFrame:
    """:func:`family_contingency` over a :func:`_tagged` frame."""
    [(out, edges)] = _family_plans(tagged, [specs], gcols)
    if edges is not None:
        out = with_assignment_totals(out, edges, gcols + ["_m"])
    return _named_counts(out, specs, gcols)


def _named_counts(out: DataFrame, specs: dict,
                  gcols: list[str]) -> DataFrame:
    """A family plan's result → (gcols..., _m name, ptp, fp, rtp, fn):
    the integer ``_m`` mapped back to the measure name (a name string
    would ride in every shuffled row), and clustering scores turned
    into counts."""
    names = F.array(*[F.lit(n) for n in specs])
    if "p_num" in out.columns:
        out = out.select(
            *gcols, "_m",
            F.col("p_num").alias("ptp"),
            (F.col("p_den") - F.col("p_num")).alias("fp"),
            F.col("r_num").alias("rtp"),
            (F.col("r_den") - F.col("r_num")).alias("fn"))
    return out.select(*gcols, F.element_at(names, F.col("_m") + 1)
                      .alias("_m"), *COUNTS)


def _family_plans(tagged: DataFrame, families: list[dict],
                  gcols: list[str]) -> list:
    """Each family's plan → [(out, edges)], all over ONE stack of the
    ``tagged`` rows of both sides.

    ``tagged`` is stacked once (:func:`_stack`), hash-repartitioned by
    ``docid`` first when every stack's key has it: one row per input
    row and distinct (key, filter) of the families' measures, with the
    stack id as the integer ``_m``, the union of the key fields (a
    field the stack lacks is a typed NULL), the families' extra fields,
    ``_side`` and the filter as the boolean ``_f``.  All
    families read that one Generate, so AQE plans the ``docid``
    exchange once and reuses it: a Generate prunes its input to the
    fields it reads, and two stacks over different fields would each
    get an exchange of their own.  With ``docid`` passed through the
    Generate, the ``docid``-prefixed sets and clustering key
    aggregates read co-partitioned input and need no exchange of their
    own.  Each family runs once over its stacks' rows, grouped by
    ``gcols + ["_m"]``.  That is exact: the group-bys treat NULL as an
    ordinary value and a padding column is constant within its stack.
    The overlap denominators count unfiltered rows, which ``_f``
    (rather than dropping rows before the stack) keeps visible to them.

    ``out`` is (gcols..., _m, ptp, fp, rtp, fn) for sets and overlap
    and (gcols..., _m, p_num, p_den, r_num, r_den) with CEAF numerators
    0.0 for clustering (:func:`clustering.clustering_plan`), ``_m`` the
    measure's position in its family; ``edges`` is the CEAF similarity
    edge list, or None."""
    specs = [s for family in families for s in family.values()]
    bad = [s.agg for s in specs
           if s.is_clustering and s.agg not in CLUSTERING_FNS]
    if bad:
        raise ValueError(f"Invalid aggregation: {bad[0]!r}")
    stacks = list(dict.fromkeys((s.key, s.filter) for s in specs))
    extra = list(dict.fromkeys(f for s in specs for f in _extra_fields(s)))
    cols = list(dict.fromkeys(
        gcols + [f for k, _ in stacks for f in expand_key(k)] + extra
        + ["_side"]))
    stacked = _stack(tagged, [MeasureSpec(k, f) for k, f in stacks], cols,
                     gcols + extra + ["_side"])
    group = gcols + ["_m"]
    plans = []
    for family in families:
        measures = [(j, s.agg, stacks.index((s.key, s.filter)))
                    for j, s in enumerate(family.values())]
        rows = stacked.where(F.col("_m").isin(
            sorted({stack for _, _, stack in measures})))
        tokens = tuple(dict.fromkeys(f for s in family.values()
                                     for f in s.key))
        key = [k for k in expand_key(tokens) if k not in gcols]
        # another family's extra field (the clustering ``eid``) is real
        # in every stack; in this family's key it pads as NULL wherever
        # the stack's own key lacks it
        own = {f for s in family.values() for f in _extra_fields(s)}
        masked = [c for c in key if c in extra and c not in own]
        if masked:
            rows = rows.withColumns({c: F.when(F.col("_m").isin(
                [i for i, (k, _) in enumerate(stacks)
                 if c in expand_key(k)]), F.col(c)) for c in masked})
        first = next(iter(family.values()))
        if first.is_clustering:
            plans.append(clustering_plan(
                rows.where(F.col("_f")).select(*group, *key, "eid", "_side"),
                key, gcols, measures))
            continue
        if first.agg == "sets" and not first.weighting:
            out = side_counts(
                rows.where(F.col("_f")).select(*group, *key, "_side"),
                group)
        else:
            spec = MeasureSpec(tokens, "_f", first.agg, first.weighting)
            sides = [rows.where(F.col("_side") == i) for i in (2, 1)]
            fn = (sets_contingency if first.agg == "sets"
                  else overlap_contingency)
            out = fn(*sides, spec, group)
        plans.append((per_measure(out, gcols, measures,
                                  lambda agg: [F.col(c) for c in COUNTS]),
                      None))
    return plans


def _extra_fields(spec: MeasureSpec) -> list[str]:
    """Fields a family's function reads besides key and filter: the
    cluster id, or the span that overlap measures always join on."""
    if spec.is_clustering:
        return ["eid"]
    return [] if spec.agg == "sets" else ["docid", "start", "end"]


def _stack(df: DataFrame, specs: list[MeasureSpec], cols: list[str],
           shared: list[str]) -> DataFrame:
    """One row per (input row, spec): ``([docid,] _m, cols..., _f)``
    with ``_m`` the spec's position in ``specs``.  ``shared`` columns are
    real for every spec; the others only where the spec's key has
    them, typed NULL elsewhere.  When every spec has ``docid``, ``df``
    is hash-repartitioned by it and ``docid`` is a pass-through column
    of the Generate, outside the stacked struct, so the stack keeps
    that partitioning; otherwise no aggregate could use it, and
    ``df`` is stacked as it is.

    ONE select: ``inline`` over an array of per-spec structs, not a
    union of per-spec projections — every union branch would repeat
    the input plan, and each later DataFrame step re-analyzes all the
    copies (a TSV-parse plan costs about a second per family to build
    that way).

    A family of one stacks through ``inline`` too: the Generate is the
    pushdown barrier.  Over a plain ``select`` predicate pushdown
    substitutes the ``_f`` filter through the reader's projections and
    inlines the whole TSV parse into the scan-level filter, once per
    derived column it reads (docs/PLANS.md "predicate-pushdown
    inlining")."""
    types = dict(df.dtypes)
    through = (["docid"] if "docid" in shared or all(
        "docid" in expand_key(s.key) for s in specs) else [])
    if through:
        df = df.repartition("docid")

    def fields(i, spec):
        own = set(shared) | set(expand_key(spec.key))
        flag = (measure_col(df, spec.filter).cast("boolean")
                if spec.filter is not None else F.lit(True))
        return [F.lit(i).alias("_m"),
                *[measure_col(df, c).alias(c) if c in own
                  else F.lit(None).cast(types.get(c, "string")).alias(c)
                  for c in cols if c not in through],
                flag.alias("_f")]

    return df.select(*through, F.inline(F.array(
        *[F.struct(*fields(i, s)) for i, s in enumerate(specs)])))


def contingency_df(
    sys_df: DataFrame,
    gold_df: DataFrame,
    spec: MeasureSpec,
    gcols: list[str] | None = None,
) -> DataFrame:
    """→ (gcols..., ptp, fp, rtp, fn) — the measure's generated plan:
    :func:`family_contingency` over a family of one."""
    return family_contingency(
        sys_df, gold_df, {str(spec): spec}, gcols).drop("_m")


def macro_average(results_iter) -> dict:
    """(neleval/evaluate.py:295-303) — mean of every metric, counts
    included."""
    out: dict = defaultdict(float)
    i = -1
    for i, results in enumerate(results_iter):
        if isinstance(results, Matrix):
            results = results.results
        for k, v in results.items():
            out[k] += v
    return {k: v / (i + 1) for k, v in out.items()}


def evaluate(
    sys_df: DataFrame,
    gold_df: DataFrame,
    measures="all",
    group_by: list[str] | None = None,
    overall: bool = False,
    weighting: dict | None = None,
) -> "OrderedDict[str, dict]":
    """Distributed analogue of ``neleval evaluate``.

    Returns {measure_name[;field=value...] → {ptp, fp, rtp, fn,
    precision, recall, fscore}} exactly like the reference's
    fmt='none' output (neleval/evaluate.py:70-140).
    """
    names = parse_measures(measures)
    gcols = list(group_by or [])
    specs = {str_name(n): get_measure(n, weighting=weighting)
             for n in names}

    # Materialize both mention tables once for the whole run (the
    # reference loads annotations into lists the same way), as ONE
    # side-tagged frame of the columns the measures read: the reader's
    # ``is_first`` window (its own exchange) and the candidate arrays
    # are pruned unless a measure asks.  Without this, measure FILTERS
    # (is_linked/is_nil) get substituted through the projections by
    # predicate pushdown, inlining the full TSV parse tree dozens of
    # times into one predicate (measured 11× the cost of evaluating the
    # column once).  The barrier is one EAGER local checkpoint, one
    # job, not a persist: above an in-memory relation that feeds
    # several branches AQE does not reuse an exchange, above a
    # checkpointed RDD it does, so every family reads one ``docid``
    # exchange of the tagged rows (:func:`_family_plans`).  The
    # exchange sits above the checkpoint: a checkpointed relation
    # reports no partitioning.  A lazy checkpoint would be computed
    # inside the first query (probed: block computed twice,
    # accumulator errors).  ``DataFrame.unpersist`` does not free
    # checkpoint blocks; removing the checkpointed RDD's blocks does
    # (``RDD.unpersist`` would too, but warns that the lineage is gone).
    tagged = _tagged(sys_df, gold_df, specs.values(), gcols) \
        .localCheckpoint(eager=True)
    try:
        return _evaluate_measures(tagged, specs, gcols, overall)
    finally:
        rdd = tagged._jdf.queryExecution().analyzed().rdd()
        rdd.context().unpersistRDD(rdd.id(), True)


def _tagged(sys_df: DataFrame, gold_df: DataFrame, specs,
            gcols: list[str]) -> DataFrame:
    """Both sides in one frame (:func:`sets.tag_sides`), ``docid`` and
    the columns either side's measures read (:func:`_needed_columns`),
    a field one side lacks read through its attrs."""
    cols = list(dict.fromkeys(["docid"] + [
        c for df in (sys_df, gold_df)
        for c in _needed_columns(df, specs, gcols)]))
    return tag_sides(*[df.select(*[measure_col(df, c).alias(c)
                                   for c in cols])
                       for df in (sys_df, gold_df)])


def _needed_columns(df: DataFrame, specs, gcols: list[str]) -> list[str]:
    """The columns of ``df`` that ``specs`` grouped by ``gcols`` read:
    key, filter and group fields, ``eid`` for clustering and the span
    for overlap measures; ``attrs`` stands in for any field that is
    not a column."""
    fields = list(gcols)
    for spec in specs:
        fields += expand_key(spec.key) + _extra_fields(spec)
        fields += [spec.filter] if spec.filter is not None else []
    return list(dict.fromkeys(
        f if f in df.columns else "attrs" for f in fields))


# row kinds of evaluate's single collect
_COUNTS, _EDGES, _GROUPS = 0, 1, 2


def _collect_parts(tagged, specs, gcols):
    """ONE action for the sets and clustering families and the gold
    group values → ({measure: {group tuple: Matrix}}, gold group rows).

    The union's branches: each family's named counts (CEAF with 0.0
    numerators), the CEAF edge list capped at the driver-solve limit
    + 1 rows, and the distinct gold group tuples.  Edges over the cap
    are solved by the distributed path (a second action); overlap
    families keep their own plan and collect."""
    families: dict = defaultdict(dict)
    for name, spec in specs.items():
        fam = "clustering" if spec.is_clustering else spec.agg
        families[fam][name] = spec
    counts, edges, ceaf = [], None, {}
    for fam in [f for f in families if f.startswith("overlap")]:
        counts += _family_counts(tagged, families.pop(fam), gcols).collect()
    parts = []
    plans = (_family_plans(tagged, list(families.values()), gcols)
             if families else [])
    for family, (out, fam_edges) in zip(families.values(), plans):
        parts.append(_named_counts(out, family, gcols)
                     .withColumn("_p", F.lit(_COUNTS)))
        if fam_edges is not None:
            # edges carry the measure's position in its family as _e
            ceaf = {name: e for e, name in enumerate(family)}
            edges = fam_edges.withColumnRenamed("_m", "_e")
            parts.append(edges.limit(clustering.DRIVER_SOLVE_MAX_EDGES + 1)
                         .withColumn("_p", F.lit(_EDGES)))
    if gcols:
        gold = tagged.where(F.col("_side") == 1)
        parts.append(gold.select(*[measure_col(gold, f).alias(f)
                                   for f in gcols])
                     .distinct().withColumn("_p", F.lit(_GROUPS)))
    rows = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  parts).collect() if parts else []
    by_kind = defaultdict(list)
    for r in rows:
        by_kind[r["_p"]].append(r)

    solved = {} if edges is None else clustering.solve_assignments(
        by_kind[_EDGES], edges, gcols + ["_e"])
    mats: dict = defaultdict(dict)
    for r in counts + by_kind[_COUNTS]:
        group = tuple(r[c] for c in gcols)
        # a CEAF numerator adds to ptp/rtp and comes off fp/fn
        t = solved.get((*group, ceaf.get(r["_m"])), 0.0)
        mats[r["_m"]][group] = Matrix(r["ptp"] + t, r["fp"] - t,
                                      r["rtp"] + t, r["fn"] - t)
    return mats, by_kind[_GROUPS]


def _evaluate_measures(tagged, specs, gcols, overall):
    results: "OrderedDict[str, dict]" = OrderedDict()
    mats, group_rows = _collect_parts(tagged, specs, gcols)
    if gcols:
        # sorted distinct values per group field from GOLD annotations
        # (the reference uses the gold side only, evaluate.py:100-103)
        group_vals = [sorted({r[c] for r in group_rows},
                             key=lambda v: (v is None, v)) for c in gcols]
        product = list(itertools.product(*group_vals))

    for name in specs:
        by_group = mats[name]
        if not gcols:
            results[name] = by_group.get((), Matrix()).results
            continue

        name_fmt = name + "".join(
            ";{}={{group[{}]}}".format(f, i) for i, f in enumerate(gcols))

        measure_mats = []
        for group in product:
            # sys-only groups outside the gold product are ignored,
            # as in the reference (evaluate.py:107-115 only indexes
            # product groups)
            mat = by_group.get(tuple(group), Matrix())
            measure_mats.append((group, mat))
            if not overall:
                import json as _json

                label = name_fmt.format(
                    group=[_json.dumps(v) for v in group])
                results[label] = mat.results

        micro_labels = ["<micro>"] * len(gcols)
        constituents: dict = {}
        for i in range(len(gcols)):
            constituents = defaultdict(Matrix)
            for group, mat in measure_mats:
                constituents[group[i]] += mat
            labels = micro_labels[:]
            labels[i] = "<macro>"
            results[name_fmt.format(group=labels)] = macro_average(
                constituents.values())
        results[name_fmt.format(group=micro_labels)] = sum(
            constituents.values(), Matrix()).results

    return results


def str_name(name) -> str:
    return name if isinstance(name, str) else str(name)


def tab_format(results: dict, num_fmt="{:.3f}", delimiter="\t") -> str:
    """(neleval/evaluate.py:185-206)"""
    lines = [delimiter.join([m[:6] for m in METRICS] + ["measure"])]
    for measure, mres in sorted(results.items()):
        row = []
        for metric in METRICS:
            val = mres.get(metric, 0)
            row.append(num_fmt.format(val) if isinstance(val, float)
                       else str(val))
        row.append(measure)
        lines.append(delimiter.join(row))
    return "\n".join(lines)


def read_tab_format(lines) -> dict:
    """Re-ingest ``tab_format`` output (reference:
    Evaluate.read_tab_format, evaluate.py:208-218)."""
    it = iter(lines)
    header = next(it).rstrip()
    expected = "\t".join([m[:6] for m in METRICS] + ["measure"])
    assert header == expected, (
        f"Differing headers: expected {expected!r}, got {header!r}")
    results = {}
    for line in it:
        row = line.rstrip().split("\t")
        measure = row.pop()
        results[measure] = dict(zip(METRICS, map(float, row)))
    return results
