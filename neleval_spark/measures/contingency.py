"""Contingency dispatch + evaluation orchestration.

Mirrors the reference control flow: ``Measure.contingency``
(neleval/annotation.py:503-521) dispatches sets / overlap-** /
clustering; ``Matrix`` (neleval/evaluate.py:233-292) is the additive
(ptp, fp, rtp, fn) monoid with derived P/R/F and the zero-denominator
→ 0.0 + warning rule (:279-286); ``Evaluate.__call__``
(neleval/evaluate.py:70-140) adds group-by with per-field macro/micro
averages (:122-138).

Like ``Evaluate``, which scores every measure over one load of the
annotations, ``evaluate`` caches the columns its measures read once
and runs ONE plan and one collect per aggregation family (sets, each
clustering aggregate, each overlap mode): the family's measures are
stacked row-wise under a measure id ``_m`` and the family's function
groups by it (:func:`family_contingency`).  tac14 is three plans, not
ten.  A single measure (:func:`contingency_df`, the per-doc tables of
the stats) is a family of one.  Only the tiny per-(measure, group)
result tables are collected.
"""

from __future__ import annotations

import itertools
import warnings
from collections import OrderedDict, defaultdict
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .catalog import MeasureSpec, get_measure, parse_measures
from .clustering import CLUSTERING_FNS
from .overlap import overlap_contingency
from .sets import (expand_key, measure_col, project_measure,
                   sets_contingency)


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
    aggregation family ({name: spec}, all sharing ``spec.agg``) in ONE
    plan.

    Each side stacks the measures' projections: every measure's rows
    carry its position in ``specs`` as the integer literal ``_m`` (a
    name string would ride in every shuffled row, twice in the
    clustering key), the union of the family's key fields (a field the
    measure lacks is a typed NULL) and its filter as the boolean
    ``_f``.  The family's function then runs once, filtered on ``_f``
    and grouped by ``gcols + ["_m"]``; the tiny result maps ``_m``
    back to the measure name.  That is exact: the sets group-by treats
    NULL as an ordinary group, the clustering ``_dedup_pairs`` struct
    key compares NULL fields as equal, and a padding column is
    constant within its measure.  The overlap denominators count
    unfiltered rows, which ``_f`` (rather than dropping rows before
    the stack) keeps visible to them.

    A family of one groups by ``gcols`` alone (its ``_m`` is a
    constant), so its plan is the measure's own: one row without
    ``gcols``, and a per-doc table partitioned by ``docid`` alone,
    ready for the stats join."""
    gcols = list(gcols or [])
    first = next(iter(specs.values()))
    agg = first.agg
    if first.is_clustering and agg not in CLUSTERING_FNS:
        raise ValueError(f"Invalid aggregation: {agg!r}")
    tokens = tuple(dict.fromkeys(f for s in specs.values() for f in s.key))
    spec = MeasureSpec(tokens, "_f", agg, first.weighting)
    extra = _extra_fields(spec)
    cols = list(dict.fromkeys(gcols + expand_key(tokens) + extra))
    sys_st = _stack(sys_df, specs, cols, gcols + extra)
    gold_st = _stack(gold_df, specs, cols, gcols + extra)

    names = F.array(*[F.lit(n) for n in specs])
    if len(specs) > 1:
        out = _family_plan(sys_st, gold_st, spec, gcols + ["_m"])
        name = F.element_at(names, F.col("_m") + 1)
    else:
        out = _family_plan(sys_st, gold_st, spec, gcols)
        name = names[0]
    return out.select(*gcols, name.alias("_m"), *COUNTS)


def _extra_fields(spec: MeasureSpec) -> list[str]:
    """Fields a family's function reads besides key and filter: the
    cluster id, or the span that overlap measures always join on."""
    if spec.is_clustering:
        return ["eid"]
    return [] if spec.agg == "sets" else ["docid", "start", "end"]


def _family_plan(sys_st: DataFrame, gold_st: DataFrame, spec: MeasureSpec,
                 gcols: list[str]) -> DataFrame:
    """The family's function over the stacked sides →
    (gcols..., ptp, fp, rtp, fn)."""
    if spec.agg == "sets":
        return sets_contingency(sys_st, gold_st, spec, gcols)
    if not spec.is_clustering:
        return overlap_contingency(sys_st, gold_st, spec, gcols)
    key = [k for k in expand_key(spec.key) if k not in gcols]
    # clusters = distinct (eid, key) pairs after filter
    # (neleval/annotation.py:317-331).  Deduplication happens INSIDE
    # the clustering fns (_dedup_pairs: one repartition on the packed
    # key struct, then in-partition dedup and an exchange-free
    # intersection join) — no dropDuplicates here, or the fns would
    # pay an extra full exchange per side.  _dedup_pairs is kept under
    # stacking: ``_m`` and the NULL padding simply join the packed
    # struct key.  A shared union+flags dedup of gold and pred (the
    # sets_contingency shape) was A/B'd in r6 and LOST: the clustering
    # fns read gold/pred from 3-4 consumer subtrees, so the single
    # bigger union aggregate re-executes per consumer past the reused
    # exchange (bench: b_cubed 5.4→6.9 s, reverted).  The measure
    # stack sits BELOW the reused repartition, so it runs once.
    gold = project_measure(gold_st, spec, gcols, extra=["eid"])
    pred = project_measure(sys_st, spec, gcols, extra=["eid"])
    out = CLUSTERING_FNS[spec.agg](gold, pred, key, gcols)
    return out.select(
        *gcols,
        F.col("p_num").alias("ptp"),
        (F.col("p_den") - F.col("p_num")).alias("fp"),
        F.col("r_num").alias("rtp"),
        (F.col("r_den") - F.col("r_num")).alias("fn"),
    )


def _stack(df: DataFrame, specs: dict, cols: list[str],
           shared: list[str]) -> DataFrame:
    """One row per (input row, measure): ``(_m, cols..., _f)`` with
    ``_m`` the measure's position in ``specs``.  ``shared`` columns are
    real for every measure; the others only where the measure's key
    has them, typed NULL elsewhere.

    ONE select per side: ``inline`` over an array of per-measure
    structs, not a union of per-measure projections — every union
    branch would repeat the input plan, and each later DataFrame step
    re-analyzes all the copies (a TSV-parse plan costs about a second
    per family to build that way)."""
    types = dict(df.dtypes)

    def fields(i, spec):
        own = set(shared) | set(expand_key(spec.key))
        flag = (measure_col(df, spec.filter).cast("boolean")
                if spec.filter is not None else F.lit(True))
        return [F.lit(i).alias("_m"),
                *[measure_col(df, c).alias(c) if c in own
                  else F.lit(None).cast(types.get(c, "string")).alias(c)
                  for c in cols],
                flag.alias("_f")]

    rows = [fields(i, s) for i, s in enumerate(specs.values())]
    if len(rows) == 1:
        return df.select(*rows[0])
    return df.select(F.inline(F.array(*[F.struct(*r) for r in rows])))


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


def _group_values(df: DataFrame, fields: list[str]) -> list[list]:
    """Sorted distinct values per group field from GOLD annotations
    (reference uses the gold side only, neleval/evaluate.py:100-103)."""
    out = []
    for f in fields:
        vals = [r[0] for r in
                df.select(measure_col(df, f).alias(f)).distinct().collect()]
        out.append(sorted(vals, key=lambda v: (v is None, v)))
    return out


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
    results: "OrderedDict[str, dict]" = OrderedDict()
    gcols = list(group_by or [])
    specs = {str_name(n): get_measure(n, weighting=weighting)
             for n in names}

    # Materialize both mention tables once for the whole run (the
    # reference loads annotations into lists the same way).  Without
    # this, every family re-derives the frames AND — the expensive
    # part — measure FILTERS (is_linked/is_nil) get substituted
    # through the projections by predicate pushdown, inlining the
    # full TSV parse tree dozens of times into one predicate
    # (measured 11× the cost of evaluating the column once).  A
    # cached table makes the derived columns physical, so filters
    # evaluate on columnar data.  Only the columns the measures read
    # are cached: the reader's ``is_first`` window (its own exchange)
    # and the candidate arrays are pruned unless a measure asks.
    to_unpersist = []
    sides = []
    for df in (sys_df, gold_df):
        if not (df.storageLevel.useMemory or df.storageLevel.useDisk):
            df = df.select(*_needed_columns(df, specs.values(), gcols))
            df.persist()
            to_unpersist.append(df)
        sides.append(df)

    try:
        return _evaluate_measures(*sides, specs, gcols, overall, results)
    finally:
        for df in to_unpersist:
            df.unpersist()


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


def _evaluate_measures(sys_df, gold_df, specs, gcols, overall, results):
    if gcols:
        group_vals = _group_values(gold_df, gcols)
        product = list(itertools.product(*group_vals))

    # one plan and one collect per aggregation family
    families: dict = defaultdict(dict)
    for name, spec in specs.items():
        families[spec.agg][name] = spec
    rows_by_measure: dict = defaultdict(list)
    for family in families.values():
        for r in family_contingency(sys_df, gold_df, family,
                                    gcols).collect():
            rows_by_measure[r["_m"]].append(r)

    for name in specs:
        rows = rows_by_measure[name]
        if not gcols:
            row = rows[0] if rows else None
            mat = (Matrix(row["ptp"], row["fp"], row["rtp"], row["fn"])
                   if row is not None else Matrix())
            results[name] = mat.results
            continue

        by_group = {
            tuple(r[c] for c in gcols):
                Matrix(r["ptp"], r["fp"], r["rtp"], r["fn"])
            for r in rows
        }
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
