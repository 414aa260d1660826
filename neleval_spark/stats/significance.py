"""Statistical machinery: paired permutation significance tests and
percentile-bootstrap confidence intervals.

Reference semantics (neleval/significance.py):

* permutation test (:52-70): n trials; each trial flips each document's
  (sys1, sys2) contingency matrices with p=.5, sums them, and counts
  trials whose pseudo-difference is at least as extreme as the base
  difference; p = (better + 1) / (n + 1);
* percentile bootstrap (:224-248): resample documents with
  replacement, recompute P/R/F per trial, NIST-interpolated percentile
  bounds (exactly :237-248 — ``percentile_approx`` is NOT equivalent).

Scale design: the reference materializes per-doc Matrix lists on one
machine and joblib-forks trials. Here the per-doc contingency table is
a DataFrame (one row per doc, additive by construction — the whole
reason the measures distribute, SURVEY.md §1.1 'Matrix'), and each
trial pass computes, vectorized in numpy, every trial's pseudo-sums
at once (O(docs × trials) flops) plus the plain column sums — the
observed matrix, a weight-1 trial.  While docs × trials fits the
driver budget (``TRIAL_CELLS``) the table comes to the driver in ONE
bounded Arrow collect and is mixed there, slice by slice,
with no Python worker — as the reference resamples on the driver;
above it ONE ``mapInPandas`` pass mixes each Arrow batch on the
executors (:func:`_trial_partials`).  So ``bootstrap_confidence``,
``permutation_test`` and ``calibrate_trials`` each evaluate their
per-doc input (a whole contingency plan) once: in one action under
the budget, and in two over one cached table above it.
Randomness is a deterministic mix of (doc hash, trial id) —
reproducible regardless of partitioning or executor count. The
per-trial resampling is the Poisson bootstrap (the standard
bootstrap-at-scale construction) for CIs, and multiply-shift hash bits
for permutation flips.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIX = np.uint64(0x9E3779B97F4A7C15)
MIX2 = np.uint64(0xBF58476D1CE4E5B9)


def per_doc_contingency(sys_df: DataFrame, gold_df: DataFrame,
                        measure) -> DataFrame:
    """(docid, ptp, fp, rtp, fn) — reference: Evaluate.count
    (evaluate.py:173-181) over iter_pairs' docid union."""
    from ..measures.catalog import get_measure
    from ..measures.contingency import contingency_df

    spec = get_measure(measure)
    return contingency_df(sys_df, gold_df, spec, gcols=["docid"])


MIX_PRIME = 2147483647  # 2^31-1, the shared polynomial-hash modulus


def token_hash(col: F.Column) -> F.Column:
    """Engine-agnostic string hash: polynomial 31-fold over the
    string's ascii codes, mod ``MIX_PRIME``. Pure column expression —
    no dictionary, no shuffle, no driver state; DuckDB computes the
    identical value via list_reduce, which is what lets an oracle
    replay ``hash_mode="poly"`` trials (:func:`_trial_partials`)."""
    chars = F.split(col, "")
    return F.aggregate(
        chars, F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % F.lit(MIX_PRIME))


# The driver-side trial budget in docs × trials cells: a per-doc table
# of at most TRIAL_CELLS // n_trials docs is mixed on the driver
# (_trial_partials), and multinomial resampling draws its trials in
# chunks of this many cells.  The mix costs 40–60 ns a cell on one core;
# the mapInPandas pass splits it over the executors but starts a
# Python worker (a pass over 500 docs: 0.7 s warm, 2.6–3.1 s cold).
# Measured on local[4] with warm workers, the two tie at 2·10⁷ cells
# for 200 and for 2500 trials; the driver takes half the time at
# 5·10⁶ and 1.3–1.6× as long at 8·10⁷.
TRIAL_CELLS = 20_000_000


def _trial_partials(joined: DataFrame, n_trials: int, seed: int,
                    mode: str, hash_mode: str = "xxhash64",
                    ) -> tuple[np.ndarray, np.ndarray]:
    """Partial sums for all trials plus the plain column sums (the
    observed matrix, a weight-1 "trial").  Returns ``(trials,
    observed)``: [n_trials, 8] and [8] (sys1 ptp,fp,rtp,fn, sys2 ...).

    The per-doc table ``(doc_hash, 8 counts)`` comes to the driver in
    ONE bounded Arrow collect (:func:`_bounded_collect`) when it holds
    at most ``TRIAL_CELLS // n_trials`` docs, and the trials are mixed
    there in slices of ``TRIAL_CELLS // 100`` cells — no Python worker,
    and each numpy temporary ~1.6 MB (smaller slices run no faster).
    Above that cap ONE ``mapInPandas`` pass computes the same partials
    per Arrow batch on the executors and the driver sums them.  The
    projection is persisted for the call, so that pass reads the table
    the bounded collect cached: either way the per-doc input is
    evaluated once, and the observed score comes from the same pass as
    the trials.  The mix is the same code on both paths, so the trials
    are bit-identical wherever the per-doc counts are integers (sums
    of integers are exact in float64, whatever their order).

    Per-doc randomness seeds from a JVM-side doc hash — no per-row
    (let alone per-byte) Python anywhere in the stats path;
    determinism is independent of partitioning and executor count.

    ``hash_mode="xxhash64"`` (default): 64-bit multiply-shift mixing —
    the production path.  ``hash_mode="poly"``: the engine-agnostic
    polynomial doc hash (:func:`token_hash`, mod 2^31-1) mixed as
    ``x = (h * (t + seed + 1)) % P; x * x % P`` with P = 2^31-1 —
    every intermediate fits int64 EXACTLY, so a DuckDB oracle replays
    the identical trial flips bit-for-bit (the ``permutation_pvalue``
    gate).  The squaring matters: docids with sequential suffixes
    hash to an arithmetic progression, so the linear ``x`` alone
    steps by a constant from doc to doc — parity agreeing across
    every doc in about a quarter of the trials (no flips at all), and
    Poisson uniforms all but equal.  Weaker mixing than xxhash64;
    meant for cross-engine verification, not to replace the
    default.
    """
    cols = ["ptp1", "fp1", "rtp1", "fn1", "ptp2", "fp2", "rtp2", "fn2"]
    tseed = np.uint64(seed)
    if hash_mode == "poly":
        doc_hash = token_hash(F.col("docid").cast("string"))
    else:
        doc_hash = F.xxhash64(F.col("docid").cast("string"))
    joined = joined.select(doc_hash.alias("doc_hash"), *cols).persist()

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m1 = pdf[cols[:4]].to_numpy(dtype=np.float64)
            m2 = pdf[cols[4:]].to_numpy(dtype=np.float64)
            if hash_mode == "poly":
                hp = pdf["doc_hash"].to_numpy(dtype=np.int64)
                ti = np.arange(n_trials, dtype=np.int64)
                # exact in int64: h < 2^31, (t+seed+1) small, x < 2^31
                mixed_i = (hp[:, None] * (ti[None, :] + seed + 1)) \
                    % MIX_PRIME
                mixed_i = mixed_i * mixed_i % MIX_PRIME
                if mode == "permute":
                    flip = (mixed_i % 2).astype(bool)
                elif mode == "poisson":
                    u = mixed_i.astype(np.float64) / float(MIX_PRIME)
                    flip = None
                else:
                    raise ValueError(mode)
            else:
                h = pdf["doc_hash"].to_numpy(dtype=np.int64) \
                    .view(np.uint64)
                t = np.arange(n_trials, dtype=np.uint64)
                # mix(doc, trial): multiply-shift hash bits
                mixed = (h[:, None] ^ ((t[None, :] + tseed) * MIX)) \
                    * MIX2
                if mode == "permute":
                    flip = (mixed >> np.uint64(63)).astype(bool)
                elif mode == "poisson":
                    # uniform from the top 53 bits
                    u = (mixed >> np.uint64(11)).astype(np.float64) \
                        / float(1 << 53)
                    flip = None
                else:
                    raise ValueError(mode)
            if mode == "permute":
                # pseudo1 = flip ? m2 : m1 ; pseudo2 = flip ? m1 : m2
                p1 = np.einsum("dt,dk->tk", (~flip).astype(np.float64), m1) \
                    + np.einsum("dt,dk->tk", flip.astype(np.float64), m2)
                p2 = np.einsum("dt,dk->tk", (~flip).astype(np.float64), m2) \
                    + np.einsum("dt,dk->tk", flip.astype(np.float64), m1)
            else:
                # Poisson(1) weights via inverse CDF over the uniform
                w = _poisson_icdf(u).astype(np.float64)
                p1 = np.einsum("dt,dk->tk", w, m1)
                p2 = np.einsum("dt,dk->tk", w, m2)
            out = np.concatenate([np.hstack([p1, p2]).reshape(n_trials * 8),
                                  m1.sum(axis=0), m2.sum(axis=0)])
            yield out

    try:
        pdf = _bounded_collect(joined, TRIAL_CELLS // max(n_trials, 1))
        if pdf is not None:
            step = max(1, TRIAL_CELLS // 100 // max(n_trials, 1))
            parts = gen(pdf.iloc[lo:lo + step]
                        for lo in range(0, len(pdf), step))
        else:
            rows = joined.mapInPandas(
                lambda it: (pd.DataFrame({"partial": [out.tolist()]})
                            for out in gen(it)),
                schema="partial array<double>").collect()
            parts = (np.asarray(r["partial"]) for r in rows)
        total = np.zeros(n_trials * 8 + 8)
        for out in parts:
            total += out
    finally:
        joined.unpersist()
    return total[:-8].reshape(n_trials, 8), total[-8:]


def _bounded_collect(df: DataFrame, max_rows: int) -> pd.DataFrame | None:
    """``df`` on the driver in ONE Arrow collect of at most
    ``max_rows + 1`` rows (a root-level limit: every partition of
    ``df`` is computed once and no Python worker starts); None when
    ``df`` holds more than ``max_rows`` rows."""
    pdf = df.limit(max_rows + 1).toPandas()
    return pdf if len(pdf) <= max_rows else None


_POISSON_CDF = None


def _poisson_icdf(u: np.ndarray) -> np.ndarray:
    """Inverse CDF of Poisson(1) via table lookup (k ≤ 12 covers
    1 - 1e-13 of the mass)."""
    global _POISSON_CDF
    if _POISSON_CDF is None:
        import math

        pmf = [math.exp(-1) / math.factorial(k) for k in range(13)]
        _POISSON_CDF = np.cumsum(pmf)
    return np.searchsorted(_POISSON_CDF, u).astype(np.int64)


def _metrics_from(mat: np.ndarray) -> dict[str, np.ndarray]:
    """Vectorized P/R/F over [n, 4] (ptp, fp, rtp, fn) arrays with the
    reference's zero-denominator → 0 rule (evaluate.py:279-286)."""
    ptp, fp, rtp, fn = mat[:, 0], mat[:, 1], mat[:, 2], mat[:, 3]
    with np.errstate(divide="ignore", invalid="ignore"):
        p = np.where(ptp + fp > 0, ptp / (ptp + fp), 0.0)
        r = np.where(rtp + fn > 0, rtp / (rtp + fn), 0.0)
        f = np.where(p + r > 0, 2 * p * r / (p + r), 0.0)
    return {"precision": p, "recall": r, "fscore": f,
            "ptp": ptp, "fp": fp, "rtp": rtp, "fn": fn}


def _one_system(per_doc: DataFrame) -> DataFrame:
    """One system's per-doc table in the two-system trial layout, the
    second system all zeros."""
    return per_doc.select(
        "docid",
        F.col("ptp").alias("ptp1"), F.col("fp").alias("fp1"),
        F.col("rtp").alias("rtp1"), F.col("fn").alias("fn1"),
    ).withColumns({"ptp2": F.lit(0.0), "fp2": F.lit(0.0),
                   "rtp2": F.lit(0.0), "fn2": F.lit(0.0)})


def _join_per_doc(pd1: DataFrame, pd2: DataFrame) -> DataFrame:
    a = pd1.select(
        "docid", F.col("ptp").alias("ptp1"), F.col("fp").alias("fp1"),
        F.col("rtp").alias("rtp1"), F.col("fn").alias("fn1"))
    b = pd2.select(
        "docid", F.col("ptp").alias("ptp2"), F.col("fp").alias("fp2"),
        F.col("rtp").alias("rtp2"), F.col("fn").alias("fn2"))
    return a.join(b, "docid", "full_outer").na.fill(0.0)


def permutation_test(
    per_doc1: DataFrame,
    per_doc2: DataFrame,
    n_trials: int = 2500,
    metrics: tuple[str, ...] = ("precision", "recall", "fscore"),
    seed: int = 42,
    hash_mode: str = "xxhash64",
) -> dict:
    """Paired permutation test between two systems' per-doc
    contingency tables. Returns {metric: {'diff': .., 'p': ..}}.

    ``hash_mode="poly"`` switches the per-(doc, trial) flip bits to
    the engine-agnostic polynomial derivation (see
    :func:`_trial_partials`) so the whole test is replayable in a
    DuckDB oracle; the default xxhash64 mixing is the production
    path."""
    partials, observed = _trial_partials(
        _join_per_doc(per_doc1, per_doc2), n_trials, seed, "permute",
        hash_mode)
    base1 = _metrics_from(observed[None, :4])
    base2 = _metrics_from(observed[None, 4:])
    base_diff = {m: float(base1[m][0] - base2[m][0]) for m in metrics}

    t1 = _metrics_from(partials[:, :4])
    t2 = _metrics_from(partials[:, 4:])

    out = {}
    for m in metrics:
        diffs = t1[m] - t2[m]
        if base_diff[m] < 0:
            better = int((diffs <= base_diff[m]).sum())
        else:
            better = int((diffs >= base_diff[m]).sum())
        out[m] = {"diff": base_diff[m],
                  "p": (better + 1) / (n_trials + 1)}
    return out


def nist_percentile(ordered, p: float) -> float:
    """Exact NIST interpolated percentile
    (reference: neleval/significance.py:237-248)."""
    k, d = divmod(p / 100 * (len(ordered) + 1), 1)
    k = int(k)
    if 0 < k < len(ordered):
        lo, hi = ordered[k - 1:k + 1]
        return lo + d * (hi - lo)
    elif k == 0:
        return ordered[0]
    return ordered[-1]


def calibrate_trials(
    per_doc: DataFrame,
    trials: tuple[int, ...] = (100, 250, 500, 1000, 2500, 5000, 10000),
    max_trials: int = 20000,
    percentiles: tuple[int, ...] = (90, 95, 99),
    metrics: tuple[str, ...] = ("precision", "recall", "fscore"),
    n_resamples: int = 100,
    seed: int = 42,
) -> list[dict]:
    """How many bootstrap trials are enough? (reference
    Confidence.calibrate_trials, significance.py:272-288).

    Runs ONE Poisson bootstrap of ``max_trials``, then — driver-side
    on the tiny trial-score vectors — estimates, for each
    (metric, percentile, n), the stdev of the CI bound over
    ``n_resamples`` subsamples of n trials (sampled without
    replacement, as the reference's ``random.sample``).

    Returns rows {metric, pct, trials, stdev}.
    """
    partials, _ = _trial_partials(_one_system(per_doc), max_trials, seed,
                                  "poisson")
    history = _metrics_from(partials[:, :4])

    rng = np.random.default_rng(seed)
    out = []
    for m in metrics:
        X = history[m]
        for p in percentiles:
            v = (100 - p) / 2
            for n in trials:
                if n > max_trials:
                    continue
                stats = [
                    nist_percentile(
                        np.sort(rng.choice(X, size=n, replace=False)), v)
                    for _ in range(n_resamples)
                ]
                out.append({"metric": m, "pct": p, "trials": n,
                            "stdev": float(np.std(stats))})
    return out


# _multinomial_trials collects the per-doc matrix table to the
# driver; beyond this many docs that is a driver OOM risk, so the
# call refuses and tells the user to use the Poisson mode (the
# at-scale default, which mixes trials on the executors once the
# table outgrows the driver trial budget).
MULTINOMIAL_MAX_DOCS = 1_000_000


def _multinomial_trials(joined: DataFrame, n_trials: int,
                        seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact multinomial document resampling (the reference's
    bootstrap: N uniform draws of doc indices with replacement,
    significance.py:224-234) — driver-side, for fixture-parity runs.

    Per-doc matrices collect to the driver in ONE bounded action and
    are sorted by docid there (seeded rng ⇒ deterministic results
    regardless of partitioning), then chunks of trials draw
    Multinomial(N, 1/N) count vectors and matrix-multiply them into
    per-trial sums; the observed sums come from the same table.
    Returns ``(trials, observed)`` like :func:`_trial_partials`.  Use
    the default Poisson mode at scale — it runs distributed above the
    driver trial budget; this path is BOUNDED at
    ``MULTINOMIAL_MAX_DOCS`` per-doc rows (≈32 MB of float64 at the
    bound): its collect (:func:`_bounded_collect`) takes at most one
    row past the bound, and it raises rather than OOMing the driver."""
    cols = ["ptp1", "fp1", "rtp1", "fn1"]
    pdf = _bounded_collect(joined.select("docid", *cols),
                           MULTINOMIAL_MAX_DOCS)
    if pdf is None:
        raise ValueError(
            f"method='multinomial' collects the per-doc table to the "
            f"driver and is bounded at {MULTINOMIAL_MAX_DOCS:,} docs; "
            f"use the distributed method='poisson' (the default) at "
            f"this scale")
    m = pdf.sort_values("docid", na_position="first")[cols] \
        .to_numpy(dtype=np.float64)
    n_docs = len(m)
    out = np.zeros((n_trials, 8))
    observed = np.concatenate([m.sum(axis=0), np.zeros(4)])
    if n_docs == 0:
        return out, observed
    rng = np.random.default_rng(seed)
    chunk = max(1, TRIAL_CELLS // n_docs)
    pvals = np.full(n_docs, 1.0 / n_docs)
    for lo in range(0, n_trials, chunk):
        k = min(chunk, n_trials - lo)
        counts = rng.multinomial(n_docs, pvals, size=k)
        out[lo:lo + k, :4] = counts.astype(np.float64) @ m
    return out, observed


def bootstrap_confidence(
    per_doc: DataFrame,
    n_trials: int = 2500,
    percentiles: tuple[int, ...] = (90, 95, 99),
    metrics: tuple[str, ...] = ("precision", "recall", "fscore"),
    seed: int = 42,
    method: str = "poisson",
) -> dict:
    """Percentile-bootstrap CIs for one system (NIST percentile
    interpolation on the collected trial scores — tiny, driver-side,
    exactly like the reference).

    ``method="poisson"`` (default): Poisson bootstrap — per-doc
    weights drawn independently from the (doc-hash, trial) mix, on the
    driver while the doc table fits the trial budget and in one
    distributed pass above it (:func:`_trial_partials`).
    Asymptotically equivalent to the reference's multinomial resample
    but not bit-comparable.  ``method="multinomial"``: the reference's
    exact resampling protocol (N docs drawn uniformly with replacement
    per trial, significance.py:224-234), driver-side — use when
    cross-checking CI bounds against the reference on fixture-sized
    inputs.  Either way the per-doc input is evaluated once: the
    observed score comes from the same pass as the trials."""
    joined = _one_system(per_doc)
    if method == "multinomial":
        partials, sums = _multinomial_trials(joined, n_trials, seed)
    elif method == "poisson":
        partials, sums = _trial_partials(joined, n_trials, seed, "poisson")
    else:
        raise ValueError(f"unknown bootstrap method: {method!r}")
    t = _metrics_from(partials[:, :4])
    observed = _metrics_from(sums[None, :4])
    out = {}
    for m in metrics:
        values = sorted(t[m].tolist())
        out[m] = {
            p: (nist_percentile(values, (100 - p) / 2),
                nist_percentile(values, 100 - (100 - p) / 2))
            for p in percentiles
        }
        # observed point score alongside the CIs (used by plot-systems'
        # confidence input, mirroring reference Confidence output which
        # carries the overall score)
        out[m]["score"] = float(observed[m][0])
    return out


def significance_tab_format(results: list[dict],
                            metrics=("precision", "recall",
                                     "fscore")) -> str:
    """Reference Significance.tab_format parity (public output format,
    neleval/significance.py:190-214): rows of
    (sys1, sys2, measure, Δ-metric, p-metric ...) with the reference's
    column widths and ``{:+8.3f}/{:8.3f}`` number rendering.

    ``results``: [{'sys1', 'sys2', 'measure',
                   'stats': {metric: {'diff', 'p'}}}] in
    (system-pair, measure) order.
    """
    rows = []
    for row in results:
        stats = row["stats"]
        rows.append(
            [row["sys1"], row["sys2"], row["measure"]]
            + [x for metric in metrics
               for x in (stats[metric]["diff"], stats[metric]["p"])])
    header = (["sys1", "sys2", "measure"]
              + [h for metric in metrics
                 for h in ("Δ-" + metric[:6], "p-" + metric[:6])])
    sys_width = max(
        [len(col) for row in rows for col in row[:2]] + [4])
    measure_width = max([len(row[2]) for row in rows] + [5])
    fmt = "{:%ds}\t{:%ds}\t{:%ds}" % (sys_width, sys_width,
                                      measure_width)
    ret = (fmt + "\t{}" * len(metrics) * 2).format(*header)
    fmt += "".join("\t{:+8.3f}\t{:8.3f}" for _ in metrics)
    ret += "".join("\n" + fmt.format(*row) for row in rows)
    return ret


def confidence_tab_format(data: list[dict],
                          metrics=("precision", "recall", "fscore"),
                          percentiles=(90, 95, 99)) -> str:
    """Reference Confidence.tab_format parity (public output format,
    neleval/significance.py:330-361): header
    ``measure metric 99%( 95%( 90%( score )90% )95% )99%`` and one
    row per (measure, metric) with ``{:.3f}`` cells.

    ``data``: [{'measure', 'overall': {metric: score},
                'intervals': {metric: {pct: (lo, hi)}}}].
    """
    percentiles = sorted(percentiles)
    header = (["measure", "metric"]
              + ["{:d}%(".format(p) for p in reversed(percentiles)]
              + ["score"]
              + ["){:d}%".format(p) for p in percentiles])
    # widths pad only to the longest measure/metric NAME — no header
    # minimum — exactly like the reference (significance.py:350-352),
    # so output is byte-identical even when all names are short
    # (str.format never truncates, so the header renders intact)
    measures = [entry["measure"] for entry in data]
    measure_width = max(len(m) for m in measures)
    metric_width = max(len(m) for m in metrics)
    fmt = "{:%ds}\t{:%ds}" % (measure_width, metric_width)
    rows = []
    for entry in data:
        for metric in metrics:
            iv = entry["intervals"][metric]
            cells = ([iv[p][0] for p in reversed(percentiles)]
                     + [entry["overall"][metric]]
                     + [iv[p][1] for p in percentiles])
            rows.append([fmt.format(entry["measure"], metric)]
                        + ["{:.3f}".format(c) for c in cells])
    n_cells = 2 * len(percentiles) + 1
    ret = (fmt + "\t{}" * n_cells).format(*header)
    ret += "".join("\n" + "\t".join(row) for row in rows)
    return ret


def read_confidence_tab_format(file) -> list[dict]:
    """Re-ingest ``confidence_tab_format`` output (reference
    Confidence.read_tab_format, neleval/significance.py:363-381):
    returns the same [{'measure', 'overall', 'intervals'}] structure,
    keyed by the interval columns found in the header."""
    headers = [field.rstrip() for field in
               next(file).strip().split("\t")]
    by_measure: dict = {}
    for line in file:
        row = dict(zip(headers,
                       (field.rstrip()
                        for field in line.rstrip().split("\t"))))
        measure = row["measure"]
        if measure not in by_measure:
            cis = [int(field[:-2]) for field in headers
                   if field[-2:] == "%("]
            by_measure[measure] = {
                "measure": measure,
                "overall": {},
                "intervals": {m: {} for m in
                              ("precision", "recall", "fscore")},
            }
        metric = row["metric"]
        by_measure[measure]["overall"][metric] = float(row["score"])
        for ci in cis:
            by_measure[measure]["intervals"][metric][ci] = (
                float(row["%d%%(" % ci]), float(row[")%d%%" % ci]))
    return list(by_measure.values())
