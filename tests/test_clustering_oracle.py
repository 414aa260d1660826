"""The six clustering aggregates against a pure-Python oracle over
cluster sets, and the CEAF edge plan's failure behaviour.

The data has what the generated annotations never have: a mention key
in two clusters on one side (cluster sizes must count it in both, from
the distinct membership pairs, not from the join), NULL cluster ids,
exact duplicate rows, NULL group values and a group only the system
side has (ignored, as in the reference).
"""

import itertools
import json
import random

import pytest
from pyspark.sql import functions as F

from neleval_spark.measures import clustering, evaluate

# measure name → the aggregate it runs over the span key
MEASURES = {
    "muc": "muc",
    "b_cubed": "b_cubed",
    "pairwise": "pairwise",
    "pairwise_negative:None:span": "pairwise_negative",
    "mention_ceaf": "mention_ceaf",
    "entity_ceaf": "entity_ceaf",
}
SCHEMA = "docid string, start long, end long, eid string, type string"


def _tri(n):
    return n * (n - 1) / 2


def _max_assignment(w: dict) -> float:
    """Max-weight 1:1 assignment of {(g, s): weight} by trying every
    matching of the smaller side into the larger."""
    gs = list(dict.fromkeys(g for g, _ in w))
    ss = list(dict.fromkeys(s for _, s in w))
    if len(gs) > len(ss):
        w = {(s, g): v for (g, s), v in w.items()}
        gs, ss = ss, gs
    return max((sum(w.get((g, s), 0.0) for g, s in zip(gs, perm))
                for perm in itertools.permutations(ss, len(gs))),
               default=0.0)


def _oracle(gold_rows, sys_rows) -> dict:
    """{aggregate: (ptp, fp, rtp, fn)} from the reference definitions
    over cluster sets {eid: {key}} (neleval/coref_metrics.py)."""
    def clusters(rows):
        out: dict = {}
        for r in rows:
            out.setdefault(r[3], set()).add(r[:3])
        return out

    G, S = clusters(gold_rows), clusters(sys_rows)
    I = {(g, s): len(G[g] & S[s]) for g in G for s in S if G[g] & S[s]}
    ng = {g: len(v) for g, v in G.items()}
    ns = {s: len(v) for s, v in S.items()}
    Ng, Ns, M = sum(ng.values()), sum(ns.values()), sum(I.values())
    A = sum(_tri(i) for i in I.values())
    common_g = {g: sum(i for (g2, _), i in I.items() if g2 == g) for g in G}
    common_s = {s: sum(i for (_, s2), i in I.items() if s2 == s) for s in S}
    muc = M - len(I)
    pn = (_tri(M) - sum(map(_tri, common_g.values()))
          - sum(map(_tri, common_s.values())) + A)
    phi3 = _max_assignment({k: float(i) for k, i in I.items()})
    phi4 = _max_assignment({(g, s): 2 * i / (ng[g] + ns[s])
                            for (g, s), i in I.items()})
    scores = {
        "muc": (muc, sum(n - 1 for n in ns.values()),
                muc, sum(n - 1 for n in ng.values())),
        "b_cubed": (sum(i * i / ns[s] for (_, s), i in I.items()), Ns,
                    sum(i * i / ng[g] for (g, _), i in I.items()), Ng),
        "pairwise": (A, sum(map(_tri, ns.values())),
                     A, sum(map(_tri, ng.values()))),
        "pairwise_negative": (pn, _tri(Ns) - sum(map(_tri, ns.values())),
                              pn, _tri(Ng) - sum(map(_tri, ng.values()))),
        "mention_ceaf": (phi3, Ns, phi3, Ng),
        "entity_ceaf": (phi4, len(S), phi4, len(G)),
    }
    return {agg: (pn_, pd - pn_, rn, rd - rn)
            for agg, (pn_, pd, rn, rd) in scores.items()}


def _rows(seed: int):
    rng = random.Random(seed)
    keys = [(f"d{d}", start, start + 1)
            for d in range(2) for start in range(0, 36, 3)]
    types = {k: rng.choice(["PER", "ORG", None]) for k in keys}

    def side(ids):
        return [(*k, rng.choice(ids), types[k])
                for k in keys if rng.random() < 0.85]

    gold = side(["A", "B", "C", None])
    sys_ = side(["W", "X", "Y", None])
    # a key in two clusters on each side, an exact duplicate row, and
    # a system-only group
    gold.append((*gold[0][:3], "D", gold[0][4]))
    sys_.append((*sys_[1][:3], "Z", sys_[1][4]))
    gold.append(gold[2])
    sys_.append((*sys_[3][:3], sys_[3][3], "LOC"))
    return gold, sys_


def _close(got: dict, exp) -> bool:
    return all(abs(got[k] - e) <= 1e-9 * max(1.0, abs(e))
               for k, e in zip(("ptp", "fp", "rtp", "fn"), exp))


@pytest.mark.parametrize("cap", [None, 0], ids=["driver", "distributed"])
def test_clustering_aggregates_match_oracle(spark, monkeypatch, cap):
    """Both CEAF paths: the driver solve, and the distributed one that
    runs when the edge list is over the cap."""
    if cap is not None:
        monkeypatch.setattr(clustering, "DRIVER_SOLVE_MAX_EDGES", cap)
    gold, sys_ = _rows(seed=11)
    g = spark.createDataFrame(gold, SCHEMA)
    s = spark.createDataFrame(sys_, SCHEMA)
    flat = evaluate(s, g, measures=list(MEASURES))
    exp = _oracle(gold, sys_)
    for name, agg in MEASURES.items():
        assert _close(flat[name], exp[agg]), (name, flat[name], exp[agg])

    grouped = evaluate(s, g, measures=list(MEASURES), group_by=["type"])
    gold_types = ["ORG", "PER", None]  # gold values only, None last
    assert {r[4] for r in gold} == set(gold_types)
    for name, agg in MEASURES.items():
        labels = [k for k in grouped if k.split(";")[0] == name]
        assert labels[:3] == [f"{name};type={json.dumps(t)}"
                              for t in gold_types], labels
        for t in gold_types:
            exp = _oracle([r for r in gold if r[4] == t],
                          [r for r in sys_ if r[4] == t])[agg]
            got = grouped[f"{name};type={json.dumps(t)}"]
            assert _close(got, exp), (name, t, got, exp)


def test_edge_plan_error_surfaces_after_one_execution(spark):
    """The driver-solve cap is the only CEAF switch: an error while
    the edge list is collected is raised as it is, not re-run through
    the distributed path (which would execute the plan again)."""
    ticks = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def tick(v):
        ticks.add(1)
        return v

    @F.udf("string")
    def boom(v):
        raise ValueError("edge plan failure")

    rows = [("d", i, i + 1, f"g{i % 3}", "PER") for i in range(12)]
    pred = spark.createDataFrame(rows, SCHEMA)
    # the aggregate puts the ticks and the failure in different
    # stages: the ticking stage succeeds, so its ticks are counted
    gold = (pred.withColumn("eid", tick("eid"))
            .groupBy("docid", "start", "end").agg(F.max("eid").alias("eid"))
            .withColumn("eid", boom("eid")))
    with pytest.raises(Exception, match="edge plan failure"):
        clustering.mention_ceaf(gold, pred, ["docid", "start", "end"], [])
    assert ticks.value == len(rows)
