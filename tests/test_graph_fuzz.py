"""Differential fuzz: kcore vs a pure-Python replica on random small
graphs — the walk-family fuzz-net pattern (tests/test_walks_fuzz.py)
extended to the peel operator."""
from hypothesis import given, settings
from hypothesis import strategies as st

_edges_strategy = st.lists(
    st.tuples(st.sampled_from("abcdefgh"), st.sampled_from("abcdefgh")),
    min_size=1, max_size=24, unique=True)


def _py_kcore(edges, k):
    e = {tuple(sorted(t)) for t in edges if t[0] != t[1]}
    while True:
        deg = {}
        for a, b in e:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        bad = {v for v, d in deg.items() if d < k}
        e2 = {t for t in e if t[0] not in bad and t[1] not in bad}
        if e2 == e:
            return e
        e = e2


@settings(max_examples=10, deadline=None)
@given(edges=_edges_strategy, k=st.sampled_from([1, 2, 3]))
def test_kcore_fuzz(spark, edges, k):
    from neleval_spark.graph.kcore import kcore

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["a"], r["b"]) for r in kcore(df, k).collect()}
    assert got == _py_kcore(edges, k)

