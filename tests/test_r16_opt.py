"""Round-16 optimization equivalence pins.

The r16 optimization round rewrote k-core internals around ONE h-index
coreness fixpoint (operators/graph.py::coreness — Lü et al. 2016)
replacing r15's chained / binary-searched peel loops. These tests pin
value-equality of the new implementation against the Python reference
peel and the Spark reference peel (``tests/graph_refs.py``) on
adversarial shapes (random graphs over two seeds, forests, empty
graphs), so the oracle's sampled coverage is not the only sensor.
"""

import random

import pytest

from .graph_refs import peel


def _py_coreness(edges):
    """Reference peeling coreness: repeatedly remove a minimum-degree
    node; its core number is the running max of min-degrees seen."""
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {}
    k = 0
    live = dict(adj)
    while live:
        v = min(live, key=lambda u: (len(live[u]), u))
        k = max(k, len(live[v]))
        core[v] = k
        for u in live[v]:
            live[u].discard(v)
        del live[v]
    return core


def _rand_edges(seed, n_nodes=60, n_edges=220):
    rng = random.Random(seed)
    es = set()
    while len(es) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            es.add((min(a, b), max(a, b)))
    return sorted(es)


@pytest.mark.parametrize("seed", [7, 1234])
def test_coreness_equals_python_peel(spark, seed):
    from impractical_impala_spark.operators.graph import coreness

    edges = _rand_edges(seed)
    e = spark.createDataFrame(edges, ["a", "b"])
    got = {r.node: r.c for r in coreness(e).collect()}
    assert got == _py_coreness(edges)


@pytest.mark.parametrize("seed", [7, 1234])
def test_degeneracy_core_equals_peel_reference(spark, seed):
    """The coreness-based degeneracy/2-core rows must equal full-set
    ``peel`` probes at every k (the pre-r15 shape)."""
    from impractical_impala_spark.operators.graph import degeneracy_core

    edges = _rand_edges(seed, n_nodes=40, n_edges=120)
    e = spark.createDataFrame(edges, ["a", "b"])
    got = {r.level: (r.k, r.n_nodes, r.n_edges)
           for r in degeneracy_core(e).collect()}
    e0 = e.select("a", "b").distinct().cache()
    sizes, k = {}, 1
    while True:
        n_nodes, n_edges = peel(e0, k, 60)
        if n_edges == 0:
            break
        sizes[k] = (n_nodes, n_edges)
        k += 1
    e0.unpersist()
    degeneracy = max(sizes)
    assert got["2core"] == (2, *sizes.get(2, (0, 0)))
    assert got["degeneracy"] == (degeneracy, *sizes[degeneracy])


def test_kcore_summary_equals_peel_reference(spark):
    from impractical_impala_spark.operators.graph import k_core_summary

    edges = _rand_edges(99, n_nodes=40, n_edges=120)
    e = spark.createDataFrame(edges, ["a", "b"])
    ks = (5, 2, 3, 9)  # out of order, one likely-empty level
    got = {r.k: (r.n_nodes, r.n_edges)
           for r in k_core_summary(e, ks=ks).collect()}
    e0 = e.select("a", "b").distinct().cache()
    want = {k: peel(e0, k, 60) for k in ks}
    e0.unpersist()
    assert got == want


def test_degeneracy_core_forest_and_empty(spark):
    """Forest: degeneracy 1 reports the whole graph (the old
    lo_sizes = _peel(e0, 1) branch). Edgeless: the old special-cased
    ('2core', 2, 0, 0) / ('degeneracy', 0, 0, 0) rows."""
    from impractical_impala_spark.operators.graph import degeneracy_core

    forest = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["a", "b"])
    got = {r.level: (r.k, r.n_nodes, r.n_edges)
           for r in degeneracy_core(forest).collect()}
    assert got == {"2core": (2, 0, 0), "degeneracy": (1, 6, 4)}

    empty = spark.createDataFrame([], "a long, b long")
    got = {r.level: (r.k, r.n_nodes, r.n_edges)
           for r in degeneracy_core(empty).collect()}
    assert got == {"2core": (2, 0, 0), "degeneracy": (0, 0, 0)}
