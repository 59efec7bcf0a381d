"""Adaptive-engine equality: the local (numpy) path must reproduce the
distributed path's results on the same graphs — same recurrences, only
float summation order may differ (tolerance 1e-9 on scores, exact on
integer/label outputs)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def graph(spark):
    from cassovary_spark.sources.generators import random_graph

    # includes dangling nodes and multiple components with high probability
    return random_graph(spark, 150, 0.02, seed=23).persist()


def _first_src(g):
    return g.select("src").first()["src"]


def _three_srcs(g):
    return [r["src"] for r in g.select("src").distinct().limit(3).collect()]


def _rows(res, cols):
    """``{id: (col values)}`` of an operator result (a frame, or a result
    object carrying one), or the scalar result itself."""
    if cols is None:
        return res
    df = getattr(res, "ranks", getattr(res, "scores", res))
    return {r["id"]: tuple(r[c] for c in cols) for r in df.collect()}


TWINS = [
    ("pagerank", {"max_iterations": 12}, ("pagerank",)),
    ("hits", {"max_iterations": 8}, ("hub", "authority")),
    ("connected_components", {}, ("component",)),
    ("label_propagation", {"max_iterations": 5}, ("label",)),
    ("personalized_pagerank", {"seeds": _three_srcs, "max_iterations": 10}, ("score",)),
    ("bfs", {"seeds": lambda g: [_first_src(g), 999_999]}, ("depth",)),
    ("bfs", {"seeds": lambda g: [_first_src(g), 999_999], "max_depth": 2}, ("depth",)),
    ("bfs", {"seeds": lambda g: [_first_src(g), 999_999], "max_degree": 2}, ("depth",)),
    ("triangle_count", {}, None),
]


@pytest.mark.parametrize(
    "op, kwargs, cols", TWINS, ids=[f"{op}-{i}" for i, (op, _, _) in enumerate(TWINS)]
)
def test_local_matches_distributed(spark, graph, op, kwargs, cols):
    """One call checked on both engines: equal iteration counts and errors
    where the result carries them, equal vertex sets, and values within
    1e-9 (float summation order is the only allowed difference)."""
    from cassovary_spark import operators
    from cassovary_spark.sources.generators import random_undirected_graph

    if op == "triangle_count":  # denser undirected graph: ~100 triangles
        graph = random_undirected_graph(spark, 60, 0.15, seed=5)
    kw = {k: v(graph) if callable(v) else v for k, v in kwargs.items()}
    fn = getattr(operators, op)
    loc = fn(graph, engine="local", **kw)
    dist = fn(graph, engine="distributed", **kw)
    if hasattr(loc, "iterations"):
        assert loc.iterations == dist.iterations
    if hasattr(loc, "error"):
        assert abs(loc.error - dist.error) < 1e-9
    lm, dm = _rows(loc, cols), _rows(dist, cols)
    if cols is None:
        assert lm == dm
        return
    assert lm.keys() == dm.keys()
    for k in lm:
        assert all(abs(a - b) < 1e-9 for a, b in zip(lm[k], dm[k])), (k, lm[k], dm[k])


@pytest.mark.parametrize("engine", ["local", "distributed"])
def test_pagerank_is_ppr_seeded_with_every_vertex(spark, graph, monkeypatch, engine):
    """PageRank is personalized PageRank whose teleport is uniform: same
    iteration count, scores within 1e-12."""
    from cassovary_spark.operators import local_engine as LE
    from cassovary_spark.operators import pagerank, personalized_pagerank
    from cassovary_spark.superstep import Superstep

    pr = pagerank(graph, damping=0.85, max_iterations=30, tolerance=1e-6, engine=engine)
    want = {r["id"]: r["pagerank"] for r in pr.ranks.collect()}

    # PPR's iteration count, read where each engine's loop returns it
    ppr_its = []
    owner, name, its = (
        (LE, "ppr_numpy", lambda out: out[2]) if engine == "local"
        else (Superstep, "run", lambda out: len(out[1]))
    )
    fn = getattr(owner, name)

    def counted(*a, **k):
        out = fn(*a, **k)
        ppr_its.append(its(out))
        return out

    monkeypatch.setattr(owner, name, counted)
    ppr = personalized_pagerank(
        graph, list(want), reset_prob=0.15, max_iterations=30, tolerance=1e-6, engine=engine
    )
    assert ppr_its == [pr.iterations] and pr.iterations < 30
    got = {r["id"]: r["score"] for r in ppr.collect()}
    assert got.keys() == want.keys()
    assert max(abs(got[k] - want[k]) for k in want) < 1e-12


def test_pagerank_auto_uses_local_on_small_graph(spark, graph):
    from cassovary_spark.operators import pagerank

    res = pagerank(graph, max_iterations=3)
    assert res.history and res.history[0].get("engine") == "local"
