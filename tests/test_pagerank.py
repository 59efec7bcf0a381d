"""PageRank fixture parity with the reference (PageRankSpec.scala)."""

from __future__ import annotations

import math

import pytest

from cassovary_spark.graph import reverse_edges
from cassovary_spark.operators.pagerank import pagerank
from tests.conftest import DANGLING_G7, G3_DANGLING, G6, edges_df
from tests.oracles import pagerank_oracle


def ranks_dict(result):
    return {r["id"]: r["pagerank"] for r in result.ranks.collect()}


# PageRankSpec.scala:76-80 — converged values on g6 (±5e-5 in the spec;
# our engine targets 1e-6 against the exact recurrence, 5e-5 vs these digits)
G6_GOLDEN = {10: 0.12699, 11: 0.16297, 12: 0.15616, 13: 0.06098, 14: 0.25292, 15: 0.23998}

# PageRankSpec.scala:82-85 — "stored OnlyIn" = transpose
G6_GOLDEN_REV = {10: 0.19942, 11: 0.11661, 12: 0.09086, 13: 0.11661, 14: 0.23245, 15: 0.24406}

# PageRankSpec.scala:107-111 — dangling-mass probe (±5e-10 in the spec)
G3_DANGLING_GOLDEN = {0: 0.1844167814, 1: 0.3411710471, 2: 0.4744121714}

# PageRankSpec.scala:97-105
DANGLING_G7_GOLDEN = {
    1: 0.11622, 2: 0.21500, 3: 0.16763, 4: 0.16763, 5: 0.07625, 6: 0.14106, 7: 0.11622,
}
DANGLING_G7_GOLDEN_REV = {
    1: 0.12085, 2: 0.15194, 3: 0.05628, 4: 0.05628, 5: 0.28697, 6: 0.27141, 7: 0.05628,
}


def test_g6_converged(spark):
    res = pagerank(edges_df(spark, G6), max_iterations=None, tolerance=1e-8)
    got = ranks_dict(res)
    for k, v in G6_GOLDEN.items():
        assert got[k] == pytest.approx(v, abs=5e-5)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_g6_reversed_only_in(spark):
    res = pagerank(reverse_edges(edges_df(spark, G6)), max_iterations=None, tolerance=1e-8)
    got = ranks_dict(res)
    for k, v in G6_GOLDEN_REV.items():
        assert got[k] == pytest.approx(v, abs=5e-5)


def test_g3_dangling_exact_semantics(spark):
    res = pagerank(edges_df(spark, G3_DANGLING), max_iterations=None, tolerance=1e-8)
    got = ranks_dict(res)
    for k, v in G3_DANGLING_GOLDEN.items():
        # the spec asserts ±5e-10 after convergence at tol 1e-8; allow the
        # tolerance-bounded drift of the recurrence itself
        assert got[k] == pytest.approx(v, abs=1e-8)


def test_dangling_g7_both_directions(spark):
    e = edges_df(spark, DANGLING_G7)
    got = ranks_dict(pagerank(e, max_iterations=None, tolerance=1e-8))
    for k, v in DANGLING_G7_GOLDEN.items():
        assert got[k] == pytest.approx(v, abs=5e-5)
    assert 0 not in got  # id-space hole: node 0 does not exist

    got_rev = ranks_dict(pagerank(reverse_edges(e), max_iterations=None, tolerance=1e-8))
    for k, v in DANGLING_G7_GOLDEN_REV.items():
        assert got_rev[k] == pytest.approx(v, abs=5e-5)


def test_one_iteration_d09_matches_spec_formula(spark):
    # PageRankSpec.scala:57-65 closed-form after 1 iteration with d=0.9
    res = pagerank(edges_df(spark, G6), damping=0.9, max_iterations=1)
    got = ranks_dict(res)
    oracle, _, _ = pagerank_oracle(G6, damping=0.9, max_iterations=1)
    for k in got:
        assert got[k] == pytest.approx(oracle[k], abs=1e-12)
    # closed forms from the spec (PageRankSpec.scala:57-65)
    assert got[10] == pytest.approx(0.1 / 6 + 0.9 / 12, abs=1e-12)
    assert got[11] == pytest.approx(0.1 / 6 + 0.9 * (1 / 18 + 1 / 12), abs=1e-12)


def test_sum_to_one_every_iteration(spark):
    e = edges_df(spark, DANGLING_G7)
    for iters in (1, 2, 5):
        got = ranks_dict(pagerank(e, max_iterations=iters))
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_complete_graph_uniform(spark):
    from cassovary_spark.sources.generators import complete_graph

    res = pagerank(complete_graph(spark, 10), max_iterations=5)
    got = ranks_dict(res)
    for v in got.values():
        assert v == pytest.approx(0.1, abs=1e-12)


def test_matches_oracle_on_random_graph(spark):
    from cassovary_spark.sources.generators import random_graph

    e = random_graph(spark, 60, 0.08, seed=7)
    pairs = [(r["src"], r["dst"]) for r in e.collect()]
    res = pagerank(e, max_iterations=None, tolerance=1e-8)
    oracle, _, oit = pagerank_oracle(pairs, max_iterations=None, tolerance=1e-8)
    got = ranks_dict(res)
    assert got.keys() == oracle.keys()
    for k in oracle:
        assert got[k] == pytest.approx(oracle[k], abs=1e-6)
    assert res.iterations == oit


def test_max_iterations_default_10(spark):
    res = pagerank(edges_df(spark, G6))
    assert res.iterations == 10


def test_local_engine_rejects_checkpoint(spark, tmp_path):
    """engine='local' + checkpoint/resume must fail fast, not silently skip
    the durability contract (ADVICE r2)."""
    import pytest

    from cassovary_spark.checkpoint import CheckpointStore
    from cassovary_spark.operators import connected_components, label_propagation
    from cassovary_spark.operators.pagerank import pagerank
    from tests.conftest import G6, edges_df

    e = edges_df(spark, G6)
    store = CheckpointStore(str(tmp_path / "ck"))
    with pytest.raises(ValueError, match="checkpoint"):
        pagerank(e, max_iterations=2, engine="local", checkpoint=store)
    with pytest.raises(ValueError, match="checkpoint"):
        connected_components(e, engine="local", checkpoint=store)
    with pytest.raises(ValueError, match="checkpoint"):
        label_propagation(e, max_iterations=2, engine="local", checkpoint=store)
    with pytest.raises(ValueError, match="checkpoint"):
        pagerank(e, max_iterations=2, engine="local", resume=True)


@pytest.mark.parametrize("engine", ["local", "distributed"])
def test_edge_count_is_exact_on_a_cached_input(spark, engine):
    """The reported edge count is a count of the edges, never the cached
    plan's row-count statistic that steers routing."""
    e = edges_df(spark, G6).persist()
    try:
        m = e.count()
        res = pagerank(e, max_iterations=3, engine=engine)
        assert res.edge_count == m
        assert res.history and all(row["edge_count"] == m for row in res.history)
    finally:
        e.unpersist()
