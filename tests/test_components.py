"""Connected components + label propagation exactness."""

from __future__ import annotations

from cassovary_spark.operators.components import connected_components
from cassovary_spark.operators.labelprop import label_propagation
from tests.conftest import (
    DANGLING_G7,
    G6,
    TWO_CLIQUES,
    TWO_CLIQUES_BRIDGED,
    edges_df,
)
from tests.oracles import components_oracle, lpa_oracle


def comp_dict(df):
    return {r["id"]: r["component"] for r in df.collect()}


def label_dict(df):
    return {r["id"]: r["label"] for r in df.collect()}


def test_cc_g6_single_component(spark):
    got = comp_dict(connected_components(edges_df(spark, G6)))
    assert got == {v: 10 for v in range(10, 16)}


def test_cc_two_components(spark):
    got = comp_dict(connected_components(edges_df(spark, TWO_CLIQUES)))
    assert got == components_oracle(TWO_CLIQUES)
    assert set(got.values()) == {0, 4}


def test_cc_bridged_single_component(spark):
    got = comp_dict(connected_components(edges_df(spark, TWO_CLIQUES_BRIDGED)))
    assert set(got.values()) == {0}


def test_cc_directed_weakly_connected(spark):
    # direction must NOT matter for weak components
    got = comp_dict(connected_components(edges_df(spark, DANGLING_G7)))
    assert got == components_oracle(DANGLING_G7)


def test_cc_long_path_exercises_pointer_jumping(spark):
    # path graph 0->1->...->40: diameter >> default iterations without jumping
    path = [(i, i + 1) for i in range(40)]
    got = comp_dict(connected_components(edges_df(spark, path)))
    assert got == {i: 0 for i in range(41)}


def test_cc_no_pointer_jump_matches(spark):
    got = comp_dict(
        connected_components(edges_df(spark, TWO_CLIQUES_BRIDGED), pointer_jump=False)
    )
    assert set(got.values()) == {0}


def test_cc_random_graph_oracle(spark):
    from cassovary_spark.sources.generators import random_graph

    e = random_graph(spark, 120, 0.012, seed=11)
    pairs = [(r["src"], r["dst"]) for r in e.collect()]
    got = comp_dict(connected_components(e))
    assert got == components_oracle(pairs)


def test_cc_lpa_checkpoint_resume_equivalence(spark, tmp_path):
    """Checkpointed/resumed CC and LPA == uninterrupted runs: a save every
    superstep leaves the loop on its in-memory state, and a resumed run
    starts from the store's parquet."""
    from cassovary_spark.checkpoint import CheckpointStore

    e = edges_df(spark, TWO_CLIQUES_BRIDGED)
    plain_cc = comp_dict(connected_components(e, engine="distributed"))
    store = CheckpointStore(str(tmp_path / "cc"), run_id="cc1")
    ck_cc = comp_dict(connected_components(e, checkpoint=store))
    assert ck_cc == plain_cc
    resumed = comp_dict(connected_components(e, checkpoint=store, resume=True))
    assert resumed == plain_cc

    plain_lpa = label_dict(label_propagation(e, max_iterations=5, engine="distributed"))
    store2 = CheckpointStore(str(tmp_path / "lpa"), run_id="lpa1")
    ck_lpa = label_dict(label_propagation(e, max_iterations=5, checkpoint=store2))
    assert ck_lpa == plain_lpa


def test_lpa_two_cliques(spark):
    got = label_dict(label_propagation(edges_df(spark, TWO_CLIQUES)))
    assert got == lpa_oracle(TWO_CLIQUES)
    # each clique collapses to its min label
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 4}


def test_lpa_bridged_matches_oracle(spark):
    got = label_dict(label_propagation(edges_df(spark, TWO_CLIQUES_BRIDGED)))
    assert got == lpa_oracle(TWO_CLIQUES_BRIDGED)


def test_lpa_g6_matches_oracle(spark):
    got = label_dict(label_propagation(edges_df(spark, G6)))
    assert got == lpa_oracle(G6)


def test_lpa_random_graph_oracle(spark):
    from cassovary_spark.sources.generators import random_undirected_graph

    e = random_undirected_graph(spark, 80, 0.05, seed=3)
    pairs = [(r["src"], r["dst"]) for r in e.collect()]
    got = label_dict(label_propagation(e, max_iterations=7))
    assert got == lpa_oracle(pairs, max_iterations=7)
