"""The superstep driver's contracts: the steady-state plan shape of the
SQL-built supersteps, cleanup after a failed superstep, routing that reads
its memory budget at call time, and an edge count ``m`` that a cached input
answers without a Spark job."""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import DataFrame, SparkSession

from tests.conftest import G6, TWO_CLIQUES_BRIDGED, edges_df


def _plan_nodes(plan) -> tuple[str, list]:
    """``(simpleString, children)`` tree of a physical plan. Children are
    ``plan.children()``, so cached relations (an ``InMemoryTableScan``'s
    inner ``InMemoryRelation``) are not descended into."""
    kids = plan.children()
    return (plan.simpleString(100), [_plan_nodes(kids.apply(i)) for i in range(kids.size())])


def _walk(node):
    yield node
    for child in node[1]:
        yield from _walk(child)


def _name(node) -> str:
    s = node[0].lstrip("*(0123456789) ")
    return s.split(" ", 1)[0]


def _paths_to_state_scans(join, path=()):
    """Node-name paths from a join down to each scan of superstep state that
    feeds it directly (not through another join or an aggregate)."""
    path = path + (_name(join),)
    if not join[1] and "cassovary_state_" in join[0]:
        yield path
    for child in join[1]:
        if len(path) == 1 or not any(w in _name(child) for w in ("Join", "Aggregate")):
            yield from _paths_to_state_scans(child, path)


@pytest.fixture
def superstep_sql(monkeypatch):
    """Spy on ``SparkSession.sql``: records ``(query, plan tree)`` of every
    query containing ``marker``, planned while the superstep runs (its
    scratch tables are dropped when the operator returns)."""
    captured: list[tuple[str, tuple]] = []
    orig = SparkSession.sql

    def spy(self, query, *a, **k):
        df = orig(self, query, *a, **k)
        if spy.marker in query:
            captured.append((query, _plan_nodes(df._jdf.queryExecution().executedPlan())))
        return df

    monkeypatch.setattr(SparkSession, "sql", spy)

    def arm(marker):
        spy.marker = marker
        return captured

    return arm


def _run_pagerank(e):
    from cassovary_spark.operators import pagerank

    pagerank(e, max_iterations=3, engine="distributed")


def _run_cc(e):
    from cassovary_spark.operators import connected_components

    connected_components(e, max_iterations=3, engine="distributed")


def _run_lpa(e):
    from cassovary_spark.operators import label_propagation

    label_propagation(e, max_iterations=3, engine="distributed")


def _run_ppr(e):
    from cassovary_spark.operators import personalized_pagerank

    personalized_pagerank(e, _seeds(e), max_iterations=3, engine="distributed")


@pytest.mark.parametrize(
    "run, marker, pairs",
    [
        (_run_pagerank, "gathered", G6),
        (_run_cc, "nbr_component", TWO_CLIQUES_BRIDGED),
        (_run_lpa, "new_label", TWO_CLIQUES_BRIDGED),
        (_run_ppr, "gathered", G6),
    ],
    ids=["pagerank", "cc", "lpa", "ppr"],
)
def test_steady_state_superstep_plan_shape(spark, superstep_sql, run, marker, pairs):
    """Gather = sort-free SortMergeJoin over the bucketed state; update =
    ShuffledHashJoin building the fresh aggregate; nothing broadcast-nested."""
    captured = superstep_sql(marker)
    run(edges_df(spark, pairs))
    assert len(captured) >= 2, "no steady-state superstep SQL was captured"
    _query, tree = captured[-1]
    nodes = list(_walk(tree))

    smjs = [n for n in nodes if _name(n) == "SortMergeJoin"]
    assert smjs, "gather is not a SortMergeJoin"
    state_paths = [p for smj in smjs for p in _paths_to_state_scans(smj)]
    assert state_paths, "the gather does not read the superstep state"
    for path in state_paths:
        assert "Sort" not in path, f"the gather sorts the state: {path}"

    assert any(
        _name(n) == "ShuffledHashJoin" and "BuildRight" in n[0] for n in nodes
    ), "update join is not ShuffledHashJoin ... BuildRight"
    assert not any(_name(n) == "BroadcastNestedLoopJoin" for n in nodes)


def _seeds(e):
    return [r["src"] for r in e.select("src").distinct().limit(2).collect()]


def _leak_cases():
    from cassovary_spark import operators as O

    return {
        "pagerank": lambda e: O.pagerank(e, max_iterations=3, engine="distributed"),
        "ppr": lambda e: O.personalized_pagerank(
            e, _seeds(e), max_iterations=3, engine="distributed"
        ),
        "hits": lambda e: O.hits(e, max_iterations=3, engine="distributed"),
        "cc": lambda e: O.connected_components(e, engine="distributed"),
        "lpa": lambda e: O.label_propagation(e, max_iterations=3, engine="distributed"),
        "kcore": lambda e: O.k_core(e, k=2, engine="distributed"),
        "anf": lambda e: O.neighborhood_function(e, iterations=2),
        "effective_diameter": lambda e: O.effective_diameter(e, iterations=2),
        "harmonic": lambda e: O.harmonic_centrality_sketch(e, iterations=2),
        "bipartite": lambda e: O.bipartite_link_analysis(
            e, e.select(e.src.alias("id")).distinct().selectExpr("id", "1.0 AS weight"),
            engine="distributed",
        ),
        "bfs": lambda e: O.bfs(e, _seeds(e), engine="distributed"),
        "multi_source_bfs": lambda e: O.multi_source_bfs(
            e, e.select(e.src.alias("source")).distinct()
        ),
    }


# the state roundtrip that raises: the 2nd by default; for the BFS loops the
# 3rd, after the first level is written (their persisted adjacency is only
# materialized by that write)
FAIL_AT = {"bfs": 3, "multi_source_bfs": 3}


def _session_residue(spark):
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    tables = spark.catalog.listTables()
    views = {t.name for t in tables if t.isTemporary and t.name.startswith("cassovary_")}
    scratch = {t.name for t in tables if not t.isTemporary and t.name.startswith("cassovary_state_")}
    return rdds, views, scratch


@pytest.mark.parametrize("op", sorted(_leak_cases()))
def test_failed_superstep_frees_session_state(spark, monkeypatch, op):
    """A superstep that raises leaves no persisted frame, temp view or
    scratch table behind."""
    from cassovary_spark.checkpoint import StateScratch

    e = edges_df(spark, G6)
    rdds0, views0, scratch0 = _session_residue(spark)
    orig = StateScratch.roundtrip
    calls = []

    def failing(self, *a, **k):
        calls.append(1)
        if len(calls) == FAIL_AT.get(op, 2):
            raise RuntimeError("injected superstep failure")
        return orig(self, *a, **k)

    monkeypatch.setattr(StateScratch, "roundtrip", failing)
    with pytest.raises(RuntimeError, match="injected superstep failure"):
        _leak_cases()[op](e)
    rdds1, views1, scratch1 = _session_residue(spark)
    assert rdds1 - rdds0 == set(), "persisted frames leaked"
    assert views1 - views0 == set(), "temp views leaked"
    assert scratch1 - scratch0 == set(), "scratch tables leaked"


def test_local_budget_is_read_at_call_time(spark, monkeypatch):
    from cassovary_spark.operators import pagerank

    e = edges_df(spark, G6)
    assert pagerank(e, max_iterations=2).history[0].get("engine") == "local"
    monkeypatch.setenv("CASSOVARY_LOCAL_EDGE_BUDGET_MB", "0")
    res = pagerank(e, max_iterations=2)
    assert res.history[0].get("engine") != "local"
    assert all("wall_sec" in row for row in res.history)


@contextmanager
def _job_group(spark):
    """Runs the block's Spark jobs in a fresh job group; yields a function
    returning how many jobs that group has started so far."""
    sc = spark.sparkContext
    group = f"cassovary_test_{uuid.uuid4().hex[:12]}"

    def started() -> int:
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield started
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.fixture
def cached_g6(spark):
    """G6 persisted and materialized by a ``count()``."""
    e = edges_df(spark, G6).persist()
    e.count()
    yield e
    e.unpersist()


@pytest.fixture
def counts(spark, monkeypatch):
    """Records each ``DataFrame.count()`` call."""
    calls: list = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    orig = cls.count

    def spy(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "count", spy)
    return calls


@pytest.mark.parametrize("project", [False, True], ids=["frame", "select"])
def test_row_count_reads_a_materialized_cache_without_a_job(spark, cached_g6, counts, project):
    from cassovary_spark.plans import row_count

    e = cached_g6.select("src", "dst") if project else cached_g6
    with _job_group(spark) as started:
        assert row_count(e) == len(G6)
        assert started() == 0
    assert counts == []


# a graph no other test caches: an equal plan cached elsewhere in the
# session would answer for these frames
CHAIN = [(i, i + 1) for i in range(20)]


def _uncached(spark, case: str) -> tuple[DataFrame, DataFrame]:
    """``(frame, persisted base)`` of a frame whose rows ``row_count`` must
    count: its plan holds no materialized cache under Projects only."""
    if case == "partly_materialized":
        # first() caches one of the 4 partitions; the relation then reports
        # the row count of its source plan (a Range's is exact) but is not
        # a materialized cache
        base = spark.range(0, 64, numPartitions=4).persist()
        base.first()
        return base, base
    base = edges_df(spark, CHAIN).persist()
    if case == "never_acted_on":
        return base, base
    base.count()
    if case == "unpersisted":
        return base.unpersist(), base
    if case == "sample":
        return base.sample(0.5, seed=3), base
    return base.filter("src > 11"), base


@pytest.mark.parametrize(
    "case", ["never_acted_on", "partly_materialized", "unpersisted", "sample", "filter"]
)
def test_row_count_counts_anything_else(spark, counts, case):
    from cassovary_spark.plans import row_count

    e, base = _uncached(spark, case)
    try:
        counts.clear()
        got = row_count(e)
        assert counts == [1]
        assert got == e.count()
    finally:
        base.unpersist()


def test_row_count_sees_a_persist_materialized_after_a_plan_read(spark, counts):
    """A frame's own plan, read before its persist materialized, keeps
    reporting no row count; ``row_count`` reads a fresh projection's."""
    from cassovary_spark.plans import row_count

    e = edges_df(spark, CHAIN).persist()
    try:
        e._jdf.queryExecution().optimizedPlan().stats()
        e.count()
        counts.clear()
        assert row_count(e) == len(CHAIN)
        assert counts == []
    finally:
        e.unpersist()


def test_route_threshold_is_inclusive(spark, monkeypatch, cached_g6):
    from cassovary_spark import superstep

    monkeypatch.setattr(superstep, "local_edge_threshold", lambda: len(G6))
    assert superstep.choose_engine(cached_g6) == ("local", len(G6))
    monkeypatch.setattr(superstep, "local_edge_threshold", lambda: len(G6) - 1)
    assert superstep.choose_engine(cached_g6) == ("distributed", len(G6))
    assert superstep.choose_engine(cached_g6, "local") == ("local", None)


def _auto_routed():
    from cassovary_spark import operators as O

    return {
        "pagerank": lambda e: O.pagerank(e, max_iterations=3),
        "personalized_pagerank": lambda e: O.personalized_pagerank(e, [10], max_iterations=3),
        "hits": lambda e: O.hits(e, max_iterations=3),
        "connected_components": O.connected_components,
        "label_propagation": lambda e: O.label_propagation(e, max_iterations=3),
        "k_core": lambda e: O.k_core(e, k=2),
        "bipartite_link_analysis": lambda e: O.bipartite_link_analysis(
            e, e.select(e.src.alias("id")).distinct().selectExpr("id", "1.0 AS weight")
        ),
        "triangle_count": O.triangle_count,
        "bfs": lambda e: O.bfs(e, [10]),
        "bfs_events": lambda e: O.bfs(e, [10], events=True),
        "random_walk_visits": lambda e: O.random_walk_visits(e, [10], num_steps=3),
        "random_walk_events": lambda e: O.random_walk_events(e, [10], num_steps=3),
    }


@pytest.mark.parametrize("op", sorted(_auto_routed()))
def test_no_spark_job_before_the_edge_transfer(spark, monkeypatch, cached_g6, op):
    """On a materialized, persisted input an auto-routed operator reaches
    the local engine's edge transfer without starting a Spark job: its
    edge count comes from the cached plan."""
    from cassovary_spark.operators import local_engine as LE

    before: list[int] = []
    orig = LE.edges_to_numpy

    with _job_group(spark) as started:

        def transfer(edges):
            before.append(started())
            return orig(edges)

        monkeypatch.setattr(LE, "edges_to_numpy", transfer)
        _auto_routed()[op](cached_g6)
    assert before == [0]
