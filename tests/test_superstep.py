"""The superstep driver's contracts: the steady-state plan shape of the
SQL-built supersteps (the state a sort-free, exchange-free leaf, also with
AQE on for the loop and after a checkpoint save), a first CC/LPA superstep
that shuffles as a steady one, state statistics that stay fixed, at most
two live state leaves per (schema, key), cleanup after a failed and after
a successful run (only the result stays persisted, no exit hook stays
registered), a failed state-leaf build that reaches the caller and writes
no table or file, routing that reads its memory budget at call time, and
an edge count ``m`` that a cached input answers without a Spark job."""

from __future__ import annotations

import re
import uuid
from collections import Counter
from contextlib import contextmanager

import pytest
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

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


def _scan_columns(node) -> list[str] | None:
    """Output column names of a ``Scan ExistingRDD`` leaf (a local
    checkpoint, such as a state leaf), else None."""
    got = re.fullmatch(r"Scan ExistingRDD\[(.*)\]", node[0].lstrip("*(0123456789) "))
    return [c.split("#")[0] for c in got.group(1).split(",")] if got and not node[1] else None


def _paths_to_state_scans(join, state_cols, path=()):
    """Node-name paths from a join down to each scan of superstep state (a
    ``Scan ExistingRDD`` whose columns are ``state_cols``) that feeds it
    directly (not through another join or an aggregate)."""
    path = path + (_name(join),)
    if _scan_columns(join) == state_cols:
        yield path
    for child in join[1]:
        if len(path) == 1 or not any(w in _name(child) for w in ("Join", "Aggregate")):
            yield from _paths_to_state_scans(child, state_cols, path)


@pytest.fixture
def state_plans(spark, monkeypatch):
    """Spy on ``DataFrame.localCheckpoint``: records the executed plan
    tree of every checkpointed frame whose plan mentions ``marker``, as
    planned in the state write's conf scope — the plan that runs."""
    captured: list[tuple] = []
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    orig = cls.localCheckpoint

    def spy(self, *a, **k):
        plan = self._jdf.queryExecution().executedPlan()
        if spy.marker in plan.toString():
            captured.append(_plan_nodes(plan))
        return orig(self, *a, **k)

    monkeypatch.setattr(cls, "localCheckpoint", spy)

    def arm(marker):
        spy.marker = marker
        return captured

    return arm


def _run_pagerank(e, **k):
    from cassovary_spark.operators import pagerank

    return pagerank(e, max_iterations=3, engine="distributed", **k)


def _run_cc(e, **k):
    from cassovary_spark.operators import connected_components

    connected_components(e, max_iterations=3, engine="distributed", **k)


def _run_lpa(e, **k):
    from cassovary_spark.operators import label_propagation

    label_propagation(e, max_iterations=3, engine="distributed", **k)


def _run_ppr(e, **k):
    from cassovary_spark.operators import personalized_pagerank

    personalized_pagerank(e, _seeds(e), max_iterations=3, engine="distributed", **k)


PAGERANK_STATE = ["id", "pagerank", "is_dangling"]
PPR_STATE = PAGERANK_STATE + ["seed_mass"]


def _assert_plan_shape(captured, state_cols):
    """Gather = sort-free SortMergeJoin over the state leaf; update =
    ShuffledHashJoin building the fresh aggregate; nothing
    broadcast-nested. Returns the nodes of the last captured superstep."""
    assert len(captured) >= 2, "no steady-state superstep was captured"
    nodes = list(_walk(captured[-1]))

    smjs = [n for n in nodes if _name(n) == "SortMergeJoin"]
    assert smjs, "gather is not a SortMergeJoin"
    state_paths = [p for smj in smjs for p in _paths_to_state_scans(smj, state_cols)]
    assert state_paths, "the gather does not read the superstep state"
    for path in state_paths:
        assert "Sort" not in path, f"the gather sorts the state: {path}"

    assert any(
        _name(n) == "ShuffledHashJoin" and "BuildRight" in n[0] for n in nodes
    ), "update join is not ShuffledHashJoin ... BuildRight"
    assert not any(_name(n) == "BroadcastNestedLoopJoin" for n in nodes)
    return nodes


def _exchanges(nodes) -> list[str]:
    return [n[0] for n in nodes if "Exchange" in _name(n)]


@pytest.mark.parametrize(
    "run, marker, pairs, state_cols",
    [
        (_run_pagerank, "gathered", G6, PAGERANK_STATE),
        (_run_cc, "nbr_component", TWO_CLIQUES_BRIDGED, ["id", "component"]),
        (_run_lpa, "new_label", TWO_CLIQUES_BRIDGED, ["id", "label"]),
        (_run_ppr, "gathered", G6, PPR_STATE),
    ],
    ids=["pagerank", "cc", "lpa", "ppr"],
)
def test_steady_state_superstep_plan_shape(spark, state_plans, run, marker, pairs, state_cols):
    """Gather = sort-free SortMergeJoin over the state leaf; update =
    ShuffledHashJoin building the fresh aggregate; nothing broadcast-nested."""
    captured = state_plans(marker)
    run(edges_df(spark, pairs))
    _assert_plan_shape(captured, state_cols)


@pytest.mark.parametrize(
    "run, state_cols", [(_run_pagerank, PAGERANK_STATE), (_run_ppr, PPR_STATE)],
    ids=["pagerank", "ppr"],
)
def test_steady_pagerank_superstep_has_one_exchange(spark, state_plans, run, state_cols):
    """A steady PageRank/PPR superstep on p >= 2 partitions shuffles once:
    the gathered contributions to their destination. Neither the state nor
    the edges move."""
    captured = state_plans("gathered")
    run(edges_df(spark, G6), num_partitions=3)
    nodes = _assert_plan_shape(captured, state_cols)
    assert len(_exchanges(nodes)) == 1, _exchanges(nodes)


@pytest.mark.parametrize(
    "run, marker, state_cols, exchanges",
    [
        (_run_cc, "nbr_component", ["id", "component"], 1),
        (_run_lpa, "new_label", ["id", "label"], 2),
    ],
    ids=["cc", "lpa"],
)
def test_first_cc_lpa_superstep_shuffles_as_a_steady_one(
    spark, state_plans, run, marker, state_cols, exchanges
):
    """On p >= 2 partitions the first CC/LPA superstep shuffles what a
    steady one does and never the state: CC the gathered minimum labels to
    their source (one ``Exchange``), LPA the (src, label) counts and then
    their per-id mode (two). The initial state, ``id`` aliased as the
    label, is a leaf keyed on ``id``, and the static edge table reports its
    partitioning before its first read."""
    captured = state_plans(marker)
    run(edges_df(spark, TWO_CLIQUES_BRIDGED), num_partitions=3)
    _assert_plan_shape(captured, state_cols)
    for which, plan in (("first", captured[0]), ("steady", captured[-1])):
        nodes = list(_walk(plan))
        assert len(_exchanges(nodes)) == exchanges, (which, _exchanges(nodes))
        for path in (p for n in nodes for p in _paths_to_state_scans(n, state_cols)
                     if "Join" in _name(n)):
            assert "Exchange" not in path and "Sort" not in path, (which, path)


def test_plan_shape_holds_with_aqe_on_for_the_loop(spark, state_plans, monkeypatch):
    """Above ``AQE_OFF_MAX_ROWS`` the loop runs with AQE on and the
    session's shuffle partitions; the state write still plans with AQE off
    on ``p`` partitions, so its leaf reports its partitioning, and the
    result equals the local twin's."""
    from cassovary_spark.operators import pagerank
    from cassovary_spark.plans import layout

    monkeypatch.setattr(layout, "AQE_OFF_MAX_ROWS", 0)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    e = edges_df(spark, G6)
    captured = state_plans("gathered")
    dist = pagerank(e, max_iterations=10, tolerance=0.0, engine="distributed", num_partitions=3)
    nodes = _assert_plan_shape(captured, PAGERANK_STATE)
    assert len(_exchanges(nodes)) == 1, _exchanges(nodes)
    local = pagerank(e, max_iterations=10, tolerance=0.0, engine="local")
    want = {r["id"]: r["pagerank"] for r in local.ranks.collect()}
    got = {r["id"]: r["pagerank"] for r in dist.ranks.collect()}
    assert got.keys() == want.keys()
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-12)


def test_superstep_after_a_checkpoint_save_reads_the_state_in_place(spark, state_plans, tmp_path):
    """A ``CheckpointStore`` save leaves the state in memory: the next
    superstep reads the leaf with no exchange."""
    from cassovary_spark.checkpoint import CheckpointStore

    captured = state_plans("gathered")
    store = CheckpointStore(str(tmp_path))
    _run_pagerank(edges_df(spark, G6), checkpoint=store, num_partitions=3)
    assert store.complete_iterations() == [1, 2, 3]
    nodes = _assert_plan_shape(captured, PAGERANK_STATE)
    state_paths = [p for n in nodes for p in _paths_to_state_scans(n, PAGERANK_STATE)
                   if "Join" in _name(n)]
    for path in state_paths:
        assert "Exchange" not in path, f"the state is exchanged: {path}"
    assert len(_exchanges(nodes)) == 1, _exchanges(nodes)


@pytest.fixture
def state_writes(monkeypatch):
    """Spy on keyed ``Superstep.write`` calls: ``.writes`` receives
    ``(schema, key, leaf RDD id, leaf sizeInBytes)`` per write, and
    ``.check(writes)``, when set, runs as each write returns."""
    from cassovary_spark.superstep import Superstep

    orig = Superstep.write

    def spy(self, df, *a, bucket_by="id", **k):
        out, got = orig(self, df, *a, bucket_by=bucket_by, **k)
        if bucket_by is not None:
            qe = out._jdf.queryExecution()
            spy.writes.append((
                out.schema.simpleString(), bucket_by, qe.logical().rdd().id(),
                qe.optimizedPlan().stats().sizeInBytes(),
            ))
            if spy.check is not None:
                spy.check(spy.writes)
        return out, got

    spy.writes, spy.check = [], None
    monkeypatch.setattr(Superstep, "write", spy)
    return spy


def test_state_statistics_stay_fixed_across_supersteps(spark, state_writes):
    """The state leaf reports the same ``sizeInBytes`` after superstep 1 as
    after superstep 5: a checkpoint that kept its origin statistics would
    multiply them with every superstep's joins."""
    from cassovary_spark.operators import pagerank

    pagerank(edges_df(spark, G6), max_iterations=5, tolerance=0.0, engine="distributed")
    sizes = [w[3] for w in state_writes.writes]
    assert len(sizes) == 6  # the initial write, then one per superstep
    assert sizes[1] == sizes[5], sizes


def _eight_supersteps():
    from cassovary_spark import operators as O

    return {
        "pagerank": lambda e: O.pagerank(
            e, max_iterations=8, tolerance=0.0, engine="distributed"
        ),
        "hits": lambda e: O.hits(e, max_iterations=8, tolerance=0.0, engine="distributed"),
    }


@pytest.mark.parametrize("op", sorted(_eight_supersteps()))
def test_at_most_two_live_state_leaves(spark, state_writes, op):
    """After every state write, each (schema, key) has at most two live
    leaves: the one just written and the one it read. None is live once
    the run returns."""
    sc = spark.sparkContext

    def check(writes):
        live = set(sc._jsc.getPersistentRDDs().keys())
        per_kind = Counter((schema, key) for schema, key, rdd, _ in writes if rdd in live)
        assert max(per_kind.values()) <= 2, per_kind

    state_writes.check = check
    res = _eight_supersteps()[op](edges_df(spark, G6))
    assert res.iterations == 8
    leaves = {w[2] for w in state_writes.writes}
    assert len(leaves) > 8
    assert leaves & set(sc._jsc.getPersistentRDDs().keys()) == set(), "leaves left live"


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
        "bfs_events": lambda e: O.bfs(e, _seeds(e), engine="distributed", events=True),
        "multi_source_bfs": lambda e: O.multi_source_bfs(
            e, e.select(e.src.alias("source")).distinct()
        ),
        "all_paths_walk": lambda e: O.all_paths_walk(e, _seeds(e), 3),
        "all_paths_walk_events": lambda e: O.all_paths_walk(e, _seeds(e), 3, events=True),
        "random_walk_events": lambda e: O.random_walk_events(
            e, _seeds(e), num_steps=3, engine="distributed"
        ),
        "random_walk_visits": lambda e: O.random_walk_visits(
            e, _seeds(e), num_steps=3, engine="distributed"
        ),
    }


# the call that raises, and which one: the 2nd state write by default;
# for the BFS loops the 3rd state roundtrip, after the first level is
# written (their persisted adjacency is only materialized by that write);
# for the loops that checkpoint their levels instead, the 2nd local
# checkpoint
FAIL_AT = {
    "bfs": ("roundtrip", 3),
    "bfs_events": ("roundtrip", 3),
    "multi_source_bfs": ("roundtrip", 3),
    "all_paths_walk": ("localCheckpoint", 2),
    "all_paths_walk_events": ("localCheckpoint", 2),
    "random_walk_events": ("localCheckpoint", 2),
    "random_walk_visits": ("localCheckpoint", 2),
}


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
    from cassovary_spark.superstep import Superstep

    e = edges_df(spark, G6)
    rdds0, views0, scratch0 = _session_residue(spark)
    method, fail_at = FAIL_AT.get(op, ("write", 2))
    owner = {"write": Superstep, "roundtrip": StateScratch}.get(method, type(e))
    orig = getattr(owner, method)
    calls = []

    def failing(self, *a, **k):
        calls.append(1)
        if len(calls) == fail_at:
            raise RuntimeError("injected superstep failure")
        return orig(self, *a, **k)

    monkeypatch.setattr(owner, method, failing)
    with pytest.raises(RuntimeError, match="injected superstep failure"):
        _leak_cases()[op](e)
    rdds1, views1, scratch1 = _session_residue(spark)
    assert rdds1 - rdds0 == set(), "persisted frames leaked"
    assert views1 - views0 == set(), "temp views leaked"
    assert scratch1 - scratch0 == set(), "scratch tables leaked"


# operators whose result is more than one frame, each its own checkpoint
RESULT_FRAMES = {"bipartite": 2}


@pytest.mark.parametrize("op", sorted(_leak_cases()))
def test_successful_superstep_leaves_only_its_result(spark, op):
    """A distributed run that returns leaves at most one new persistent RDD
    per result frame (the result's checkpoint) and no temp view or scratch
    table."""
    e = edges_df(spark, G6)
    rdds0, views0, scratch0 = _session_residue(spark)
    _leak_cases()[op](e)
    rdds1, views1, scratch1 = _session_residue(spark)
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    try:
        assert len(rdds1 - rdds0) <= RESULT_FRAMES.get(op, 1), "persisted frames left"
        assert views1 - views0 == set(), "temp views left"
        assert scratch1 - scratch0 == set(), "scratch tables left"
    finally:
        for rdd_id in rdds1 - rdds0:
            persistent.get(rdd_id).unpersist(False)


def test_failed_bucketed_state_write_reaches_the_caller(spark, monkeypatch):
    """A keyed state leaf that cannot be built raises: the run does not go
    on with a catalog table or plain-parquet state, and writes neither.
    Here the local checkpoint comes back without its ``LogicalRDD``, as if
    the private API it relies on had changed."""
    from cassovary_spark.operators import pagerank

    cls = type(spark.range(1))
    monkeypatch.setattr(cls, "localCheckpoint", lambda self, *a, **k: self)
    writes = []
    writer = type(spark.range(1).write)
    for method in ("parquet", "saveAsTable", "insertInto"):
        monkeypatch.setattr(writer, method, lambda *a, _m=method, **k: writes.append(_m))
    tables = {t.name for t in spark.catalog.listTables()}
    with pytest.raises(Py4JError):
        pagerank(edges_df(spark, G6), max_iterations=3, engine="distributed")
    assert writes == []
    assert {t.name for t in spark.catalog.listTables()} == tables


def test_state_scratch_frees_its_exit_hook(spark, monkeypatch):
    """Each state scratch unregisters its exit hook when its run closes it,
    so no hook keeps a finished run's scratch alive. (Counting hooks with
    ``atexit._ncallbacks()`` cannot show this on Python 3.11: an
    unregistered hook leaves an empty slot that is still counted.)"""
    import gc
    import weakref

    from cassovary_spark import operators as O
    from cassovary_spark.checkpoint import StateScratch

    made = []
    orig = StateScratch.__init__

    def init(self, *a, **k):
        orig(self, *a, **k)
        made.append(weakref.ref(self))

    monkeypatch.setattr(StateScratch, "__init__", init)
    e = edges_df(spark, G6)
    O.pagerank(e, max_iterations=2, engine="distributed")
    O.bfs(e, [10], engine="distributed")
    gc.collect()
    assert len(made) == 2
    assert [r for r in made if r() is not None] == [], "a closed scratch is still held"


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
