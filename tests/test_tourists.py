"""Tourists (event-log collectors) + random_walk_events + dfs_times vs
pure-Python oracles mirroring graph/tourist/*.scala and Traverser.scala DFS."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cassovary_spark.operators import (
    dfs_times,
    info_keeper,
    paths_counter,
    prev_nbr_counter,
    random_walk_events,
    visits_counter,
)
from tests.conftest import G6, edges_df

# a cycle through a NEGATIVE vertex id: -1 is a real predecessor of 5, never
# a stand-in for a null ``prev``
NEG_CYCLE = [(-1, 5), (5, 6), (6, -1)]


def _spy_transfers(monkeypatch) -> list:
    """Records each call into the local engine's edge transfer, so a test
    can tell which route an ``engine='auto'`` call took."""
    from cassovary_spark.operators import local_engine as LE

    calls: list = []
    orig = LE.edges_to_numpy

    def spy(edges):
        calls.append(1)
        return orig(edges)

    monkeypatch.setattr(LE, "edges_to_numpy", spy)
    return calls


def test_walk_events_shape_and_consistency(spark):
    e = edges_df(spark, G6)
    ev = random_walk_events(
        e, start_nodes=[10], num_steps=5, reset_prob=0.2, num_walkers=7,
        seed=3, track_paths=True,
    )
    rows = ev.collect()
    # one event per walker per step (including step 0)
    assert len(rows) == 7 * 6
    by_walker: dict[int, dict[int, object]] = {}
    for r in rows:
        by_walker.setdefault(r["walker"], {})[r["step"]] = r
    adj: dict[int, set[int]] = {}
    for s, d in G6:
        adj.setdefault(s, set()).add(d)
    for w, steps in by_walker.items():
        assert steps[0]["id"] == 10 and steps[0]["prev"] is None
        assert list(steps[0]["path"]) == [10]
        for k in range(1, 6):
            cur, prev = steps[k]["id"], steps[k]["prev"]
            if prev is None:  # reset (or dangling) -> home
                assert cur == 10
                assert list(steps[k]["path"]) == [10]
            else:
                assert prev == steps[k - 1]["id"]
                assert cur in adj.get(prev, set())
                assert list(steps[k]["path"]) == list(steps[k - 1]["path"]) + [cur]


def test_tourist_aggregations_match_oracle(spark):
    ev = spark.createDataFrame(
        [
            # walker, step, id, prev, path
            (0, 0, 1, None, [1]),
            (0, 1, 2, 1, [1, 2]),
            (0, 2, 3, 2, [1, 2, 3]),
            (1, 0, 1, None, [1]),
            (1, 1, 2, 1, [1, 2]),
            (1, 2, 2, 2, [1, 2, 2]),
            (2, 0, 2, None, [2]),
            (2, 1, 3, 2, [2, 3]),
            (2, 2, 1, 3, [2, 3, 1]),
        ],
        "walker long, step long, id long, prev long, path array<long>",
    )
    v = {r["id"]: r["visits"] for r in visits_counter(ev).collect()}
    assert v == {1: 3, 2: 4, 3: 2}
    # ordering: count desc, id asc
    ordered = [r["id"] for r in visits_counter(ev).collect()]
    assert ordered == [2, 1, 3]

    pn = {r["id"]: list(r["prev_nbrs"]) for r in prev_nbr_counter(ev, k=1).collect()}
    assert pn == {2: [1], 3: [2], 1: [3]}

    pc = {r["id"]: [list(p) for p in r["paths"]] for r in paths_counter(ev, k=2).collect()}
    assert pc[2] == [[1, 2], [1, 2, 2]] or pc[2] == [[1, 2], [2]]
    # exactly: counts are [1,2]x2, [1,2,2]x1, [2]x1 -> top2 = [1,2] then lexicographic min of ties
    assert pc[2][0] == [1, 2]

    first = {r["id"]: r["step"] for r in info_keeper(ev, "step", first=True).collect()}
    assert first == {1: 0, 2: 0, 3: 1}
    last = {r["id"]: r["step"] for r in info_keeper(ev, "step", first=False).collect()}
    assert last == {1: 2, 2: 2, 3: 2}


def dfs_oracle(edges, seeds, max_depth=None):
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    for v in adj.values():
        v.sort()
    disc, fin = {}, {}
    clock = 0

    def visit(u, depth):
        nonlocal clock
        disc[u] = clock
        clock += 1
        if max_depth is None or depth < max_depth:
            for nbr in adj.get(u, []):
                if nbr not in disc:
                    visit(nbr, depth + 1)
        fin[u] = clock
        clock += 1

    for s in seeds:
        if s not in disc:
            visit(s, 0)
    return disc, fin


@pytest.mark.parametrize("max_depth", [None, 2])
def test_dfs_times_matches_oracle(spark, max_depth):
    random.seed(5)
    edges = list({(random.randrange(12), random.randrange(12)) for _ in range(40)})
    edges = [(s, d) for s, d in edges if s != d]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = [0, 5]
    got = {r["id"]: (r["discovery"], r["finish"]) for r in dfs_times(e, seeds, max_depth).collect()}
    disc, fin = dfs_oracle(edges, seeds, max_depth)
    assert got == {k: (disc[k], fin[k]) for k in disc}


def test_walk_events_feed_visits_counter_equals_random_walk_visits(spark):
    from cassovary_spark.operators import random_walk_visits

    e = edges_df(spark, G6)
    kw = dict(start_nodes=[10, 11], num_steps=4, reset_prob=0.3, num_walkers=9, seed=11)
    ev = random_walk_events(e, **kw)
    v1 = {r["id"]: r["visits"] for r in visits_counter(ev).collect()}
    v2 = {r["id"]: r["visits"] for r in random_walk_visits(e, **kw).collect()}
    assert v1 == v2


def _md5_uniform(tag: str, walker: int, step: int, seed: int) -> float:
    """Exact Python mirror of operators/traversals._walk_uniform."""
    import hashlib

    h = hashlib.md5(f"{tag}|{walker}|{step}|{seed}".encode()).hexdigest()
    return int(h[:13], 16) / float(16**13)


def _oracle_walk(edge_list, start_nodes, num_steps, reset_prob, num_walkers, seed):
    """Sequential simulation of the md5-hash walker RNG — bit-exact twin of
    random_walk_visits/random_walk_events."""
    adj: dict[int, list[int]] = {}
    for s, d in edge_list:
        adj.setdefault(s, []).append(d)
    for k in adj:
        adj[k] = sorted(adj[k])
    events = []
    for w in range(num_walkers):
        home = start_nodes[w % len(start_nodes)]
        cur = home
        events.append((w, 0, cur, None))
        for step in range(num_steps):
            r = _md5_uniform("r", w, step, seed)
            nbrs = adj.get(cur)
            if r < reset_prob or not nbrs:
                prev, cur = None, home
            else:
                idx = int(_md5_uniform("n", w, step, seed) * len(nbrs))
                prev, cur = cur, nbrs[idx]
            events.append((w, step + 1, cur, prev))
    return events


@pytest.mark.parametrize("engine", ["local", "distributed", "auto"])
def test_walk_events_exact_oracle(spark, monkeypatch, engine):
    transfers = _spy_transfers(monkeypatch)
    for pairs, starts in ((G6, [10, 11]), (NEG_CYCLE, [-1])):
        e = edges_df(spark, pairs)
        got = {
            (r["walker"], r["step"], r["id"], r["prev"])
            for r in random_walk_events(
                e, start_nodes=starts, num_steps=6, reset_prob=0.25,
                num_walkers=9, seed=17, engine=engine,
            ).collect()
        }
        want = set(_oracle_walk(pairs, starts, 6, 0.25, 9, 17))
        assert got == want, pairs
    assert any(prev == -1 for *_, prev in want), "the walk never left -1"
    # auto takes the twin on both graphs, the negative-id one included
    assert len(transfers) == {"distributed": 0}.get(engine, 2)


@pytest.mark.parametrize("engine", ["local", "distributed"])
def test_walk_visits_exact_oracle_and_partition_independence(spark, engine):
    from cassovary_spark.operators import random_walk_visits
    from collections import Counter

    e = edges_df(spark, G6)
    got = {
        r["id"]: r["visits"]
        for r in random_walk_visits(
            e, [10], num_steps=5, reset_prob=0.3, num_walkers=11, seed=29,
            engine=engine,
        ).collect()
    }
    want = Counter(ev[2] for ev in _oracle_walk(G6, [10], 5, 0.3, 11, 29))
    assert got == dict(want)
    # partitioning must not change a single draw
    got2 = {
        r["id"]: r["visits"]
        for r in random_walk_visits(
            e.repartition(5), [10], num_steps=5, reset_prob=0.3,
            num_walkers=11, seed=29, num_partitions=3, engine=engine,
        ).collect()
    }
    assert got2 == got


def test_bfs_events_oracle_and_prev_nbr(spark, monkeypatch):
    """bfs(events=True) emits one row per edge relaxation + seed rows; the
    python oracle mirrors the visit-once frontier expansion exactly, on
    every engine and with negative vertex ids."""
    from collections import Counter

    from cassovary_spark.operators import bfs

    def oracle(edge_list, seeds, max_depth=None, max_degree=None):
        adj: dict[int, list[int]] = {}
        for s, d in edge_list:
            adj.setdefault(s, []).append(d)
        outdeg = {k: len(v) for k, v in adj.items()}
        seeds = sorted(set(seeds))
        present = {x for e in edge_list for x in e}
        events = Counter((0, s, None) for s in seeds)
        frontier = [s for s in seeds if s in present]
        seen = set(frontier)
        depth = 0
        while frontier and (max_depth is None or depth < max_depth):
            nxt = set()
            any_edge = False
            for u in frontier:
                if max_degree is not None and outdeg.get(u, 0) > max_degree:
                    continue
                for v in adj.get(u, []):
                    any_edge = True
                    events[(depth + 1, v, u)] += 1
                    if v not in seen:
                        nxt.add(v)
            if not any_edge:
                break
            depth += 1
            seen |= nxt
            frontier = sorted(nxt)
        return events

    cases = [(G6, [10, 777], kw) for kw in ({}, {"max_depth": 1}, {"max_degree": 2})]
    cases.append((NEG_CYCLE, [-1], {}))
    assert oracle(NEG_CYCLE, [-1])[(1, 5, -1)] == 1
    transfers = _spy_transfers(monkeypatch)
    for engine in ("local", "distributed", "auto"):
        for pairs, seeds, kwargs in cases:
            ev = bfs(edges_df(spark, pairs), seeds, engine=engine, events=True, **kwargs)
            got = Counter(
                (r["step"], r["id"], r["prev"]) for r in ev.collect()
            )
            assert got == oracle(pairs, seeds, **kwargs), (engine, pairs, kwargs)
    # local and auto take the twin on every case, the negative-id one included
    assert len(transfers) == 2 * len(cases)


def test_all_paths_events_weighted_tourists(spark):
    from cassovary_spark.operators import all_paths_walk, prev_nbr_counter, visits_counter

    e = edges_df(spark, G6)
    ev = all_paths_walk(e, [10], max_depth=3, events=True)
    # weighted visits == plain all_paths_walk visits
    vis = {r["id"]: r["visits"] for r in visits_counter(ev, weight_col="cnt").collect()}
    plain = {r["id"]: r["visits"] for r in all_paths_walk(e, [10], max_depth=3).collect()}
    assert vis == plain
    # prev-nbr oracle: count last-hop path frequencies by hand
    adj: dict[int, list[int]] = {}
    for s, d in G6:
        adj.setdefault(s, []).append(d)
    level = {10: 1}
    hop: dict[tuple[int, int], int] = {}
    for _ in range(3):
        nxt: dict[int, int] = {}
        for u, c in level.items():
            for v in adj.get(u, []):
                nxt[v] = nxt.get(v, 0) + c
                hop[(v, u)] = hop.get((v, u), 0) + c
        level = nxt
    want = {}
    for (v, u), c in hop.items():
        want.setdefault(v, []).append((-c, u))
    want = {v: [u for _, u in sorted(lst)[:3]] for v, lst in want.items()}
    got = {
        r["id"]: list(r["prev_nbrs"])
        for r in prev_nbr_counter(ev, k=3, weight_col="cnt").collect()
    }
    assert got == want
