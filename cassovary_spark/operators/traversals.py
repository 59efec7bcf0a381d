"""Traversals and walks: BFS frontiers, all-paths walks, random walks,
Monte-Carlo and exact personalized PageRank.

Reference semantics:
- BreadthFirstTraverser (graph/Traverser.scala:426-450): FIFO visit-once BFS
  from a seed set recording first-visit depth; limits maxDepth and maxDegree
  (a node whose out-degree exceeds maxDegree is visited but NOT expanded,
  Walk.Limits, :202-205).
- AllPathsWalk (graph/Traverser.scala:463-478): BFS-order walk with unlimited
  revisits — per-node visit multiplicity.
- RandomBoundedTraverser (graph/Traverser.scala:75-136): fixed-step random
  walk with reset probability, seeded.
- GraphUtils.calculatePersonalizedReputation (graph/GraphUtils.scala:142-154):
  visit counts of a reset random walk ~ personalized PageRank.

Scale design: every traversal is a frontier DataFrame advanced by a
co-partitioned join against the stationary edge table; ``visited`` state is a
cumulative DataFrame, lineage cut each level. Random walks keep one row per
walker (millions of walkers = one modest DataFrame) and sample neighbors
JVM-side via md5-derived uniforms over grouped adjacency arrays (see
``_walk_uniform``) — no per-row Python, reproducible under any partitioning.
Every distributed traversal runs inside one ``superstep.Superstep``: it takes
its partition count from it, persists its adjacency, writes its levels and
checkpoints its steps through it, and returns a materialized result, so the
run frees everything else on failure as well as on success. Exact
personalized PageRank is ``pagerank``'s power
iteration (operators/pagerank.py) with a seed teleport; this module only
validates its seeds and names its output column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassovary_spark.checkpoint import materialize
from cassovary_spark.graph import out_degrees
from cassovary_spark.operators.pagerank import _power_iteration
from cassovary_spark.superstep import Superstep, choose_engine


def _seed_df(spark, seeds) -> DataFrame:
    # de-duplicated: a repeated seed must not yield duplicate frontier rows
    # (bfs output is one (id, depth) per id)
    uniq = sorted({int(s) for s in seeds})
    return spark.createDataFrame([(s,) for s in uniq], "id long")


def _union_all(dfs) -> DataFrame:
    """Lazy union of file-backed level frames (linear, additive stats)."""
    from functools import reduce

    return reduce(lambda a, b: a.union(b), dfs)


def _local_event_log(spark, cols: dict, schema: str) -> DataFrame:
    """An event log from a numpy twin, as one Arrow table: the twin's
    ``prev`` is a masked array whose mask is the null ``prev`` rows, so
    every vertex id, negative ones included, stays a real predecessor."""
    import pyarrow as pa

    from cassovary_spark.operators import local_engine as LE

    return LE.arrow_result_df(spark, pa.table(cols), schema)


def bfs(
    edges: DataFrame,
    seeds: list[int],
    max_depth: int | None = None,
    max_degree: int | None = None,
    num_partitions: int | None = None,
    engine: str = "auto",
    events: bool = False,
) -> DataFrame:
    """Visit-once BFS; returns ``(id, depth)`` of first visit.

    ``max_degree``: hub nodes (out-degree > max_degree) are visited but not
    expanded, matching Walk.Limits semantics (graph/Traverser.scala:96-99).

    ``events=True`` returns the EVENT LOG instead: one ``(step, id, prev)``
    row per edge relaxation — a frontier node u at depth d scanning edge
    u->v emits (d+1, v, u) whether or not v is newly visited (the
    reference's PrevNbrCounter records every previous-neighbor encounter on
    a bfsWalk, graph/GraphUtils.scala:46-67) — plus (0, seed, null) rows, so
    ``tourists.prev_nbr_counter`` / ``visits_counter`` compose with batch
    BFS exactly as with random walks.
    """
    spark = edges.sparkSession
    route, m = choose_engine(edges, engine)
    if route == "local":
        from cassovary_spark.operators import local_engine as LE

        ids, si, di = LE.edges_to_numpy(edges)
        out = LE.bfs_numpy(ids, si, di, seeds, max_depth, max_degree, events)
        if events:
            steps, eids, prevs = out
            return _local_event_log(
                spark,
                {"step": steps.astype("int32"), "id": eids, "prev": prevs},
                "step int, id long, prev long",
            )
        out_ids, out_depths = out
        return LE.result_df(
            spark, out_ids, {"depth": out_depths.astype("int32")}, "id long, depth int"
        )

    adj = edges.select("src", "dst")
    if max_degree is not None:
        hubs = out_degrees(edges).filter(F.col("out_degree") > max_degree)
        adj = adj.join(
            hubs.withColumnRenamed("id", "src"), "src", "left_anti"
        )
    seed_frontier = _seed_df(spark, seeds).withColumn("depth", F.lit(0))
    with Superstep(spark, m, num_partitions) as ss:
        return _frontier_levels(ss, adj, seed_frontier, [], max_depth, events)


def multi_source_bfs(
    edges: DataFrame, sources: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """All-sources-simultaneous BFS. ``sources`` is a ``(source)`` DataFrame;
    returns ``(source, id, depth)`` — one frontier join per level total, not
    per source."""
    spark = edges.sparkSession
    m = choose_engine(edges, "distributed")[1]
    with Superstep(spark, m, num_partitions) as ss:
        seed_frontier = (
            sources.select("source", F.col("source").alias("id"))
            .dropDuplicates(["source"])
            .withColumn("depth", F.lit(0))
            .repartition(ss.p, "id")
        )
        return _frontier_levels(
            ss, edges.select("src", "dst"), seed_frontier, ["source"], None, False,
            repartition_levels=True,
        )


def _frontier_levels(
    ss: Superstep, adj: DataFrame, frontier: DataFrame, keys: list[str],
    max_depth: int | None, events: bool, repartition_levels: bool = False,
) -> DataFrame:
    """The visit-once frontier loop of ``bfs`` (``keys=[]``) and
    ``multi_source_bfs`` (``keys=["source"]``): one BFS per distinct
    ``keys`` value, all advanced by one join per level. ``frontier`` is the
    seed level ``(*keys, id, depth=0)``; returns the union of every level,
    or with ``events`` the relaxation log ``(step, *keys, id, prev)``,
    materialized. ``repartition_levels`` hash-partitions each new level on
    ``id`` into ``ss.p`` partitions before its write."""
    adj = ss.persist(adj, "src")
    # Frontier state resets per level via parquet (Superstep.write): the next
    # frontier's plan references frontier x adj x visited, so inherited
    # stats would multiply per level (checkpoint.materialize CAUTION).
    # ``visited`` is the lazy UNION of the per-level files — levels are
    # written once and never rewritten, so state writes total O(V), not
    # O(V * depth) as a rewrite-visited-per-level loop would cost. Plain
    # parquet writes, not keyed leaves (freed two writes later): files must
    # outlive the whole walk.
    frontier, _ = ss.write(frontier, bucket_by=None)
    levels = [frontier]
    ev_frames = [
        frontier.select(
            F.lit(0).alias("step"), *keys, "id", F.lit(None).cast("long").alias("prev")
        )
    ]
    vbase = [frontier.select(*keys, "id")]
    visited = _union_all(vbase)
    depth = 0
    while max_depth is None or depth < max_depth:
        expand = frontier.join(adj, frontier.id == adj.src)
        if events:
            # per-level relaxation log, written once (same per-level-file
            # pattern as the frontier itself); the next frontier derives
            # from it so the expansion join runs once either way
            relax, _ = ss.write(
                expand.select(
                    F.lit(depth + 1).alias("step"),
                    *keys,
                    F.col("dst").alias("id"),
                    F.col("src").alias("prev"),
                ),
                bucket_by=None,
            )
            ev_frames.append(relax)
            nxt_ids = relax.select(*keys, "id")
        else:
            nxt_ids = expand.select(*keys, F.col("dst").alias("id"))
        nxt = (
            nxt_ids
            .distinct()
            .join(visited, [*keys, "id"], "left_anti")
            .withColumn("depth", F.lit(depth + 1))
        )
        if repartition_levels:
            nxt = nxt.repartition(ss.p, "id")
        nxt, got = ss.write(nxt, F.count(F.lit(1)).alias("n"), bucket_by=None)
        if got["n"] == 0:
            break
        levels.append(nxt)
        vbase.append(nxt.select(*keys, "id"))
        # periodic compaction bounds BOTH costs: visited rewrites are
        # O(V * depth / 8) and the per-level anti-join scans <= 9 files —
        # a pure lazy union degrades to O(depth^2) scans on deep-narrow
        # graphs, a rewrite-per-level to O(V * depth) writes on wide ones
        if len(vbase) > 8:
            vbase = [ss.write(_union_all(vbase), bucket_by=None)[0]]
        visited = _union_all(vbase)
        frontier = nxt
        depth += 1
    return materialize(_union_all(ev_frames if events else levels))


def all_paths_walk(
    edges: DataFrame, seeds: list[int], max_depth: int, num_partitions: int | None = None,
    events: bool = False,
) -> DataFrame:
    """BFS-order walk with unlimited revisits (graph/Traverser.scala:463-478).

    Returns ``(id, visits)`` — the number of distinct paths of length <=
    max_depth from the seed set reaching each node (seed visit included).
    Level frequencies: f_0 = 1 on seeds; f_{k+1}(v) = sum_{u->v} f_k(u).

    ``events=True`` returns the WEIGHTED event log ``(step, id, prev, cnt)``
    instead: cnt = number of length-``step`` paths reaching ``id`` whose last
    hop was prev->id (prev null, cnt 1 on the step-0 seed rows). This is the
    input ``GraphUtils.allPathsWalk`` feeds its PrevNbrCounter
    (graph/GraphUtils.scala:46-67): ``tourists.prev_nbr_counter(ev,
    weight_col='cnt')`` yields the top previous neighbors, and
    ``visits_counter(ev, weight_col='cnt')`` the visit counts — a per-path
    (unweighted) log would be combinatorially large; the weighted form is
    the scale-safe equivalent.
    """
    spark = edges.sparkSession
    m = choose_engine(edges, "distributed")[1]
    with Superstep(spark, m, num_partitions) as ss:
        adj = ss.persist(edges.select("src", "dst"), "src")
        # levels checkpointed once each; the total is a lazy union at the end —
        # no per-level rewrite of the accumulated counts
        level = ss.local_checkpoint(
            _seed_df(spark, seeds).withColumn("cnt", F.lit(1).cast("long"))
        )
        levels = [level]
        ev_frames = [
            level.select(
                F.lit(0).alias("step"), "id",
                F.lit(None).cast("long").alias("prev"), "cnt",
            )
        ]
        for step in range(1, max_depth + 1):
            expand = level.join(adj, level.id == adj.src)
            if events:
                hops = ss.local_checkpoint(
                    expand.groupBy(F.col("dst").alias("id"), F.col("src").alias("prev"))
                    .agg(F.sum("cnt").alias("cnt"))
                )
                if hops.isEmpty():
                    break
                ev_frames.append(
                    hops.select(F.lit(step).alias("step"), "id", "prev", "cnt")
                )
                level = ss.local_checkpoint(hops.groupBy("id").agg(F.sum("cnt").alias("cnt")))
            else:
                level = ss.local_checkpoint(
                    expand.groupBy(F.col("dst").alias("id"))
                    .agg(F.sum("cnt").alias("cnt"))
                )
                if level.isEmpty():
                    break
            levels.append(level)
        if events:
            return materialize(_union_all(ev_frames))
        return materialize(_union_all(levels).groupBy("id").agg(F.sum("cnt").alias("visits")))


def _adjacency_lists(edges: DataFrame, p: int) -> DataFrame:
    """Grouped adjacency ``(src, nbrs array<long>)`` — the per-vertex CSR row.
    Sorted for determinism (NeighborsSortingStrategy analog,
    graph/ArrayBasedDirectedGraph.scala:42-48)."""
    return (
        edges.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .repartition(p, "src")
    )


# walks' local twin holds the whole (walker, step) event log in driver memory
WALK_LOCAL_MAX_EVENTS = 5_000_000


def _walk_route(edges, num_walkers: int, num_steps: int, engine: str):
    """``choose_engine`` for a walk: the in-memory twin also needs a bounded
    event-log size."""
    return choose_engine(
        edges, engine, local_ok=num_walkers * (num_steps + 1) <= WALK_LOCAL_MAX_EVENTS
    )


def _walk_uniform(tag: str, step: int, seed: int):
    """Deterministic U[0,1) for walker draws: md5 of "tag|walker|step|seed".

    md5 (not xxhash64/rand) so the SAME stream is reproducible in three
    places bit-for-bit: Spark (this expression), the pure-Python pytest
    oracle (hashlib.md5), and a DuckDB SQL oracle — and is independent of
    partitioning and parallelism, which rand(seed) is not (it seeds per
    partition). 13 hex chars = 52 bits, exact in a double.
    """
    h = F.md5(
        F.concat_ws(
            "|",
            F.lit(tag),
            F.col("walker").cast("string"),
            F.lit(str(step)),
            F.lit(str(seed)),
        )
    )
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("double") / F.lit(float(16**13))


def random_walk_visits(
    edges: DataFrame,
    start_nodes: list[int],
    num_steps: int,
    reset_prob: float = 0.0,
    num_walkers: int = 100,
    seed: int = 42,
    num_partitions: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Monte-Carlo bounded random walk (graph/Traverser.scala:75-136 analog).

    ``num_walkers`` walkers start uniformly over ``start_nodes`` and take
    ``num_steps`` synchronized steps; at each step a walker resets to its home
    node with probability ``reset_prob``, or moves to a uniformly random
    out-neighbor (dangling nodes reset). Neighbor choice is JVM-side:
    ``element_at(nbrs, 1 + floor(rand * size))`` over grouped adjacency —
    no Python in the loop. Returns ``(id, visits)`` counting every position
    including the start (total = num_walkers * (num_steps + 1)).

    The draws are md5-hash streams keyed (walker, step), so the local twin
    (small graphs, ``engine='auto'``) replays the identical walk.
    """
    if not start_nodes:
        raise ValueError("start_nodes must be non-empty")
    spark = edges.sparkSession

    route, m = _walk_route(edges, num_walkers, num_steps, engine)
    if route == "local":
        import numpy as np

        from cassovary_spark.operators import local_engine as LE

        ids, si, di = LE.edges_to_numpy(edges)
        _w, _s, cur, _p = LE.random_walk_events_numpy(
            ids, si, di, start_nodes, num_steps, reset_prob, num_walkers, seed
        )
        uniq, cnt = np.unique(cur, return_counts=True)
        return LE.result_df(
            spark, uniq, {"visits": cnt.astype(np.int64)}, "id long, visits long"
        )

    with Superstep(spark, m, num_partitions) as ss:
        events = _walk_steps(
            ss, edges, start_nodes, num_steps, reset_prob, num_walkers, seed, False
        )
        return materialize(events.groupBy("id").agg(F.count("*").alias("visits")))


def random_walk_events(
    edges: DataFrame,
    start_nodes: list[int],
    num_steps: int,
    reset_prob: float = 0.0,
    num_walkers: int = 100,
    seed: int = 42,
    track_paths: bool = False,
    num_partitions: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Bounded random walk emitting the full EVENT LOG instead of aggregated
    visit counts — one row per (walker, step) with the node visited, the
    previous node (null on starts/resets), and optionally the directed path
    from the walker's last reset (DirectedPathCollection semantics,
    graph/DirectedPathCollection.scala:7-31: reset restarts the path at home).

    Feed the result to ``tourists.visits_counter`` / ``prev_nbr_counter`` /
    ``paths_counter`` — the distributed analog of the reference's mutable
    tourist collectors riding a Traverser (graph/Traverser.scala:75-136,
    graph/GraphUtils.scala:106-130).

    Returns ``(walker, step, id, prev[, path])``.
    """
    if not start_nodes:
        raise ValueError("start_nodes must be non-empty")
    spark = edges.sparkSession

    # the twin records no paths
    route, m = _walk_route(
        edges, num_walkers, num_steps, "distributed" if track_paths else engine
    )
    if route == "local":
        from cassovary_spark.operators import local_engine as LE

        ids, si, di = LE.edges_to_numpy(edges)
        w, st, cur, prev = LE.random_walk_events_numpy(
            ids, si, di, start_nodes, num_steps, reset_prob, num_walkers, seed
        )
        return _local_event_log(
            spark,
            {"walker": w, "step": st.astype("int32"), "id": cur, "prev": prev},
            "walker long, step int, id long, prev long",
        )

    with Superstep(spark, m, num_partitions) as ss:
        return materialize(
            _walk_steps(
                ss, edges, start_nodes, num_steps, reset_prob, num_walkers, seed,
                track_paths,
            )
        )


def _walk_steps(
    ss: Superstep,
    edges: DataFrame,
    start_nodes: list[int],
    num_steps: int,
    reset_prob: float,
    num_walkers: int,
    seed: int,
    track_paths: bool,
) -> DataFrame:
    """The distributed walk shared by ``random_walk_visits`` and
    ``random_walk_events``: the lazy union of the per-step walker positions
    ``(walker, step, id, prev[, path])``, each step's walker table a local
    checkpoint of ``ss`` (read it before the run ends)."""
    spark = edges.sparkSession
    p = ss.p
    adj = ss.persist(_adjacency_lists(edges, p))
    homes = [int(start_nodes[i % len(start_nodes)]) for i in range(num_walkers)]
    walkers = spark.createDataFrame(
        [(i, h, h) for i, h in enumerate(homes)], "walker long, home long, cur long"
    )
    if track_paths:
        walkers = walkers.withColumn("path", F.array("cur"))
    walkers = walkers.repartition(p, "cur")

    def ev(df: DataFrame, step: int, prev_col) -> DataFrame:
        cols = [
            "walker",
            F.lit(step).alias("step"),
            F.col("cur").alias("id"),
            prev_col.alias("prev"),
        ]
        if track_paths:
            cols.append("path")
        return df.select(*cols)

    frames = [ev(walkers, 0, F.lit(None).cast("long"))]
    for step in range(num_steps):
        reset = (F.col("_r") < F.lit(reset_prob)) | F.col("nbrs").isNull()
        nxt = F.element_at(
            "nbrs",
            (F.floor(_walk_uniform("n", step, seed) * F.size("nbrs")).cast("int") + 1),
        )
        cols = [
            "walker",
            "home",
            F.when(reset, F.col("home")).otherwise(nxt).alias("cur"),
            F.when(reset, F.lit(None).cast("long"))
            .otherwise(F.col("cur"))
            .alias("_prev"),
        ]
        if track_paths:
            cols.append(
                F.when(reset, F.array("home"))
                .otherwise(F.concat("path", F.array(nxt)))
                .alias("path")
            )
        stepped = (
            walkers.join(adj, walkers.cur == adj.src, "left")
            .withColumn("_r", _walk_uniform("r", step, seed))
            .select(*cols)
            .repartition(p, "cur")
        )
        walkers = ss.local_checkpoint(stepped)
        frames.append(ev(walkers, step + 1, F.col("_prev")))
        walkers = walkers.drop("_prev")
    return _union_all(frames)


def dfs_times(
    edges: DataFrame, seeds: list[int], max_depth: int | None = None
) -> DataFrame:
    """Depth-first traversal with discovery/finish times
    (graph/Traverser.scala:487-538; DiscoveryAndFinishTimeTracker
    :577-618). Visit-once LIFO order, neighbors expanded in sorted order
    (NeighborsSortingStrategy analog); one shared clock ticks on each
    discovery and each finish; multiple seeds run in sequence on the same
    visited set.

    DFS is inherently sequential, so this runs the whole (small) graph in ONE
    Arrow batch via ``mapInPandas`` after a single-partition coalesce — a
    fixture-scale operator, exactly as sequential as the reference's own
    single-threaded traverser. Not for web-scale graphs (documented
    limitation; the distributed traversals above are the scale path).

    Returns ``(id, discovery, finish)``.
    """
    spark = edges.sparkSession
    seed_list = [int(s) for s in seeds]

    def run(batches):
        import pandas as pd

        adj: dict[int, list[int]] = {}
        for pdf in batches:
            for s, d in zip(pdf["src"], pdf["dst"]):
                adj.setdefault(int(s), []).append(int(d))
        for v in adj.values():
            v.sort()
        disc: dict[int, int] = {}
        fin: dict[int, int] = {}
        clock = 0
        for seed_node in seed_list:
            if seed_node in disc:
                continue
            # iterative DFS: stack of (node, neighbor iterator, depth)
            disc[seed_node] = clock
            clock += 1
            stack = [(seed_node, iter(adj.get(seed_node, [])), 0)]
            while stack:
                node, it, depth = stack[-1]
                advanced = False
                if max_depth is None or depth < max_depth:
                    for nbr in it:
                        if nbr not in disc:
                            disc[nbr] = clock
                            clock += 1
                            stack.append((nbr, iter(adj.get(nbr, [])), depth + 1))
                            advanced = True
                            break
                if not advanced:
                    fin[node] = clock
                    clock += 1
                    stack.pop()
        yield pd.DataFrame(
            {
                "id": pd.Series(list(disc.keys()), dtype="int64"),
                "discovery": pd.Series(
                    [disc[k] for k in disc], dtype="int64"
                ),
                "finish": pd.Series([fin[k] for k in disc], dtype="int64"),
            }
        )

    return (
        edges.select("src", "dst")
        .coalesce(1)
        .mapInPandas(run, schema="id long, discovery long, finish long")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    reset_prob: float = 0.15,
    max_iterations: int = 30,
    tolerance: float = 1e-8,
    num_partitions: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Exact personalized PageRank by power iteration (the deterministic
    counterpart of calculatePersonalizedReputation's Monte-Carlo estimate,
    graph/GraphUtils.scala:142-154).

    pr' = reset_prob * seed_indicator/|seeds|
          + (1-reset_prob) * (gather + dangling mass redistributed to seeds).
    Returns ``(id, score)`` summing to 1 over reachable vertices. This is
    ``pagerank``'s power iteration (operators/pagerank.py) with the teleport
    sent to the de-duplicated seeds instead of to every vertex.
    """
    if not seeds:
        raise ValueError("seeds must be non-empty")
    res = _power_iteration(
        edges, 1.0 - reset_prob, reset_prob, sorted({int(s) for s in seeds}),
        max_iterations, tolerance, num_partitions, engine,
    )
    return res.ranks.withColumnRenamed("pagerank", "score")
