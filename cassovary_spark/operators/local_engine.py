"""Adaptive single-node execution for small graphs (COST-aware engine choice).

Below ``superstep.local_edge_threshold()`` edges (the routing rule is
``superstep.choose_engine``), an iterative graph algorithm's
entire state fits in one task's memory and the distributed superstep
machinery (state round-trips, exchanges, task scheduling) is pure fixed cost
— measured ~0.5s/superstep at 319k edges where the actual arithmetic is
~1ms. The engine therefore collapses to ONE Arrow transfer of the edge list
plus a vectorized numpy power-iteration loop — which is exactly the
reference's own execution model (Cassovary is a single-node in-memory
library; algorithms/linkanalysis/PageRank.scala iterates over an in-memory
CSR), so this path is also the closest semantic mirror.

Recurrences here are line-for-line twins of the distributed operators
(operators/pagerank.py etc.) and are equality-tested against them
(tests/test_local_engine.py); all distributed-vs-local differences are
floating-point summation order, within fixture tolerance. As in the
distributed engine, PageRank and personalized PageRank are one power
iteration (``pagerank_numpy`` and ``ppr_numpy`` are its two entry points),
and ``bfs_numpy`` serves both outputs of ``bfs``; the twins share one
source-sorted CSR builder and one sorted-id lookup.

The distributed path remains the default above the threshold and can always
be forced with ``engine='distributed'`` — scale correctness does not ride on
this module.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def edges_to_numpy(edges: DataFrame):
    """One Arrow transfer of ``(src, dst)`` + dense index mapping.

    Returns (ids, si, di) where ids is the sorted distinct vertex array and
    si/di are the edge endpoints as positions into ids.

    ``toArrow()`` -> numpy skips the pandas DataFrame assembly (block
    consolidation + index) that ``toPandas`` pays — measured ~2x on the
    transfer at 6M edges (r6), which dominates the local engine's fixed
    cost."""
    tbl = edges.select("src", "dst").toArrow()
    src = tbl.column("src").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    dst = tbl.column("dst").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


# results larger than this round-trip through scratch parquet: a
# createDataFrame result compiles to a driver-side LocalTableScan that
# re-pays O(n) single-threaded row copying on EVERY action (measured
# ~2s/M rows/action at local[32]); a parquet-backed scan pays one ~ms
# driver write and then counts/joins at codegen speed
RESULT_SCRATCH_THRESHOLD = 50_000


def arrow_result_df(spark, tbl, schema: str) -> DataFrame:
    """DataFrame from a pyarrow Table, spilling through scratch parquet past
    RESULT_SCRATCH_THRESHOLD rows (the LocalTableScan-tax rule above)."""
    if tbl.num_rows < RESULT_SCRATCH_THRESHOLD:
        return spark.createDataFrame(tbl, schema=schema)

    import atexit
    import os
    import shutil
    import uuid

    import pyarrow.parquet as pq

    from cassovary_spark.session import _scratch_root

    out_dir = f"{_scratch_root()}/local_results/{os.getpid()}"
    os.makedirs(out_dir, exist_ok=True)
    if not getattr(arrow_result_df, "_cleanup_registered", False):
        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
        arrow_result_df._cleanup_registered = True
    path = f"{out_dir}/{uuid.uuid4().hex[:12]}.parquet"
    # multiple row groups so downstream scans parallelize
    pq.write_table(tbl, path, row_group_size=max(65_536, tbl.num_rows // 16))
    return spark.read.schema(schema).parquet(path)


def result_df(spark, ids: np.ndarray, cols: dict[str, np.ndarray], schema: str) -> DataFrame:
    # pyarrow Table straight from the numpy arrays (zero-copy) — skips the
    # pandas detour and its block consolidation
    import pyarrow as pa

    return arrow_result_df(spark, pa.table({"id": ids, **cols}), schema)


def pagerank_numpy(
    ids: np.ndarray,
    si: np.ndarray,
    di: np.ndarray,
    damping: float,
    max_iterations: int | None,
    tolerance: float,
):
    """The exact PageRank recurrence of operators/pagerank.py (reference:
    algorithms/linkanalysis/PageRank.scala:80-113) vectorized over numpy.

    Returns (pr, error, iterations, history)."""
    return _power_iteration_numpy(
        ids, si, di, damping, 1.0 - damping, None, max_iterations, tolerance
    )


def _power_iteration_numpy(
    ids: np.ndarray, si: np.ndarray, di: np.ndarray, damping: float, teleport: float,
    seed_mass: np.ndarray | None, max_iterations: int | None, tolerance: float,
):
    """The power iteration of operators/pagerank.py: ``seed_mass`` None
    spreads the teleport and the dangling mass uniformly (PageRank), else
    over the per-vertex ``seed_mass`` (personalized PageRank), which is also
    the start vector. Returns (pr, error, iterations, history)."""
    n = len(ids)
    outdeg = np.bincount(si, minlength=n)
    dangling = outdeg == 0
    ws = (damping / np.maximum(outdeg, 1).astype(np.float64))[si]
    pr = np.full(n, 1.0 / n) if seed_mass is None else seed_mass.copy()
    damping_amount = teleport / n
    error = 100.0 + tolerance  # reference initial error (PageRank.scala:82)
    history: list[dict] = []
    it = 0
    while (max_iterations is None or it < max_iterations) and error > tolerance:
        dangle_mass = float(pr[dangling].sum())
        gathered = np.bincount(di, weights=pr[si] * ws, minlength=n)
        if seed_mass is None:
            dangle_sum = damping * dangle_mass / n
            new_pr = gathered + damping_amount + dangle_sum
        else:
            dangle_sum = damping * dangle_mass
            new_pr = gathered + (teleport + dangle_sum) * seed_mass
        error = float(np.abs(new_pr - pr).sum())
        pr = new_pr
        it += 1
        history.append(
            {"iteration": it, "error": error, "dangle_sum": dangle_sum,
             "node_count": n, "edge_count": len(si), "engine": "local"}
        )
    return pr, error, it, history


def hits_numpy(
    ids: np.ndarray,
    si: np.ndarray,
    di: np.ndarray,
    max_iterations: int | None,
    tolerance: float,
):
    """HITS recurrence twin of operators/hits.py (reference:
    algorithms/linkanalysis/Hits.scala:75-110): per iteration
    a_raw = gather(hub) over in-edges, h_raw = gather(a_raw) over out-edges
    (the RAW new authorities), each scaled by its own max; T1 error is
    tracked on the scaled HUB vector only. Returns unnormalized (scaled)
    vectors; callers apply the postRun sum-normalization."""
    n = len(ids)
    hub = np.full(n, 1.0 / n)
    error = 100.0 + tolerance
    it = 0
    history: list[dict] = []
    auth = np.zeros(n)
    while (max_iterations is None or it < max_iterations) and error > tolerance:
        a_raw = np.bincount(di, weights=hub[si], minlength=n)
        h_raw = np.bincount(si, weights=a_raw[di], minlength=n)
        hmax = h_raw.max() if n and h_raw.max() > 0 else 1.0
        amax = a_raw.max() if n and a_raw.max() > 0 else 1.0
        new_hub = h_raw / hmax
        auth = a_raw / amax
        error = float(np.abs(new_hub - hub).sum())
        hub = new_hub
        it += 1
        history.append({"iteration": it, "error": error, "engine": "local"})
    return hub, auth, error, it, history


def connected_components_numpy(ids: np.ndarray, si: np.ndarray, di: np.ndarray):
    """Hash-min label propagation to fixpoint on the undirected closure —
    component ids equal min vertex id, matching operators/components.py."""
    n = len(ids)
    comp = np.arange(n)
    # undirected closure
    a = np.concatenate([si, di])
    b = np.concatenate([di, si])
    while True:
        new = comp.copy()
        np.minimum.at(new, b, comp[a])
        # pointer jumping: comp[v] = comp[comp[v]] until stable
        changed = (new != comp).any()
        comp = new
        while True:
            jumped = comp[comp]
            if (jumped == comp).all():
                break
            comp = jumped
        if not changed:
            break
    return ids[comp]


def k_core_numpy(ids: np.ndarray, si: np.ndarray, di: np.ndarray, k: int):
    """Iterative peeling twin of operators/kcore.k_core: drop vertices with
    undirected degree < k until fixpoint; returns (core_ids, core_degrees,
    iterations) with degrees measured inside the final core subgraph."""
    n = len(ids)
    # undirected dedup'd edge ends, self-loops dropped (graph.mutualize)
    keep = si != di
    lo = np.minimum(si[keep], di[keep]).astype(np.int64)
    hi = np.maximum(si[keep], di[keep]).astype(np.int64)
    pair = np.unique(lo * n + hi)
    ea, eb = pair // n, pair % n
    alive_edge = np.ones(len(ea), dtype=bool)
    iters = 0
    prev_alive = -1
    deg = np.zeros(n, dtype=np.int64)
    while True:
        deg[:] = 0
        np.add.at(deg, ea[alive_edge], 1)
        np.add.at(deg, eb[alive_edge], 1)
        surv = deg >= k
        iters += 1
        n_alive = int(surv.sum())
        if n_alive == 0 or n_alive == prev_alive:
            break
        prev_alive = n_alive
        alive_edge &= surv[ea] & surv[eb]
    core = np.flatnonzero(surv)
    return ids[core], deg[core], iters


def label_propagation_numpy(
    ids: np.ndarray,
    si: np.ndarray,
    di: np.ndarray,
    max_iterations: int,
):
    """Synchronous LPA twin of operators/labelprop.py: labels start as own
    vertex id; each round every vertex adopts the most frequent label among
    its undirected neighbors, ties broken by SMALLEST label; a vertex keeps
    its label when it has no neighbors. Runs ``max_iterations`` rounds or
    until no label changes; returns ``(labels, rounds_run)`` so callers
    report the ACTUAL iteration count on early convergence (ADVICE r4)."""
    n = np.int64(len(ids))
    labels = np.arange(n, dtype=np.int64)  # positions into ids
    # graph.mutualize semantics: union with transpose, DEDUPE, drop self-loops
    a = np.concatenate([si, di])
    b = np.concatenate([di, si])
    keep = a != b
    a, b = a[keep], b[keep]
    uniq = np.unique(a * n + b)
    av, bv = uniq // n, uniq % n
    av_n = av * n  # hoisted: the per-round key is av*n + current labels
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        # most frequent neighbor label per vertex, ties -> smallest label id.
        # Pure-numpy mode: sort the packed (v, label) keys once per round,
        # run-length-encode to per-pair counts, then a segmented argmax via
        # reduceat. Label POSITIONS order identically to external labels
        # (ids is sorted ascending), so "smallest position" == "smallest
        # label" and the first max-count entry of each v-segment (lp
        # ascending) is the winner. Replaces a pandas groupby + stable
        # 3-key mergesort (measured ~7x at 3.2M edges, sf1 turn graph).
        key = np.sort(av_n + labels[bv])
        if key.size == 0:
            break
        change = key[1:] != key[:-1]
        starts_pair = np.concatenate([[0], np.flatnonzero(change) + 1])
        uk = key[starts_pair]
        cnt = np.diff(np.concatenate([starts_pair, [key.size]]))
        v = uk // n
        lp = uk - v * n
        vchange = v[1:] != v[:-1]
        starts = np.concatenate([[0], np.flatnonzero(vchange) + 1])
        seglens = np.diff(np.concatenate([starts, [uk.size]]))
        segmax = np.maximum.reduceat(cnt, starts)
        idx = np.arange(uk.size, dtype=np.int64)
        cand = np.where(cnt == np.repeat(segmax, seglens), idx, uk.size)
        best_idx = np.minimum.reduceat(cand, starts)
        new_labels = labels.copy()
        new_labels[v[best_idx]] = lp[best_idx]
        if (new_labels == labels).all():
            break
        labels = new_labels
    return ids[labels], rounds


def _lookup(ids: np.ndarray, x: np.ndarray):
    """``(pos, found)``: positions of ``x`` in the sorted ``ids``, and which
    of them are present (``pos`` is meaningless where not found)."""
    pos = np.searchsorted(ids, x)
    if len(ids) == 0:
        return pos, np.zeros(len(x), dtype=bool)
    return pos, (pos < len(ids)) & (ids[np.minimum(pos, len(ids) - 1)] == x)


def _csr_by_src(si: np.ndarray, di: np.ndarray, n: int):
    """``(indptr, nbrs)``: CSR rows by source position, each row's
    neighbors sorted ascending (the walk twin draws by index into them)."""
    order = np.lexsort((di, si))
    s_sorted = si[order]
    return np.searchsorted(s_sorted, np.arange(n + 1)), di[order]


def bfs_numpy(
    ids: np.ndarray,
    si: np.ndarray,
    di: np.ndarray,
    seeds,
    max_depth: int | None,
    max_degree: int | None,
    events: bool = False,
):
    """Visit-once BFS twin of operators/traversals.py:bfs (reference:
    graph/Traverser.scala:426-450): first-visit depth from the deduped seed
    set; hub nodes (out-degree > max_degree) are visited but not expanded;
    seeds absent from the graph still appear at depth 0.

    Returns (out_ids, out_depths) as external-id / depth arrays, or with
    ``events`` the twin of bfs(events=True): one row per edge RELAXATION
    (frontier node u at depth d scanning edge u->v emits (d+1, v, u) whether
    or not v is new — PrevNbrCounter records every previous-neighbor
    encounter, GraphUtils.scala:46-67) plus (0, seed, null) rows, as
    (steps, out_ids, prevs), prevs a masked array masking the null rows."""
    n = len(ids)
    seeds = np.unique(np.asarray(list(seeds), dtype=np.int64))
    spos, in_graph = _lookup(ids, seeds)
    indptr, d_sorted = _csr_by_src(si, di, n)
    outdeg = np.diff(indptr)
    expandable = np.ones(n, dtype=bool) if max_degree is None else (outdeg <= max_degree)
    depth_of = np.full(n, -1, dtype=np.int64)
    frontier = spos[in_graph]
    depth_of[frontier] = 0
    steps = [np.zeros(len(seeds), dtype=np.int64)]
    evs = [seeds]
    prevs = [np.ma.masked_all(len(seeds), dtype=np.int64)]
    depth = 0
    while frontier.size and (max_depth is None or depth < max_depth):
        f = frontier[expandable[frontier]]
        starts, counts = indptr[f], outdeg[f]
        tot = int(counts.sum())
        if tot == 0:
            break
        seg = np.cumsum(counts) - counts
        pos = (np.arange(tot, dtype=np.int64) - np.repeat(seg, counts)
               + np.repeat(starts, counts))
        nbrs = d_sorted[pos]
        depth += 1
        if events:
            steps.append(np.full(tot, depth, dtype=np.int64))
            evs.append(ids[nbrs])
            prevs.append(ids[np.repeat(f, counts)])
        frontier = np.unique(nbrs[depth_of[nbrs] < 0])
        depth_of[frontier] = depth
    if events:
        return np.concatenate(steps), np.concatenate(evs), np.ma.concatenate(prevs)
    vis = depth_of >= 0
    out_ids = np.concatenate([ids[vis], seeds[~in_graph]])
    out_depths = np.concatenate(
        [depth_of[vis], np.zeros(int((~in_graph).sum()), dtype=np.int64)]
    )
    return out_ids, out_depths


def random_walk_events_numpy(
    ids: np.ndarray,
    si: np.ndarray,
    di: np.ndarray,
    start_nodes,
    num_steps: int,
    reset_prob: float,
    num_walkers: int,
    seed: int,
):
    """Draw-for-draw twin of operators/traversals.py random walks: the SAME
    md5('tag|walker|step|seed') uniforms (_walk_uniform) consumed against
    the SAME sorted adjacency, stepped with numpy per synchronized step (the
    only per-item Python is the md5 calls, ~2 per walker-step). Returns
    (walkers, steps, cur_ids, prev_ids), prev_ids a masked array masking
    the null rows (starts and resets)."""
    import hashlib

    n = len(ids)
    indptr, d_sorted = _csr_by_src(si, di, n)
    outdeg = np.diff(indptr)

    homes_ext = np.array(
        [int(start_nodes[i % len(start_nodes)]) for i in range(num_walkers)],
        dtype=np.int64,
    )
    hp, home_in = _lookup(ids, homes_ext)
    # positions; -1 = a home that is not a graph vertex (never has neighbors)
    home_pos = np.where(home_in, hp, -1)
    cur = home_pos.copy()
    cur_ext = homes_ext.copy()

    div = float(16**13)

    def uniforms(tag: str, step: int):
        return np.array(
            [
                int(hashlib.md5(f"{tag}|{w}|{step}|{seed}".encode()).hexdigest()[:13], 16)
                for w in range(num_walkers)
            ],
            dtype=np.float64,
        ) / div

    walkers_out = [np.arange(num_walkers, dtype=np.int64)]
    steps_out = [np.zeros(num_walkers, dtype=np.int64)]
    cur_out = [cur_ext.copy()]
    prev_out = [np.ma.masked_all(num_walkers, dtype=np.int64)]
    for step in range(num_steps):
        r = uniforms("r", step)
        u = uniforms("n", step)
        deg = np.where(cur >= 0, outdeg[np.maximum(cur, 0)], 0)
        reset = (r < reset_prob) | (deg == 0)
        idx = np.floor(u * deg).astype(np.int64)  # int32-cast parity: < 2^31
        pick_pos = indptr[np.maximum(cur, 0)] + np.minimum(idx, np.maximum(deg - 1, 0))
        if len(d_sorted):
            picked_ext = ids[d_sorted[np.minimum(pick_pos, len(d_sorted) - 1)]]
        else:
            picked_ext = homes_ext
        nxt_ext = np.where(reset, homes_ext, picked_ext)
        prev_ext = np.ma.masked_array(cur_ext, mask=reset)
        # new positions (next step's adjacency lookup)
        np_pos, ok = _lookup(ids, nxt_ext)
        cur = np.where(ok, np_pos, -1)
        cur_ext = nxt_ext
        walkers_out.append(np.arange(num_walkers, dtype=np.int64))
        steps_out.append(np.full(num_walkers, step + 1, dtype=np.int64))
        cur_out.append(cur_ext.copy())
        prev_out.append(prev_ext)
    return (
        np.concatenate(walkers_out),
        np.concatenate(steps_out),
        np.concatenate(cur_out),
        np.ma.concatenate(prev_out),
    )


def _orient_numpy(ids: np.ndarray, si: np.ndarray, di: np.ndarray):
    """Dedup + degree-orient the undirected view; returns ``(lo, hi)`` with
    lo the lower-(degree, id) endpoint, or ``None`` if no proper edges."""
    n = len(ids)
    a = np.minimum(si, di)
    b = np.maximum(si, di)
    keep = a != b
    key = np.unique(a[keep] * np.int64(n) + b[keep])
    if len(key) == 0:
        return None
    a, b = key // n, key % n
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    lo_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    lo = np.where(lo_first, a, b)
    hi = np.where(lo_first, b, a)
    return lo, hi, deg


def oriented_wedge_volume(ids: np.ndarray, si: np.ndarray, di: np.ndarray) -> int:
    """Exact number of rows the twin's wedge self-merge would materialize:
    sum over apex vertices of oriented-out-degree squared. O(m) — the gate
    triangle_count uses before committing to the in-memory path (a dense
    1M-edge near-clique heads to ~7e8 wedge rows)."""
    o = _orient_numpy(ids, si, di)
    if o is None:
        return 0
    lo, _hi, _deg = o
    cnt = np.bincount(lo, minlength=len(ids)).astype(np.int64)
    return int((cnt * cnt).sum())


def triangle_count_numpy(ids: np.ndarray, si: np.ndarray, di: np.ndarray) -> int:
    """Exact triangle count twin of operators/triangles.py:triangle_count —
    same degree-oriented wedge enumeration, as two pandas merges. Wedge
    volume is O(m * degeneracy); callers gate by oriented_wedge_volume."""
    o3 = _orient_numpy(ids, si, di)
    if o3 is None:
        return 0
    lo, hi, deg = o3
    o = pd.DataFrame({"lo": lo, "hi": hi})
    w = o.merge(o, on="lo")
    dx, dy = deg[w["hi_x"].to_numpy()], deg[w["hi_y"].to_numpy()]
    ordered = (dx < dy) | ((dx == dy) & (w["hi_x"].to_numpy() < w["hi_y"].to_numpy()))
    wedges = w[ordered].rename(columns={"hi_x": "b", "hi_y": "c"})[["b", "c"]]
    closing = o.rename(columns={"lo": "b", "hi": "c"})
    return int(len(wedges.merge(closing, on=["b", "c"])))


def ppr_numpy(
    ids: np.ndarray,
    si: np.ndarray,
    di: np.ndarray,
    sources: np.ndarray,
    reset_prob: float,
    max_iterations: int,
    tolerance: float,
):
    """Exact personalized-PageRank twin of
    operators/traversals.py:personalized_pagerank (reference semantics of
    calculatePersonalizedReputation, GraphUtils.scala): PageRank's power
    iteration with the teleport mass and the dangling mass going to the
    source set uniformly. Returns (pr, error, iterations)."""
    sources = np.unique(np.asarray(sources, dtype=np.int64))
    spos, in_graph = _lookup(ids, sources)
    # seeds absent from the graph keep their mass share but receive none
    # (matching the distributed vertex table's seed_mass column)
    seed_mass = np.zeros(len(ids))
    seed_mass[spos[in_graph]] = 1.0 / len(sources)
    pr, error, it, _history = _power_iteration_numpy(
        ids, si, di, 1.0 - reset_prob, reset_prob, seed_mass, max_iterations, tolerance
    )
    return pr, error, it


def _topn_per_group(
    group: np.ndarray,
    member: np.ndarray,
    weight: np.ndarray,
    k: int,
    rounding: int | None,
):
    """Per-group top-k members ordered by (weight desc, member asc) — the
    twin of the distributed contributor window (bipartite.py row_number over
    Window.partitionBy(dest).orderBy(weight desc, source asc)). Returns
    (groups, members) rank-ordered within each group; duplicate edges keep
    their duplicate rank slots, matching the row_number semantics."""
    if rounding is not None:
        # match Spark's F.round (BigDecimal HALF_UP: half away from zero),
        # not np.round's half-to-even — exact-half weights (dyadic weights
        # with power-of-2 degrees) must order identically in both engines
        scale = 10.0 ** rounding
        wkey = np.sign(weight) * np.floor(np.abs(weight) * scale + 0.5) / scale
    else:
        wkey = weight
    idx = np.lexsort((member, -wkey, group))
    g = group[idx]
    if len(g) == 0:
        return g, member[idx]
    starts = np.r_[0, np.flatnonzero(g[1:] != g[:-1]) + 1]
    counts = np.diff(np.r_[starts, len(g)])
    rank = np.arange(len(g)) - np.repeat(starts, counts)
    keep = rank < k
    return g[keep], member[idx][keep]


def bipartite_numpy(
    src: np.ndarray,
    dst: np.ndarray,
    lw_ids: np.ndarray,
    lw_init: np.ndarray,
    num_iterations: int,
    reset_prob_left: float,
    reset_prob_right: float,
    num_top_contributors: int,
    rounding: int | None,
):
    """Twin of operators/bipartite.py:bipartite_link_analysis (reference
    graph/bipartite/IterativeLinkAnalyzer.scala:36-183): alternating
    weight-flow passes over the left-restricted subgraph, with top-k
    contributor recording on the final pass of each side.

    ``lw_ids`` must be unique; ``lw_init`` aligned. Returns
    (l_ids, l_weights, l_contrib_lists, r_ids, r_weights, r_contrib_lists)
    where contrib lists are per-id Python lists of partner ids.
    """
    order = np.argsort(lw_ids, kind="stable")
    l_ids = lw_ids[order]
    init = lw_init[order].astype(np.float64)
    nl = len(l_ids)
    # subgraph restriction: edges whose left endpoint was supplied
    pos, valid = _lookup(l_ids, src)
    sl = pos[valid]
    dkeep = dst[valid]
    r_ids = np.unique(dkeep)
    nr = len(r_ids)
    dr = np.searchsorted(r_ids, dkeep)
    ldeg = np.bincount(sl, minlength=nl).astype(np.float64)
    rdeg = np.bincount(dr, minlength=nr).astype(np.float64)

    lw = init.copy()
    rw = np.zeros(nr)
    l_top = r_top = None
    for it in range(1, num_iterations + 1):
        last = it >= num_iterations - 1
        if it % 2 == 1:  # left -> right
            src_w = lw[sl]
            flow = (src_w / ldeg[sl]) * (1.0 - reset_prob_right)
            rw = np.bincount(dr, weights=flow, minlength=nr)
            if last:
                r_top = _topn_per_group(
                    dr, l_ids[sl], src_w, num_top_contributors, rounding
                )
        else:  # right -> left
            src_w = rw[dr]
            flow = (src_w / rdeg[dr]) * (1.0 - reset_prob_left)
            lw = reset_prob_left * init + np.bincount(
                sl, weights=flow, minlength=nl
            )
            if last:
                l_top = _topn_per_group(
                    sl, r_ids[dr], src_w, num_top_contributors, rounding
                )

    def to_lists(top, n):
        out = [[] for _ in range(n)]
        if top is not None:
            for g, mem in zip(*top):
                out[g].append(int(mem))
        return out

    return (
        l_ids, lw, to_lists(l_top, nl),
        r_ids, rw, to_lists(r_top, nr),
    )
