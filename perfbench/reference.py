"""Reference results the benchmark checks the engine's outputs against.

Every function here is written for the benchmark from the operators'
documented semantics, on plain numpy/pandas arrays. None of them calls the
engine (in particular not ``cassovary_spark.operators.local_engine``, whose
kernels are one of the things being checked).

Inputs are ``src``/``dst`` int64 arrays of external vertex ids. Vertex-valued
results come back as ``(ids, values)`` with ``ids`` sorted ascending, the
same order :func:`table_by_id` gives an engine result.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

PR_TOL = 1e-6  # score tolerance for PageRank, PPR and HITS


class Mismatch(AssertionError):
    """An engine output differs from its reference."""


def _index(src: np.ndarray, dst: np.ndarray):
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank(src, dst, iterations: int | None = None, tolerance: float = 0.0,
             damping: float = 0.85):
    """PageRank with dangling mass spread uniformly, from the uniform vector,
    until ``iterations`` supersteps ran or the T1 change is at most
    ``tolerance``. Returns ``(ids, ranks, supersteps)``."""
    ids, s, d = _index(src, dst)
    n = len(ids)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    share = np.zeros(n)
    share[~dangling] = damping / outdeg[~dangling]
    pr = np.full(n, 1.0 / n)
    err, its = float("inf"), 0
    while (iterations is None or its < iterations) and err > tolerance:
        nxt = np.zeros(n)
        np.add.at(nxt, d, pr[s] * share[s])
        nxt += (1.0 - damping) / n + damping * pr[dangling].sum() / n
        err = float(np.abs(nxt - pr).sum())
        pr = nxt
        its += 1
    return ids, pr, its


def personalized_pagerank(src, dst, seeds, iterations: int, reset_prob: float = 0.15):
    """Power iteration with teleport and dangling mass both returned to the
    seed set uniformly, run ``iterations`` times from the seed indicator."""
    ids, s, d = _index(src, dst)
    n = len(ids)
    seeds = np.unique(np.asarray(seeds, dtype=np.int64))
    reset = np.zeros(n)
    for v in seeds:
        k = np.searchsorted(ids, v)
        if k < n and ids[k] == v:
            reset[k] = 1.0 / len(seeds)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    share = np.zeros(n)
    share[~dangling] = (1.0 - reset_prob) / outdeg[~dangling]
    score = reset.copy()
    for _ in range(iterations):
        nxt = np.zeros(n)
        np.add.at(nxt, d, score[s] * share[s])
        nxt += (reset_prob + (1.0 - reset_prob) * score[dangling].sum()) * reset
        score = nxt
    return ids, score


def hits(src, dst, iterations: int, tolerance: float = 0.0):
    """HITS: authorities gather hubs over in-edges, hubs gather the fresh raw
    authorities over out-edges, each scaled by its maximum per iteration,
    until ``iterations`` ran or the T1 change of the scaled hubs is at most
    ``tolerance``; then both are sum-normalized. Returns
    ``(ids, hub, authority, iterations_run)``."""
    ids, s, d = _index(src, dst)
    n = len(ids)
    hub = np.full(n, 1.0 / n)
    auth = np.zeros(n)
    err, its = float("inf"), 0
    while its < iterations and err > tolerance:
        a_raw = np.zeros(n)
        np.add.at(a_raw, d, hub[s])
        h_raw = np.zeros(n)
        np.add.at(h_raw, s, a_raw[d])
        nxt = h_raw / (h_raw.max() if h_raw.max() > 0 else 1.0)
        auth = a_raw / (a_raw.max() if a_raw.max() > 0 else 1.0)
        err = float(np.abs(nxt - hub).sum())
        hub = nxt
        its += 1
    return ids, hub / (hub.sum() or 1.0), auth / (auth.sum() or 1.0), its


def connected_components(src, dst):
    """Weakly-connected components labelled by their minimum vertex id, by
    plain min-label flooding to a fixpoint."""
    ids, s, d = _index(src, dst)
    label = np.arange(len(ids))
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, d, label[s])
        np.minimum.at(nxt, s, label[d])
        if (nxt == label).all():
            return ids, ids[label]
        label = nxt


def label_propagation(src, dst, max_iterations: int):
    """Synchronous LPA on the undirected, de-duplicated, loop-free edge set:
    each vertex takes its neighbours' most frequent label (smallest label on
    a tie); stops early when no label changes. Returns
    ``(ids, labels, rounds_run)``."""
    ids = np.unique(np.concatenate([src, dst]))
    und = pd.DataFrame(
        {"v": np.concatenate([src, dst]), "u": np.concatenate([dst, src])}
    )
    und = und[und.v != und.u].drop_duplicates()
    labels = pd.Series(ids, index=ids)
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        votes = pd.DataFrame({"v": und.v.to_numpy(), "lab": labels.loc[und.u].to_numpy()})
        counts = votes.groupby(["v", "lab"]).size().rename("cnt").reset_index()
        best = (
            counts.sort_values(["v", "cnt", "lab"], ascending=[True, False, True])
            .drop_duplicates("v")
            .set_index("v")["lab"]
        )
        nxt = labels.copy()
        nxt.loc[best.index] = best.to_numpy()
        if (nxt == labels).all():
            break
        labels = nxt
    return ids, labels.to_numpy(), rounds


def turn_edges(conv_ord: np.ndarray, turn_idx: np.ndarray):
    """Turn-to-turn edges: consecutive turns of each conversation, vertex id
    ``conv_ordinal * 2**16 + turn_idx``."""
    order = np.lexsort((turn_idx, conv_ord))
    c, t = conv_ord[order], turn_idx[order]
    vid = c * 65536 + t
    same = c[1:] == c[:-1]
    return vid[:-1][same], vid[1:][same]


# ------------------------------------------------------------------ checks
def edge_keys(src, dst) -> np.ndarray:
    """Sorted packed edge keys, for set comparison of edge lists."""
    return np.sort(np.asarray(src, np.int64) * (1 << 32) + np.asarray(dst, np.int64))


def table_by_id(tbl, *cols):
    """``(ids, col arrays...)`` from a pyarrow result table, sorted by id."""
    ids = tbl.column("id").to_numpy()
    order = np.argsort(ids, kind="stable")
    return (ids[order],) + tuple(tbl.column(c).to_numpy()[order] for c in cols)


def expect_close(what: str, ref_ids, ref_vals, got_ids, got_vals, tol=PR_TOL):
    if not np.array_equal(ref_ids, got_ids):
        raise Mismatch(f"{what}: vertex set differs ({len(got_ids)} vs {len(ref_ids)})")
    diff = float(np.max(np.abs(np.asarray(got_vals) - ref_vals))) if len(ref_ids) else 0.0
    if not diff <= tol:
        raise Mismatch(f"{what}: max |diff| {diff:.3g} > {tol:g}")


def expect_equal(what: str, ref, got):
    if isinstance(ref, np.ndarray) or isinstance(got, np.ndarray):
        ok = np.array_equal(np.asarray(ref), np.asarray(got))
    else:
        ok = ref == got
    if not ok:
        raise Mismatch(f"{what}: got {_short(got)}, expected {_short(ref)}")


def _short(x) -> str:
    if isinstance(x, np.ndarray):
        return f"array(len={len(x)})"
    return repr(x)
