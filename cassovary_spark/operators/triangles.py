"""Exact triangle counting + global transitivity (clustering coefficient).

The reference ships an APPROXIMATE streaming wedge-sampling estimator
(algorithms/TriangleCount.scala:20-185, Jha et al. arXiv:1212.2264) that
assumes an undirected (mutual) graph and returns
``(transitivity, triangleEstimate)``. The north rule demands EXACT counts, so
this is the exact distributed formulation with the same input convention and
the same output pair; the sampling estimator's accuracy bands are used as
test oracles (TriangleCountSpec.scala:48-88: K_n has n(n-1)(n-2)/6 triangles
and transitivity 1.0; sparse ER ~0).

Algorithm (classic two-join enumeration):
- canonical undirected edges (a < b), deduped
- orient each edge low-degree -> high-degree endpoint ("degree orientation"):
  every wedge is then generated at its LOWEST-degree apex, which bounds the
  per-key join fan-out by the graph's degeneracy instead of the max degree —
  this is the standard mitigation for hub skew in triangle enumeration at
  scale (a celebrity vertex with 10^7 neighbors would otherwise produce
  10^14 wedges).
- wedges (a-b, a-c) with b < c by orientation order, closed iff (b, c) is an
  edge: count via semi-join-shaped inner join + count.

Transitivity = 3 * triangles / wedges, wedges = sum_v d(v)(d(v)-1)/2 over
undirected degrees (reference computeWedgesInEdgeReservoir,
TriangleCount.scala:98-106, computed exactly here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassovary_spark.graph import canonicalize_undirected, mutualize
from cassovary_spark.superstep import choose_engine


def _oriented(edges: DataFrame) -> DataFrame:
    """Orient canonical undirected edges from lower (degree, id) to higher."""
    canon = canonicalize_undirected(edges)
    deg = (
        mutualize(edges)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("deg"))
    )
    e = (
        canon.join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "dsrc"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "ddst"), "dst")
    )
    # (lo, hi) by (degree, id) total order — deterministic orientation
    lo_first = (F.col("dsrc") < F.col("ddst")) | (
        (F.col("dsrc") == F.col("ddst")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
        F.when(lo_first, F.col("dsrc")).otherwise(F.col("ddst")).alias("dlo"),
        F.when(lo_first, F.col("ddst")).otherwise(F.col("dsrc")).alias("dhi"),
    )


# edge count alone is not a safe in-memory gate: the twin's wedge self-merge
# materializes sum(oriented_deg^2) rows, ~7e8 for a dense 1M-edge
# near-clique — so auto routing caps the edges AND re-checks the exact wedge
# volume (O(m), from the already-collected edges) before committing
TRIANGLES_LOCAL_CAP = 1_000_000
TRIANGLES_LOCAL_MAX_WEDGES = 50_000_000


def triangle_count(edges: DataFrame, engine: str = "auto") -> int:
    """Exact number of triangles in the undirected view of ``edges``."""
    if choose_engine(edges, engine, cap=TRIANGLES_LOCAL_CAP)[0] == "local":
        from cassovary_spark.operators import local_engine as LE

        ids, si, di = LE.edges_to_numpy(edges)
        if len(ids) == 0:
            return 0
        if (
            engine == "local"
            or LE.oriented_wedge_volume(ids, si, di) <= TRIANGLES_LOCAL_MAX_WEDGES
        ):
            return LE.triangle_count_numpy(ids, si, di)
    o = _oriented(edges).persist()
    # wedges at the low-degree apex: (a->b, a->c); order the two spokes by the
    # same (degree, id) total order so each wedge is generated once.
    e1 = o.select(F.col("lo").alias("a"), F.col("hi").alias("b"),
                  F.col("dhi").alias("db"))
    e2 = o.select(F.col("lo").alias("a"), F.col("hi").alias("c"),
                  F.col("dhi").alias("dc"))
    wedges = e1.join(e2, "a").filter(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = o.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    n = wedges.join(closing, ["b", "c"]).count()
    o.unpersist()
    return n


def wedge_count(edges: DataFrame) -> int:
    """Exact number of wedges (paths of length 2) in the undirected view."""
    row = (
        mutualize(edges)
        .groupBy("src")
        .agg(F.count("*").alias("d"))
        .agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w"))
        .first()
    )
    return int(row["w"] or 0)


def triangle_count_estimate(
    edges: DataFrame, sample_prob: float = 0.1, seed: int = 42
) -> dict:
    """Sampling ESTIMATE of ``(transitivity, triangles)`` — the scale-path
    counterpart of the reference's streaming wedge-sampling estimator
    (TriangleCount.scala:20-185, Jha et al. arXiv:1212.2264; parameters
    edgeReservoirSize/wedgeReservoirSize -> here one ``sample_prob``).

    The reference's reservoirs assume a single sequential pass; the
    distributed analog is graph sparsification (DOULION, Tsourakakis et al.
    KDD'09): keep each canonical undirected edge independently with
    probability p (deterministic per-edge coin via xxhash64 — reproducible
    across runs AND parallelism levels, unlike rand()), count exactly on the
    sparsified graph, scale triangles by 1/p^3. Wedges are counted exactly
    (cheap degree aggregation), so transitivity = 3*est/wedges.

    Accuracy: unbiased; relative error ~ 1/sqrt(p^3 * T). Use the exact
    ``triangle_count`` for fixture parity; this for 10^12-edge scans.
    """
    canon = canonicalize_undirected(edges)
    # deterministic coin: hash(src, dst, seed) -> [0, 1)
    coin = (F.pmod(F.xxhash64("src", "dst", F.lit(seed)), F.lit(1 << 30))
            / F.lit(float(1 << 30)))
    kept = canon.filter(coin < sample_prob)
    t_sparse = triangle_count(kept)
    est = t_sparse / (sample_prob ** 3)
    w = wedge_count(edges)
    return {
        "triangles_estimate": est,
        "triangles_sampled": t_sparse,
        "wedges": w,
        "transitivity_estimate": (3.0 * est / w) if w else 0.0,
        "sample_prob": sample_prob,
    }


def transitivity_stats(edges: DataFrame) -> dict:
    """``{'triangles', 'wedges', 'transitivity'}`` — exact version of the
    reference's (transitivity, triangleEstimate) pair (TriangleCount.scala:168-184)."""
    t = triangle_count(edges)
    w = wedge_count(edges)
    return {
        "triangles": t,
        "wedges": w,
        "transitivity": (3.0 * t / w) if w else 0.0,
    }
