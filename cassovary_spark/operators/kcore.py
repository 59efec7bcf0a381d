"""k-core decomposition by iterative peeling.

The reference exposes degree accessors (graph/Node.scala:236-241) and
subgraph-restricted traversal but no named k-core; peeling is the standard
composition a reference user would write on top of them (repeatedly drop
nodes with degree < k). Semantics here: on the mutualized (undirected,
self-loop-free) edge set, return every vertex of the maximal induced
subgraph in which all degrees are >= k, with its in-core degree.

Scale design:
- The edge table SHRINKS monotonically: each superstep recomputes degrees
  with one partial-aggregating groupBy over the CURRENT edge set, then
  keeps only edges whose BOTH endpoints survive. Unlike PageRank/CC (fixed
  edge table, stationary bucketing), rewriting the edge set each round is
  the point — peeled hubs' edges never move again.
- Survivors are an O(V') table bucketed by id; the src-side semi-join is
  bucket-co-located with the degree agg's output partitioning, the
  dst-side join is the one real exchange per superstep and it moves only
  the surviving (shrunk) edges.
- Convergence: |survivors| is strictly decreasing until fixpoint, so the
  scratch write's observed row count doubles as the convergence test —
  no extra job per superstep.
- Worst case O(V) supersteps (a path peeled from one end); typical
  corpora converge in <= a few dozen. ``max_iterations`` bounds it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassovary_spark.checkpoint import materialize
from cassovary_spark.graph import mutualize
from cassovary_spark.superstep import Superstep, choose_engine


def k_core(
    edges: DataFrame,
    k: int,
    max_iterations: int | None = None,
    num_partitions: int | None = None,
    engine: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Vertices of the k-core as ``(id, degree)``; ``degree`` is the vertex's
    degree WITHIN the core subgraph (so every row has ``degree >= k``).

    ``engine``: 'auto' routes small graphs to the numpy peeling twin
    (one Arrow transfer, vectorized bincount loop), large ones to the
    distributed superstep; 'local'/'distributed' force a path."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = edges.sparkSession
    route, m = choose_engine(edges, engine)
    if route == "local":
        from cassovary_spark.operators import local_engine as LE

        ids, si, di = LE.edges_to_numpy(edges)
        if len(ids) == 0:
            return spark.createDataFrame([], "id long, degree long")
        core_ids, core_deg, iters = LE.k_core_numpy(ids, si, di, k)
        if stats is not None:
            stats["iterations"] = iters
        return LE.result_df(
            spark, core_ids, {"degree": core_deg}, "id long, degree long"
        )

    with Superstep(spark, m, num_partitions, stats) as ss:
        p = ss.p
        cur_edges, _ = ss.write(
            mutualize(edges).repartition(p, "src").sortWithinPartitions("src"),
            bucket_by="src",
        )

        def step(state, last):
            cur_edges, _ = state
            deg = cur_edges.groupBy(F.col("src").alias("id")).agg(
                F.count("*").alias("degree")
            )
            survivors, got = ss.write(
                deg.filter(F.col("degree") >= k), F.count(F.lit(1)).alias("alive")
            )
            alive = got["alive"]
            converged = alive == 0 or alive == last.get("alive")
            if not converged:
                # keep only edges with BOTH endpoints alive; the src join is
                # bucket-co-located, the dst join exchanges the (shrunk) edges
                cur_edges, _ = ss.write(
                    cur_edges.join(survivors.select(F.col("id").alias("src")), "src", "semi")
                    .join(survivors.select(F.col("id").alias("dst")), "dst", "semi")
                    .select("src", "dst")
                    .repartition(p, "src"),
                    bucket_by="src",
                )
            return (cur_edges, survivors), {"alive": alive, "converged": converged}

        (_, survivors), _ = ss.run(
            (cur_edges, None), step, lambda row: row.get("converged", False),
            max_iterations=max_iterations,
        )
        return materialize(survivors.select("id", "degree"))
