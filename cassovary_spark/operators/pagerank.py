"""PageRank and personalized PageRank: one power iteration, as iterative
DataFrame gather-scatter (and its numpy twin, local_engine.pagerank_numpy /
ppr_numpy).

Semantics match the reference exactly
(algorithms/linkanalysis/PageRank.scala, LinkAnalysis.scala):

- init: pr = 1/N for every existing node (PageRank.scala:80-83)
- per iteration (PageRank.scala:85-113):
    dangle_sum     = d * sum(pr[dangling]) / N          (:92-93)
    pr'[v]         = sum_{u->v} d * pr[u] / outdeg[u]
                     + (1-d)/N + dangle_sum             (:95-111; damping
                     amount (1-d)/N at :77-78)
- error = T1 = sum |pr - pr'|                           (LinkAnalysis.scala:76-79)
- terminate when iteration >= max_iterations or error <= tolerance
  (LinkAnalysis.scala:98-100); defaults d=0.85, max_iterations=10,
  tolerance=1e-8 (PageRankParams, PageRank.scala:28-31)
- the reference's "stored OnlyIn" mode treats stored edges as the transpose;
  callers reproduce it by passing ``reverse_edges(edges)``.
- personalized PageRank (``traversals.personalized_pagerank``) is the same
  recurrence with the teleport and the dangling mass sent to the seeds:
    pr'[v] = gather + (t + d * sum(pr[dangling])) * seed_mass[v]
  with t = reset_prob, d = 1 - reset_prob, seed_mass = 1/|seeds| on seeds,
  starting from pr = seed_mass. With every vertex a seed it is PageRank.

Scale design (100 TB edge table, 1000 executors):
- the edge table is joined with out-degrees ONCE into a static
  ``(src, dst, w)`` weighted-edge table, hash-partitioned by ``src`` and
  persisted — every superstep then joins the small rank table INTO the
  stationary edge partitioning, so the big table never re-shuffles
  (reference analog: the process-local CSR that stays put while the rank
  array is streamed, SharedArrayBasedDirectedGraph.scala).
- ranks are hash-partitioned on ``id`` with the same partition count, making
  the per-superstep join co-partitioned.
- per-superstep scalar aggregations (dangling mass, T1 error) are tiny
  tree-aggregations over the rank table only.
- lineage is truncated every superstep (localCheckpoint or CheckpointStore),
  so plans stay O(1) regardless of iteration count.
- hub skew on ``dst`` (the groupBy side) is handled by map-side partial
  aggregation (Spark's hash-aggregate does this automatically). The state
  write runs with AQE off at every size: neither superstep join shuffles
  both sides, so AQE's skew-join split could not apply anyway.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassovary_spark.checkpoint import CheckpointStore, materialize
from cassovary_spark.graph import out_degrees, vertices_of
from cassovary_spark.plans.layout import UPDATE_JOIN_HINT
from cassovary_spark.superstep import Superstep, choose_engine


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id: long, pagerank: double)
    error: float
    iterations: int
    node_count: int
    edge_count: int
    history: list[dict] = field(default_factory=list)


def _empty(spark) -> PageRankResult:
    return PageRankResult(
        spark.createDataFrame([], "id long, pagerank double"), 0.0, 0, 0, 0
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iterations: int | None = 10,
    tolerance: float = 1e-8,
    num_partitions: int | None = None,
    checkpoint: CheckpointStore | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    engine: str = "auto",
) -> PageRankResult:
    """Run PageRank over a directed ``edges(src, dst)`` DataFrame.

    Returns per-vertex scores matching the reference recurrence to float64
    precision (fixture tolerance 1e-6, PageRankSpec.scala:22).

    ``engine``: "auto" collapses small graphs to one vectorized in-memory
    power iteration (COST-aware choice, ``superstep.choose_engine`` — see
    operators/local_engine.py; equality-tested vs the distributed path);
    "distributed"/"local" force a path. Checkpointed/resumed runs always use
    the distributed path.
    """
    return _power_iteration(
        edges, damping, 1.0 - damping, None, max_iterations, tolerance,
        num_partitions, engine, checkpoint, checkpoint_every, resume,
    )


def _power_iteration(
    edges: DataFrame, damping: float, teleport: float, seeds: list[int] | None,
    max_iterations: int | None, tolerance: float, num_partitions: int | None, engine: str,
    checkpoint: CheckpointStore | None = None, checkpoint_every: int = 1, resume: bool = False,
) -> PageRankResult:
    """The power iteration of ``pagerank`` (``seeds`` None: the teleport
    and the dangling mass spread over all vertices) and of personalized
    PageRank (both go to the de-duplicated ``seeds``, 1/len(seeds) each)."""
    spark = edges.sparkSession
    edges = edges.select("src", "dst")
    route, m = choose_engine(edges, engine, checkpoint=checkpoint, resume=resume)
    if route == "local":
        from cassovary_spark.operators import local_engine as LE

        ids, si, di = LE.edges_to_numpy(edges)
        if len(ids) == 0:
            return _empty(spark)
        # separate entry points, so a trace can tell the two kernels apart
        if seeds is None:
            pr, error, its, history = LE.pagerank_numpy(
                ids, si, di, damping, max_iterations, tolerance
            )
        else:
            pr, error, its = LE.ppr_numpy(
                ids, si, di, seeds, teleport, max_iterations, tolerance
            )
            history = []
        ranks = LE.result_df(spark, ids, {"pagerank": pr}, "id long, pagerank double")
        return PageRankResult(ranks, error, its, len(ids), len(si), history)

    with Superstep(spark, m, num_partitions) as ss:
        outdeg = out_degrees(edges)
        # vertex table with dangling flag (and seed mass), stationary across
        # supersteps
        cols = [F.col("out_degree").isNull().alias("is_dangling")]
        if seeds is not None:
            cols.append(
                F.when(F.col("id").isin(seeds), 1.0 / len(seeds)).otherwise(0.0).alias("seed_mass")
            )
        verts = ss.persist(vertices_of(edges).join(outdeg, "id", "left").select("id", *cols), "id")
        n = verts.count()
        if n == 0:
            return _empty(spark)
        # static weighted edge table: w = d / outdeg(src); supersteps re-use
        # its shuffle output AND sort order instead of re-shuffling/re-sorting
        # the (huge) edge table
        wedges = ss.persist(
            edges.join(outdeg.withColumnRenamed("id", "src"), "src")
            .select("src", "dst", (F.lit(damping) / F.col("out_degree")).alias("w")),
            "src",
        )
        # exact edge count for the result: the join keeps every edge once
        edge_count = wedges.count()
        wedges_view = ss.name(wedges)
        damping_amount = teleport / n

        start, ranks, meta = ss.latest(checkpoint, resume)
        # reference initial error (PageRank.scala:82)
        error = float(meta["metrics"]["error"]) if meta else 100.0 + tolerance
        # dangling mass of the CURRENT ranks (reference recomputes per
        # iteration, :92-93): observed during every state write, the initial
        # one included, so each superstep costs exactly one job; a resumed
        # run reads it from the store's state
        dangling = F.sum(F.when(F.col("is_dangling"), F.col("pagerank"))).alias("d")
        if ranks is None:
            init = F.lit(1.0 / n) if seeds is None else F.col("seed_mass")
            ranks, got = ss.write(
                verts.select("id", init.alias("pagerank"), *verts.columns[1:]), dangling
            )
        else:
            got = ranks.agg(dangling).first()
        dangle_mass = got["d"] or 0.0

        def step(ranks, last):
            # the teleport and the dangling mass go to every vertex equally,
            # or to the seeds in proportion to their seed mass
            if seeds is None:
                dangle_sum = damping * last["dangle_mass"] / n
                teleport_sql = f"{damping_amount!r}d + {dangle_sum!r}d"
                seed_col = ""
            else:
                dangle_sum = damping * last["dangle_mass"]
                teleport_sql = f"({teleport!r}d + {dangle_sum!r}d) * s.seed_mass"
                seed_col = "\n         s.seed_mass,"
            state = ss.name(ranks)
            # Join strategy is pinned per role: the GATHER join keeps MERGE
            # (both sides pre-sorted on the key — zero-sort SMJ) and the
            # update join uses plans.layout.UPDATE_JOIN_HINT (SHUFFLE_HASH:
            # skips sorting the fresh aggregate, r6 measured -13%
            # whole-superstep); neither ever broadcasts the O(V) rank table
            # (a per-superstep driver roundtrip, fatal at scale). The rank
            # table itself is the full vertex set, so the update join is
            # ranks (not verts) x contribs, and the T1 error + next dangling
            # mass are observed during the state write: ONE read of the
            # previous state and ONE write of the new state per superstep.
            # No explicit repartition: the update join's output already
            # reports hash(id) partitioning (measured: an explicit exchange
            # only cost time).
            new_ranks, got = ss.write(
                spark.sql(f"""
  SELECT /*+ {UPDATE_JOIN_HINT}(c) */ s.id,
         coalesce(c.gathered, 0.0d) + {teleport_sql}
             AS pagerank,
         s.is_dangling,{seed_col}
         s.pagerank AS prev
  FROM {state} s
  LEFT JOIN (
      SELECT /*+ MERGE(r) */ e.dst AS id, sum(e.w * r.pagerank) AS gathered
      FROM {wedges_view} e JOIN {state} r ON e.src = r.id
      GROUP BY e.dst
  ) c ON s.id = c.id"""),
                F.sum(F.abs(F.col("prev") - F.col("pagerank"))).alias("e"),
                dangling,
                drop=("prev",),
            )
            return new_ranks, {
                "error": got["e"],
                "dangle_sum": dangle_sum,
                "node_count": n,
                "edge_count": edge_count,
                "dangle_mass": got["d"] or 0.0,
            }

        ranks, history = ss.run(
            ranks, step, lambda row: row["error"] <= tolerance,
            max_iterations=max_iterations,
            row={"error": error, "dangle_mass": dangle_mass},
            start=start, checkpoint=checkpoint, checkpoint_every=checkpoint_every,
        )
        if history:
            error = history[-1]["error"]
        # materialize the final state BEFORE the driver frees the leaf that
        # backs it
        result = materialize(ranks.select("id", "pagerank"))
    return PageRankResult(result, error, start + len(history), n, edge_count, history)
