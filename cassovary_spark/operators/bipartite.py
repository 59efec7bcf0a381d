"""Bipartite iterative link analysis (SALSA-style weight flow).

Reference: graph/bipartite/IterativeLinkAnalyzer.scala:36-183. Semantics:
- the analyzed subgraph is the supplied left vertices, their (left -> right)
  edges, and the induced right vertices (initial weight 0)
- odd iteration k (left -> right, reset = reset_prob_right):
    w_right = reset * init_right(=0) + (1-reset) * sum_{l->r} w_left/outdeg(l)
- even iteration k (right -> left, reset = reset_prob_left):
    w_left = reset * init_left + (1-reset) * sum_{l->r} w_right/indeg(r)
- degrees are within the subgraph (numNeighbors, :62-66)
- the final pass on each side records the top-k contributing sources per
  destination ordered by contributor weight (:41-44; SmallBoundedPriorityQueue
  is weight-ordered with unspecified ties — here ties break by id ASC for
  determinism)

Scale design: two static oriented edge tables (by left id, by right id) and a
weight table per side; each pass is one co-partitioned join + groupBy.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cassovary_spark.checkpoint import materialize
from cassovary_spark.superstep import Superstep, choose_engine


# shared workaround for window-order-unstable collect_list (observed
# reordering at sf0.01) — single definition lives in tourists
from cassovary_spark.operators.tourists import _ranked_list  # noqa: E402


# bipartite's numpy twin is NOT O(m): the final-pass top-k contributor
# recording lexsorts the full edge flow (O(m log m) single-threaded), so its
# local/distributed crossover sits well below the memory-budget threshold
# the O(m)-kernel operators use (r6 measured: 10.4s local vs 8.8s
# distributed at 6M edges / local[32]) — cap it at 4M edges.
BIPARTITE_LOCAL_CAP = 4_000_000


@dataclass
class BipartiteAnalysis:
    left: DataFrame   # (id, weight, contributors: array<long>)
    right: DataFrame  # (id, weight, contributors: array<long>)


def _bipartite_local(
    spark,
    edges: DataFrame,
    left_weights: DataFrame,
    num_iterations: int,
    reset_prob_left: float,
    reset_prob_right: float,
    num_top_contributors: int,
    rounding: int | None,
) -> BipartiteAnalysis:
    """Numpy twin route for sub-threshold graphs (COST-aware engine choice,
    operators/local_engine.py) — the local engine's one Arrow transfer of
    the edges + the supplied weights, bincount flow passes, equality-tested
    vs the distributed path (tests/test_bipartite.py). Results return
    through an arrow Table (+ the scratch-parquet spill past
    RESULT_SCRATCH_THRESHOLD rows — the LocalTableScan-tax rule): the r5
    path built per-row Python tuples, which at 160k-vertex sides cost
    seconds per downstream action (r6)."""
    import numpy as np

    from cassovary_spark.operators import local_engine as LE

    ids, si, di = LE.edges_to_numpy(edges)
    lpdf = left_weights.select("id", "weight").toPandas()
    l_ids, lw, l_c, r_ids, rw, r_c = LE.bipartite_numpy(
        ids[si],
        ids[di],
        lpdf["id"].to_numpy(np.int64),
        lpdf["weight"].to_numpy(np.float64),
        num_iterations,
        reset_prob_left,
        reset_prob_right,
        num_top_contributors,
        rounding,
    )
    import pyarrow as pa

    schema = "id long, weight double, contributors array<bigint>"

    def side(ids, w, contribs):
        tbl = pa.table(
            {
                "id": pa.array(np.asarray(ids, dtype=np.int64), type=pa.int64()),
                "weight": pa.array(np.asarray(w, dtype=np.float64), type=pa.float64()),
                "contributors": pa.array(
                    [list(map(int, c)) for c in contribs], type=pa.list_(pa.int64())
                ),
            }
        )
        return LE.arrow_result_df(spark, tbl, schema)

    return BipartiteAnalysis(side(l_ids, lw, l_c), side(r_ids, rw, r_c))


def bipartite_link_analysis(
    edges: DataFrame,
    left_weights: DataFrame,
    num_iterations: int = 2,
    reset_prob_left: float = 0.0,
    reset_prob_right: float = 0.0,
    num_top_contributors: int = 3,
    num_partitions: int | None = None,
    contributor_weight_rounding: int | None = None,
    engine: str = "auto",
) -> BipartiteAnalysis:
    """``edges`` are left->right pairs (src=left id, dst=right id);
    ``left_weights`` is ``(id, weight)`` initial left-side weights (the
    SuppliedNodeInfo seq). Ids may overlap across sides (distinct spaces
    recommended).

    ``contributor_weight_rounding``: round contributor weights to this many
    decimals before ranking — float-noise-stable ordering for cross-engine
    comparisons (the reference's priority queue has unspecified tie order,
    so any deterministic refinement is valid)."""
    spark = edges.sparkSession
    route, m = choose_engine(edges, engine, cap=BIPARTITE_LOCAL_CAP)
    if route == "local":
        return _bipartite_local(
            spark, edges, left_weights, num_iterations, reset_prob_left,
            reset_prob_right, num_top_contributors, contributor_weight_rounding,
        )
    # the alternating left/right passes share the driver's partition count,
    # scratch and cleanup, but not its loop: each pass writes a different
    # side and the last two also record contributors
    with Superstep(spark, m, num_partitions) as ss:
        # subgraph restriction: only edges whose left endpoint was supplied
        e = ss.persist(
            edges.select("src", "dst")
            .join(left_weights.select(F.col("id").alias("src")), "src", "left_semi"),
            "src",
        )
        ldeg = e.groupBy("src").agg(F.count("*").alias("ldeg"))
        rdeg = e.groupBy("dst").agg(F.count("*").alias("rdeg"))

        lw0 = ss.persist(
            left_weights.select("id", F.col("weight").alias("init"))
            .join(ldeg.withColumnRenamed("src", "id"), "id", "left")
            .fillna(0, subset=["ldeg"])
        )
        # per side: the state (id, weight, [init,] degree), the side's id
        # column in ``e``, its degree column and reset probability. Only the
        # left side carries ``init``: the right side's reset target is 0.
        state = {
            "left": ss.write(
                lw0.select("id", F.col("init").alias("weight"), "init", "ldeg"),
                bucket_by=None,
            )[0],
            "right": ss.write(
                rdeg.select(F.col("dst").alias("id"), F.lit(0.0).alias("weight"), "rdeg"),
                bucket_by=None,
            )[0],
        }
        col = {"left": "src", "right": "dst"}
        deg = {"left": "ldeg", "right": "rdeg"}
        reset = {"left": reset_prob_left, "right": reset_prob_right}
        contrib = {"left": None, "right": None}
        rank_w = (
            F.round("src_weight", contributor_weight_rounding)
            if contributor_weight_rounding is not None
            else F.col("src_weight")
        )

        # odd iterations flow left -> right, even ones right -> left
        for it in range(1, num_iterations + 1):
            frm, to = ("left", "right") if it % 2 == 1 else ("right", "left")
            flows = (
                e.join(
                    state[frm].select(F.col("id").alias(col[frm]), "weight", deg[frm]),
                    col[frm],
                )
                .select(
                    "src",
                    "dst",
                    (
                        (F.col("weight") / F.col(deg[frm]))
                        * F.lit(1.0 - reset[to])
                    ).alias("flow"),
                    F.col("weight").alias("src_weight"),
                )
            )
            agg = flows.groupBy(col[to]).agg(F.sum("flow").alias("gathered"))
            kept = [c for c in state[to].columns if c not in ("id", "weight")]
            gathered = F.coalesce("gathered", F.lit(0.0))
            if "init" in kept:
                gathered = F.lit(reset[to]) * F.col("init") + gathered
            state[to], _ = ss.write(
                state[to].select("id", *kept)
                .join(agg.withColumnRenamed(col[to], "id"), "id", "left")
                .select("id", gathered.alias("weight"), *kept),
                bucket_by=None,
            )
            if it >= num_iterations - 1:
                w = Window.partitionBy(col[to]).orderBy(
                    rank_w.desc(), F.asc(col[frm])
                )
                contrib[to] = ss.local_checkpoint(
                    flows.withColumn("rn", F.row_number().over(w))
                    .filter(F.col("rn") <= num_top_contributors)
                    .groupBy(F.col(col[to]).alias("id"))
                    .agg(_ranked_list(col[frm]).alias("contributors"))
                )

        empty = F.array().cast("array<bigint>")
        out = {}
        for side in ("left", "right"):
            st, c = state[side], contrib[side]
            out[side] = materialize(
                st.select("id", "weight").join(
                    c if c is not None else st.select("id").withColumn("contributors", empty),
                    "id",
                    "left",
                ).select("id", "weight", F.coalesce("contributors", empty).alias("contributors"))
            )
        return BipartiteAnalysis(**out)
