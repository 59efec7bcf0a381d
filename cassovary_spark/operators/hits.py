"""HITS (hubs & authorities), matching the reference iteration exactly
(algorithms/linkanalysis/Hits.scala):

- init: hubs = 1/N on existing nodes, authorities = 0 (:75-79)
- per iteration (:81-103):
    auth'[v] = sum_{u->v} hubs[u]            (computed first)
    hub'[u]  = sum_{u->v} auth'[v]           (uses the NEW authorities!)
    scale both by their MAX (scale(), :53-56; d <= 0 leaves unscaled)
- error = T1(hubs, hub') computed on the max-scaled hubs (:102)
- terminate: iteration >= max_iterations (default 100) or error <= tolerance
  (1e-8) (HitsParams :24-27, LinkAnalysis.scala:98-100)
- postRun with normalize=True: scale both by their SUM (:105-110)

Scale: two co-partitioned join+groupBy passes per superstep over a stationary
by-src / by-dst dual-orientation edge layout (the distributed analog of the
reference's direction-aware gather/scatter choice, Hits.scala:85-99).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassovary_spark.checkpoint import materialize
from cassovary_spark.graph import vertices_of
from cassovary_spark.plans.layout import UPDATE_JOIN_HINT
from cassovary_spark.superstep import Superstep, choose_engine


@dataclass
class HitsResult:
    scores: DataFrame  # (id, hub, authority)
    error: float
    iterations: int
    history: list[dict] = field(default_factory=list)


def _empty(spark) -> HitsResult:
    return HitsResult(
        spark.createDataFrame([], "id long, hub double, authority double"), 0.0, 0
    )


def hits(
    edges: DataFrame,
    max_iterations: int | None = 100,
    tolerance: float = 1e-8,
    normalize: bool = True,
    num_partitions: int | None = None,
    engine: str = "auto",
) -> HitsResult:
    spark = edges.sparkSession
    route, m = choose_engine(edges, engine)
    if route == "local":
        from cassovary_spark.operators import local_engine as LE

        ids, si, di = LE.edges_to_numpy(edges)
        if len(ids) == 0:
            return _empty(spark)
        hub, auth, error, its, history = LE.hits_numpy(
            ids, si, di, max_iterations, tolerance
        )
        if normalize:
            hs = hub.sum() or 1.0
            as_ = auth.sum() or 1.0
            hub, auth = hub / hs, auth / as_
        scores = LE.result_df(
            spark, ids, {"hub": hub, "authority": auth},
            "id long, hub double, authority double",
        )
        return HitsResult(scores, error, its, history)

    with Superstep(spark, m, num_partitions) as ss:
        p = ss.p
        verts = ss.persist(vertices_of(edges), "id")
        n = verts.count()
        if n == 0:
            return _empty(spark)
        # dual orientation: gather-for-auth joins on src, gather-for-hub on dst
        by_src = ss.persist(edges.select("src", "dst"), "src")
        by_dst = ss.persist(edges.select("src", "dst"), "dst")

        # state feeds TWO branches of each superstep's join tree (auth gather
        # + hub gather over the fresh auth), so per-superstep stats must be
        # RESET, not just lineage-truncated — see checkpoint.StateScratch.
        state, _ = ss.write(
            verts.select("id", F.lit(1.0 / n).alias("hub"), F.lit(0.0).alias("authority"))
        )

        def step(state, _last):
            auth_raw = (
                by_src.hint("merge").join(state.select(F.col("id").alias("src"), "hub"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("hub").alias("a_raw"))
            )
            auth_full = ss.local_checkpoint(
                verts.join(auth_raw.hint(UPDATE_JOIN_HINT), "id", "left")
                .select("id", F.coalesce("a_raw", F.lit(0.0)).alias("a_raw"))
                .repartition(p, "id")
            )
            hub_raw = (
                by_dst.hint("merge").join(auth_full.select(F.col("id").alias("dst"), "a_raw"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("a_raw").alias("h_raw"))
            )
            # carry the previous (normalized) hub along and collect the
            # per-side maxes via ``observe`` DURING the materialization — the
            # reference's scale-by-max pass (Hits.scala:53-56,101) without its
            # own scan. Both non-state sides hash-build (UPDATE_JOIN_HINT):
            # hub_raw is a fresh aggregate and the first join's SHJ output
            # loses the sort order SMJ would have needed from the second
            joined, maxes = ss.write(
                state.select("id", F.col("hub").alias("prev_hub"))
                .join(hub_raw.hint(UPDATE_JOIN_HINT), "id", "left")
                .join(auth_full.hint(UPDATE_JOIN_HINT), "id")
                .select(
                    "id", F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"),
                    "a_raw", "prev_hub",
                )
                .repartition(p, "id"),
                F.max("h_raw").alias("hmax"), F.max("a_raw").alias("amax"),
            )
            hmax = maxes["hmax"] if (maxes["hmax"] or 0) > 0 else 1.0
            amax = maxes["amax"] if (maxes["amax"] or 0) > 0 else 1.0
            # normalization write doubles as the T1-error scan (observe again)
            new_state, got = ss.write(
                joined.select(
                    "id",
                    (F.col("h_raw") / F.lit(hmax)).alias("hub"),
                    (F.col("a_raw") / F.lit(amax)).alias("authority"),
                    "prev_hub",
                ),
                F.sum(F.abs(F.col("prev_hub") - F.col("hub"))).alias("e"),
                drop=("prev_hub",),
            )
            return new_state, {"error": got["e"]}

        state, history = ss.run(
            state, step, lambda row: row["error"] <= tolerance,
            max_iterations=max_iterations, row={"error": 100.0 + tolerance},
        )
        error = history[-1]["error"] if history else 100.0 + tolerance

        if normalize:
            sums = state.agg(F.sum("hub").alias("hs"), F.sum("authority").alias("as_")).first()
            hs = sums["hs"] if (sums["hs"] or 0) > 0 else 1.0
            as_ = sums["as_"] if (sums["as_"] or 0) > 0 else 1.0
            state = state.select(
                "id",
                (F.col("hub") / F.lit(hs)).alias("hub"),
                (F.col("authority") / F.lit(as_)).alias("authority"),
            )
        result = materialize(state.select("id", "hub", "authority"))
    return HitsResult(result, error, len(history), history)
