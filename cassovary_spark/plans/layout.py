"""Engine-level physical layout decisions: the edge row count of an
operator call, the partition count of its stationary tables, the join hint
of the per-superstep state update (a constant, ``UPDATE_JOIN_HINT``), and
the session conf scope of a superstep loop."""

from __future__ import annotations

from contextlib import contextmanager

ROWS_PER_PARTITION = 2_000_000
SMALL_ROWS_PER_PARTITION = 40_000

# superstep_conf turns AQE off below this many edge rows. Its own constant:
# it equals the local engine's default budget (256 MB of 16 B/edge payload)
# but must not move when a deployment changes that budget.
AQE_OFF_MAX_ROWS = 16_777_216


# Join hint for the per-superstep STATE-UPDATE join (bucketed state x the
# superstep's fresh aggregate, both hash(id)-partitioned, so neither side
# exchanges either way). SHUFFLE_HASH skips the per-superstep SORT of the
# fresh aggregated side that sort-merge would insert (the bucketed state side
# is pre-sorted and is the streamed side in both strategies, so row order —
# and thus every observed FP sum — is unchanged); measured -13%
# whole-superstep at 3.2M edges, r6. The build side is the aggregate: <= V/p
# rows with p sized at ~ROWS_PER_PARTITION, so the per-task hash table is
# bounded at any scale. GATHER joins (edge table x state, both pre-sorted on
# the join key) stay MERGE: their SMJ sorts nothing and a hash build of the
# state would be pure overhead.
UPDATE_JOIN_HINT = "SHUFFLE_HASH"


@contextmanager
def superstep_conf(spark, num_partitions: int, rows: int):
    """Session conf scope for a small graph's superstep loop: AQE off (its
    per-query re-planning is ~0.07s/superstep of pure overhead when every
    stage is already tiny — measured r2) and ``spark.sql.shuffle.partitions``
    pinned to the operator's partition count so intermediate exchanges match
    the bucketed state layout. No-op at scale (rows >= AQE_OFF_MAX_ROWS),
    where AQE skew-splitting is worth its planning cost."""
    if rows >= AQE_OFF_MAX_ROWS:
        yield
        return
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def row_count(df) -> int:
    """Row count of an edge frame: the one place an operator's edge count
    ``m`` comes from. A materialized cache answers from its plan, with no
    Spark job (the ``rowCount`` of the ``InMemoryRelation`` under at most
    ``Project`` nodes of the optimized plan); any other frame is counted.

    The plan read is of a FRESH projection: a Dataset keeps the plan, and
    the statistics, it first computed, so ``df``'s own plan can predate its
    persist or outlive its unpersist. Only a fully loaded cache is trusted;
    other plans' row counts are estimates (``sample``) or absent
    (``filter``). The cached count is an accumulator that a recomputed
    partition adds to twice, so it may steer a route or a partition count
    but is never reported as a result."""
    plan = df.select("*")._jdf.queryExecution().optimizedPlan()
    while plan.nodeName() == "Project":
        plan = plan.child()
    if (
        plan.nodeName() == "InMemoryRelation"
        and plan.cacheBuilder().isCachedColumnBuffersLoaded()
        and plan.stats().rowCount().isDefined()
    ):
        return int(plan.stats().rowCount().get())
    return df.count()


def choose_partitions(spark, edges, requested: int | None = None) -> int:
    """Partition count for an operator's stationary tables: one partition per
    ~2M edge rows (the measured superstep task sweet spot), never below the
    cluster's total core count (``defaultParallelism`` — every core stays
    busy even on small graphs; measured: dropping below it costs 1.4x per
    superstep at local[32]), capped by ``spark.sql.shuffle.partitions``.
    The cap is the cluster-level knob sized for the BIGGEST tables (e.g.
    16k on a 1000-executor cluster); without this heuristic a small graph
    would inherit all 16k near-empty tasks per superstep.

    ``edges`` is an int row count, or a DataFrame whose rows ``row_count``
    gives (not read at all when ``requested`` pins the count)."""
    if requested:
        return requested
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_rows = edges if isinstance(edges, int) else row_count(edges)
    # small graphs don't get the full-parallelism floor: per-superstep task
    # scheduling dominates below ~40k rows/partition (measured r2 sweep:
    # 319k-edge PageRank superstep 0.52s at p=8/16 vs 0.67s at p=32), so the
    # floor is capped at one partition per SMALL_ROWS_PER_PARTITION rows
    floor = min(
        spark.sparkContext.defaultParallelism,
        max(1, -(-int(n_rows) // SMALL_ROWS_PER_PARTITION)),
    )
    need = max(floor, -(-int(n_rows) // ROWS_PER_PARTITION))
    return max(1, min(cap, need))
