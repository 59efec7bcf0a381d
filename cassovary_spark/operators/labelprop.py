"""Synchronous label propagation (community detection, LPA).

The reference has no LPA (its ``graph/labels/`` package is a vertex property
store, not an algorithm); the north rule requires one, so the semantics are
defined here precisely and deterministically (and mirrored by the pure-Python
oracle in tests):

- undirected (mutualized) edge set
- init: label(v) = v
- superstep: label'(v) = the most frequent label among v's neighbors; ties
  broken by SMALLEST label. Isolated vertices keep their label.
- terminate when no label changed or ``max_iterations`` reached. Synchronous
  LPA can 2-cycle on bipartite-ish structures, so ``max_iterations`` is a
  hard cap (oscillation counts as non-convergence and returns the current
  state deterministically).

Scale: one join (edges x labels, co-partitioned) + one (vertex,label) count
groupBy + one min(struct(-cnt,label)) argmax aggregation per superstep (r4:
replaced the row_number window — same winner, but map-side partial combine
and no per-partition sort); hub skew is bounded by distinct neighbor LABELS
per vertex (<< neighbor count after the pre-aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassovary_spark.checkpoint import CheckpointStore, materialize
from cassovary_spark.graph import mutualize, vertices_of
from cassovary_spark.plans.layout import UPDATE_JOIN_HINT
from cassovary_spark.superstep import Superstep, choose_engine


def label_propagation(
    edges: DataFrame,
    max_iterations: int = 20,
    num_partitions: int | None = None,
    checkpoint: CheckpointStore | None = None,
    resume: bool = False,
    engine: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Deterministic synchronous LPA; returns ``(id, label)``.

    ``stats``: optional caller-supplied dict the DISTRIBUTED engine fills
    with ``iterations`` and per-superstep ``superstep_walls`` (seconds) —
    the scaling harness's instrumentation (scripts/scaling_run.py); the
    numpy twin records ``iterations`` only."""
    spark = edges.sparkSession
    route, m = choose_engine(edges, engine, checkpoint=checkpoint, resume=resume)
    if route == "local":
        from cassovary_spark.operators import local_engine as LE

        ids, si, di = LE.edges_to_numpy(edges)
        if len(ids) == 0:
            return spark.createDataFrame([], "id long, label long")
        lab, rounds_run = LE.label_propagation_numpy(ids, si, di, max_iterations)
        if stats is not None:
            stats["iterations"] = rounds_run
        return LE.result_df(spark, ids, {"label": lab}, "id long, label long")

    with Superstep(spark, m, num_partitions, stats) as ss:
        # join keys on dst each superstep -> partition+sort the static edge
        # table by dst (see components.py rationale)
        und = ss.name(ss.persist(mutualize(edges), "dst"))
        verts = ss.persist(vertices_of(edges), "id")

        start, labels, _meta = ss.latest(checkpoint, resume)
        if labels is None:
            labels = verts.select("id", F.col("id").alias("label"))
        else:
            labels = labels.repartition(ss.p, "id")
        # labels feed two branches per superstep (neighbor-mode gather + the
        # keep-own-label fallback join) — stats must reset per superstep
        # (checkpoint.StateScratch rationale).
        labels, _ = ss.write(labels)

        def step(labels, last):
            state = ss.name(labels)
            # NO WITH clause (see components.py: Spark 4.1 CTE planning breaks
            # on merge joins over the persisted sorted view). Mode label via
            # min(struct(-cnt, label)): the highest count, ties to the
            # smallest label, as a plain aggregation — map-side partial
            # combine and NO per-partition sort of the (id,label) frame (r4;
            # measured in BENCH/BASELINE.md). The changed-count is observed
            # during the state write (the previous label rides along as a
            # dropped column) — one job/superstep.
            new_labels, got = ss.write(
                spark.sql(f"""
  SELECT /*+ {UPDATE_JOIN_HINT}(ml) */ s.id, coalesce(ml.new_label, s.label) AS label, s.label AS prev
  FROM {state} s LEFT JOIN (
      SELECT id, t.lab AS new_label FROM (
          SELECT id, min(named_struct('negc', -cnt, 'lab', label)) AS t
          FROM (
              SELECT /*+ MERGE(e) */ e.src AS id, l.label, count(*) AS cnt
              FROM {und} e JOIN {state} l ON e.dst = l.id
              GROUP BY e.src, l.label
          ) GROUP BY id
      )
  ) ml ON s.id = ml.id"""),
                F.sum(F.when(F.col("prev") != F.col("label"), 1).otherwise(0)).alias("changed"),
                drop=("prev",),
            )
            return new_labels, {"error": float(got["changed"] or 0)}

        labels, _ = ss.run(
            labels, step, lambda row: row.get("error") == 0,
            max_iterations=max_iterations, start=start, checkpoint=checkpoint,
        )
        return materialize(labels.select("id", "label"))
