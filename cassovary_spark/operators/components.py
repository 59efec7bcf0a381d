"""Weakly-connected components via min-label propagation with pointer-jumping.

The reference has no named CC implementation — reachability is derivable from
``BreadthFirstTraverser`` (graph/Traverser.scala:426) — but the north rule
requires exact component assignments. Semantics: on the mutualized
(undirected) edge set, every vertex is labeled with the MINIMUM vertex id of
its component (deterministic, reference-free ground truth).

Scale design:
- "hash-min" superstep: label'(v) = min(label(v), min_{u~v} label(u)) — one
  co-partitioned join + partial-aggregating groupBy per superstep; converges
  in O(diameter) supersteps.
- pointer-jumping acceleration (label(v) <- label(label(v)), one self-join on
  the SMALL label table) collapses chains in O(log diameter) — the same idea
  as large-star/small-star (Kiveris et al., "Connected Components in
  MapReduce and Beyond") without rewriting the big edge table each round.
- convergence test: sum(label) is strictly decreasing until fixpoint (labels
  are per-vertex monotone non-increasing), so one tiny scalar agg per
  superstep detects the fixpoint with no extra join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cassovary_spark.checkpoint import CheckpointStore, materialize
from cassovary_spark.graph import mutualize, vertices_of
from cassovary_spark.plans.layout import UPDATE_JOIN_HINT
from cassovary_spark.superstep import Superstep, choose_engine


def connected_components(
    edges: DataFrame,
    max_iterations: int | None = None,
    num_partitions: int | None = None,
    pointer_jump: bool = True,
    checkpoint: CheckpointStore | None = None,
    resume: bool = False,
    engine: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """Exact weakly-connected components; returns ``(id, component)`` where
    ``component`` is the min vertex id in the component.

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
            return spark.createDataFrame([], "id long, component long")
        comp = LE.connected_components_numpy(ids, si, di)
        if stats is not None:
            stats["iterations"] = 0  # union-find, not superstep-iterative
        return LE.result_df(spark, ids, {"component": comp}, "id long, component long")

    with Superstep(spark, m, num_partitions, stats) as ss:
        # the superstep join keys on dst (gather neighbor labels), so the
        # static edge table is partitioned AND sorted by dst — SMJ then never
        # exchanges or sorts the big side
        und = ss.name(ss.persist(mutualize(edges), "dst"))
        verts = ss.persist(vertices_of(edges), "id")

        start, labels, _meta = ss.latest(checkpoint, resume)
        if labels is None:
            labels = verts.select("id", F.col("id").alias("component"))
        else:
            labels = labels.repartition(ss.p, "id")
        # labels enter the superstep through the neighbor gather, the least()
        # fallback, AND (with pointer_jump) a self-join — multiplicative stat
        # growth — so per-superstep stats are reset via StateScratch.
        labels, _ = ss.write(labels)
        label_sum = labels.agg(F.sum("component")).first()[0]

        def step(labels, last):
            state = ss.name(labels)
            # NO WITH clause: Spark 4.1's CTE planning loses the persisted
            # sorted view's ordering attributes when the CTE body contains a
            # merge join over it ("key not found: dst#N" in SortExec during
            # prepareForExecution) — inline subqueries plan fine and
            # identical subtrees still collapse to ReusedExchange
            sql = f"""SELECT /*+ {UPDATE_JOIN_HINT}(c) */ s.id,
         least(s.component, coalesce(c.nbr_component, s.component)) AS component
  FROM {state} s
  LEFT JOIN (
      SELECT /*+ MERGE(e) */ e.src AS id, min(l.component) AS nbr_component
      FROM {und} e JOIN {state} l ON e.dst = l.id
      GROUP BY e.src
  ) c ON s.id = c.id"""
            if pointer_jump:
                # label(v) <- label(label(v)) as TWO phases: materialize the
                # gather+update once to scratch, then self-join the O(V)
                # table. An inlined self-join of the update subquery looked
                # free but the planner reused only one exchange — the O(E)
                # gather aggregation ran TWICE per superstep (measured: CC
                # superstep ~4x a pagerank superstep at 64M edges). An extra
                # O(V) scratch write is far cheaper than a second O(E) gather.
                # Values are identical — the jump reads the same update rows.
                # SHUFFLE_HASH(lut): the probe side is keyed on `component`
                # (unsorted, un-co-partitioned), so SMJ would sort BOTH sides
                # after their exchanges; the hash build of the O(V) lut is
                # the cheaper half.
                nl = ss.name(ss.write(spark.sql(sql))[0])
                sql = f"""
  SELECT /*+ {UPDATE_JOIN_HINT}(lut) */ nl.id, coalesce(lut.component, nl.component) AS component
  FROM {nl} nl
  LEFT JOIN {nl} lut ON nl.component = lut.id"""
            # convergence metric (Σ labels strictly decreases until fixpoint)
            # collected via observe during the state write — one job/superstep
            new_labels, got = ss.write(spark.sql(sql), F.sum("component").alias("s"))
            same = got["s"] == last["label_sum"]  # also None == None: no vertices
            return new_labels, {
                "error": 0.0 if same else float(last["label_sum"] - got["s"]),
                "label_sum": got["s"],
            }

        labels, _ = ss.run(
            labels, step, lambda row: row.get("error") == 0,
            max_iterations=max_iterations, row={"label_sum": label_sum},
            start=start, checkpoint=checkpoint,
        )
        return materialize(labels.select("id", "component"))
