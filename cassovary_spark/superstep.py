"""The one superstep driver and the one engine-routing rule.

Reference: ``LinkAnalysis[T].run`` (algorithms/linkanalysis/LinkAnalysis.scala:46-118)
owns the iterate-until-tolerance loop and PageRank/HITS supply only
``iterate``, the initial state and ``postRun``. Here ``Superstep`` owns the
loop of every distributed iterative operator — partition count, session conf,
state transport, per-superstep history, checkpoint/resume and cleanup — and
each operator supplies its static tables, its superstep and its convergence
test.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, Observation

from cassovary_spark import plans
from cassovary_spark.checkpoint import CheckpointStore, StateScratch

ENGINES = ("auto", "local", "distributed")


def local_edge_threshold() -> int:
    """Largest edge count ``engine='auto'`` runs on the local (numpy) engine.

    The bound is DRIVER-MEMORY-derived, not a compute crossover: r6
    measurement at 6M edges put the numpy engine at ~50ms/PageRank iteration
    (8ns/edge) vs ~0.7s/distributed superstep at local[32] (57ns/edge + 0.35s
    fixed), so on compute alone the local path wins far beyond any reasonable
    single-process size and the honest limit is the edge arrays + their
    sort/unique workspace (~4x the 16 B/edge payload) fitting a bounded slice
    of driver memory. CASSOVARY_LOCAL_EDGE_BUDGET_MB (default 256 MB of edge
    payload => ~16.7M edges, peak workspace ~1 GB) sizes it per deployment;
    it is read on every call."""
    budget_mb = int(os.environ.get("CASSOVARY_LOCAL_EDGE_BUDGET_MB", "256"))
    return (budget_mb * (1 << 20)) // 16


def choose_engine(
    edges: DataFrame,
    engine: str = "auto",
    *,
    cap: int | None = None,
    local_ok: bool = True,
    checkpoint: CheckpointStore | None = None,
    resume: bool = False,
) -> tuple[str, int | None]:
    """Route an operator call over ``edges`` to ``"local"`` (one Arrow
    transfer + a numpy twin, operators/local_engine.py) or ``"distributed"``
    (supersteps). Returns ``(route, m)``.

    ``engine='auto'`` picks local when the edge count ``m`` is at most
    ``local_edge_threshold()`` and the operator's own ``cap``, the operator
    allows it (``local_ok``, e.g. a walk's event-log bound) and no checkpoint
    store is in play; ``'local'``/``'distributed'`` force a path.

    ``m`` is ``plans.row_count(edges)``: read from the plan of a
    materialized cache (no Spark job), else a ``count()``. It steers the
    route, the partition count and the AQE bound (pass it on to
    ``Superstep``), never a reported figure. It is None only for a forced
    ``engine='local'``, which reads no count at all."""
    if engine not in ENGINES:
        raise ValueError(f"engine must be one of {ENGINES}, got {engine!r}")
    if engine == "local":
        if checkpoint is not None or resume:
            # the numpy twin has no durable superstep state — silently
            # dropping the caller's checkpoint/resume contract would be a
            # wrong-results trap on restart
            raise ValueError(
                "engine='local' cannot honor checkpoint/resume; "
                "use engine='distributed' (or 'auto', which routes around it)"
            )
        return "local", None
    m = plans.row_count(edges)
    if engine == "distributed" or checkpoint is not None or not local_ok:
        return "distributed", m
    limit = local_edge_threshold()
    if cap is not None:
        limit = min(limit, cap)
    return ("local" if m <= limit else "distributed"), m


class Superstep:
    """One distributed operator run over ``m`` edge rows.

    A context manager: on exit, normal or not, it closes the state scratch
    (files + catalog tables) and drops every temp view, persisted frame and
    local checkpoint it handed out, so a superstep that raises leaks nothing
    into the session. ``run`` drives the loop."""

    def __init__(self, spark, m: int, num_partitions: int | None = None,
                 stats: dict | None = None):
        self.spark, self.m, self.stats = spark, m, stats
        self.p = plans.choose_partitions(spark, m, num_partitions)
        self.scratch: StateScratch | None = None
        self._views: list[str] = []
        self._frames: list[DataFrame] = []
        self._rdds: list = []

    def __enter__(self) -> "Superstep":
        self.scratch = StateScratch(self.spark)
        return self

    def __exit__(self, *exc) -> None:
        self.scratch.close()
        for view in self._views:
            try:
                self.spark.catalog.dropTempView(view)
            except Exception:  # noqa: BLE001 — session may already be gone
                pass
        for df in self._frames:
            df.unpersist()
        for rdd in self._rdds:
            rdd.unpersist(False)

    def persist(self, df: DataFrame, key: str | None = None) -> DataFrame:
        """Persist a static table for the run; with ``key``, partitioned AND
        sorted by it, so every superstep's join on ``key`` skips exchange and
        sort on this side."""
        if key is not None:
            df = df.repartition(self.p, key).sortWithinPartitions(key)
        df = df.persist()
        self._frames.append(df)
        return df

    def local_checkpoint(self, df: DataFrame) -> DataFrame:
        """``checkpoint.materialize`` whose cached partitions are freed with
        the run."""
        out = df.localCheckpoint(eager=True)
        self._rdds.append(out._jdf.queryExecution().logical().rdd())
        return out

    def name(self, df: DataFrame) -> str:
        """Name under which ``spark.sql()`` reads ``df``: its scratch catalog
        table when ``df`` is the latest bucketed state write, else a uniquely
        named temp view (costs no write) — after a checkpoint save or resume,
        a plain-parquet fallback, or for a static table."""
        tag = getattr(df, "_cassovary_scratch", None)
        if tag is not None and tag[1] == self.scratch.last_table and StateScratch.is_live(df):
            return tag[1]
        view = f"cassovary_view_{uuid.uuid4().hex[:12]}"
        df.createOrReplaceTempView(view)
        self._views.append(view)
        return view

    def write(self, df: DataFrame, *metrics: Column, drop: tuple[str, ...] = (),
              bucket_by: str | None = "id") -> tuple[DataFrame, dict]:
        """Round-trip one state frame through the scratch, bucketed by
        ``bucket_by`` into ``p`` buckets (plain parquet when None).
        ``metrics`` are aggregates collected via ``observe`` DURING the write
        — no extra job — and returned by alias; ``drop`` columns feed only
        the metrics. The storage round-trip truncates lineage AND resets
        Catalyst stats (measured 3-4x faster than localCheckpoint at 16M
        vertices — checkpoint.StateScratch)."""
        obs = None
        if metrics:
            obs = Observation()
            df = df.observe(obs, *metrics)
        if drop:
            df = df.drop(*drop)
        out = self.scratch.roundtrip(df, bucket_by=bucket_by, num_buckets=self.p)
        return out, (dict(obs.get) if obs is not None else {})

    def latest(self, checkpoint: CheckpointStore | None, resume: bool):
        """``(iteration, state, meta)`` of the checkpoint to resume from, or
        ``(0, None, None)``."""
        got = checkpoint.latest(self.spark) if resume and checkpoint is not None else None
        return got if got is not None else (0, None, None)

    def run(
        self,
        state: Any,
        step: Callable[[Any, dict], tuple[Any, dict]],
        done: Callable[[dict], bool] = lambda row: False,
        *,
        max_iterations: int | None = None,
        row: dict | None = None,
        start: int = 0,
        checkpoint: CheckpointStore | None = None,
        checkpoint_every: int = 1,
    ) -> tuple[Any, list[dict]]:
        """Iterate ``state, metrics = step(state, row)`` from iteration
        ``start`` until ``max_iterations`` or ``done(row)``, where ``row`` is
        the previous superstep's history row (initially ``row``). Returns the
        final state and the history of the supersteps run in this call: one
        row per superstep with ``iteration``, the step's metrics, ``wall_sec``
        and ``state_bucketed``. Every ``checkpoint_every`` supersteps the
        state and its row are saved to ``checkpoint``; the next superstep
        then reads the store's frame."""
        row = dict(row or {})
        history: list[dict] = []
        iteration = start
        # small graphs: AQE off + shuffle partitions pinned to p for the loop
        with plans.superstep_conf(self.spark, self.p, self.m):
            while (max_iterations is None or iteration < max_iterations) and not done(row):
                t0 = time.time()
                state, metrics = step(state, row)
                iteration += 1
                row = {
                    "iteration": iteration,
                    **metrics,
                    "wall_sec": round(time.time() - t0, 3),
                    "state_bucketed": self.scratch._bucketing_ok,
                }
                history.append(row)
                if self.stats is not None:
                    self.stats.setdefault("superstep_walls", []).append(row["wall_sec"])
                    self.stats["iterations"] = iteration
                if checkpoint is not None and iteration % checkpoint_every == 0:
                    state = checkpoint.save(iteration, state, row)
        return state, history
