"""The benchmark's workloads: inputs, the steps of one job, and their checks.

A job is a closed loop of steps: each step runs, its result is collected to
the driver, the step's time is recorded, and the result is checked before the
next step starts. Only the step itself is timed; references are computed once
per seed, before any timed work.

Inputs come from ``synth_transcripts(seed=<--seed>)``; the engine sees only
the generated tables.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import reference as ref


@dataclass
class Step:
    name: str  # end-to-end metric name of the step, e.g. "pagerank_s"
    run: Callable[["Ctx"], Any]  # returns the collected result
    check: Callable[["Ctx", Any], None]  # raises ref.Mismatch
    engine: str | None  # route the step must take: "local", "distributed" or None
    repeat: int = 1  # calls per job; the step's time is their median


@dataclass
class Ctx:
    """Per-run state shared by a workload's setup, steps and checks."""

    spark: Any
    seed: int
    dirs: dict[str, str]
    inputs: dict[str, Any] = field(default_factory=dict)
    refs: dict[str, Any] = field(default_factory=dict)
    trace: Any = None  # tracing.Tracer or NullTracer of the session
    step: str = ""  # metric name of the step running now
    job: dict[str, Any] = field(default_factory=dict)  # outputs of the current job
    job_no: int = 0

    def fresh_dir(self, kind: str) -> str:
        """A new, empty directory under the run's scratch root."""
        path = os.path.join(self.dirs["work"], f"{kind}-{self.job_no}-{time.monotonic_ns()}")
        os.makedirs(path)
        return path


class Workload:
    name = ""
    steps: list[Step] = []

    def setup(self, ctx: Ctx, trace) -> None:
        """Build the inputs (timed as part of ``setup_s``)."""
        raise NotImplementedError

    def references(self, ctx: Ctx) -> None:
        """Compute the expected outputs (untimed)."""
        raise NotImplementedError

    def transcripts(self, ctx: Ctx):
        """The workload's transcript frame (input of its turn edges)."""
        return ctx.inputs["transcripts"]

    def cleanup_job(self, ctx: Ctx) -> None:
        """Remove what one job left in the run's scratch root."""
        shutil.rmtree(ctx.dirs["work"], ignore_errors=True)
        os.makedirs(ctx.dirs["work"])


# ------------------------------------------------------------ shared pieces
def derive_turn_edges(transcripts, trace):
    """``turn_edges`` over a transcript frame, persisted and counted."""
    from cassovary_spark.sources import transcripts as T

    with trace.span("sources.turn_edges") as sp:
        edges = T.turn_edges(transcripts).persist()
        sp.attrs["edges_out"] = edges.count()
    return edges


def turn_graph_setup(ctx: Ctx, n_convs: int, trace) -> None:
    from cassovary_spark.sources.transcripts import synth_transcripts

    tr = synth_transcripts(ctx.spark, n_convs=n_convs, seed=ctx.seed)
    ctx.inputs["transcripts"] = tr
    ctx.inputs["edges"] = derive_turn_edges(tr, trace)


def edge_arrays(edges):
    tbl = edges.select("src", "dst").toArrow()
    return tbl.column("src").to_numpy(), tbl.column("dst").to_numpy()


def history_ok(what: str, history: list[dict]) -> None:
    """A distributed superstep that fell back to unbucketed state measured a
    different program: fail the job."""
    if any(row.get("state_bucketed") is False for row in history):
        raise ref.Mismatch(f"{what}: bucketed state write fell back to plain parquet")


def check_ranks(what: str, expected, res) -> None:
    ids, ranks, iters = expected
    ref.expect_equal(f"{what} iterations", iters, res.iterations)
    got_ids, got = ref.table_by_id(res.ranks_tbl, "pagerank")
    ref.expect_close(f"{what} ranks", ids, ranks, got_ids, got)
    history_ok(what, res.history)


def collect_pagerank(res):
    res.ranks_tbl = res.ranks.toArrow()
    return res


def check_labels(what: str, col: str, expected):
    def check(ctx: Ctx, tbl) -> None:
        ids, labels = expected(ctx)
        got_ids, got = ref.table_by_id(tbl, col)
        ref.expect_equal(f"{what} vertices", ids, got_ids)
        ref.expect_equal(f"{what} labels", labels, got)

    return check


# ---------------------------------------------------------------- workloads
class Superstep(Workload):
    """Distributed PageRank on the turn graph: the superstep machinery and
    the StateScratch state round-trip, a durable CheckpointStore snapshot
    after the last superstep, then a run resumed from that snapshot. The
    local engine does no work."""

    name = "superstep_80k"
    n_convs = 5_000
    first = 2  # supersteps before the snapshot the resumed run starts from
    total = 3  # superstep the resumed run stops at

    def __init__(self):
        self.steps = [
            Step("pagerank_s", self._first, self._check_first, "distributed"),
            Step("resume_s", self._resume, self._check_resume, "distributed"),
        ]

    def setup(self, ctx, trace):
        turn_graph_setup(ctx, self.n_convs, trace)

    def references(self, ctx):
        src, dst = edge_arrays(ctx.inputs["edges"])
        ctx.inputs["m"] = len(src)
        ctx.inputs["rows_in"] = ctx.inputs["transcripts"].count()
        for its in (self.first, self.total):
            ctx.refs[its] = ref.pagerank(src, dst, iterations=its)

    def _run(self, ctx, its, resume):
        from cassovary_spark.operators.pagerank import pagerank

        res = pagerank(ctx.inputs["edges"], max_iterations=its, tolerance=0.0,
                       engine="distributed", checkpoint=ctx.job["ckpt"],
                       checkpoint_every=self.first, resume=resume)
        ctx.job.setdefault("pagerank_runs", []).append((ctx.step, res))
        return collect_pagerank(res)

    def _first(self, ctx):
        from cassovary_spark.checkpoint import CheckpointStore

        ctx.job["ckpt"] = CheckpointStore(ctx.fresh_dir("ckpt"))
        return self._run(ctx, self.first, resume=False)

    def _check_first(self, ctx, res):
        check_ranks("pagerank", ctx.refs[self.first], res)
        done = ctx.job["ckpt"].complete_iterations()
        ref.expect_equal("snapshots written", [self.first], done)
        # supersteps a resumed run recomputes: run before the "kill" but
        # missing from the store
        ctx.job["replayed"] = self.first - done[-1]

    def _resume(self, ctx):
        return self._run(ctx, self.total, resume=True)

    def _check_resume(self, ctx, res):
        ref.expect_equal("supersteps run after resume",
                         self.total - self.first, len(res.history))
        check_ranks("resumed pagerank vs uninterrupted", ctx.refs[self.total], res)


class RoutedIngest(Workload):
    """Edge derivation from a parquet transcript table, the operators that
    ``engine="auto"`` routes to the local engine, and the streaming
    derivation over chunked file batches. The sources, streaming and
    local-engine layers do the work; no distributed superstep runs."""

    name = "routed_ingest_80k"
    n_convs = 5_000
    chunks = 2  # streamed file batches, split by turn_idx range
    ppr_iterations = 15
    hits_iterations = 10
    lpa_rounds = 5

    def __init__(self):
        labels = lambda key, col: check_labels(key, col, lambda c: c.refs[key])  # noqa: E731
        self.steps = [
            Step("derive_s", self._derive, self._check_derive, None),
            # the first local-engine step pays the cold Arrow/result paths;
            # PageRank, the end-to-end step, runs after the other four, and
            # three times: one sub-second call jitters by a quarter
            Step("ppr_s", self._ppr, self._check_ppr, "local"),
            Step("hits_s", self._hits, self._check_hits, "local"),
            Step("cc_s", self._cc, labels("cc", "component"), "local"),
            Step("lpa_s", self._lpa, labels("lpa", "label"), "local"),
            Step("pagerank_s", self._pagerank, self._check_pagerank, "local", repeat=3),
            Step("stream_edges_s", self._stream, self._check_stream, None),
        ]

    def setup(self, ctx, trace):
        from pyspark.sql import functions as F

        from cassovary_spark.sources.transcripts import synth_transcripts

        # the table is one file per chunk, written oldest first: the stream
        # reads them one by one, the batch steps scan the directory
        table = os.path.join(ctx.dirs["inputs"], "transcripts")
        tr = synth_transcripts(ctx.spark, n_convs=self.n_convs, seed=ctx.seed).persist()
        span = -(-32 // self.chunks)
        for k in range(self.chunks):
            (tr.filter((F.col("turn_idx") >= k * span) & (F.col("turn_idx") < (k + 1) * span))
             .coalesce(1).write.mode("append").parquet(table))
        tr.unpersist()
        ctx.inputs["table"] = table
        ctx.inputs["schema"] = tr.schema

    def references(self, ctx):
        from pyspark.sql import functions as F

        t = ctx.spark.read.parquet(ctx.inputs["table"]).select(
            F.regexp_extract("conv_id", r"^conv(\d+)$", 1).cast("long").alias("conv"),
            "turn_idx",
        ).toArrow()
        conv = t.column("conv").to_numpy()
        turn = t.column("turn_idx").to_numpy().astype(np.int64)
        src, dst = ref.turn_edges(conv, turn)
        ctx.inputs["rows_in"] = t.num_rows
        ctx.inputs["m"] = len(src)
        ctx.refs["turn_edges"] = ref.edge_keys(src, dst)
        ctx.refs["pagerank"] = ref.pagerank(src, dst, tolerance=1e-6)
        ctx.refs["ppr_seed"] = int(src.min())
        ctx.refs["ppr"] = ref.personalized_pagerank(
            src, dst, [ctx.refs["ppr_seed"]], self.ppr_iterations)
        ctx.refs["hits"] = ref.hits(src, dst, self.hits_iterations, tolerance=0.0)
        ctx.refs["cc"] = ref.connected_components(src, dst)
        ids, labels, _rounds = ref.label_propagation(src, dst, self.lpa_rounds)
        ctx.refs["lpa"] = (ids, labels)

    def transcripts(self, ctx):
        return ctx.spark.read.parquet(ctx.inputs["table"])

    def cleanup_job(self, ctx):
        if "edges" in ctx.job:
            ctx.job["edges"].unpersist()
        super().cleanup_job(ctx)

    def _derive(self, ctx):
        ctx.job["edges"] = derive_turn_edges(self.transcripts(ctx), ctx.trace)
        return ctx.job["edges"]

    def _check_derive(self, ctx, edges):
        src, dst = edge_arrays(edges)
        ctx.job["batch_edges"] = ref.edge_keys(src, dst)
        ref.expect_equal("turn edges", ctx.refs["turn_edges"], ctx.job["batch_edges"])

    def _pagerank(self, ctx):
        from cassovary_spark.operators.pagerank import pagerank

        res = pagerank(ctx.job["edges"], max_iterations=None, tolerance=1e-6)
        ctx.job.setdefault("pagerank_runs", []).append((ctx.step, res))
        return collect_pagerank(res)

    def _check_pagerank(self, ctx, res):
        check_ranks("pagerank", ctx.refs["pagerank"], res)

    def _ppr(self, ctx):
        from cassovary_spark.operators.traversals import personalized_pagerank

        return personalized_pagerank(
            ctx.job["edges"], [ctx.refs["ppr_seed"]],
            max_iterations=self.ppr_iterations, tolerance=0.0,
        ).toArrow()

    def _check_ppr(self, ctx, tbl):
        ids, score = ctx.refs["ppr"]
        got_ids, got = ref.table_by_id(tbl, "score")
        ref.expect_close("ppr scores", ids, score, got_ids, got)

    def _hits(self, ctx):
        from cassovary_spark.operators.hits import hits

        res = hits(ctx.job["edges"], max_iterations=self.hits_iterations, tolerance=0.0)
        res.scores_tbl = res.scores.toArrow()
        return res

    def _check_hits(self, ctx, res):
        ids, hub, auth, its = ctx.refs["hits"]
        ref.expect_equal("hits iterations", its, res.iterations)
        got_ids, got_hub, got_auth = ref.table_by_id(res.scores_tbl, "hub", "authority")
        ref.expect_close("hits hubs", ids, hub, got_ids, got_hub)
        ref.expect_close("hits authorities", ids, auth, got_ids, got_auth)

    def _cc(self, ctx):
        from cassovary_spark.operators.components import connected_components

        return connected_components(ctx.job["edges"]).toArrow()

    def _lpa(self, ctx):
        from cassovary_spark.operators.labelprop import label_propagation

        return label_propagation(ctx.job["edges"], max_iterations=self.lpa_rounds).toArrow()

    def _stream(self, ctx):
        from cassovary_spark.streaming import ingest

        out, ckpt = ctx.fresh_dir("stream-out"), ctx.fresh_dir("stream-ckpt")
        src = (ctx.spark.readStream.schema(ctx.inputs["schema"])
               .option("maxFilesPerTrigger", 1).parquet(ctx.inputs["table"]))
        q = (ingest.stream_turn_edges(src).writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        try:
            if not q.awaitTermination(120):
                raise ref.Mismatch("stream: no termination within 120 s")
        finally:
            q.stop()
        if q.exception() is not None:
            raise ref.Mismatch(f"stream failed: {q.exception()}")
        ctx.job["stream_progress"] = q.recentProgress
        return out

    def _check_stream(self, ctx, out):
        batches = [p for p in ctx.job["stream_progress"] if p["numInputRows"] > 0]
        ref.expect_equal("stream micro-batches", self.chunks, len(batches))
        tbl = ctx.spark.read.parquet(out).toArrow()
        keys = ref.edge_keys(tbl.column("src").to_numpy(), tbl.column("dst").to_numpy())
        ref.expect_equal("streamed edges vs batch turn_edges", ctx.job["batch_edges"], keys)


WORKLOADS = {w.name: w for w in (Superstep, RoutedIngest)}
