"""Streaming turn-edge ingestion: incremental derivation == batch derivation,
including conversation turns that span micro-batches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cassovary_spark.sources import synth_transcripts, turn_edges
from cassovary_spark.streaming import stream_turn_edges


def _run_stream(spark, schema, src_glob, out, conv_timeout_ms=None):
    """One ``availableNow`` run of ``stream_turn_edges`` into a parquet sink
    at ``out`` (checkpoint ``out/_ckpt``, so a re-run resumes); returns
    every edge the sink holds, sorted. A processing-time timeout asks for a
    no-data batch after every batch, so timeout runs switch those off to
    terminate; timeouts then fire in the next batch that has data."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    if conv_timeout_ms is not None:
        spark.conf.set(key, "false")
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_glob)
        )
        q = (
            stream_turn_edges(stream, conv_timeout_ms=conv_timeout_ms)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{out}/_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        done = q.awaitTermination(120)
        if not done:
            q.stop()
    finally:
        spark.conf.unset(key)
    assert done, "no termination within 120 s"
    assert q.exception() is None, q.exception()
    return sorted((r["src"], r["dst"]) for r in spark.read.parquet(out).collect())


@pytest.mark.parametrize("split_turn", [1, 3])
def test_stream_edges_match_batch(spark, tmp_path, split_turn):
    """Feed the same transcripts in two file chunks split MID-conversation;
    the streaming result must equal the batch derivation exactly."""
    t = synth_transcripts(spark, n_convs=12, seed=7).persist()
    batch_edges = {(r["src"], r["dst"]) for r in turn_edges(t).collect()}

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    # chunk 1: every conversation's turns < split_turn; chunk 2: the rest.
    # every conversation with > split_turn turns now SPANS micro-batches.
    t.filter(F.col("turn_idx") < split_turn).coalesce(1).write.parquet(
        f"{src_dir}/b0"
    )
    t.filter(F.col("turn_idx") >= split_turn).coalesce(1).write.parquet(
        f"{src_dir}/b1"
    )

    got = set(_run_stream(spark, t.schema, f"{src_dir}/b*", str(tmp_path / "out")))
    t.unpersist()
    assert got == batch_edges

def test_stream_deltas_resolve_through_dynamic_graph(spark, tmp_path):
    """The §2.10 pipeline stitched end-to-end: the streaming operator's edge
    deltas append onto the batch edge table via DynamicGraph's last-writer-
    wins resolve, and the resolved view equals the full batch derivation."""
    from cassovary_spark.dynamic import DynamicGraph

    t = synth_transcripts(spark, n_convs=10, seed=5).persist()
    full = {(r["src"], r["dst"]) for r in turn_edges(t).collect()}

    # batch half: the edge table as of the first two turns per conversation
    prefix = t.filter(F.col("turn_idx") < 2)
    base = turn_edges(prefix).persist()
    base_set = {(r["src"], r["dst"]) for r in base.collect()}

    # streaming half: all turns flow through; the NEW edges (state-crossing
    # included) are the delta log appended to the base table
    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    prefix.coalesce(1).write.parquet(f"{src_dir}/b0")
    t.filter(F.col("turn_idx") >= 2).coalesce(1).write.parquet(f"{src_dir}/b1")
    streamed = set(_run_stream(spark, t.schema, f"{src_dir}/b*", str(tmp_path / "out")))
    deltas = sorted(streamed - base_set)

    dg = DynamicGraph(base=base).add_edges(deltas)
    resolved = {(r["src"], r["dst"]) for r in dg.current_edges().collect()}
    t.unpersist()
    base.unpersist()
    assert resolved == full


def test_stream_edges_gapped_and_foreign_ids(spark, tmp_path):
    """Gapped turn_idx chains by ORDER (batch lead() semantics) and
    non-synthetic conv_id formats fall back to hash ordinals instead of
    crashing the job."""
    rows = [
        ("convA-7", 0, "user", "t0", None),
        ("convA-7", 2, "assistant", "t2", None),   # gap: 1 missing
        ("convA-7", 5, "user", "t5", None),        # gap: 3,4 missing
        ("conv000001", 0, "user", "x0", None),
        ("conv000001", 1, "assistant", "x1", None),
    ]
    t = spark.createDataFrame(
        [(c, i, r, x, tool, "2026-01-01 00:00:00") for c, i, r, x, tool in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    t.filter(F.col("turn_idx") < 2).coalesce(1).write.parquet(f"{src_dir}/b0")
    t.filter(F.col("turn_idx") >= 2).coalesce(1).write.parquet(f"{src_dir}/b1")
    got = set(_run_stream(spark, t.schema, f"{src_dir}/b*", str(tmp_path / "out")))
    # convA-7 chains 0 -> 2 -> 5 across the gap AND across the micro-batch
    # boundary; conv000001 uses the parsed ordinal (vid = 1*2^16 + idx)
    a = next(iter({s for s, d in got} - {65536, 65537} - {d for s, d in got}))
    assert (a + 2, a + 5) in got or (a + 2, a + 5) in got
    assert {(a, a + 2), (a + 2, a + 5), (65536, 65537)} <= got
    assert len(got) == 3


def test_stream_delta_df_compact_pagerank(spark, tmp_path):
    """Stream -> apply_delta_df (no driver materialization) -> compact ->
    algorithm: the streamed-then-compacted graph is edge-identical to the
    batch derivation, and PageRank over it matches the batch run exactly."""
    from cassovary_spark.dynamic import DynamicGraph
    from cassovary_spark.operators import pagerank

    t = synth_transcripts(spark, n_convs=12, seed=9).persist()
    full_edges = turn_edges(t).persist()
    full = {(r["src"], r["dst"]) for r in full_edges.collect()}

    prefix = t.filter(F.col("turn_idx") < 2)
    base = turn_edges(prefix).persist()

    src_dir = str(tmp_path / "in2")
    os.makedirs(src_dir)
    prefix.coalesce(1).write.parquet(f"{src_dir}/b0")
    t.filter(F.col("turn_idx") >= 2).coalesce(1).write.parquet(f"{src_dir}/b1")
    out = str(tmp_path / "out2")
    _run_stream(spark, t.schema, f"{src_dir}/b*", out)

    # the sink output IS the delta DataFrame — op=+1 adds, seq from a
    # monotonic id; base edges already present resolve idempotently
    delta_df = (
        spark.read.parquet(out)
        .withColumn("op", F.lit(1))
        .withColumn("seq", F.monotonically_increasing_id())
    )
    dg = DynamicGraph(base=base).apply_delta_df(delta_df)
    snap = dg.compact(str(tmp_path / "snap2"))
    resolved = {(r["src"], r["dst"]) for r in snap.base.collect()}
    assert resolved == full

    pr_stream = {
        r["id"]: round(r["pagerank"], 12)
        for r in pagerank(snap.current_edges(), max_iterations=5).ranks.collect()
    }
    pr_batch = {
        r["id"]: round(r["pagerank"], 12)
        for r in pagerank(full_edges, max_iterations=5).ranks.collect()
    }
    t.unpersist()
    full_edges.unpersist()
    base.unpersist()
    assert pr_stream == pr_batch


def test_stream_bucketed_state_equals_timeout_mode(spark, tmp_path, monkeypatch):
    """The bucketed no-timeout layout (per-group cost amortized over a
    conversation bucket) and the per-conversation timeout layout run the
    same kernel: with a timeout long enough that nothing is evicted they
    emit the same edges, including duplicate turn_idx rows, state-crossing
    pairs and a conversation whose second batch is only a replayed turn."""
    monkeypatch.setenv("CASSOVARY_STREAM_STATE_BUCKETS", "7")
    t = synth_transcripts(spark, n_convs=15, seed=11).persist()
    # inject duplicate + below-state rows: re-send turn 1 in the second chunk
    dup = t.filter(F.col("turn_idx") == 1)
    replay_only = t.agg(F.min("conv_id")).first()[0]
    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    t.filter(F.col("turn_idx") < 2).coalesce(1).write.parquet(f"{src_dir}/b0")
    t.filter((F.col("turn_idx") >= 2) & (F.col("conv_id") != replay_only)).unionAll(
        dup
    ).coalesce(1).write.parquet(f"{src_dir}/b1")

    results = [
        _run_stream(spark, t.schema, f"{src_dir}/b*", str(tmp_path / name),
                    conv_timeout_ms=timeout)
        for name, timeout in (("bkt", None), ("timeout", 3_600_000))
    ]
    t.unpersist()
    assert results[0] == results[1]
    assert len(results[0]) > 0


def test_stream_timeout_evicts_quiet_conversation(spark, tmp_path):
    """A conversation quiet for longer than ``conv_timeout_ms`` is evicted;
    its next turn starts a fresh chain with no edge to the pre-eviction
    turn, while a conversation that stayed active keeps chaining. Three
    ``availableNow`` runs share one checkpoint, with a sleep longer than
    the timeout before the second: there A has no data and is evicted,
    B has data and survives, and C's only row is a replayed turn, which
    keeps C alive without an edge."""
    import time

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    chunks = [
        [("conv000001", 0), ("conv000001", 1), ("conv000002", 0), ("conv000002", 1),
         ("conv000003", 0), ("conv000003", 1)],
        [("conv000002", 2), ("conv000003", 1)],
        [("conv000001", 2), ("conv000002", 3), ("conv000003", 2)],
    ]
    src_dir = str(tmp_path / "in")
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(
            [(c, j, "user", "x", None, "2026-01-01 00:00:00") for c, j in chunk],
            schema,
        ).coalesce(1).write.parquet(f"{src_dir}/b{i}")
        if i == 1:
            time.sleep(4)
        got = _run_stream(spark, schema, f"{src_dir}/b*", str(tmp_path / "out"),
                          conv_timeout_ms=1500)

    # convNNNNNN parses to ordinal NNNNNN: vid = ordinal * 2^16 + idx
    a, b, c = ([n * 65536 + j for j in range(4)] for n in (1, 2, 3))
    assert got == sorted([(a[0], a[1]), (b[0], b[1]), (b[1], b[2]), (b[2], b[3]),
                          (c[0], c[1]), (c[1], c[2])])


def test_stream_state_buckets_below_one_raises(spark, monkeypatch):
    """CASSOVARY_STREAM_STATE_BUCKETS sizes the bucketed layout; a value
    below 1 is a configuration error, not a switch to another layout."""
    monkeypatch.setenv("CASSOVARY_STREAM_STATE_BUCKETS", "0")
    t = synth_transcripts(spark, n_convs=2, seed=1)
    with pytest.raises(ValueError, match="CASSOVARY_STREAM_STATE_BUCKETS"):
        stream_turn_edges(t)
