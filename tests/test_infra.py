"""Checkpoint/resume, transcript round-trip invariant, readers/writers."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cassovary_spark.checkpoint import CheckpointStore
from cassovary_spark.operators.pagerank import pagerank
from tests.conftest import G6, edges_df
from tests.oracles import pagerank_oracle


def test_checkpoint_resume_equivalence(spark, tmp_path):
    """Kill-at-iteration-k + resume == uninterrupted run (exactly)."""
    e = edges_df(spark, G6)
    full = pagerank(e, max_iterations=8)
    full_ranks = {r["id"]: r["pagerank"] for r in full.ranks.collect()}

    store = CheckpointStore(str(tmp_path / "ckpt"), run_id="r1")
    # simulate a crash: run only 3 iterations, checkpointing each
    pagerank(e, max_iterations=3, checkpoint=store)
    assert store.complete_iterations() == [1, 2, 3]

    # resume to 8 total
    resumed = pagerank(e, max_iterations=8, checkpoint=store, resume=True)
    got = {r["id"]: r["pagerank"] for r in resumed.ranks.collect()}
    assert resumed.iterations == 8
    for k in full_ranks:
        assert got[k] == pytest.approx(full_ranks[k], abs=1e-15)


def test_checkpoint_meta_lineage(spark, tmp_path):
    e = edges_df(spark, G6)
    store = CheckpointStore(str(tmp_path / "c2"), run_id="rx")
    pagerank(e, max_iterations=2, checkpoint=store)
    _, meta = store.load(spark, 2)
    assert meta["iteration"] == 2
    assert meta["metrics"]["error"] > 0
    assert meta["metrics"]["node_count"] == 6
    assert meta["metrics"]["edge_count"] == 11
    assert sum(l["rows"] for l in meta["lineage"]) == 6  # per-partition rows


def test_transcript_text_roundtrip(spark, tmp_path):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering after
    a full write/read/partition cycle (the BASELINE.json per-row invariant)."""
    from cassovary_spark.sources import synth_transcripts
    from cassovary_spark.sources.transcripts import ordered_text

    t = synth_transcripts(spark, n_convs=50, seed=42)
    before = [(r["conv_id"], r["turn_idx"], r["text"]) for r in ordered_text(t).collect()]

    path = str(tmp_path / "transcripts")
    t.repartition(7, "conv_id").write.mode("overwrite").parquet(path)
    t2 = spark.read.parquet(path)
    after = [(r["conv_id"], r["turn_idx"], r["text"]) for r in ordered_text(t2).collect()]
    assert before == after
    assert len(before) == t.count()
    assert len(set(x[2] for x in before)) == len(before)  # texts unique per turn


def test_edge_list_reader_writer_roundtrip(spark, tmp_path):
    from cassovary_spark.sources import read_edge_list, write_edge_list

    e = edges_df(spark, G6)
    path = str(tmp_path / "edges_txt")
    write_edge_list(e, path)
    back = read_edge_list(spark, path)
    assert sorted((r["src"], r["dst"]) for r in back.collect()) == sorted(G6)


def test_adjacency_reader_writer_roundtrip(spark, tmp_path):
    from cassovary_spark.sources import read_adjacency_list, write_adjacency_list

    e = edges_df(spark, G6)
    path = str(tmp_path / "adj_txt")
    write_adjacency_list(e, path)
    back = read_adjacency_list(spark, path)
    assert sorted((r["src"], r["dst"]) for r in back.collect()) == sorted(G6)


def test_partitioned_writer(spark, tmp_path):
    from cassovary_spark.sources import write_partitioned_edges

    e = edges_df(spark, G6)
    path = str(tmp_path / "bucketed")
    write_partitioned_edges(e, path, num_buckets=4)
    back = spark.read.parquet(path)
    assert back.count() == len(G6)
    assert set(back.select("bucket").distinct().toPandas()["bucket"]) <= set(range(4))
    # bucket pruning: reading one bucket reads a subset
    one = spark.read.parquet(path).filter(F.col("bucket") == 0)
    assert one.count() < len(G6)


def test_oracle_queries_importable():
    """queries()/oracle_sql() stay structurally consistent: every oracle key
    exists in queries; all are strings/callables."""
    import __spark_entry__ as m

    qs = m.queries()
    os_ = m.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(v) for v in qs.values())
    assert all(isinstance(v, str) and "SELECT" in v.upper() for v in os_.values())
    # every query has a full oracle since r3: DFS graduated via the min-lex
    # path CTE (_dfs_sql), the transcript queries via rng="md5" synthesis
    assert set(qs) == set(os_)


def test_read_edge_list_literal_separator_and_comments(spark, tmp_path):
    """sep is a LITERAL (regex metachars like '|' must not explode the
    split) and indented comment lines are skipped, not parsed as nulls."""
    from cassovary_spark.sources import read_edge_list

    p = tmp_path / "pipe_edges.txt"
    p.write_text("1|2\n  # indented comment\n3|4\n")
    e = {(r["src"], r["dst"]) for r in read_edge_list(spark, str(p), sep="|").collect()}
    assert e == {(1, 2), (3, 4)}


def test_duplicate_and_empty_seed_contracts(spark):
    """Duplicate seeds de-dupe (one (id, depth) row per id; PPR mass sums
    to 1); empty seed lists raise instead of dividing by zero."""
    import pytest as _pytest

    from cassovary_spark.operators import (
        bfs,
        personalized_pagerank,
        random_walk_visits,
    )

    e = edges_df(spark, [(1, 2), (2, 3)])
    out = bfs(e, [1, 1], max_depth=2).collect()
    assert sorted((r["id"], r["depth"]) for r in out) == [(1, 0), (2, 1), (3, 2)]
    total = sum(
        r["score"]
        for r in personalized_pagerank(e, [1, 1], max_iterations=3).collect()
    )
    assert abs(total - 1.0) < 1e-9
    with _pytest.raises(ValueError):
        random_walk_visits(e, [], num_steps=2)
    with _pytest.raises(ValueError):
        personalized_pagerank(e, [])


def test_read_node_numberer(spark, tmp_path):
    """MapNodeNumberer parity (util/MapNodeNumberer.scala:45-64 +
    MapNodeNumbererSpec): load name<->id map; duplicate names or ids raise."""
    import pytest

    from cassovary_spark.graph import edges_from_external, read_node_numberer

    p = tmp_path / "numbering1.txt"
    p.write_text("banana 2\norange 7\nspoon 29\nbike 12\n")
    d = read_node_numberer(str(p), spark=spark)
    got = {r["external_id"]: r["id"] for r in d.collect()}
    assert got == {"banana": 2, "orange": 7, "spoon": 29, "bike": 12}
    # composes with edges_from_external like a densify_ids dictionary
    e = spark.createDataFrame([("banana", "orange"), ("spoon", "bike")], "src string, dst string")
    enc = {(r["src"], r["dst"]) for r in edges_from_external(e, d).collect()}
    assert enc == {(2, 7), (29, 12)}

    dup_id = tmp_path / "dup_id.txt"
    dup_id.write_text("a 1\nb 1\n")
    with pytest.raises(ValueError, match="Duplicate id"):
        read_node_numberer(str(dup_id), spark=spark)
    dup_name = tmp_path / "dup_name.txt"
    dup_name.write_text("a 1\na 2\n")
    with pytest.raises(ValueError, match="Duplicate name"):
        read_node_numberer(str(dup_name), spark=spark)


def test_synth_transcripts_md5_contract(spark):
    """rng='md5' draws every hash as int(md5(key)[:13], 16) — the DuckDB-
    replayable contract behind the tr_turn_text/tr_pagerank5 oracles."""
    import hashlib

    from cassovary_spark.sources import synth_transcripts

    t = synth_transcripts(spark, n_convs=6, seed=42, rng="md5")
    rows = t.orderBy("conv_id", "turn_idx").collect()
    assert [f.name for f in t.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]

    def md5long(key: str) -> int:
        return int(hashlib.md5(key.encode()).hexdigest()[:13], 16)

    # conversation lengths replay from md5("conv|seed")
    import collections

    lens = collections.Counter(r.conv_id for r in rows)
    for cid, n in lens.items():
        assert n == 2 + md5long(f"{cid}|42") % 31
    # per-turn text replays from md5("conv|turn|seed+3")
    for r in rows:
        expect = f"turn {r.turn_idx} of {r.conv_id} :: " \
                 f"{md5long(f'{r.conv_id}|{r.turn_idx}|45')}"
        assert r.text == expect
    # text equality invariant: unique per (conv_id, turn_idx)
    assert len({r.text for r in rows}) == len(rows)


def test_synth_transcripts_rng_validation(spark):
    import pytest

    from cassovary_spark.sources import synth_transcripts

    with pytest.raises(ValueError, match="rng"):
        synth_transcripts(spark, n_convs=2, rng="sha1")
