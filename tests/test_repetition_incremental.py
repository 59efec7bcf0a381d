"""Repetition signals (Gopher/C4-style), incremental corpus dedup, and the
dedup cache-scope registry.

Reference parity note: these extend the reference's corpus tooling rather
than mirror a specific file — the dedup probe semantics follow the same
index-once/probe-batch shape as the adjacency build (graph/GraphReader
semantics: score once, reuse), and the signals are standard published
filters (Rae et al. Gopher §A1.1, Raffel et al. C4 §2.2).
"""

from __future__ import annotations

import math
import time

import pytest
from pyspark.sql import functions as F

from cassovary_spark.functions import (
    build_dedup_index,
    cache_scope,
    incremental_dedup,
    release_caches,
    repetition_signals,
)
from cassovary_spark.functions.dedup import DedupIndex, _cache_generations


def _by_id(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


@pytest.fixture(scope="module")
def rep_docs(spark):
    return spark.createDataFrame(
        [
            (0, "a\na\nb"),  # 3 lines, one repeat
            (1, "x y\n\nx y\n\nz"),  # 3 paragraphs, one repeat
            (2, "w w w w"),  # maximal 2-/3-gram repetition
            (3, ""),  # empty doc: all signals 0, no NaN/null
            (4, "hello"),  # single token: no grams
        ],
        "doc_id long, text string",
    )


def test_repetition_signals_known_values(spark, rep_docs):
    out = _by_id(repetition_signals(rep_docs))

    # doc 0: lines [a, a, b] -> (3-2)/3 dup lines; chars 3 vs distinct 2
    assert math.isclose(out[0]["rep_dup_line_frac"], 1 / 3)
    assert math.isclose(out[0]["rep_dup_line_char_frac"], 1 / 3)
    # \n singles never form a paragraph break: one paragraph, no repeats
    assert out[0]["rep_dup_para_frac"] == 0.0

    # doc 1: paragraphs [x y, x y, z] -> (3-2)/3; chars 7 vs distinct 4
    assert math.isclose(out[1]["rep_dup_para_frac"], 1 / 3)
    assert math.isclose(out[1]["rep_dup_para_char_frac"], 3 / 7)
    # \n\n also splits lines ("\n+"), so the line view sees the same segs
    assert math.isclose(out[1]["rep_dup_line_frac"], 1 / 3)

    # doc 2 "w w w w": top 2-gram "w w" x3, len 3, text len 7 -> 9/7 (>1 is
    # documented for overlapping grams); top 3-gram "w w w" x2, len 5 -> 10/7
    assert math.isclose(out[2]["rep_top2gram_char_frac"], 9 / 7)
    assert math.isclose(out[2]["rep_top3gram_char_frac"], 10 / 7)

    # empty + single-token docs: all signals exactly 0, never null
    for i in (3, 4):
        for k, v in out[i].items():
            if k.startswith("rep_"):
                assert v == 0.0, (i, k, v)


def test_repetition_grams_opt_out_is_shuffle_free(spark, rep_docs):
    out = repetition_signals(rep_docs, grams=())
    assert [c for c in out.columns if c.startswith("rep_")] == [
        "rep_dup_line_frac",
        "rep_dup_line_char_frac",
        "rep_dup_para_frac",
        "rep_dup_para_char_frac",
    ]
    # per-row only: no exchange/aggregate anywhere in the physical plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Aggregate" not in plan


@pytest.fixture(scope="module")
def corpus_and_batch(spark):
    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog in the meadow"),
            (1, "sphinx of black quartz judge my vow said the editor twice"),
            (2, "pack my box with five dozen liquor jugs before the dawn"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # exact copy of corpus doc 0 (normalization collapses whitespace)
            (10, "the  quick brown fox jumps over the lazy  dog in the meadow"),
            # near-copy of corpus doc 1 (one word changed)
            (11, "sphinx of black quartz judge my vow said the author twice"),
            # disjoint shingles: provably no collision
            (12, "0123 4567 89zz qq88 vv77 uu66 tt55 ss44 rr33"),
        ],
        "doc_id long, text string",
    )
    return corpus, batch


def test_incremental_dedup_verdicts(spark, corpus_and_batch):
    corpus, batch = corpus_and_batch
    idx = build_dedup_index(corpus)
    out = _by_id(incremental_dedup(batch, idx))

    assert out[10]["exact_dup_of"] == 0 and not out[10]["keep"]
    # near-copy: not exact, but LSH (16 hashes / 4 bands, high Jaccard)
    # collides deterministically with its source
    assert out[11]["exact_dup_of"] is None
    assert out[11]["near_dup_count"] >= 1 and not out[11]["keep"]
    # disjoint text: provably zero candidates
    assert out[12]["exact_dup_of"] is None
    assert out[12]["near_dup_count"] == 0 and out[12]["keep"]


def test_incremental_dedup_broadcast_off_equality(spark, corpus_and_batch):
    corpus, batch = corpus_and_batch
    idx = build_dedup_index(corpus)
    on = sorted(map(tuple, incremental_dedup(batch, idx).collect()))
    off = sorted(
        map(tuple, incremental_dedup(batch, idx, broadcast_batch=False).collect())
    )
    assert on == off


def test_dedup_index_save_load_extend(spark, corpus_and_batch, tmp_path):
    corpus, batch = corpus_and_batch
    idx = build_dedup_index(corpus)
    path = str(tmp_path / "dedup_index")
    idx.save(path)
    loaded = DedupIndex.load(spark, path)
    assert (loaded.num_hashes, loaded.bands, loaded.shingle_n) == (
        idx.num_hashes,
        idx.bands,
        idx.shingle_n,
    )
    assert loaded.fingerprints.count() == idx.fingerprints.count()
    assert loaded.buckets.count() == idx.buckets.count()

    # daily update: extend with the kept batch rows, then a replay of the
    # previously-novel doc must now be flagged as an exact dup of it
    kept = batch.join(
        incremental_dedup(batch, loaded).filter("keep").select("doc_id"), "doc_id"
    )
    idx2 = loaded.extend(kept)
    replay = spark.createDataFrame(
        [(99, "0123 4567 89zz qq88 vv77 uu66 tt55 ss44 rr33")],
        "doc_id long, text string",
    )
    out = _by_id(incremental_dedup(replay, idx2))
    assert out[99]["exact_dup_of"] == 12 and not out[99]["keep"]


def test_extend_keeps_min_rep_id(spark):
    # rep_id must stay the GLOBAL min doc over identical texts, even when
    # the smaller id arrives in the extension batch
    first = spark.createDataFrame([(5, "same text here")], "doc_id long, text string")
    later = spark.createDataFrame([(3, "same text here")], "doc_id long, text string")
    idx = build_dedup_index(first).extend(later)
    reps = [r["rep_id"] for r in idx.fingerprints.collect()]
    assert reps == [3]


def test_cache_scope_holds_one_generation(spark, corpus_and_batch):
    corpus, batch = corpus_and_batch
    release_caches()
    with cache_scope():
        build_dedup_index(corpus)
        incremental_dedup(batch, build_dedup_index(batch))
        # every helper joined the scope's single generation
        assert len(_cache_generations) == 1
    assert release_caches() >= 0


def test_state_scratch_leaf_outlives_one_newer_write(spark):
    """A keyed ``roundtrip`` handle stays readable through one newer write
    of its (schema, key), and a self-join on the key reads it in place (no
    ``Exchange``). After two newer writes it is freed: a read raises
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` and never returns newer data."""
    from cassovary_spark.checkpoint import StateScratch

    def state(k):  # keyed on id, as a superstep's join or aggregate leaves it
        return spark.range(5).select("id", (F.col("id") * k).alias("v")).repartition(2, "id")

    def values(df):
        return sorted(r["v"] for r in df.collect())

    scratch = StateScratch(spark)
    try:
        df0 = scratch.roundtrip(state(2), bucket_by="id", num_buckets=2)
        scratch.roundtrip(state(3), bucket_by="id", num_buckets=2)
        assert values(df0) == [0, 2, 4, 6, 8]
        joined = df0.alias("a").join(df0.alias("b"), "id")
        assert "Exchange" not in joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 5
        scratch.roundtrip(state(4), bucket_by="id", num_buckets=2)
        # the leaf's blocks are removed asynchronously: until they are
        # gone a read may still see them, but only as df0's own data
        deadline = time.time() + 30
        while True:
            try:
                got = values(df0)
            except Exception as e:  # noqa: BLE001 — the JVM error, converted
                assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in str(e), e
                break
            assert got == [0, 2, 4, 6, 8], got
            assert time.time() < deadline, "a freed leaf is still readable"
            time.sleep(0.1)
    finally:
        scratch.close()


def test_pii_signals_and_redaction(spark):
    """Hand-checked PII counts and placeholder redaction; email is consumed
    before the url pattern can see it, phones need the +prefix form."""
    from cassovary_spark.functions import pii_signals, redact_pii

    docs = spark.createDataFrame(
        [
            (0, "write a@b.io or c.d+tag@ex.org, see https://ex.org/x?q=1"),
            (1, "call +1-555-0100 now"),
            (2, "no pii here, 12345 is just a number"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in redact_pii(pii_signals(docs)).collect()}
    assert (out[0]["pii_email"], out[0]["pii_url"], out[0]["pii_phone"]) == (2, 1, 0)
    assert out[0]["pii_total"] == 3
    assert out[0]["text_redacted"] == "write <EMAIL> or <EMAIL>, see <URL>"
    assert out[1]["pii_phone"] == 1
    assert out[1]["text_redacted"] == "call <PHONE> now"
    assert out[2]["pii_total"] == 0 and out[2]["text_redacted"] == out[2]["text"]


def test_repetition_signals_null_text_is_zero(spark):
    docs = spark.createDataFrame([(0, None), (1, "a b")], "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in repetition_signals(docs).collect()}
    for k, v in out[0].items():
        if k.startswith("rep_"):
            assert v == 0.0, (k, v)
    assert out[1]["rep_top2gram_char_frac"] > 0


def test_cap_per_key_deterministic_quota(spark):
    """At most max_rows survive per key; survivors are the md5-rank minima
    and identical regardless of input partitioning/order."""
    from cassovary_spark.functions import cap_per_key

    df = spark.createDataFrame(
        [(i, f"k{i % 3}") for i in range(100)], "doc_id long, src_key string"
    )
    out = cap_per_key(df, "src_key", 5)
    counts = {r["src_key"]: r["cnt"] for r in out.groupBy("src_key").agg(F.count("*").alias("cnt")).collect()}
    assert counts == {"k0": 5, "k1": 5, "k2": 5}
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in cap_per_key(df.repartition(13).orderBy(F.desc("doc_id")), "src_key", 5).collect()
    )
    assert a == b
    # keys under quota keep everything
    small = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id long, src_key string")
    assert cap_per_key(small, "src_key", 5).count() == 2


def test_cap_per_key_plan_has_partial_window_group_limit(spark):
    """Mega-key safety: the row_number<=k filter must push a PARTIAL
    WindowGroupLimit below the exchange, bounding what any map partition
    ships for a hot key to max_rows (the docstring's 100 TB claim)."""
    from cassovary_spark.functions import cap_per_key

    df = spark.createDataFrame(
        [(i, f"k{i % 3}") for i in range(100)], "doc_id long, src_key string"
    )
    plan = cap_per_key(df, "src_key", 5)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan, plan


def test_pack_sequences_invariants(spark):
    """Concat-and-chunk packing: bin/offset equal the md5-ordered running
    token count within each shard, independent of input partitioning."""
    import hashlib

    from cassovary_spark.functions import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (i % 17))) for i in range(300)],
        "doc_id long, text string",
    )
    out = pack_sequences(docs, target_tokens=10, num_shards=4).collect()
    rows = {r["doc_id"]: r for r in out}

    # pure-Python replay of the assignment
    def rk(i):
        return hashlib.md5(f"{i}|42".encode()).hexdigest()

    by_shard: dict[int, list[int]] = {}
    for i in range(300):
        by_shard.setdefault(int(rk(i)[:8], 16) % 4, []).append(i)
    for shard, ids in by_shard.items():
        cum = 0
        for i in sorted(ids, key=lambda x: (rk(x), x)):
            r = rows[i]
            assert r["shard"] == shard
            assert r["n_tok"] == i % 17
            assert r["bin"] == cum // 10 and r["offset"] == cum % 10, i
            cum += i % 17

    # partitioning/order independence
    out2 = pack_sequences(
        docs.repartition(7).orderBy(F.desc("doc_id")), target_tokens=10, num_shards=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_contamination_check_ngram_overlap(spark):
    """A doc sharing a benchmark 4-gram is flagged with the exact distinct
    count; normalization (case/whitespace) doesn't hide overlap; clean docs
    report 0."""
    from cassovary_spark.functions import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # contains "the quick brown fox" and "quick brown fox jumps"
            (0, "we said THE  Quick   brown fox jumps away"),
            (1, "entirely different words with no shared windows here"),
            (2, "dog"),  # shorter than n: no grams, clean
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in contamination_check(docs, bench, n=4).collect()}
    assert out[0]["contaminated_ngrams"] == 2 and out[0]["contaminated"]
    assert out[1]["contaminated_ngrams"] == 0 and not out[1]["contaminated"]
    assert out[2]["contaminated_ngrams"] == 0 and not out[2]["contaminated"]


def test_contamination_spans_merge_and_offsets(spark):
    """Hit windows [pos, pos+n) merge into maximal spans; token offsets are
    0-based into the normalized tokenization; clean docs emit nothing."""
    from cassovary_spark.functions import contamination_spans

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            # two disjoint copies of the 10-token benchmark text: grams hit
            # at positions 3,4,5 and 21,22,23 -> two spans of 10 tokens
            (100, "intro words here the quick brown fox jumps over the lazy "
                  "dog tonight more filler text words go here and then the "
                  "quick brown fox jumps over the lazy dog tonight trailing bits"),
            (101, "totally clean document with no overlap at all in any window"),
        ],
        "doc_id long, text string",
    )
    out = contamination_spans(docs, bench, n=8).orderBy("span_start").collect()
    assert [(r["doc_id"], r["span_start"], r["span_len"], r["gram_hits"]) for r in out] == [
        (100, 3, 10, 3),
        (100, 21, 10, 3),
    ]


def test_contamination_spans_adjacent_windows_merge(spark):
    """Back-to-back (non-overlapping) hit windows still merge into one span."""
    from cassovary_spark.functions import contamination_spans

    bench = spark.createDataFrame(
        [(0, "a b c"), (1, "x y z")], "doc_id long, text string"
    )
    # doc: a b c x y z -> hits at pos 0 (a b c) and pos 3 (x y z); windows
    # [0,3) and [3,6) touch -> one span [0,6)
    docs = spark.createDataFrame([(9, "a b c x y z")], "doc_id long, text string")
    out = contamination_spans(docs, bench, n=3).collect()
    assert [(r["span_start"], r["span_len"], r["gram_hits"]) for r in out] == [(0, 6, 2)]


def test_pack_chunks_tiles_bins_and_reassembles_docs(spark):
    """Chunk rows (a) sum to each doc's token count, (b) agree with
    pack_sequences on the first piece, (c) tile every bin gaplessly from
    offset 0, and (d) emit nothing for empty docs."""
    import collections

    from cassovary_spark.functions import pack_chunks, pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * (7 * (i % 13) + 1))) for i in range(150)]
        + [(999, "")],
        "doc_id long, text string",
    )
    ps = {r["doc_id"]: r for r in pack_sequences(docs, 64, num_shards=4).collect()}
    chunks = pack_chunks(docs, 64, num_shards=4).collect()

    per_doc = collections.defaultdict(int)
    for c in chunks:
        assert c["chunk_len"] > 0
        per_doc[c["doc_id"]] += c["chunk_len"]
    for did, r in ps.items():
        assert per_doc.get(did, 0) == r["n_tok"], did
    assert 999 not in per_doc

    first = {c["doc_id"]: c for c in chunks if c["doc_tok_start"] == 0}
    for did, r in ps.items():
        if r["n_tok"] == 0:
            continue
        f = first[did]
        assert (f["shard"], f["bin"], f["bin_offset"]) == (
            r["shard"], r["bin"], r["offset"]), did

    bybin = collections.defaultdict(list)
    for c in chunks:
        bybin[(c["shard"], c["bin"])].append((c["bin_offset"], c["chunk_len"]))
    for key, pieces in bybin.items():
        pieces.sort()
        pos = 0
        for off, ln in pieces:
            assert off == pos, (key, pieces)
            pos = off + ln
        assert pos <= 64, (key, pieces)


def test_scrub_spans_cuts_windows_and_passthrough(spark):
    """Spans cut exactly their token windows; clean docs pass through with
    whitespace normalized; empty docs stay empty; fully-covered docs empty."""
    from cassovary_spark.functions import contamination_spans, scrub_spans

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (100, "intro words here the quick brown fox jumps over the lazy "
                  "dog tonight more filler text words go here and then the "
                  "quick brown fox jumps over the lazy dog tonight trailing bits"),
            (101, "totally   clean document\nwith no overlap"),
            (102, ""),
            (103, "the quick brown fox jumps over the lazy dog tonight"),
        ],
        "doc_id long, text string",
    )
    spans = contamination_spans(docs, bench, n=8)
    out = {r["doc_id"]: r["text"] for r in scrub_spans(docs, spans).collect()}
    assert out[100] == ("intro words here more filler text words go here "
                        "and then trailing bits")
    assert out[101] == "totally clean document with no overlap"
    assert out[102] == ""
    assert out[103] == ""
