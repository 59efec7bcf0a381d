"""Dump .explain("formatted") plans for the round-6-touched queries.

Runs against whichever tree is FIRST on sys.path (env CASSOVARY_REPO), so the
same script produces the plans/r06/<query>_before.txt files from a worktree of
the round-start commit and the _after.txt files from HEAD:

    CASSOVARY_REPO=/tmp/r06_before python scripts/dump_plans_r06.py plans/r06 before
    CASSOVARY_REPO=/root/repo      python scripts/dump_plans_r06.py plans/r06 after

Artifacts (names match bench.py workload keys):
- pagerank_turns_dist_1e6: the per-superstep SQL (captured via a
  SparkSession.sql spy while pagerank(engine="distributed") runs — the same
  state-update join hint CC/LPA/HITS/ANF/PPR supersteps use)
- dedup_docs_minhash / dedup_docs_lsh: minhash_signatures / lsh candidates
- embeddings_top10: cosine_top_k with an explicit 50-query frame
- stream_edges_incremental: the executed streaming plan (explainInternal)
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import tempfile

repo = os.environ.get("CASSOVARY_REPO", "/root/repo")
sys.path.insert(0, repo)

from pyspark.sql import SparkSession  # noqa: E402


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from cassovary_spark.functions import (
        cosine_top_k,
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from cassovary_spark.operators import pagerank
    from cassovary_spark.session import get_spark
    from cassovary_spark.sources import synth_transcripts, turn_edges

    spark = get_spark(app_name=f"dump_plans_r06_{suffix}", cores=8,
                      shuffle_partitions=8)

    def write(name: str, text: str) -> None:
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} ({suffix}) — tree: {repo}\n\n{text}\n")
        print(f"wrote {path}", flush=True)

    # --- superstep plan, captured mid-run via a sql() spy -----------------
    transcripts = synth_transcripts(spark, n_convs=2000, seed=42).persist()
    tedges = turn_edges(transcripts).persist()
    tedges.count()

    captured: list[str] = []
    orig_sql = SparkSession.sql

    def spy(self, query, *a, **k):
        df = orig_sql(self, query, *a, **k)
        if "gathered" in query:
            # explain NOW: the scratch tables backing this plan are dropped
            # when pagerank() returns
            captured.append(f"-- superstep SQL --\n{query}\n\n{fmt(df)}")
        return df

    SparkSession.sql = spy
    try:
        pagerank(tedges, max_iterations=1, engine="distributed")
    finally:
        SparkSession.sql = orig_sql
    if not captured:
        raise RuntimeError(
            "sql() spy captured no superstep query containing 'gathered'; "
            "the pagerank plan would be silently missing from the dump"
        )
    write("pagerank_turns_dist_1e6", captured[0])

    # --- dedup: minhash signatures + LSH candidates -----------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    write("dedup_docs_minhash", fmt(minhash_signatures(docs, num_hashes=16)))
    write(
        "dedup_docs_lsh",
        fmt(minhash_lsh_candidates(docs, num_hashes=16, bands=4,
                                   max_bucket_size=100)),
    )

    # --- embeddings: explicit-queries cosine top-k ------------------------
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    write("embeddings_top10", fmt(cosine_top_k(emb, emb.limit(50), k=10)))

    # --- streaming ingest: executed micro-batch plan ----------------------
    from cassovary_spark.streaming import stream_turn_edges

    tmp = tempfile.mkdtemp(prefix="dump_plans_stream_")
    try:
        transcripts.coalesce(2).write.parquet(f"{tmp}/in")
        stream = (
            spark.readStream.schema(transcripts.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/in")
        )
        q = (
            stream_turn_edges(stream)
            .writeStream.format("noop")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(120):
                raise RuntimeError("streaming query did not finish within 120 s")
            write("stream_edges_incremental", q._jsq.explainInternal(True))
        finally:
            q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    spark.stop()


if __name__ == "__main__":
    main()
