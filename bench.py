"""Benchmark harness (driver contract): headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Reference methodology analog: avg wall time per workload
(cassovary-benchmarks/.../OperationBenchmark.scala:24-30), with PageRank /
PPR / HITS / centrality / traversal workloads (PerformanceBenchmark.scala).

Each workload runs $SPARK_GRAFT_BENCH_REPS times back-to-back (default 3,
matching the reference's repeated-measurement harness); per-query times and
the total are the per-workload MEDIANS, with min/max/samples reported under
"rep_spread" so run-to-run noise (hypervisor drift measured at ~10% between
rounds) is visible instead of folded into the headline number.

Extra keys beyond the contract: edges-per-second throughput for the
convergence PageRank runs (the BASELINE.json north metric) and graph sizes.
Scaling-efficiency evidence (local[8] vs local[32]) is produced by
scripts/scaling_run.py, which reuses these workloads.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F


def build_workloads(spark, sf_dir: str, sf: float):
    """Returns list of (name, thunk) where each thunk runs one headline query
    to completion (an action) and returns aux metrics."""
    from __spark_entry__ import _cs_edges
    from cassovary_spark.functions import (
        cosine_top_k,
        exact_dedup,
        minhash_lsh_candidates,
        quality_score,
    )
    from cassovary_spark.operators import (
        bfs,
        connected_components,
        hits,
        label_propagation,
        pagerank,
        personalized_pagerank,
        triangle_count,
    )
    from cassovary_spark.sources import (
        random_undirected_graph,
        synth_transcripts,
        tool_cooccurrence_edges,
        turn_edges,
    )

    # transcript corpus scaled by sf: sf0.1 -> 20k conversations (~330k turns)
    n_convs = max(200, int(sf * 200_000))
    transcripts = synth_transcripts(spark, n_convs=n_convs, seed=42).persist()
    transcripts.count()
    tedges = turn_edges(transcripts).persist()
    m_turn = tedges.count()
    cs = _cs_edges(spark, sf_dir).persist()
    m_cs = cs.count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    docs.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    emb.count()
    er = random_undirected_graph(spark, 1500, 0.01, seed=42).persist()
    m_er = er.count()

    aux: dict[str, dict] = {}

    def w_pagerank_turns():
        res = pagerank(tedges, max_iterations=None, tolerance=1e-6)
        aux["pagerank_turns_1e6"] = {
            "iterations": res.iterations,
            "edges": m_turn,
            "error": res.error,
        }
        res.ranks.count()

    def w_pagerank_cs():
        res = pagerank(cs, max_iterations=None, tolerance=1e-6)
        aux["pagerank_cs_1e6"] = {
            "iterations": res.iterations,
            "edges": m_cs,
            "error": res.error,
        }
        res.ranks.count()

    def w_pagerank_turns_dist():
        # the DISTRIBUTED superstep path, forced (auto collapses graphs this
        # small to the local engine): measures per-superstep machinery cost;
        # big-graph throughput evidence lives in scripts/scaling_run.py.
        # The superstep machinery is JIT/codegen-warmed OUTSIDE the timed
        # thunk (below, at build time) — same methodology as
        # scripts/scaling_run.py and the reference's benchmark harness
        # (OperationBenchmark.scala:24-30 measures after warmup reps):
        # first-call codegen costs up to 6x on the first superstep and a
        # production convergence run amortizes it over hundreds.
        res = pagerank(tedges, max_iterations=None, tolerance=1e-6,
                       engine="distributed")
        aux["pagerank_turns_dist_1e6"] = {
            "iterations": res.iterations,
            "edges": m_turn,
            "error": res.error,
        }
        res.ranks.count()

    def w_cc_turns():
        cc = connected_components(tedges)
        aux["cc_turns"] = {"components": cc.select("component").distinct().count()}

    def w_lpa_turns():
        label_propagation(tedges, max_iterations=5).count()

    def w_hits_cs():
        res = hits(cs, max_iterations=10)
        res.scores.count()

    def w_triangles_er():
        aux["triangles_er"] = {"triangles": triangle_count(er), "edges": m_er}

    def w_tool_graph():
        co, _ = tool_cooccurrence_edges(transcripts)
        aux["tool_cooccur"] = {"triangles": triangle_count(co)}

    def w_bfs_turns():
        bfs(tedges, [0], max_depth=None).count()

    def w_ppr_turns():
        personalized_pagerank(tedges, [0], max_iterations=15).count()

    def w_dedup_docs():
        exact_dedup(docs).count()
        # the documented scale configuration: the synthetic documents corpus
        # is template-heavy (uncapped: 1.19M candidate pairs from 5000 docs —
        # ~10% of ALL pairs; PLANS.md training-pipeline scale probe rationale),
        # so the hot-bucket cap is part of the workload being measured
        minhash_lsh_candidates(
            docs, num_hashes=16, bands=4, max_bucket_size=100
        ).count()

    def w_quality_docs():
        quality_score(docs).agg(F.avg("quality")).collect()

    def w_embeddings():
        q = emb.limit(50)
        cosine_top_k(emb, q, k=10).count()

    def w_bipartite_cs():
        from cassovary_spark.operators import bipartite_link_analysis

        lw = cs.select(F.col("src").alias("id")).distinct().withColumn(
            "weight", F.lit(1.0)
        )
        res = bipartite_link_analysis(cs, lw, num_iterations=4,
                                      reset_prob_left=0.3, reset_prob_right=0.1)
        res.left.count()
        res.right.count()

    def w_walk_tourists():
        from cassovary_spark.operators import (
            prev_nbr_counter,
            random_walk_events,
            visits_counter,
        )

        ev = random_walk_events(tedges, [0], num_steps=8, reset_prob=0.15,
                                num_walkers=10_000, seed=11)
        visits_counter(ev).count()
        prev_nbr_counter(ev, k=3).count()

    # stream input prepared OUTSIDE the timed thunk — the workload measures
    # the incremental operator, not batch parquet chunk-writing
    import shutil
    import tempfile

    from cassovary_spark.session import _scratch_root

    # untimed 2-superstep warmup of the distributed superstep machinery
    # (codegen/JIT) — see w_pagerank_turns_dist
    pagerank(tedges, max_iterations=2, engine="distributed")

    _stream_tmp = tempfile.mkdtemp(prefix="bench_stream_", dir=_scratch_root())
    _stream_src = f"{_stream_tmp}/in"
    os.makedirs(_stream_src)
    # 4 file-chunks split mid-conversation: every conversation longer
    # than 3 turns crosses a micro-batch boundary (the stateful path)
    for i, (lo, hi) in enumerate([(0, 1), (1, 2), (2, 3), (3, 10**9)]):
        transcripts.filter(
            (F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi)
        ).coalesce(4).write.parquet(f"{_stream_src}/b{i}")
    aux["stream_edges"] = {"turns": transcripts.count()}

    import atexit
    import itertools

    atexit.register(shutil.rmtree, _stream_tmp, ignore_errors=True)
    _stream_rep = itertools.count()

    def w_stream_edges():
        from cassovary_spark.streaming import stream_turn_edges

        # fresh checkpoint dir per rep: availableNow against a reused
        # checkpoint would no-op the second measurement
        rep = next(_stream_rep)
        stream = (
            spark.readStream.schema(transcripts.schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(f"{_stream_src}/b*")
        )
        q = (
            stream_turn_edges(stream)
            .writeStream.format("noop")
            .option("checkpointLocation", f"{_stream_tmp}/ckpt{rep}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def w_anf_turns():
        from cassovary_spark.operators import neighborhood_function

        nf = neighborhood_function(tedges, iterations=3, registers=4)
        aux["anf_turns_3"] = {
            "edges": m_turn,
            "nf": {r.t: r.nf for r in nf.collect()},
        }

    def w_dsir_docs():
        from cassovary_spark.functions import dsir_weights

        tgt = docs.filter(
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
            .cast("long") % 10 == 0
        )
        out = dsir_weights(docs, tgt)
        aux["dsir_docs"] = {"docs": out.count()}

    return [
        ("pagerank_turns_1e6", w_pagerank_turns),
        ("pagerank_cs_1e6", w_pagerank_cs),
        ("pagerank_turns_dist_1e6", w_pagerank_turns_dist),
        ("cc_turns", w_cc_turns),
        ("lpa_turns_5", w_lpa_turns),
        ("hits_cs_10", w_hits_cs),
        ("triangles_er", w_triangles_er),
        ("tool_cooccur_triangles", w_tool_graph),
        ("bfs_turns", w_bfs_turns),
        ("ppr_turns_15", w_ppr_turns),
        ("dedup_docs", w_dedup_docs),
        ("quality_docs", w_quality_docs),
        ("embeddings_top10", w_embeddings),
        ("bipartite_cs_4", w_bipartite_cs),
        ("walk_tourists_10k", w_walk_tourists),
        ("stream_edges_incremental", w_stream_edges),
        ("anf_turns_3", w_anf_turns),
        ("dsir_docs", w_dsir_docs),
    ], aux


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from cassovary_spark.session import get_spark

    spark = get_spark(
        app_name="cassovary_spark_bench",
        cores=cpus,
        shuffle_partitions=cpus,
    )

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    workloads, aux = build_workloads(spark, sf_dir, sf)
    times: dict[str, float] = {}
    spread: dict[str, dict] = {}
    from cassovary_spark.functions import cache_scope, release_caches

    for name, thunk in workloads:
        samples = []
        # one unrecorded warm-up rep (reference harness does the same,
        # OperationBenchmark-style): JIT, codegen, and file-listing costs
        # land here, not in the medians
        if reps > 1:
            with cache_scope():
                thunk()
            release_caches()
        for _ in range(reps):
            # each rep runs in its own cache scope, retired before the next
            # rep starts — without this, dedup cache generations and Spark
            # shuffle reuse interact differently per rep (r4: dedup_docs
            # spread was 1.07-10.46s; the median was meaningless)
            with cache_scope():
                t0 = time.time()
                thunk()
                samples.append(round(time.time() - t0, 3))
            release_caches()
        ordered = sorted(samples)
        times[name] = ordered[len(ordered) // 2]
        if reps > 1:
            spread[name] = {
                "min": ordered[0],
                "max": ordered[-1],
                "samples": samples,
            }

    total = round(sum(times.values()), 3)
    # north metric: edges/sec for PageRank to 1e-6 (edges x supersteps / sec)
    eps = {}
    for key in ("pagerank_turns_1e6", "pagerank_cs_1e6", "pagerank_turns_dist_1e6"):
        a = aux.get(key)
        if a and times.get(key):
            eps[key] = int(a["edges"] * a["iterations"] / times[key])
    out = {
        "metric": "bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        "reps": reps,
        "pagerank_edges_per_sec": eps,
        "aux": aux,
    }
    if spread:
        out["rep_spread"] = spread
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
