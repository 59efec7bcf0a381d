"""Per-query benchmark isolation harness for the optimization rounds.

``bench.py`` is FROZEN (driver contract); this file holds the extra
measurement machinery the optimization guide §1 asks for:

- run a SUBSET of the bench workloads (same thunks, same methodology —
  imported from bench.build_workloads) with per-rep wall times printed as
  they finish, so a single query can be isolated and iterated on;
- label jobs via setJobDescription so the plans/SQL tab are readable.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 SPARK_GRAFT_CPUS=32 \
        python bench_extra.py [--reps N] [--warmup] [query ...]

Prints one JSON line per query: {"query": name, "samples": [...], "median": s}
and a final {"metric": "bench_extra_total_sec", ...} line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="workload names (default: all)")
    ap.add_argument("--reps", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    ap.add_argument("--warmup", action="store_true", help="one untimed warm-up rep per query")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from cassovary_spark.session import get_spark

    spark = get_spark(app_name="cassovary_spark_bench_extra", cores=cpus,
                      shuffle_partitions=cpus)

    import bench

    workloads, aux = bench.build_workloads(spark, sf_dir, sf)
    wanted = set(args.queries) if args.queries else None
    from cassovary_spark.functions import cache_scope, release_caches

    times: dict[str, float] = {}
    for name, thunk in workloads:
        if wanted is not None and name not in wanted:
            continue
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        samples = []
        if args.warmup:
            with cache_scope():
                thunk()
            release_caches()
        for _ in range(args.reps):
            with cache_scope():
                t0 = time.time()
                thunk()
                samples.append(round(time.time() - t0, 3))
            release_caches()
        spark.sparkContext.setJobDescription(None)
        med = statistics.median(samples)
        times[name] = med
        print(json.dumps({"query": name, "samples": samples, "median": med}),
              flush=True)
    print(json.dumps({
        "metric": "bench_extra_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        "reps": args.reps,
        "aux": {k: aux[k] for k in aux},
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
