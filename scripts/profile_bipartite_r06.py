"""A/B probe for the distributed bipartite path at sf1.0-like scale.

The bench's bipartite workload routes local below 4M edges, so the
distributed-path changes (dual-orientation edge persists, bucketed state,
MERGE gather + SHUFFLE_HASH update joins) are measured here on a synthetic
6M-edge bipartite graph (cs at sf1.0 is 5.99M edges). Run against any tree:

    CASSOVARY_REPO=/tmp/r06_before python scripts/profile_bipartite_r06.py
    CASSOVARY_REPO=/root/repo      python scripts/profile_bipartite_r06.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

repo = os.environ.get("CASSOVARY_REPO", "/root/repo")
sys.path.insert(0, repo)

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = int(sys.argv[1]) if len(sys.argv) > 1 else 6_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from cassovary_spark.operators import bipartite_link_analysis
    from cassovary_spark.session import get_spark

    spark = get_spark(app_name="profile_bipartite_r06", cores=cpus,
                      shuffle_partitions=cpus)
    # deterministic skewed bipartite graph: 200k left ids, 50k right ids
    e = (
        spark.range(m)
        .select(
            F.pmod(F.xxhash64("id"), F.lit(200_000)).alias("src"),
            (F.lit(1_000_000) + F.pmod(F.xxhash64(F.col("id") + 7), F.lit(50_000))).alias("dst"),
        )
        .persist()
    )
    e.count()
    lw = e.select(F.col("src").alias("id")).distinct().withColumn(
        "weight", F.lit(1.0)
    ).persist()
    lw.count()

    samples = []
    for i in range(reps + 1):  # rep 0 = untimed warmup
        spark.sparkContext.setJobDescription(f"bipartite 6M rep {i}")
        t0 = time.time()
        res = bipartite_link_analysis(
            e, lw, num_iterations=4, reset_prob_left=0.3,
            reset_prob_right=0.1, engine="distributed",
        )
        res.left.count()
        res.right.count()
        if i:
            samples.append(round(time.time() - t0, 3))
    print(json.dumps({"tree": repo, "edges": m, "samples": samples,
                      "median": statistics.median(samples)}),
          flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
