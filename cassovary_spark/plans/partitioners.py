"""The reference's Partitioner family, Spark-first (SURVEY §2.8).

Reference: graph/distributed/Partitioner.scala:26-85 — a Partitioner maps one
adjacency record to >= 1 instances; GraphFilesSplitter.scala:28-99
materializes per-instance subgraphs on disk.

In Spark, "instance" = partition/bucket. Each mapper below returns the edge
DataFrame with an ``instance`` column (and replicas where the reference
duplicates records), so the same table can be ``repartition``-ed live or
``write.partitionBy("instance")``-ed into per-instance directories —
byte-for-byte the GraphFilesSplitter layout, but emitted by the parallel
writers instead of a single-threaded splitter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def random_node_mapper(edges: DataFrame, k: int, seed: int = 42) -> DataFrame:
    """Random instance per SOURCE node (Partitioner.scala:36-38): every
    record of one node lands together, nodes spread uniformly. Deterministic
    via hash-of-(node, seed) rather than a stateful RNG."""
    return edges.withColumn(
        "instance", F.pmod(F.xxhash64("src", F.lit(seed)), F.lit(k)).cast("int")
    )


def hash_source_mapper(edges: DataFrame, k: int) -> DataFrame:
    """instance = hash(src) % k (Partitioner.scala:41-43) — Spark's native
    shuffle placement, made explicit."""
    return edges.withColumn(
        "instance", F.pmod(F.hash("src"), F.lit(k)).cast("int")
    )


def hash_dest_mapper(edges: DataFrame, k: int) -> DataFrame:
    """instance = hash(dst) % k (Partitioner.scala:47-53): a node's out-edges
    split across instances by destination."""
    return edges.withColumn(
        "instance", F.pmod(F.hash("dst"), F.lit(k)).cast("int")
    )


def hash_source_and_dest_mapper(edges: DataFrame, k: int) -> DataFrame:
    """2-replica layout (Partitioner.scala:55-65): each edge appears on its
    source's instance AND its destination's instance, so any instance can
    resolve both endpoints locally. Rows tagged with ``orientation``
    ('src'/'dst'); edges whose endpoints hash together emit one row per
    orientation all the same (the reference overwrites by-dest with
    by-source; keeping the tag preserves which copy serves which join)."""
    by_src = hash_source_mapper(edges, k).withColumn("orientation", F.lit("src"))
    by_dst = hash_dest_mapper(edges, k).withColumn("orientation", F.lit("dst"))
    return by_src.unionByName(by_dst)


def split_graph(mapper_df: DataFrame, path: str) -> None:
    """GraphFilesSplitter.splitGraph (GraphFilesSplitter.scala:35-46):
    materialize per-instance subdirectories ``<path>/instance=<i>/`` from a
    mapped edge table (any of the mappers above)."""
    cols = [c for c in mapper_df.columns if c != "instance"] + ["instance"]
    (
        mapper_df.select(*cols)
        .repartition("instance")
        .write.mode("overwrite")
        .partitionBy("instance")
        .parquet(path)
    )
