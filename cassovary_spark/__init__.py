"""cassovary_spark — a from-scratch, PySpark-native link-graph analytics engine.

Re-expresses the capabilities of twitter/cassovary (reference at
/root/reference, an in-memory single-machine JVM graph library) as iterative
DataFrame passes over an ``edges(src: long, dst: long)`` table, designed for
multi-executor clusters at 100 TB scale:

- declarative DataFrame plans (Catalyst handles pushdown/pruning/join strategy)
- explicit hash-partitioning on the join key for iterative gather-scatter,
  driven by one superstep driver (``superstep.Superstep``)
- AQE skew handling at scale
- vectorized pandas/Arrow UDFs only (no per-row Python)
- per-superstep checkpointing with per-partition lineage, resumable mid-run

See SURVEY.md for the reference analysis and the operator inventory.
"""

from cassovary_spark.session import get_spark
from cassovary_spark.server import CassovarySparkServer
from cassovary_spark.dynamic import DynamicGraph
from cassovary_spark.labels import (
    read_labels,
    write_labels,
    read_label_file,
    label_of_nodes,
)
from cassovary_spark.graph import (
    normalize_edges,
    vertices_of,
    out_degrees,
    in_degrees,
    undirected_degrees,
    reverse_edges,
    mutualize,
    canonicalize_undirected,
    graph_stats,
    densify_ids,
    edges_from_external,
    read_node_numberer,
)

__version__ = "0.1.0"

__all__ = [
    "get_spark",
    "CassovarySparkServer",
    "normalize_edges",
    "vertices_of",
    "out_degrees",
    "in_degrees",
    "undirected_degrees",
    "reverse_edges",
    "mutualize",
    "canonicalize_undirected",
    "graph_stats",
    "densify_ids",
    "edges_from_external",
    "read_node_numberer",
    "DynamicGraph",
    "read_labels",
    "write_labels",
    "read_label_file",
    "label_of_nodes",
]
