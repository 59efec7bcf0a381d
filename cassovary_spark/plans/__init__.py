"""Physical layout planning: edge row counts, partition counts, the
superstep conf scope (``layout`` also holds the state-update join hint
constant), and the reference's Partitioner family — the engine-level layout decisions Catalyst
doesn't make."""

from cassovary_spark.plans.layout import (
    choose_partitions,
    row_count,
    superstep_conf,
)
from cassovary_spark.plans.partitioners import (
    random_node_mapper,
    hash_source_mapper,
    hash_dest_mapper,
    hash_source_and_dest_mapper,
    split_graph,
)

__all__ = [
    "choose_partitions",
    "row_count",
    "superstep_conf",
    "random_node_mapper",
    "hash_source_mapper",
    "hash_dest_mapper",
    "hash_source_and_dest_mapper",
    "split_graph",
]
