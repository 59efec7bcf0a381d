"""Physical layout planning: partition counts, the superstep join hint and
conf scope, and the reference's Partitioner family — the engine-level
layout decisions Catalyst doesn't make."""

from cassovary_spark.plans.layout import (
    choose_partitions,
    superstep_conf,
    update_join_hint,
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
    "superstep_conf",
    "update_join_hint",
    "random_node_mapper",
    "hash_source_mapper",
    "hash_dest_mapper",
    "hash_source_and_dest_mapper",
    "split_graph",
]
