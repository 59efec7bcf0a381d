"""Per-superstep checkpointing with per-partition lineage and metrics.

The reference's iterative driver (algorithms/linkanalysis/LinkAnalysis.scala:87-109)
already accepts a non-default initial state for ``run(init)``; this module is
the distributed extension: every superstep persists the full rank/label state
plus convergence metrics and per-partition lineage, so a killed run resumes
from the last complete iteration (``run(init=latest)``).

Storage: an Iceberg table in production (snapshot isolation gives atomic
supersteps); in this sandbox the Iceberg runtime jar is unavailable, so the
store writes parquet-per-iteration directories with an atomically-renamed
``_SUCCESS_META.json`` marker carrying the metrics — the semantics (atomic
complete-iteration visibility, resume from max complete iteration) are
identical, and the API would not change under Iceberg.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from cassovary_spark import plans

META_NAME = "_SUCCESS_META.json"


@dataclass
class CheckpointStore:
    """Parquet/Iceberg-style superstep store under ``path/run_id/iter=NNNNN``."""

    path: str
    run_id: str = "default"

    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.path, self.run_id, f"iter={iteration:05d}")

    def save(self, iteration: int, state: DataFrame, metrics: dict[str, Any]) -> None:
        """Write one superstep's state + metrics durably. The caller keeps
        its in-memory state; ``load``/``latest`` read the files back."""
        import pyarrow.parquet as pq

        out = self._iter_dir(iteration)
        state.write.mode("overwrite").parquet(out)

        # per-partition lineage: rows per file as written (parquet file = unit
        # of reread parallelism), recorded so a resumed run can verify its
        # input matches what the dead run produced. Read from the footers:
        # no Spark job re-reads the files just written.
        lineage = []
        for name in sorted(os.listdir(out)):
            if name.endswith(".parquet"):
                rows = pq.read_metadata(os.path.join(out, name)).num_rows
                if rows:
                    lineage.append({"file": name, "rows": rows})
        meta = {
            "run_id": self.run_id,
            "iteration": iteration,
            "wall_time": time.time(),
            "metrics": metrics,
            "lineage": lineage,
        }
        # atomic rename => a crashed writer never leaves a half-visible iteration
        fd, tmp = tempfile.mkstemp(dir=out, suffix=".tmpmeta")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f)
        os.rename(tmp, os.path.join(out, META_NAME))

    def complete_iterations(self) -> list[int]:
        base = os.path.join(self.path, self.run_id)
        if not os.path.isdir(base):
            return []
        out = []
        for name in os.listdir(base):
            if name.startswith("iter=") and os.path.exists(
                os.path.join(base, name, META_NAME)
            ):
                out.append(int(name.split("=")[1]))
        return sorted(out)

    def load(self, spark: SparkSession, iteration: int) -> tuple[DataFrame, dict]:
        d = self._iter_dir(iteration)
        with open(os.path.join(d, META_NAME)) as f:
            meta = json.load(f)
        return spark.read.parquet(d), meta

    def latest(self, spark: SparkSession) -> tuple[int, DataFrame, dict] | None:
        its = self.complete_iterations()
        if not its:
            return None
        df, meta = self.load(spark, its[-1])
        return its[-1], df, meta


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage between supersteps without a checkpoint store.

    ``localCheckpoint(eager=True)`` persists partitions on executors and
    truncates the logical plan — the in-memory analog of CheckpointStore.save.

    CAUTION (measured): the resulting LogicalRDD INHERITS the origin plan's
    Catalyst sizeInBytes statistic. Joins multiply child sizes, so an
    iterative recurrence whose state feeds >= 2 branches of the next
    superstep's join tree grows that statistic ~1e6x per superstep at
    PageRank's shape — optimizer time then grows exponentially (BigInteger
    Toom-Cook multiplications inside SizeInBytesOnlyStatsPlanVisitor). Use
    ``materialize`` only for a frame no later superstep joins (a result,
    a walk step); superstep state goes through ``StateScratch.roundtrip``,
    whose leaf drops the inherited statistic (``drop_statistics``).
    """
    return df.localCheckpoint(eager=True)


def drop_statistics(checkpointed: DataFrame, partitioning=None) -> DataFrame:
    """The frame of a local checkpoint whose ``LogicalRDD`` leaf reports no
    origin statistics or constraints: its ``sizeInBytes`` is Spark's
    default for an unknown size (Long.MaxValue) in every superstep, where
    the inherited one grows (the ``materialize`` CAUTION). The leaf keeps
    the RDD, the ordering its executed plan reported and ``partitioning``
    (a JVM ``Partitioning``), by default the one the checkpoint reports.

    Private Spark API (``LogicalRDD.copy`` and the classic
    ``Dataset.ofRows``, Spark 4.1): if it changes, this raises."""
    spark, jvm = checkpointed.sparkSession, checkpointed.sparkSession._jvm
    lp = checkpointed._jdf.queryExecution().logical()
    part, order = partitioning or lp.outputPartitioning(), lp.outputOrdering()
    # Each output attribute takes the instance the partitioning and ordering
    # name: they can differ in qualifier only (``s.id`` vs ``id``), and a
    # self-join's copy of the leaf (``LogicalRDD.newInstance``) re-maps
    # the partitioning and ordering only where they equal the output,
    # qualifier included. Otherwise the copy's partitioning names the
    # first copy's attributes, and the join exchanges the state.
    keyed = [order.apply(i) for i in range(order.size())]
    if jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.Expression"
    ).isInstance(part):  # hash partitioning, not SinglePartition
        keyed.append(part)
    named = {}
    for expr in keyed:
        refs = expr.references().toSeq()
        for i in range(refs.size()):
            named[refs.apply(i).exprId().id()] = refs.apply(i)
    out = lp.output()
    output = jvm.java.util.ArrayList()
    for i in range(out.size()):
        output.add(named.get(out.apply(i).exprId().id(), out.apply(i)))
    none = jvm.scala.Option.empty()
    leaf = lp.copy(
        jvm.scala.jdk.javaapi.CollectionConverters.asScala(output).toList(),
        lp.rdd(), part, order, lp.isStreaming(), lp.stream(),
        spark._jsparkSession, none, none,
    )
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, leaf), spark
    )


def _hashed_on(df: DataFrame, key: str):
    """The alternative hashed on ``key`` alone among the partitionings
    ``df``'s executed plan reports, or None if it reports one only. A
    projection that aliases the key (``id AS component``) reports one per
    name, and a local checkpoint keeps the first, which may be the alias's:
    the next join on ``key`` would then exchange and sort the state."""
    part = df._jdf.queryExecution().executedPlan().outputPartitioning()
    if part.getClass().getSimpleName() != "PartitioningCollection":
        return None
    alts = part.partitionings()
    for i in range(alts.size()):
        alt = alts.apply(i)
        if alt.getClass().getSimpleName() == "HashPartitioning" and alt.expressions().size() == 1:
            expr = alt.expressions().apply(0)
            if expr.getClass().getSimpleName() == "AttributeReference" and expr.name() == key:
                return alt
    return None


class StateScratch:
    """The superstep state transport of one ``superstep.Superstep`` run.

    Keyed writes (``roundtrip(df, bucket_by=key)``) are in-memory leaves;
    plain writes (``bucket_by=None``: BFS levels, bipartite sides) go to
    scratch parquet, whose file statistics are ground truth and whose files
    stay readable until the run ends. A scratch never closed is reclaimed
    at exit.
    """

    # a keyed leaf is freed once this many newer leaves of its (schema, key)
    # exist: a handle stays readable through the next write of its kind
    LIVE_LEAVES = 2
    # always True: a failed state write raises. perfbench/tracing.py and
    # perfbench/harness.py read it.
    _bucketing_ok = True

    def __init__(self, spark: SparkSession):
        self.spark = spark
        from cassovary_spark.session import _scratch_root

        scratch_root = _scratch_root()
        os.makedirs(scratch_root, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="cassovary_state_", dir=scratch_root)
        self._i = 0
        # (schema, key) -> RDDs of the live leaves, oldest first
        self._leaves: dict[tuple[str, str], list] = {}
        atexit.register(self.close)

    def roundtrip(
        self,
        df: DataFrame,
        bucket_by: str | None = None,
        num_buckets: int | None = None,
    ) -> DataFrame:
        """Materialize superstep state and cut its lineage.

        With ``bucket_by``, the state is an in-memory leaf: sorted within
        its partitions by that key and locally checkpointed under
        ``plans.pinned_conf`` on ``num_buckets`` partitions (default: the
        session's shuffle partitions; an adaptive plan reports no
        partitioning), then re-wrapped without the statistics and
        constraints the checkpoint inherits from its origin plan
        (``drop_statistics``). The write adds no exchange: the leaf keeps
        the ordering and the partitioning its executed plan reported (the
        one on the key, where the plan reports several). Superstep state
        comes out of a join or aggregate on the key, so the next
        superstep's joins on the key neither exchange nor sort it, and its
        ``sizeInBytes`` stays fixed where the inherited one would grow with
        every superstep. A leaf is freed once ``LIVE_LEAVES`` newer leaves
        of its (schema, key) exist, and every leaf on ``close()``; a read
        of a freed leaf raises ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``. The
        leaf lives in executor memory: an executor lost mid-run loses it,
        and a ``CheckpointStore`` saved every k supersteps is the recovery
        point.

        With ``bucket_by=None`` the state is written to a fresh scratch
        parquet directory, UNCOMPRESSED: superstep state is (id, score)-
        shaped doubles, nearly incompressible, on RAM or node-local SSD, so
        snappy there is pure CPU (measured ~6-12% whole-superstep cost at
        319k-2.4M edges, PLANS.md). Durable ``CheckpointStore`` artifacts
        keep the session codec.
        """
        if bucket_by is None:
            self._i += 1
            path = os.path.join(self.dir, f"s{self._i:06d}")
            df.write.mode("overwrite").option("compression", "none").parquet(path)
            return self.spark.read.parquet(path)

        p = num_buckets or int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        keyed = df.sortWithinPartitions(bucket_by)
        with plans.pinned_conf(self.spark, p):
            checkpointed = keyed.localCheckpoint(eager=True)
        live = self._leaves.setdefault((checkpointed.schema.simpleString(), bucket_by), [])
        live.append(checkpointed._jdf.queryExecution().logical().rdd())
        out = drop_statistics(checkpointed, _hashed_on(keyed, bucket_by))
        if len(live) > self.LIVE_LEAVES:
            live.pop(0).unpersist(False)
        return out

    def close(self) -> None:
        for rdd in [r for live in self._leaves.values() for r in live]:
            try:
                rdd.unpersist(False)
            except Exception:  # noqa: BLE001 — session may already be stopped
                pass
        self._leaves.clear()
        shutil.rmtree(self.dir, ignore_errors=True)
        atexit.unregister(self.close)
