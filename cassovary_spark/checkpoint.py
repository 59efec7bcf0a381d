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
import contextlib
import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

META_NAME = "_SUCCESS_META.json"


@dataclass
class CheckpointStore:
    """Parquet/Iceberg-style superstep store under ``path/run_id/iter=NNNNN``."""

    path: str
    run_id: str = "default"

    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.path, self.run_id, f"iter={iteration:05d}")

    def save(self, iteration: int, state: DataFrame, metrics: dict[str, Any]) -> DataFrame:
        """Write one superstep's state + metrics; returns the re-read state
        (lineage truncated to a parquet scan). ``Superstep.run`` keeps its
        in-memory state instead: the re-read reports no partitioning."""
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
        # the state's schema spares the re-read a schema-inference job
        return state.sparkSession.read.schema(state.schema).parquet(out)

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
    a walk step); superstep state goes through ``Superstep.write``, whose
    leaf drops the inherited statistic (``drop_statistics``).
    """
    return df.localCheckpoint(eager=True)


def drop_statistics(checkpointed: DataFrame) -> DataFrame:
    """The frame of a local checkpoint whose ``LogicalRDD`` leaf reports no
    origin statistics or constraints: its ``sizeInBytes`` is Spark's
    default for an unknown size (Long.MaxValue) in every superstep, where
    the inherited one grows (the ``materialize`` CAUTION). The leaf keeps
    the RDD and the partitioning and ordering its executed plan reported.

    Private Spark API (``LogicalRDD.copy`` and the classic
    ``Dataset.ofRows``, Spark 4.1): if it changes, this raises."""
    spark, jvm = checkpointed.sparkSession, checkpointed.sparkSession._jvm
    lp = checkpointed._jdf.queryExecution().logical()
    part, order = lp.outputPartitioning(), lp.outputOrdering()
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


class StateScratch:
    """Ephemeral state store on scratch parquet: truncates lineage AND
    resets Catalyst statistics via a parquet round-trip (file-based stats
    are ground truth).

    This is the in-op analog of CheckpointStore (same storage pattern, no
    metadata/resume surface). Each ``superstep.Superstep`` run owns one for
    its ``bucket_by=None`` writes (BFS levels, bipartite sides), which stay
    readable until the run ends; keyed superstep state is an in-memory
    leaf instead (``Superstep.write``). A scratch never closed is reclaimed
    at exit.

    The bucketed rotation (``roundtrip(bucket_by=...)``) has no caller in
    the package: it is kept only for perfbench's state-transport probe
    (``harness.layer_probes``), which times it.
    """

    # bucketed tables per (schema, bucket column, bucket count) rotation:
    # the state a write reads and the one before it stay readable. The
    # rotation is kept only for perfbench's state-transport probe; no
    # operator writes bucketed state any more.
    ROTATION_SLOTS = 3

    def __init__(self, spark: SparkSession):
        self.spark = spark
        from cassovary_spark.session import _scratch_root

        scratch_root = _scratch_root()
        os.makedirs(scratch_root, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="cassovary_state_", dir=scratch_root)
        self._i = 0
        self._tables: list[str] = []
        # table prefix = the FULL unique tmpdir basename: mkdtemp's random
        # suffix may itself contain '_', so taking split('_')[-1] could
        # collide across two live StateScratch instances (e.g. two operator
        # calls running on different threads) and let one DROP/overwrite
        # the other's live state
        self._prefix = os.path.basename(self.dir).lower()
        # always True: a failed bucketed write raises. Kept only because
        # perfbench/tracing.py and perfbench/harness.py read it.
        self._bucketing_ok = True
        # ping-pong table rotation: per-superstep DROP+saveAsTable costs a
        # fixed ~0.33s of catalog DDL (measured);
        # inserting into ROTATION_SLOTS pre-created bucketed tables in rotation
        # costs ~0.28s TOTAL (write+read) for a 339k-row state and the reread
        # still reports hash-partitioning+ordering (0-exchange self-join
        # verified). One rotation PER (schema, bucket column, bucket count)
        # key: an operator like HITS alternates two state schemas through one
        # scratch, and a single rotation would drop/overwrite the LIVE table
        # of the other schema mid-query (observed FileNotFoundException).
        # insertInto binds by POSITION, so writes reorder columns by name.
        self._rotations: dict[tuple, list[str]] = {}
        # generation tracking (ADVICE r2): slot name/path -> write index of
        # its CURRENT contents. Every returned handle is tagged with the
        # (scratch, slot, epoch) it reflects so is_live()/assert_live() can
        # fail LOUDLY when a handle has been silently overwritten in place.
        self._slot_epoch: dict[str, int] = {}
        atexit.register(self.close)

    def _drop_tables(self) -> None:
        for t in list(self._tables):
            try:
                self.spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:  # noqa: BLE001 — session may already be stopped
                pass
        self._tables.clear()
        self._rotations.clear()

    def roundtrip(
        self,
        df: DataFrame,
        bucket_by: str | None = None,
        num_buckets: int | None = None,
    ) -> DataFrame:
        """Materialize superstep state to storage and read it back.

        With ``bucket_by``, the state is written as a BUCKETED (+sorted) table:
        the reread scan reports hash-partitioning/ordering on that column, so
        the next superstep's joins need NO exchange or sort on the state side —
        measured ~2x whole-superstep speedup over plain parquet at 32M edges.
        A failed bucketed write raises.

        INVALIDATION WINDOW (bucketed mode): returned DataFrames are views of
        a ROTATING table pool — a handle stays valid only for the next
        ``ROTATION_SLOTS - 1`` roundtrips of the same (schema, bucket key,
        bucket count); after that its slot is overwritten in place and the
        handle silently resolves to NEWER data (insertInto + refreshTable, no
        DROP to fail loudly). Ping-pong loops that only read the previous
        state are safe by construction. Plain-parquet writes
        (``bucket_by=None``) get a fresh directory each and stay readable
        until ``close()``: loops that retain MANY live state handles
        (BFS-style level lists) write that way. Handles are generation-tagged:
        ``StateScratch.is_live(df)`` reports whether a handle still
        reflects its data and ``assert_live(df)`` raises on
        reuse-after-rotation.

        State parquet is written UNCOMPRESSED: superstep state is
        (id, score)-shaped doubles — nearly incompressible — on a scratch
        medium that is RAM in this sandbox and node-local SSD on a cluster,
        and lives at most ROTATION_SLOTS supersteps. Snappy there is pure CPU:
        measured ~6-12% whole-superstep cost at 319k-2.4M edges with
        bit-identical checksums (PLANS.md, superstep fixed-cost round 3).
        Durable CheckpointStore artifacts keep the session codec.
        """
        self._i += 1
        if bucket_by is None:
            path = os.path.join(self.dir, f"s{self._i:06d}")
            df.write.mode("overwrite").option("compression", "none").parquet(path)
            self._slot_epoch[path] = self._i
            out = self.spark.read.parquet(path)
            out._cassovary_scratch = (self, path, self._i)
            return out

        b = num_buckets or int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        key = (
            tuple((f.name, f.dataType.simpleString()) for f in df.schema.fields),
            bucket_by,
            b,
        )
        rotation = self._rotations.setdefault(key, [])
        if len(rotation) < self.ROTATION_SLOTS:
            # rotation warm-up: first writes of a key pay the DDL; the name
            # is recorded first so close() drops a half-created table too
            name = f"{self._prefix}_{self._i:06d}"
            self._tables.append(name)
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            with self._state_codec():
                (
                    df.write.bucketBy(b, bucket_by)
                    .sortBy(bucket_by)
                    .mode("overwrite")
                    .format("parquet")
                    .saveAsTable(name)
                )
        else:
            # steady state: overwrite the OLDEST slot (of 3, so the
            # previous state — which this write reads — is never
            # the table being truncated). insertInto binds columns by
            # position; reorder by name against the table schema.
            name = rotation.pop(0)
            cols = [f.name for f in self.spark.table(name).schema.fields]
            with self._state_codec():
                df.select(*cols).write.mode("overwrite").insertInto(name)
            # the catalog caches the table's LogicalRelation including
            # its resolved file listing; without an explicit refresh a
            # later read can resolve to the PRE-overwrite files
            # (observed: FileNotFoundException mid-superstep)
            self.spark.catalog.refreshTable(name)
        rotation.append(name)
        self._slot_epoch[name] = self._i
        out = self.spark.table(name)
        out._cassovary_scratch = (self, name, self._i)
        return out

    @contextlib.contextmanager
    def _state_codec(self):
        # dictionary encoding is also off for state writes: the columns
        # are ids + fresh doubles where the dictionary never pays off,
        # and parquet's try-dictionary-then-fallback is pure encode CPU
        # (measured ~7%/superstep at 319k edges, interleaved A/B)
        keys = {
            "spark.sql.parquet.compression.codec": "uncompressed",
            "spark.hadoop.parquet.enable.dictionary": "false",
            # scratch state is rewritten wholesale every superstep and
            # never read by another job mid-write: the v1 commit's
            # task-dir -> job-dir double rename and the _SUCCESS marker
            # buy nothing here (r6, measured ~5%/superstep at 3.2M
            # edges). Durable CheckpointStore artifacts keep the session
            # defaults.
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
            "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
        }
        old = {k: self.spark.conf.get(k, None) for k in keys}
        for k, v in keys.items():
            self.spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)

    @staticmethod
    def is_live(df) -> bool:
        """Whether a roundtrip handle still reflects the data it returned.

        False once its bucketed slot has been overwritten by rotation (the
        handle would silently resolve to NEWER data) or its scratch is
        closed. Frames that never came from a roundtrip have nothing to
        invalidate and report True."""
        tag = getattr(df, "_cassovary_scratch", None)
        if tag is None:
            return True
        scratch, slot, epoch = tag
        return scratch._slot_epoch.get(slot) == epoch

    @staticmethod
    def assert_live(df) -> None:
        """Loud-failure guard for retained roundtrip handles: raise instead
        of letting a rotated slot silently serve newer state. Operators that
        retain many live handles (BFS-style level lists) write them as plain
        parquet, which never rotates."""
        if not StateScratch.is_live(df):
            tag = df._cassovary_scratch
            raise RuntimeError(
                f"stale StateScratch handle: slot {tag[1]!r} was written at "
                f"epoch {tag[0]._slot_epoch.get(tag[1])} but this handle "
                f"reflects epoch {tag[2]}; retained handles survive only "
                f"{StateScratch.ROTATION_SLOTS - 1} roundtrips of their "
                f"(schema, bucket) key — write them unbucketed or "
                f"re-materialize earlier"
            )

    def close(self) -> None:
        self._drop_tables()
        self._slot_epoch.clear()
        shutil.rmtree(self.dir, ignore_errors=True)
        atexit.unregister(self.close)
