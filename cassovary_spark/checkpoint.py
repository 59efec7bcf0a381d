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

import json
import os
import tempfile
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
        (lineage truncated to a parquet scan — this is also how iterative
        plans avoid exponential plan growth)."""
        out = self._iter_dir(iteration)
        state.write.mode("overwrite").parquet(out)

        # per-partition lineage: rows per file as written (parquet file = unit
        # of reread parallelism), recorded so a resumed run can verify its
        # input matches what the dead run produced.
        spark = state.sparkSession
        reread = spark.read.parquet(out)
        lineage = [
            {"file": os.path.basename(r["file"]), "rows": r["rows"]}
            for r in (
                reread.groupBy(F.input_file_name().alias("file"))
                .agg(F.count("*").alias("rows"))
                .collect()
            )
        ]
        meta = {
            "run_id": self.run_id,
            "iteration": iteration,
            "wall_time": time.time(),
            "metrics": metrics,
            "lineage": sorted(lineage, key=lambda d: d["file"]),
        }
        # atomic rename => a crashed writer never leaves a half-visible iteration
        fd, tmp = tempfile.mkstemp(dir=out, suffix=".tmpmeta")
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f)
        os.rename(tmp, os.path.join(out, META_NAME))
        return reread

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

    CAUTION (measured, see StateScratch): the resulting LogicalRDD INHERITS
    the origin plan's Catalyst sizeInBytes statistic. Joins multiply child
    sizes, so an iterative recurrence whose state feeds >= 2 branches of the
    next superstep's join tree doubles the BigInt bit-length of that statistic
    every iteration — optimizer time then grows exponentially (BigInteger
    Toom-Cook multiplications inside SizeInBytesOnlyStatsPlanVisitor). Use
    ``materialize`` only for recurrences where the state enters the next
    superstep ONCE (linear stat growth); use ``StateScratch.roundtrip`` for
    multiplicative ones (HITS, LPA, pointer-jumping CC, BFS visited sets).
    """
    return df.localCheckpoint(eager=True)


class StateScratch:
    """Ephemeral superstep state store: truncates lineage AND resets Catalyst
    statistics via a parquet round-trip (file-based stats are ground truth).

    This is the in-op analog of CheckpointStore (same storage pattern, no
    metadata/resume surface) for operators that need per-superstep stat
    resets. Files for iterations older than ``keep_last`` are deleted as the
    run advances (the previous state must stay readable for convergence
    deltas). Call ``close()`` after the final state has been re-materialized
    with ``materialize`` (or returned to a terminal action).
    """

    def __init__(self, spark: SparkSession, keep_last: int = 3):
        import atexit
        import shutil

        self.spark = spark
        from cassovary_spark.session import _scratch_root

        scratch_root = _scratch_root()
        os.makedirs(scratch_root, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="cassovary_state_", dir=scratch_root)
        self.keep_last = keep_last
        self._i = 0
        self._paths: list[str] = []
        self._tables: list[str] = []
        # table prefix = the FULL unique tmpdir basename: mkdtemp's random
        # suffix may itself contain '_', so taking split('_')[-1] could
        # collide across two live StateScratch instances (e.g. bipartite
        # holds two) and let one DROP/overwrite the other's live state
        self._prefix = os.path.basename(self.dir).lower()
        self._bucketing_ok = True
        # catalog table name backing the most recent roundtrip (None when the
        # last write fell back to plain parquet) — lets operators reference
        # the current state by name in a single spark.sql() superstep build,
        # which saves ~15 py4j round-trips of DataFrame construction
        # (measured ~10%/superstep)
        self.last_table: str | None = None
        # ping-pong table rotation: per-superstep DROP+saveAsTable costs a
        # fixed ~0.33s of catalog DDL (measured);
        # inserting into keep_last pre-created bucketed tables in rotation
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
        # operators may return a DataFrame still backed by the last state file
        # (cheaper than re-materializing it); storage is reclaimed at exit
        atexit.register(shutil.rmtree, self.dir, ignore_errors=True)
        atexit.register(self._drop_tables)

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
        with_count: bool = False,
    ):
        """Materialize superstep state to storage and read it back.

        With ``bucket_by``, the state is written as a BUCKETED (+sorted) table:
        the reread scan reports hash-partitioning/ordering on that column, so
        the next superstep's joins need NO exchange or sort on the state side —
        measured ~2x whole-superstep speedup over plain parquet at 32M edges.
        Falls back to plain parquet if the catalog refuses bucketed writes.

        ``with_count=True`` returns ``(df, row_count)`` with the count
        collected via ``observe`` DURING the write — frontier loops get their
        emptiness check without a separate job (the engine's fold-metrics-
        into-the-state-write policy).

        INVALIDATION WINDOW (bucketed mode): returned DataFrames are views of
        a ROTATING table pool — a handle stays valid only for the next
        ``max(2, keep_last) - 1`` roundtrips of the same (schema, bucket key,
        bucket count); after that its slot is overwritten in place and the
        handle silently resolves to NEWER data (insertInto + refreshTable, no
        DROP to fail loudly). Ping-pong loops that only read the previous
        state are safe by construction; operators that retain MANY live state
        handles (bfs-style level lists) must size ``keep_last`` past the
        total number of writes, as bfs does (keep_last=1e9 ⇒ no rotation,
        every write gets a fresh table). Handles are generation-tagged:
        ``StateScratch.is_live(df)`` reports whether a handle still
        reflects its data and ``assert_live(df)`` raises on
        reuse-after-rotation.

        State parquet is written UNCOMPRESSED: superstep state is
        (id, score)-shaped doubles — nearly incompressible — on a scratch
        medium that is RAM in this sandbox and node-local SSD on a cluster,
        and lives at most keep_last supersteps. Snappy there is pure CPU:
        measured ~6-12% whole-superstep cost at 319k-2.4M edges with
        bit-identical checksums (PLANS.md, superstep fixed-cost round 3).
        Durable CheckpointStore artifacts keep the session codec.
        """
        import contextlib

        @contextlib.contextmanager
        def state_codec():
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

        def observed(frame):
            # a FRESH Observation per write attempt: an Observation's metric
            # promise completes with its first finished query, so reusing one
            # across the bucketed attempt AND the parquet fallback would
            # surface the FAILED attempt's count
            if not with_count:
                return frame, None
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation()
            return frame.observe(obs, F.count(F.lit(1)).alias("n")), obs

        self._i += 1
        if bucket_by is not None and self._bucketing_ok:
            b = num_buckets or int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            )
            try:
                bdf, obs = observed(df)
                key = (
                    tuple((f.name, f.dataType.simpleString()) for f in df.schema.fields),
                    bucket_by,
                    b,
                )
                rotation = self._rotations.setdefault(key, [])
                if len(rotation) < max(2, self.keep_last):
                    # rotation warm-up: first writes of a key pay the DDL
                    name = f"{self._prefix}_{self._i:06d}"
                    self.spark.sql(f"DROP TABLE IF EXISTS {name}")
                    with state_codec():
                        (
                            bdf.write.bucketBy(b, bucket_by)
                            .sortBy(bucket_by)
                            .mode("overwrite")
                            .format("parquet")
                            .saveAsTable(name)
                        )
                    rotation.append(name)
                    self._tables.append(name)
                else:
                    # steady state: overwrite the OLDEST slot (>=2 slots, so
                    # the previous state — which this write reads — is never
                    # the table being truncated). insertInto binds columns by
                    # position; reorder by name against the table schema.
                    name = rotation.pop(0)
                    cols = [f.name for f in self.spark.table(name).schema.fields]
                    with state_codec():
                        bdf.select(*cols).write.mode("overwrite").insertInto(name)
                    # the catalog caches the table's LogicalRelation including
                    # its resolved file listing; without an explicit refresh a
                    # later read can resolve to the PRE-overwrite files
                    # (observed: FileNotFoundException mid-superstep)
                    self.spark.catalog.refreshTable(name)
                    rotation.append(name)
                self.last_table = name
                self._slot_epoch[name] = self._i
                out = self.spark.table(name)
                out._cassovary_scratch = (self, name, self._i)
                return (out, obs.get["n"]) if with_count else out
            except Exception as exc:  # noqa: BLE001 — no-catalog environments
                # LOUD fallback: plain-parquet state costs ~2x per superstep
                # (the update join re-exchanges+sorts both sides); silent
                # degradation once produced a mystery-slow benchmark run
                import sys

                print(
                    f"[cassovary_spark] StateScratch: bucketed state write "
                    f"failed ({type(exc).__name__}: {exc}); falling back to "
                    f"plain parquet for this scratch",
                    file=sys.stderr,
                )
                self._bucketing_ok = False

        path = os.path.join(self.dir, f"s{self._i:06d}")
        pdf, obs = observed(df)
        pdf.write.mode("overwrite").option("compression", "none").parquet(path)
        self._paths.append(path)
        self._slot_epoch[path] = self._i
        while len(self._paths) > self.keep_last:
            old = self._paths.pop(0)
            self._slot_epoch.pop(old, None)
            import shutil

            shutil.rmtree(old, ignore_errors=True)
        self.last_table = None
        out = self.spark.read.parquet(path)
        out._cassovary_scratch = (self, path, self._i)
        return (out, obs.get["n"]) if with_count else out

    @staticmethod
    def is_live(df) -> bool:
        """Whether a roundtrip handle still reflects the data it returned.

        False once its slot has been overwritten by rotation (bucketed mode
        silently resolves to NEWER data; plain-parquet mode's files are
        deleted, failing at action time anyway). Frames that never came from
        a roundtrip have nothing to invalidate and report True."""
        tag = getattr(df, "_cassovary_scratch", None)
        if tag is None:
            return True
        scratch, slot, epoch = tag
        return scratch._slot_epoch.get(slot) == epoch

    @staticmethod
    def assert_live(df) -> None:
        """Loud-failure guard for retained roundtrip handles: raise instead
        of letting a rotated slot silently serve newer state. Operators that
        retain many live handles (bfs-style level lists) should either call
        this before each reuse or size ``keep_last`` past the write count."""
        if not StateScratch.is_live(df):
            tag = df._cassovary_scratch
            raise RuntimeError(
                f"stale StateScratch handle: slot {tag[1]!r} was written at "
                f"epoch {tag[0]._slot_epoch.get(tag[1])} but this handle "
                f"reflects epoch {tag[2]}; retained handles survive only "
                f"max(2, keep_last) - 1 roundtrips of their (schema, bucket) "
                f"key — raise keep_last or re-materialize earlier"
            )

    def close(self) -> None:
        import shutil

        self._drop_tables()
        self._slot_epoch.clear()
        shutil.rmtree(self.dir, ignore_errors=True)
