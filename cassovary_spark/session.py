"""SparkSession factory.

Reference analog: Cassovary's graph builders size their work by
``Runtime.availableProcessors`` (util/io/GraphReader.scala:54); here the
parallelism knobs are ``master`` and ``spark.sql.shuffle.partitions``.

Designed so the same code runs on ``local[N]`` (tests / bench) and on a real
multi-executor cluster via ``spark-submit --py-files`` (where ``master`` is
supplied by the submit environment and we do NOT override it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _scratch_root() -> str:
    """Fast ephemeral storage for shuffle + superstep state: prefer tmpfs
    (``/dev/shm``) when present and large, else the system tmp dir."""
    if os.environ.get("CASSOVARY_SPARK_SCRATCH"):
        return os.environ["CASSOVARY_SPARK_SCRATCH"]
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm + "/cassovary_scratch"
    import tempfile

    return tempfile.gettempdir()


def get_spark(
    app_name: str = "cassovary_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` under an existing cluster master leaves ``master`` alone,
    so ``spark-submit --master yarn ...`` works unchanged; locally it
    defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``).
    """
    builder = SparkSession.builder.appName(app_name)

    # Under spark-submit the driver python runs with the JVM gateway already
    # configured (PYSPARK_GATEWAY_PORT is set by PythonRunner) and
    # spark.master comes from --master; overriding it here would silently
    # turn a YARN/k8s job into local[*]. SPARK_MASTER/MASTER cover the
    # standalone scripts' env convention.
    submit_managed = (
        "PYSPARK_GATEWAY_PORT" in os.environ
        or os.environ.get("SPARK_MASTER")
        or os.environ.get("MASTER")
    )
    if cores is not None:
        builder = builder.master(f"local[{cores}]")
    elif submit_managed:
        pass  # master belongs to the submit environment
    elif "SPARK_GRAFT_CPUS" in os.environ:
        builder = builder.master(f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    else:
        builder = builder.master("local[*]")

    n_shuffle = shuffle_partitions or int(
        os.environ.get("CASSOVARY_SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )

    conf = {
        "spark.sql.shuffle.partitions": str(n_shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # skew-join splitting matters for hub vertices in link graphs
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        # local mode: the driver heap IS the cluster memory; size generously
        # (the sandbox has 128 GiB; a too-small heap makes 32-thread runs
        # GC-bound and destroys scaling)
        "spark.driver.memory": os.environ.get("CASSOVARY_SPARK_DRIVER_MEM", "48g"),
        # iterative algorithms truncate lineage via localCheckpoint
        "spark.checkpoint.compress": "true",
        # superstep loops drop their shuffle dependencies every iteration,
        # but the ContextCleaner only removes the files when the JVM GCs the
        # references — with a large heap that can be never, and on tmpfs
        # scratch the dead shuffle files are RAM (measured: per-superstep
        # walls drifting 69s -> 99s over a 10-superstep 64M-edge run at
        # local[2]). The default periodic GC is 30min; iterative jobs need
        # cleanup at superstep cadence.
        "spark.cleaner.periodicGC.interval": "45s",
        # Tungsten execution memory off-heap: sort/shuffle/join buffers
        # bypass the GC heap entirely — at 32 threads the allocation rate of
        # on-heap execution memory makes G1 pause-bound (measured 14s..52s
        # superstep variance on a fixed 64M-edge workload)
        "spark.memory.offHeap.enabled": os.environ.get(
            "CASSOVARY_SPARK_OFFHEAP", "true"
        ),
        "spark.memory.offHeap.size": os.environ.get(
            "CASSOVARY_SPARK_OFFHEAP_SIZE", "24g"
        ),
        # no operator writes a catalog table (superstep state is an
        # in-memory leaf, StateScratch.roundtrip); without this, Spark's
        # default catalog would still make spark-warehouse/ in the working
        # directory
        "spark.sql.warehouse.dir": os.environ.get(
            "CASSOVARY_SPARK_WAREHOUSE", _scratch_root() + "/cassovary_warehouse"
        ),
        # shuffle + spill files: on this sandbox /tmp is a virtual DISK while
        # /dev/shm is tmpfs; a superstep's shuffle writes through the single
        # vda queue otherwise, flat-lining core scaling (measured: 8 cores ==
        # 32 cores at 64M edges). A real cluster has per-node local SSDs +
        # page cache; tmpfs is the local-mode analog.
        "spark.local.dir": os.environ.get(
            "CASSOVARY_SPARK_LOCAL_DIR", _scratch_root() + "/spark_local"
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
