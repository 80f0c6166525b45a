"""SparkSession factory for the engine.

Local-mode defaults are sized to the host: ``local[$SPARK_GRAFT_CPUS]``, by
default every CPU this process may use, and a driver heap of half the
physical memory unless ``$SPARK_GRAFT_DRIVER_MEM`` is set. The same settings
are the right starting point on a real cluster: AQE handles runtime
re-planning (skew joins, partition coalescing), Arrow makes the Pandas-UDF
path batch-transfer instead of per-row pickling, and a UTC session timezone
keeps timestamp semantics aligned with the parquet fixtures and the DuckDB
oracle.

Design notes for 100 TB scale
-----------------------------
* ``spark.sql.shuffle.partitions`` is a *starting* value; with AQE's
  ``coalescePartitions`` enabled Spark shrinks post-shuffle partitions to
  ``advisoryPartitionSizeInBytes`` at runtime, so an over-estimate is cheap.
  On a 1000-executor cluster you would raise the initial value (e.g. 2000+)
  and let AQE coalesce.
* ``maxPartitionBytes`` keeps scan partitions bounded so a 100 TB scan
  fans out instead of producing giant tasks.
* ``spark.sql.codegen.cache.maxEntries`` (static, default 100) bounds the
  JVM's cache of compiled generated classes. Measured at 4 vCPU, one
  session running every registered query at sf0.01 compiles 1,173
  distinct classes (1,868 with stage ids in class names, below), and one
  round of the 5-query ``corpus_floor`` workload compiles 102, so under
  the default every read of a cycle misses and a warm session recompiles
  (janino, then JIT of the new class) on every invocation. 4096 entries
  hold the registry with room to spare; 2,000 cached classes cost ~9 MB
  of Metaspace and ~2 MB of class space.
* ``spark.sql.codegen.useIdInClassName=false``: the cache key is the
  generated source, and a whole-stage class name would carry its stage
  id, which depends on where the pipeline sits in the plan and, under
  AQE, on the order stages are re-planned. Without it the same pipeline
  is one cached class (the id stays in explain output).
* ``spark.python.daemon.module=mare_spark.worker_daemon``: every Python
  worker is forked from that daemon. PySpark's worker calls
  ``importlib.invalidate_caches()`` once per task, and before CPython 3.13
  that re-reads the central directory of every zip archive on the
  workers' path (``pyspark.zip``, py4j, the ``spark-core`` jar: 16
  importers over 3 archives), in pure Python. Measured at 4 vCPU on
  3.11, that was ~0.31 CPU-s of fixed cost per Python task; the daemon's
  ``invalidate_caches`` re-reads only an archive that changed, which
  leaves ~0.05 CPU-s (Arrow set-up and blocking reads). On 3.13+ zipimport
  is lazy already and the daemon is plain ``pyspark.daemon``.
* ``spark.executorEnv.PYTHONPATH`` is the directory holding the
  ``mare_spark`` package, so Python workers (and the daemon above) import
  the engine whatever the JVM's working directory or the inherited
  ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# The directory that holds the ``mare_spark`` package.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def host_driver_mem() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half the host's physical memory in
    whole GiB (at least 1g): in local mode the driver JVM shares the host
    with its Python workers and the piped commands."""
    if "SPARK_GRAFT_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    with open("/proc/meminfo") as fh:
        kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{max(kib // (2 << 20), 1)}g"


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes the session's JVM has compiled so far (janino);
    a warm invocation that adds to it emitted source the cache had not
    seen."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_spark(
    app_name: str = "mare_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or return) the engine's SparkSession.

    Parameters mirror what a deployment would tune; everything else is a
    scale-safe default.
    """
    cpus = host_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # -- planner / runtime adaptivity -------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan (coalesce/skew-split) the stage that MATERIALIZES
        # a persisted plan. Default false pins cached-plan output
        # partitioning, so every persist in the dedup/similarity operators
        # materialized at the full initial shuffle-partition count — tiny
        # post-shuffle partitions at any scale (measured locally: the
        # ngram-jaccard invocation ran 83 stages x 32 tasks; coalescing cuts
        # the task census ~10x). The cost (a consumer can no longer reuse
        # the cached partitioning for a later co-partitioned join) does not
        # apply here: no operator joins two persisted sets on their cache
        # partitioning.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- generated-code cache (sized in the module docstring) ---------
        # Static: takes effect only when this builder starts the JVM.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # -- scan sizing ------------------------------------------------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # -- python <-> JVM data path ------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python workers: forked from the engine's daemon, engine importable
        # (both in the module docstring).
        .config("spark.python.daemon.module", "mare_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        # -- determinism for the oracle ----------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which the parquet reader
        # rejects; read as long and convert in tables.read_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- local-mode ergonomics ---------------------------------------
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", host_driver_mem())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
