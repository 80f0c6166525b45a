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

Start warm: a class-data archive for the driver JVM
---------------------------------------------------
A cold driver JVM parses and verifies ~10.6k classes before ``get_spark``
returns and ~13.5k more in its first round of queries. When ``get_spark``
launches the JVM, it maps a dynamic AppCDS archive (a class-data sharing
file: those classes, already parsed and verified) if one exists. Measured
at 4 vCPU in interleaved runs, that cut ``get_spark`` from 4.2-5.1 s to
2.6-2.9 s, and perfbench's ``tpch_refresh`` ``setup_s`` (session start
plus a warm-up round) from a median 21.4-21.6 s to 17.0-18.2 s. JIT
warm-up and Spark planning are unchanged.

* *Where:* ``${XDG_CACHE_HOME:-~/.cache}/mare_spark/cds/<key>.jsa``, next to
  ``<key>.size``, its byte count when it was checked. ``<key>`` hashes the
  ``java`` Spark's launcher runs (``$JAVA_HOME/bin/java``, else ``java`` on
  ``PATH``: real path, size, mtime) and every jar in ``$SPARK_HOME/jars``
  (name, size, mtime), so a JDK or Spark upgrade starts a new archive. The
  heap size is not in the key: an archive maps at any heap.
* *When it is built:* a session that finds no usable archive and wins the
  exclusive ``<key>.lock`` starts its JVM with
  ``-XX:+RecordDynamicDumpInfo``. When that Python process exits, while
  the JVM is still alive, ``jcmd <pid> VM.cds dynamic_dump`` writes the
  archive under a temporary name (~8 s, ~120 MB); it is renamed into place
  only once ``java -Xshare:on`` maps it, and the archives of other keys are
  deleted. Without ``jcmd`` nothing is built. A JVM given a truncated
  archive crashes (JDK 17: SIGBUS) instead of ignoring it, so an archive
  whose size is not its ``.size`` is never passed to the JVM.
* *The conf directory:* Spark's launcher puts ``$SPARK_CONF_DIR`` (default
  ``$SPARK_HOME/conf``) first on the class path, and a non-empty directory
  there stops both the dump and the mapping. If it holds only
  ``*.template`` files, which Spark never reads, the JVM is launched with
  ``SPARK_CONF_DIR`` pointing at the empty
  ``${XDG_CACHE_HOME:-~/.cache}/mare_spark/conf`` (the caller's
  environment is restored after the launch). If it holds a real file such
  as ``spark-defaults.conf``, no archive is built or used.
* *Quiet:* CDS logging is off (``-Xlog:cds*=off``), and the dump's one
  line of output goes to stderr, so a clean stdout stays clean.
* *Clearing it:* delete ``${XDG_CACHE_HOME:-~/.cache}/mare_spark``. The
  next session starts cold and builds a new archive when it exits.

Whenever no archive can be used, the session starts cold, as without
one. This covers the driver JVM only, not executors on a cluster.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import os
import shlex
import shutil
import subprocess
import sys
from dataclasses import dataclass
from typing import IO

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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


def _cache_dir() -> str:
    return os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "mare_spark",
    )


def _launcher_java() -> str | None:
    """Real path of the ``java`` Spark's launcher runs, if it exists."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _archive_key(java: str, spark_home: str) -> str:
    """Hash of the JVM and the jars an archive was built from."""
    h = hashlib.sha256()
    for path in [java, *sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))]:
        st = os.stat(path)
        name = path if path == java else os.path.basename(path)
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:32]


def _checked_archive(archive: str) -> bool:
    """The archive exists and still has the size it had when it mapped."""
    try:
        with open(archive[: -len(".jsa")] + ".size") as fh:
            return os.path.getsize(archive) == int(fh.read())
    except (OSError, ValueError):
        return False


@dataclass
class _WarmStart:
    """How ``get_spark`` launches the JVM to start warm."""

    java_opts: list[str]  # added to spark.driver.extraJavaOptions
    conf_dir: str  # SPARK_CONF_DIR for the launch
    archive: str
    java: str
    lock: IO | None = None  # held while this process records the archive


def _warm_start(caller_opts: str = "") -> _WarmStart | None:
    """The JVM options and conf directory that map this host's archive,
    or that record one if none exists and no other process is recording;
    None when no archive can be used (module docstring). ``caller_opts``
    are the caller's own driver JVM options."""
    java = _launcher_java()
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    names = os.listdir(conf) if os.path.isdir(conf) else []
    if java is None or any(not n.endswith(".template") for n in names):
        return None
    cds = os.path.join(_cache_dir(), "cds")
    empty_conf = os.path.join(_cache_dir(), "conf")
    os.makedirs(cds, exist_ok=True)
    os.makedirs(empty_conf, exist_ok=True)
    archive = os.path.join(cds, _archive_key(java, spark_home) + ".jsa")
    warm = _WarmStart(["-Xlog:cds*=off"], empty_conf, archive, java)
    if _checked_archive(archive):
        warm.java_opts.append(f"-XX:SharedArchiveFile={archive}")
        return warm
    if not os.path.isfile(os.path.join(os.path.dirname(java), "jcmd")):
        return None
    lock = open(archive[: -len(".jsa")] + ".lock", "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        lock.close()
        return None
    # the attach listener starts with the JVM, so jcmd finds its socket in
    # /tmp and writes no attach file into the JVM's working directory
    record = ["-XX:+RecordDynamicDumpInfo", "-XX:+StartAttachListener"]
    # a JVM without its base CDS archive (a JDK that ships none, or
    # -Xshare:off among the caller's options) refuses to start recording
    probe = [java, *shlex.split(os.environ.get("SPARK_SUBMIT_OPTS", "")),
             *shlex.split(caller_opts), *warm.java_opts, *record, "-version"]
    if subprocess.run(probe, stdout=subprocess.DEVNULL,
                      stderr=subprocess.DEVNULL, cwd=cds).returncode:
        lock.close()
        return None
    warm.lock = lock
    warm.java_opts += record
    return warm


def _dump_archive(warm: _WarmStart, jvm, pid: int, class_path: str) -> None:
    """Write the recording JVM's archive, check that it maps, then move it
    into place and delete every other key's files."""
    tmp = warm.archive + ".tmp"
    cds = os.path.dirname(warm.archive)
    key = os.path.basename(warm.archive)[: -len(".jsa")]
    try:
        # the dump prints one line on the JVM's System.out
        jvm.java.lang.System.setOut(jvm.java.lang.System.err)
        jcmd = os.path.join(os.path.dirname(warm.java), "jcmd")
        quiet = {"stdout": subprocess.DEVNULL, "stderr": subprocess.DEVNULL,
                 "cwd": cds, "timeout": 60}
        subprocess.run([jcmd, str(pid), "VM.cds", "dynamic_dump", tmp], **quiet)
        check = [warm.java, "-XX:-UsePerfData", f"-XX:SharedArchiveFile={tmp}",
                 "-Xshare:on", "-cp", class_path, "-version"]
        if subprocess.run(check, **quiet).returncode:
            raise OSError(f"{tmp} does not map")
        with open(os.path.join(cds, key + ".size"), "w") as fh:
            fh.write(str(os.path.getsize(tmp)))
        os.replace(tmp, warm.archive)
        for name in os.listdir(cds):
            if not name.startswith(key):
                os.remove(os.path.join(cds, name))
    except (OSError, subprocess.SubprocessError, Py4JError) as e:
        # the next session starts cold and records again
        print(f"mare_spark: class-data archive not built: {e}", file=sys.stderr)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
        warm.lock.close()


def archive_mapped(spark: SparkSession) -> bool:
    """Whether the session's JVM mapped a class-data archive from the
    cache (module docstring)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    cds = os.path.join(_cache_dir(), "cds") + os.sep
    with open(f"/proc/{pid}/maps") as fh:
        return any(cds in ln and ln.rstrip().endswith(".jsa") for ln in fh)


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
    extra_conf = dict(extra_conf or {})
    opts = "spark.driver.extraJavaOptions"
    # start warm only where getOrCreate launches the JVM
    warm = (
        _warm_start(extra_conf.get(opts, ""))
        if SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
        else None
    )
    if warm is not None:
        extra_conf[opts] = " ".join(
            [extra_conf.get(opts, ""), *warm.java_opts]
        ).strip()
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    saved = os.environ.get("SPARK_CONF_DIR")
    if warm is not None:
        os.environ["SPARK_CONF_DIR"] = warm.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if warm is not None and warm.lock is not None:
        jvm = spark._jvm
        atexit.register(
            _dump_archive, warm, jvm,
            jvm.java.lang.ProcessHandle.current().pid(),
            jvm.java.lang.System.getProperty("java.class.path"),
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
