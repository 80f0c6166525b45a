from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mare_spark import worker_daemon
from mare_spark.codecs import TextFile
from mare_spark.engine import Engine
from mare_spark.session import codegen_compiles
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark, SF_SMOKE)


def test_engine_sql_over_catalog(eng):
    out = eng.sql("SELECT count(*) AS n FROM lineitem").collect()
    assert out[0].n == 6000


def test_engine_table_and_register(eng):
    top = eng.table("orders").orderBy(F.desc("o_totalprice")).limit(5)
    eng.register("top_orders", top)
    assert eng.sql("SELECT count(*) AS n FROM top_orders").collect()[0].n == 5


def test_engine_pipe(eng):
    df = eng.table("region").select(F.col("r_name").alias("value"))
    out = eng.pipe(df).map(
        TextFile("/i"), TextFile("/o"), "busybox:1", "tr 'A-Z' 'a-z' < /i > /o"
    )
    vals = sorted(r.value for r in out.df.collect() if r.value)
    assert "africa" in vals


def test_engine_run_query(eng):
    df = eng.run_query("q1_pricing_summary")
    assert df.count() == 6
    assert "sum_qty" in df.columns


def test_session_defaults_are_host_sized(monkeypatch):
    """Unset, the local-mode CPU count is the process's CPU affinity and
    the driver heap is half of physical memory; the variables override."""
    import os

    from mare_spark.session import host_cpus, host_driver_mem

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert host_cpus() == len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    gib = int(host_driver_mem().removesuffix("g"))
    assert gib >= 1 and gib << 21 <= max(kib, 2 << 20)  # at most half of RAM
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert (host_cpus(), host_driver_mem()) == (3, "2g")


def test_codegen_cache_holds_a_warm_round(spark):
    """A warm session recompiles nothing: the generated-class cache holds
    a cycle of 150 distinct plans, more than Spark's default 100-entry
    LRU, which would miss on every read of the second cycle."""
    plans = [spark.range(4).selectExpr(f"id * 3 + {i} AS x") for i in range(150)]
    for df in plans:
        df.collect()
    before = codegen_compiles(spark)
    for df in plans:
        df.collect()
    assert codegen_compiles(spark) == before
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 2048


def test_codegen_class_reused_across_stage_ids(spark):
    """One pipeline compiles once wherever it sits in a plan: generated
    class names carry no stage id, so the same code under stage 2 of one
    plan and stage 1 of the next is one cache entry."""

    def pipeline():
        return spark.range(4).selectExpr("id * 7 + 1000 AS x")

    spark.range(3).selectExpr("id + 2000 AS x").union(pipeline()).collect()
    before = codegen_compiles(spark)
    pipeline().collect()
    assert codegen_compiles(spark) == before


@pytest.mark.skipif(not worker_daemon.eager_zipimport(),
                    reason="zipimport invalidates lazily on this Python")
def test_worker_rereads_no_unchanged_archive(spark):
    """A Python task's per-task ``invalidate_caches`` keeps every cached
    zip directory: workers fork from the engine's daemon, which re-reads
    only an archive that changed (pyspark.zip, py4j and the spark-core jar
    were re-read by every task before)."""

    def rereads(batches):
        # cached zip directories one invalidate_caches() replaces
        import importlib
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        yield pd.DataFrame({
            "archives": [len(before)],
            "reread": [sum(after.get(a) is not d for a, d in before.items())],
        })

    assert spark.conf.get("spark.python.daemon.module") == "mare_spark.worker_daemon"
    rows = (spark.range(4, numPartitions=4)
            .mapInPandas(rereads, "archives long, reread long")
            .collect())
    assert len(rows) == 4
    assert all(r.archives >= 1 and r.reread == 0 for r in rows)


@pytest.mark.skipif(not worker_daemon.eager_zipimport(),
                    reason="zipimport invalidates lazily on this Python")
def test_zip_invalidate_keeps_zipimport_contract(tmp_path, monkeypatch):
    """The daemon's ``invalidate_caches`` skips an unchanged archive and
    re-reads one that changed, so a module added to it is importable."""
    import importlib
    import sys
    import zipfile
    import zipimport

    archive = tmp_path / "mods.zip"

    def write(members):
        with zipfile.ZipFile(archive, "w") as zf:
            for name, body in members.items():
                zf.writestr(name, body)

    write({"zip_probe_a.py": "VALUE = 1\n"})
    # record the originals so teardown restores them over install()'s
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    assert worker_daemon.install()
    reads = []
    stamped = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return stamped(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zip_probe_a").VALUE == 1
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        write({"zip_probe_a.py": "VALUE = 1\n", "zip_probe_b.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads == [str(archive)]
        assert importlib.import_module("zip_probe_b").VALUE == 2
    finally:
        for name in ("zip_probe_a", "zip_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_engine_udfs_run_outside_the_repo(tmp_path):
    """Python workers import the engine from the package directory the
    session names (``spark.executorEnv.PYTHONPATH``), not from the JVM's
    working directory or an inherited ``PYTHONPATH``: a fresh session
    started from elsewhere runs a MaRe pipe query."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1])\n"
        "from mare_spark.registry import all_queries\n"
        "from mare_spark.session import get_spark\n"
        "spark = get_spark('outside_repo')\n"
        "q = all_queries()['pipe_token_total']\n"
        "print('token_total', q.fn(spark, sys.argv[2]).collect()[0].token_total)\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", code, root, SF_SMOKE], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "token_total 27939" in out.stdout.splitlines(), out.stderr[-2000:]


def test_engine_table_tracks_live_catalog(spark):
    """r8 review: eng.table() must see the SAME relation eng.sql() sees
    after a view is replaced through SQL — the cached-DataFrame shortcut
    made the two silently disagree."""
    from mare_spark.engine import Engine

    eng = Engine(spark, "/root/testdata/sf0.001")
    n_all = eng.table("orders").count()
    eng.sql(
        "CREATE OR REPLACE TEMP VIEW orders AS "
        "SELECT * FROM parquet.`/root/testdata/sf0.001/orders.parquet` "
        "WHERE o_orderstatus = 'F'"
    )
    try:
        via_sql = eng.sql("SELECT count(*) AS n FROM orders").head().n
        assert eng.table("orders").count() == via_sql < n_all
    finally:
        eng.sql(
            "CREATE OR REPLACE TEMP VIEW orders AS "
            "SELECT * FROM parquet.`/root/testdata/sf0.001/orders.parquet`"
        )
