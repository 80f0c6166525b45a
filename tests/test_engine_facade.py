from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mare_spark.codecs import TextFile
from mare_spark.engine import Engine
from mare_spark.sources.external import read_delta, read_jdbc
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


def test_jdbc_requires_bounds_with_partition_column(spark):
    with pytest.raises(ValueError, match="requires lower_bound"):
        read_jdbc(spark, "jdbc:h2:mem:x", "t", partition_column="id")


def test_delta_stub_fails_actionably(spark):
    with pytest.raises(NotImplementedError, match="delta-spark"):
        read_delta(spark, "/tmp/nonexistent")


def test_delta_merge_stub_fails_actionably(spark):
    """merge_delta shares the readers' gate: without the Delta jar it must
    fail with the install hint before touching the table or the updates."""
    from mare_spark.sources.external import merge_delta

    df = spark.createDataFrame([(1, "a")], "id long, val string")
    with pytest.raises(NotImplementedError, match="delta-spark"):
        merge_delta(spark, "/tmp/nonexistent", df, "id")


def test_jdbc_bounds_without_partition_column_fail_loud(spark):
    """r8 review: bounds passed WITHOUT partition_column were silently
    dropped, producing the exact single-task full-table stream the
    docstring warns about — now a loud ValueError."""
    with pytest.raises(ValueError, match="require\\s+partition_column"):
        read_jdbc(
            spark, "jdbc:h2:mem:x", "t",
            lower_bound=0, upper_bound=10**9, num_partitions=64,
        )


def test_require_format_unknown_fmt_is_programming_error(spark):
    """r8 review: an unknown fmt used to KeyError inside the probe's
    try block and get mislabeled as a missing runtime jar."""
    from mare_spark.sources.external import _require_format

    with pytest.raises(ValueError, match="unknown lakehouse format"):
        _require_format(spark, "paimon")


def test_merge_delta_partition_presence_contract(spark):
    """r8 review: the partitioned twin's explicit 'must carry partition
    column' errors apply to merge_delta too, BEFORE the format gate —
    a bare delete_keys frame used to surface as a raw unresolved-column
    AnalysisException (or, in this jar-less sandbox, be masked entirely
    by the NotImplementedError gate)."""
    from mare_spark.sources.external import merge_delta

    ups = spark.createDataFrame([(1, "p0", "a")],
                                "id long, pt string, val string")
    dels = spark.createDataFrame([(2,)], "id long")
    with pytest.raises(ValueError, match="delete_keys must carry partition"):
        merge_delta(spark, "/tmp/nx", ups, "id",
                    partition_col="pt", delete_keys=dels)
    bare_ups = ups.drop("pt")
    with pytest.raises(ValueError, match="updates must carry partition"):
        merge_delta(spark, "/tmp/nx", bare_ups, "id", partition_col="pt")


def test_package_hints_are_valid_ivy_coordinate_forms():
    """r8 review: the spark.jars.packages hints must be in Ivy's
    group:artifact:version form (a versionless coordinate is rejected by
    the parser the error message points users at)."""
    from mare_spark.sources.external import _FORMAT_PACKAGE_HINT

    for fmt, hint in _FORMAT_PACKAGE_HINT.items():
        assert hint.count(":") == 2, (fmt, hint)
        assert hint.endswith(":<version>"), (fmt, hint)


def test_merge_delta_reserves_op_column(spark):
    from mare_spark.sources.external import merge_delta

    df = spark.createDataFrame([(1, "u")], "id long, _op string")
    with pytest.raises(ValueError, match="reserved"):
        merge_delta(spark, "/tmp/nx", df, "id")


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
