"""Fixture-table loader + temp-view registry.

The driver's parquet tables (see TESTDATA.md / FIXTURES.md) are the engine's
relational test corpus. ``load_tables`` reads each table lazily (parquet scan
with full Catalyst pushdown) and registers a temp view so the SQL entry point
(`mare_spark.sql`) sees the same catalog as the DataFrame API.
"""

from __future__ import annotations

import os
import stat as statmod

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Note on fixed-size dims: region (5 rows) and nation (25 rows) never grow
# with SF, so joins against them should be broadcast-hash joins at any
# scale. That is enforced where it matters — explicit F.broadcast() hints
# at the query call sites, pinned by plan tests — not by a registry here.


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


# Schema memo: (path, mtime_ns, size) -> StructType. Parquet schema
# inference is a per-call driver job (footer read) — one Spark job per
# `spark.read.parquet` — so a query touching 10 tables paid 10 scheduler
# round-trips per invocation before a single row moved (measured: the
# q_sql_returned_items build phase alone was 10 one-task jobs). The memo
# holds table METADATA only — never rows, never results; every query
# still computes from the parquet bytes — exactly what a real catalog
# (Hive metastore, Iceberg manifest) provides at scale. The stat-based
# key invalidates on any rewrite of the file; non-local paths (OSError on
# stat) skip the memo and infer as before.
_SCHEMA_MEMO: dict = {}


def _scan_stat(path: str):
    """The memo key for a parquet table path, or ``None`` when no
    trustworthy local stat exists (non-local path, permission error,
    Hive-partitioned nested layout).

    A single regular file keys on ``(path, mtime_ns, size)``. A
    directory-shaped table (the standard Spark output layout,
    ``x.parquet/part-*.parquet``) keys on its part files, not the
    directory inode, whose mtime need not change on an in-place part-file
    rewrite: one os.scandir (the same listing cost Spark's own FileIndex
    pays) gives (file count, total bytes, max part mtime); hidden/metadata
    entries (``_SUCCESS``, ``.crc``) are ignored as Spark does. A nested
    directory (partitioned table) returns None and skips the memos."""
    try:
        st = os.stat(path)
        if statmod.S_ISREG(st.st_mode):
            return (path, st.st_mtime_ns, st.st_size)
        if not statmod.S_ISDIR(st.st_mode):
            return None
        total = n = max_mtime = 0
        with os.scandir(path) as it:
            for e in it:
                if e.name.startswith(("_", ".")):
                    continue  # _SUCCESS / checksum / hidden metadata
                s = e.stat()
                if statmod.S_ISDIR(s.st_mode):
                    return None  # partitioned layout: no cheap stat
                total += s.st_size
                n += 1
                max_mtime = max(max_mtime, s.st_mtime_ns)
        if n == 0:
            return None
        return (path, "dir", n, total, max_mtime)
    except OSError:
        return None


def _parquet_schema(spark: SparkSession, path: str, key) -> object | None:
    if key is None:
        return None
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = schema
    return schema


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with schema normalization.

    ``events.parquet`` stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects. The session sets
    ``spark.sql.legacy.parquet.nanosAsLong=true`` so the column arrives as
    nanosecond longs; we convert to a microsecond TimestampType here with
    exact integer division (``ts div 1000`` — `/` would round-trip through
    double and lose precision on int64 nanos).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # Defensive session configuration: every registered query funnels
    # through here, and the harness that invokes queries() may have built
    # its own SparkSession without mare_spark.session's settings. Both
    # confs are runtime-settable and correctness-critical:
    # * nanosAsLong — events.parquet is TIMESTAMP(NANOS); without it the
    #   scan throws PARQUET_TYPE_ILLEGAL.
    # * UTC session TZ — non-UTC sessions shift every timestamp column
    #   relative to the (naive-UTC) DuckDB oracle.
    # Pinned once per session object: each conf.set is a py4j round-trip
    # and read_table runs per-table per-invocation on the bench path.
    # CONTRACT (ADVICE r9): callers must not re-set
    # spark.sql.session.timeZone (or nanosAsLong) on a session after its
    # first read_table — the pin is one-shot by design (re-asserting would
    # cost two round-trips per table read), so a later change silently
    # shifts timestamp reads relative to the naive-UTC oracle.
    if not getattr(spark, "_mare_conf_pinned", False):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark._mare_conf_pinned = True

    path = table_path(sf_dir, name)
    # Session-scoped scan-plan memo (catalog semantics): constructing the
    # same parquet-scan DataFrame costs ~30-160 ms of driver work per call
    # (reader + relation + file-index creation), and `load_tables` paid it
    # 10x per invocation (measured 1.19 s warm). A DataFrame is an
    # immutable lazy plan — returning the same object is exactly what a
    # metastore-backed `spark.table(name)` gives a real deployment; every
    # action still reads the parquet bytes. Keyed on (path, mtime, size)
    # so a rewritten fixture invalidates; memo lives on the session object
    # and dies with it.
    key = _scan_stat(path)
    if key is not None:
        memo = getattr(spark, "_mare_df_memo", None)
        if memo is None:
            memo = spark._mare_df_memo = {}
        hit = memo.get(key)
        if hit is not None:
            return hit
    schema = _parquet_schema(spark, path, key)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # FLOOR division, not bare `div`: div truncates toward zero, so a
        # pre-epoch nano value like -1500 ns would land at -1 µs while the
        # true instant floors to -2 µs — the value a nanos-native oracle
        # reads (the pre-epoch parity class; r8 review). `/` is out
        # entirely (double round-trip loses int64 precision).
        micros = F.expr(
            "ts div 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)"
        )
        df = df.withColumn("ts", F.timestamp_micros(micros))
    if key is not None:
        spark._mare_df_memo[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, register_views: bool = True) -> dict[str, DataFrame]:
    """Load every fixture table from ``sf_dir``; optionally register temp views.

    View registration is skipped when the catalog already points the name
    at the identical (memoized) scan plan — each `createOrReplaceTempView`
    is an ~18 ms driver round-trip, and the SQL-entry queries re-register
    all ten per invocation. A changed fixture file yields a new plan object
    (mtime-keyed memo in read_table), which re-registers. The skip is
    additionally guarded by a catalog existence probe (ADVICE r9: an
    external ``dropTempView`` after load_tables used to leave the memo
    believing the view was still registered, and the next SQL query
    failed). The probe is the session catalog's temp-view lookup
    (~0.7 ms/call measured — ``spark.catalog.tableExists`` costs 36-76 ms,
    MORE than re-registering); if the internal API is unavailable the
    guard degrades to always re-registering, the pre-memo behaviour.
    Remaining contract: the ten fixture view names belong to the engine —
    external code replacing one of them (createOrReplaceTempView with its
    own plan) is stomped on the next load_tables exactly as before the
    memo existed, or kept if it races a memoized identical plan."""
    tables: dict[str, DataFrame] = {}
    views = getattr(spark, "_mare_view_memo", None)
    if views is None:
        views = spark._mare_view_memo = {}
    try:
        jcat = spark._jsparkSession.sessionState().catalog()
        def _registered(n: str) -> bool:
            return jcat.getTempView(n).isDefined()
    except Exception:  # internal API unavailable: always re-register
        def _registered(n: str) -> bool:
            return False
    for name in TABLE_NAMES:
        df = read_table(spark, sf_dir, name)
        tables[name] = df
        if register_views and not (
            views.get(name) is df and _registered(name)
        ):
            df.createOrReplaceTempView(name)
            views[name] = df
    return tables
