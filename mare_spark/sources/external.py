"""External-system connectors.

JDBC ships with Spark (wrapper below, parallel-read aware). Delta needs
its runtime jar on the classpath, so its connectors are gated: without
the jar they fail with an actionable message rather than a
class-not-found stack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_FORMAT_PROBE_CLASS = {
    "delta": "org.apache.spark.sql.delta.sources.DeltaDataSource",
}

# Full Ivy coordinates (the form spark.jars.packages actually accepts —
# a versionless groupId:artifactId is rejected by the coordinate parser)
_FORMAT_PACKAGE_HINT = {
    "delta": "io.delta:delta-spark_2.13:<version>",
}


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options,
) -> DataFrame:
    """JDBC scan. Always pass the partition_column/bounds quartet for
    anything bigger than a dim table — without it the whole table streams
    through ONE task."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        if None in (lower_bound, upper_bound, num_partitions):
            raise ValueError(
                "partition_column requires lower_bound, upper_bound and num_partitions"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
            .option("numPartitions", num_partitions)
        )
    elif any(
        v is not None for v in (lower_bound, upper_bound, num_partitions)
    ):
        # bounds without the column would be SILENTLY dropped, producing
        # the exact single-task full-table stream the docstring warns
        # about — fail loud instead
        raise ValueError(
            "lower_bound/upper_bound/num_partitions require "
            "partition_column — without it the bounds are meaningless "
            "and the table would stream through one task"
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def _require_format(spark: SparkSession, fmt: str) -> None:
    cls = _FORMAT_PROBE_CLASS.get(fmt)
    if cls is None:  # programming error, not a missing jar
        raise ValueError(f"unknown lakehouse format: {fmt!r}")
    jvm = spark._jvm  # noqa: SLF001
    # Probe through Spark's own classloader: jars added via
    # spark.jars.packages land in Spark's mutable URL classloader, which
    # one-arg Class.forName (resolving against py4j's app classloader)
    # cannot see — it would report a perfectly working Delta as absent.
    try:
        loader = jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
    except Exception:  # API drift safety net: fall back to the app loader
        loader = None
    try:
        if loader is not None:
            jvm.java.lang.Class.forName(cls, False, loader)
        else:
            jvm.java.lang.Class.forName(cls)
    except Exception as ex:
        raise NotImplementedError(
            f"{fmt} support requires its runtime jar on the Spark classpath "
            f"(add {_FORMAT_PACKAGE_HINT[fmt]} via spark.jars.packages); "
            "not present in this environment"
        ) from ex


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    _require_format(spark, "delta")
    return spark.read.format("delta").load(path)


def merge_delta(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    *,
    partition_col: str | None = None,
    delete_keys: DataFrame | None = None,
) -> None:
    """Lakehouse MERGE against a Delta table — the "graduate to a table
    format" path that :func:`mare_spark.operators.scale.merge_parquet`'s
    docstring points frequent fine-grained merges at, demonstrated rather
    than just asserted.

    Semantics are pinned to the copy-on-write twins: row identity is
    ``key`` (or the composite ``(key, partition_col)`` when
    ``partition_col`` is given, exactly like
    :func:`~mare_spark.operators.scale.merge_parquet_partitioned`);
    matched keys take the update row, unmatched update rows insert,
    ``delete_keys`` rows are removed — and a key in BOTH updates and
    delete_keys is a defined CONFLICT that aborts before any write,
    exactly as the parquet twins' ``_check_merge_inputs`` rules (the
    same validator runs here, after the twins' own partition-column
    presence checks, so NULL identities, missing partition columns and
    duplicate update keys abort with the same contract — messages
    prefixed ``merge_delta:``). Duplicate delete_keys rows are deduped
    first (deletes are idempotent — the anti-join twin accepts them, so
    this tier must too rather than trip Delta's cardinality check).

    The whole batch — deletes, updates, inserts — executes as ONE Delta
    MERGE commit (source rows tagged ``_op``, matched-delete /
    matched-update / not-matched-insert clauses dispatching on the tag):
    a reader never observes deletes applied without the updates, and a
    crash leaves either the old snapshot or the new one. The conflict
    precheck guarantees each target row matches at most one source row,
    so Delta's multi-match cardinality error cannot fire mid-commit.

    Scale: with ``partition_col`` in the merge condition Delta prunes the
    scan to the touched partitions and rewrites only the files containing
    matches — finer than the parquet twin's partition-granularity rewrite
    — with a real commit log underneath (snapshot isolation, no
    swap-visibility gap). Requires the delta-spark Python package AND the
    Delta jar on the session classpath with the Delta SQL extension
    configured; gated like the readers (tests/test_delta_merge.py runs
    the merge matrix when present, skips cleanly otherwise).
    """
    ident = [key] + ([partition_col] if partition_col else [])
    if "_op" in updates.columns:
        raise ValueError(
            "merge_delta: updates may not carry a column named '_op' "
            "(reserved for the single-commit merge's clause dispatch)"
        )
    # the partitioned twin's explicit presence contract, BEFORE any
    # column reference can surface as a raw unresolved-column error
    # (and before the format gate — schema checks are free and their
    # error contract is pinned by in-sandbox tests)
    if partition_col is not None:
        if partition_col not in updates.columns:
            raise ValueError(
                f"merge_delta: updates must carry partition column "
                f"{partition_col!r}"
            )
        if delete_keys is not None and partition_col not in delete_keys.columns:
            raise ValueError(
                f"merge_delta: delete_keys must carry partition column "
                f"{partition_col!r} (a delete without its partition "
                "would force a full-table scan)"
            )
    _require_format(spark, "delta")
    try:
        from delta.tables import DeltaTable
    except ImportError as ex:  # jar present but python bindings missing
        raise NotImplementedError(
            "delta MERGE requires the delta-spark python package "
            "(pip install delta-spark) in addition to the runtime jar"
        ) from ex
    from mare_spark.operators.scale import _check_merge_inputs

    _check_merge_inputs(updates, ident, delete_keys, op="merge_delta")
    # backtick-quoted conditions: the parquet twin goes through F.col and
    # tolerates any column name; string-built SQL must too
    on = " AND ".join(f"base.`{c}` = s.`{c}`" for c in ident)
    src = updates.withColumn("_op", F.lit("u"))
    if delete_keys is not None:
        src = src.unionByName(
            delete_keys.select(*ident)
            .dropDuplicates(ident)
            .withColumn("_op", F.lit("d")),
            allowMissingColumns=True,
        )
    data_cols = {f"`{c}`": f"s.`{c}`" for c in updates.columns}
    tbl = DeltaTable.forPath(spark, path)
    (
        tbl.alias("base")
        .merge(src.alias("s"), on)
        .whenMatchedDelete(condition="s.`_op` = 'd'")
        .whenMatchedUpdate(set=data_cols)
        .whenNotMatchedInsert(condition="s.`_op` = 'u'", values=data_cols)
        .execute()
    )
