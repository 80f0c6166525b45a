"""Scale-hardening operators: skew-salted joins and bucketed co-located
joins — the two manual levers left when AQE's automatic skew handling and
broadcast selection aren't enough.

* :func:`salted_join` — explode a hot build-side key into ``salt`` copies
  and scatter the probe side across them: the classic fix when ONE key
  carries a double-digit share of the rows and even AQE's skew-split leaves
  a straggler task.
* :func:`bucketed_table` / :func:`join_bucketed` — persist both sides
  bucketed by the join key so repeated joins are exchange-free (the
  Spark-managed-table equivalent of co-partitioning; at 100 TB this converts
  every nightly fact-fact join from two full shuffles to zero).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mare_spark.numeric import fround


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``key`` with salting: the left (large, skewed) side gets
    a random salt in [0, salt); the right side is replicated ``salt`` times.
    Correct for inner/left joins on a many-to-one relationship (right side
    unique per key — replication cannot duplicate matches within a salt).

    Use when one key's row share makes a single reducer the critical path;
    the hot key's rows spread over ``salt`` tasks at the cost of replicating
    the (small) right side ``salt`` times.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (right side must stay unique per key+salt)")
    if "_salt" in left.columns or "_salt" in right.columns:
        raise ValueError(
            "a '_salt' column already exists — salted_join would "
            "overwrite it and drop it from the output"
        )
    l_salted = left.withColumn("_salt", (F.rand(seed=42) * salt).cast("int"))
    r_salted = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = l_salted.join(r_salted, [key, "_salt"], how)
    return out.drop("_salt")


def bucketed_table(
    df: DataFrame,
    name: str,
    key: str,
    num_buckets: int = 8,
    sorted_by: str | None = None,
) -> DataFrame:
    """Persist ``df`` as a Spark-managed table bucketed (and optionally
    sorted) by ``key``; returns the re-read table. Joins/aggregations on
    ``key`` between tables bucketed the same way require NO exchange."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, key)
    if sorted_by:
        writer = writer.sortBy(sorted_by)
    writer.saveAsTable(name)
    return df.sparkSession.table(name)


def join_bucketed(spark: SparkSession, left_name: str, right_name: str, key: str) -> DataFrame:
    """Join two same-bucketed tables on their bucket key (exchange-free)."""
    return spark.table(left_name).join(spark.table(right_name), key)


def _swap_dirs(fs, path: str, tmp: str, old: str) -> None:
    """Crash-safe directory swap with retry recovery, through the path's
    own Hadoop FileSystem: rename the live dir aside, promote the
    rewrite, drop the old copy. A crash always leaves a complete copy at
    ``path`` or ``old``; a RERUN first heals whatever state the crash
    left (stale tmp → discard; orphaned old with no live path → restore)
    before swapping. On HDFS each rename is an atomic metadata op; on
    object stores rename is a copy — prefer a real table format there
    for big tables (the swap stays CORRECT, just not cheap)."""
    if fs.exists(old):
        if fs.exists(path):
            fs.delete(old)  # previous run completed; leftover old copy
        else:
            fs.rename(old, path)  # crashed mid-swap; restore the table
    fs.rename(path, old)
    fs.rename(tmp, path)
    fs.delete(old)


def _require_local_path(path: str, op: str) -> tuple[str, str]:
    """``file_skipping_report`` reads parquet FOOTERS through pyarrow,
    which opens files with the local OS — on a remote URI it would see
    nothing. The maintenance ops (compact/merge) go through the Hadoop
    FileSystem API (:mod:`mare_spark.fsio`) and accept any scheme; this
    guard remains only for the footer-reading diagnostics.

    Returns ``(spark_path, local_path)``: a ``file://`` URI keeps its
    scheme for the Spark read/write side (a scheme-less path would
    resolve against the cluster's defaultFS — hdfs:// on a real cluster,
    i.e. a different filesystem than the pyarrow side) and is stripped
    to the raw filesystem path for the pyarrow calls (which would choke
    on the scheme).
    """
    if path.startswith("file://"):
        return path, path[len("file://"):]
    if "://" in path:
        raise ValueError(
            f"{op} reads parquet footers via pyarrow and operates on "
            f"local filesystem paths only, got {path!r}"
        )
    return "file://" + path, path


def write_sorted_layout(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    *,
    num_files: int | None = None,
) -> None:
    """Write a range-partitioned, within-file-sorted parquet layout:
    ``repartitionByRange(sort_cols)`` gives every output file a DISJOINT
    value range, and ``sortWithinPartitions`` orders rows inside each, so
    parquet row-group min/max statistics become surgical — a reader
    filtering on the leading sort column skips whole files, not just row
    groups. The single-dimension cousin of Z-ordering, and the cheapest
    layout win available to a plain-parquet lakehouse.

    At 100 TB: one range exchange (Spark samples range bounds, so skewed
    sort keys still split evenly across ``num_files``), then embarrassingly
    parallel sorted writes. Downstream range scans and merge joins on the
    sort key read pre-clustered data.
    """
    parted = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files
        else df.repartitionByRange(*sort_cols)
    )
    parted.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(
        path
    )


def zorder_value(
    df: DataFrame, cols: list[str], *, bits_per_col: int = 16
) -> tuple[DataFrame, str]:
    """Append a Morton (Z-order) interleave column over ``cols``.

    Each column is min/max-scaled to a ``bits_per_col``-bit integer (one
    cheap global min/max aggregate per call — a single scan-side pass,
    joined back as a 1-row broadcast), then the columns' bits are
    interleaved so that sorting by the single z-value clusters rows that
    are close in EVERY dimension. ``2 cols × 16 bits`` = a 32-bit code —
    the interleave is pure bitwise expression code (shiftleft/or), fully
    inside whole-stage codegen.

    NULL column values map to the BOTTOM bin (bit pattern 0) — the same
    placement parquet writers give NULLs in min/max stats ordering: NULL
    rows co-cluster with minimum-value rows rather than silently widening
    max-value files' ranges, and the choice is explicit, not a side
    effect of ``least`` skipping NULLs.

    Returns ``(df_with_z, zcol_name)``; compose with
    :func:`write_zorder_layout` or your own range-partitioned write.
    """
    if not 1 <= bits_per_col * len(cols) <= 63:
        raise ValueError("bits_per_col * len(cols) must fit in a signed long")
    reserved = {"_zorder"} | {f"_min_{c}" for c in cols} | {
        f"_max_{c}" for c in cols
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"zorder_value: input columns {sorted(clash)} collide with "
            "internal stat/output names — rename them first"
        )
    # NaN-proof the stats: Spark orders NaN as the MAXIMUM double, so a
    # single NaN row would make max=NaN -> rng=NaN -> every `rng > 0`
    # false -> the whole dimension silently collapses to bin 0. Treat
    # NaN like NULL (bottom bin) on the doubles.
    def _clean(c):
        col = F.col(c).cast("double")
        return F.when(F.isnan(col), F.lit(None)).otherwise(col)

    stats = df.agg(
        *[F.min(_clean(c)).alias(f"_min_{c}") for c in cols],
        *[F.max(_clean(c)).alias(f"_max_{c}") for c in cols],
    )
    with_stats = df.join(F.broadcast(stats))
    top = (1 << bits_per_col) - 1
    scaled = []
    for c in cols:
        rng = F.col(f"_max_{c}") - F.col(f"_min_{c}")
        frac = F.when(rng > 0, (_clean(c) - F.col(f"_min_{c}")) / rng).otherwise(F.lit(0.0))
        # coalesce BEFORE the least(): a NULL input makes frac NULL, and
        # F.least skips NULL operands, so without this NULL rows would
        # land in the TOP bin as an accident of least() semantics
        frac = F.coalesce(frac, F.lit(0.0))
        scaled.append(F.least(F.floor(frac * (top + 1)).cast("long"), F.lit(top)))
    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for bit in range(bits_per_col - 1, -1, -1):
        for s in scaled:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(s, bit).bitwiseAND(one)
            )
    out = with_stats.select(*df.columns, z.alias("_zorder"))
    return out, "_zorder"


def write_zorder_layout(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    num_files: int | None = None,
    bits_per_col: int = 16,
) -> None:
    """Write a Z-ordered parquet layout: rows are range-partitioned and
    sorted by the Morton interleave of ``cols``, so every output file
    covers a small HYPERCUBE of the value space — parquet min/max
    statistics become selective for filters on ANY of the clustered
    columns, not just the leading one (the multi-dimension upgrade of
    :func:`write_sorted_layout`, same mechanism as Delta's OPTIMIZE
    ZORDER BY).

    Cost at 100 TB: one min/max aggregate (scan-side partials), one range
    exchange on the z-value, embarrassingly parallel sorted writes — the
    same shuffle budget as the single-column sorted layout.
    """
    zdf, zcol = zorder_value(df, cols, bits_per_col=bits_per_col)
    parted = (
        zdf.repartitionByRange(num_files, zcol)
        if num_files
        else zdf.repartitionByRange(zcol)
    )
    parted.sortWithinPartitions(zcol).drop(zcol).write.mode(
        "overwrite"
    ).parquet(path)


def file_skipping_report(
    path: str, col: str, lo, hi
) -> dict[str, int]:
    """How much file-level min/max skipping a range predicate
    ``lo <= col <= hi`` would get on a parquet directory — the
    observability half of the layout writers: run it before/after
    :func:`write_sorted_layout` / :func:`write_zorder_layout` to SEE the
    clustering pay off, or on a landing directory to decide whether a
    re-layout is worth a rewrite.

    Reads ONLY parquet footers via pyarrow (no data pages, no Spark job):
    a file is skippable when every row group's [min, max] for ``col`` is
    disjoint from [lo, hi]. Returns ``{"files": total, "skippable": n,
    "row_groups": total_rgs, "skippable_row_groups": n_rgs}``. Files with
    no statistics for ``col`` count as unskippable (the safe direction).
    """
    import os

    import pyarrow.parquet as pq

    _, path = _require_local_path(path, "file_skipping_report")
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    n_skip_files = n_rgs = n_skip_rgs = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if col not in idx:
            raise ValueError(f"column {col!r} not in {f}")
        # a file with no rows is trivially skippable (range partitioning
        # can emit empty partitions when sampled bounds collide)
        file_skippable = True
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            n_rgs += 1
            stats = rg.column(idx[col]).statistics
            if rg.num_rows == 0 or (
                stats is not None
                and stats.has_min_max
                and (stats.max < lo or stats.min > hi)
            ):
                n_skip_rgs += 1
            else:
                file_skippable = False
        if file_skippable:
            n_skip_files += 1
    return {
        "files": len(files),
        "skippable": n_skip_files,
        "row_groups": n_rgs,
        "skippable_row_groups": n_skip_rgs,
    }


def compact_small_files(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> tuple[int, int]:
    """Small-file compaction for a parquet directory — the maintenance op
    every long-lived ingest (especially streaming foreachBatch sinks, which
    land one file per micro-batch per partition) eventually needs: many
    KB-sized files turn a 100 TB scan into a listing-and-open storm and
    starve the scheduler with million-task stages.

    Rewrites the directory at ``ceil(total_bytes / target_file_bytes)``
    files (coalesce — a narrow, shuffle-free repartition down) via a
    temporary sibling directory so a crash mid-rewrite never leaves the
    source half-deleted. Returns (files_before, files_after).

    Sizing uses the filesystem listing, not a data scan — compaction
    should cost one read + one write of the data, nothing more. All
    directory IO goes through the path's own Hadoop FileSystem, so any
    scheme the cluster supports works (file://, hdfs://, s3a://...).
    """
    import math

    from mare_spark.fsio import FsIO, resolve_path

    path = resolve_path(path).rstrip("/")
    fs = FsIO(spark, path)
    old_dir = path + "._compact_old"
    if fs.exists(old_dir) and not fs.exists(path):
        fs.rename(old_dir, path)  # heal a crash between the swap renames
    files = fs.list_files(path, suffix=".parquet")
    total = sum(sz for _f, sz in files)
    n_out = max(min_files, math.ceil(total / target_file_bytes))
    tmp = path + "._compact_tmp"
    # repartition, NOT coalesce: coalesce is narrow, so the whole
    # read+decode of (possibly 100k) small files would run at n_out
    # parallelism; the shuffle is the price of a cluster-wide scan over
    # data that must be fully rewritten anyway
    spark.read.parquet(path).repartition(n_out).write.mode(
        "overwrite"
    ).parquet(tmp)
    _swap_dirs(fs, path, tmp, old_dir)
    after = len(fs.list_files(path, suffix=".parquet"))
    return len(files), after


def merge_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    *,
    delete_keys: DataFrame | None = None,
) -> None:
    """Copy-on-write MERGE against a plain-parquet table — the TPC-H
    refresh-stream (RF1/RF2) shape without a lakehouse format: matched
    keys are replaced by their update row, unmatched update rows insert,
    ``delete_keys`` rows (a 1-column key DataFrame) are removed.

    Plan: one anti-join of the base against (update ∪ delete) keys —
    update/delete sets are batch-sized, so Catalyst broadcasts them and
    the base table is scanned, never shuffled — then a union with the
    updates and an atomic-ish swap through a sibling tmp directory (the
    same crash contract as compact_small_files: the source is never
    half-deleted).

    At 100 TB, use :func:`merge_parquet_partitioned` on a hive-partitioned
    base — it rewrites only the partitions the batch touches (same
    anti-join shape per partition, untouched files byte-identical).
    Copy-on-write merge is the engine's supported merge path; it
    rewrites everything it touches by design, so frequent fine-grained
    merges need a table format with commit logs, which the engine does
    not ship.

    Swap visibility caveat: the tmp→live promotion is two renames, so a
    concurrent reader can observe ``path`` briefly missing between them —
    "atomic-ish" means crash-safe (never half-deleted), not
    reader-isolated. Snapshot isolation needs a real table format. All
    directory IO goes through the path's own Hadoop FileSystem (any
    scheme the cluster supports).
    """
    from mare_spark.fsio import FsIO, resolve_path

    path = resolve_path(path).rstrip("/")
    fs = FsIO(spark, path)
    # Heal a crash between _swap_dirs' two renames BEFORE touching the
    # table: if the previous run died after renaming the live dir aside
    # but before promoting the rewrite, the table is at ._merge_old and
    # ``path`` is missing — restore it first, otherwise the base read
    # below fails and the table stays offline until manually renamed.
    old_dir = path + "._merge_old"
    if fs.exists(old_dir) and not fs.exists(path):
        fs.rename(old_dir, path)
    _check_merge_inputs(updates, [key], delete_keys)
    gone = updates.select(F.col(key))
    if delete_keys is not None:
        gone = gone.unionByName(delete_keys.select(F.col(key)))
    base = spark.read.parquet(path)
    merged = base.join(gone, key, "left_anti").unionByName(updates)
    tmp = path + "._merge_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    _swap_dirs(fs, path, tmp, old_dir)


def _check_merge_inputs(
    updates: DataFrame,
    keys: list[str],
    delete_keys: DataFrame | None,
    op: str = "merge_parquet",
) -> None:
    """Batch-sized MERGE preconditions, checked on the FULL row identity
    ``keys`` (the bare key for :func:`merge_parquet`; the composite
    ``(key, partition_col)`` for :func:`merge_parquet_partitioned` — a
    bare-key check there would reject the documented cross-partition move
    recipe, update-into-new + delete-from-old, as a false conflict):

    * multiple update rows for one identity → error (the anti-join drops
      one base row and appends BOTH updates, leaving permanent
      duplicates);
    * an identity in BOTH updates and delete_keys → error (the anti-join
      would remove the base row and unionByName re-insert the update,
      silently ignoring the delete — SQL MERGE treats update+delete on
      one row as a defined conflict, so we do too).
    """

    def any_null(cols: list[str]):
        return reduce(operator.or_, [F.col(c).isNull() for c in cols])

    def null_key_error(label: str) -> ValueError:
        return ValueError(
            f"{op}: NULL merge key in {label} — keys must be non-NULL (the "
            "anti-join cannot match NULL, so the row would duplicate on "
            "update or silently no-op on delete)"
        )

    # Every check is an aggregate over the batch, never a LIMIT probe:
    # a LIMIT is pushed into each branch of a union (and through the
    # semi-join below into them) and codegen'd under a counter name that
    # is new on every call, so a warm session would recompile it. A valid
    # batch is scanned in full either way.
    # NULL identities first: non-null-safe joins can't match them, so a
    # NULL-key update would DUPLICATE instead of replace and a NULL-key
    # delete would silently no-op (and evade the both-check below). The
    # update-side aggregate names its own columns, so no key name
    # (``count``, say) can collide with them.
    ids = updates.select(*[F.col(k).alias(f"_k{i}") for i, k in enumerate(keys)])
    upd = (
        ids.groupBy(*ids.columns)
        .agg(F.count("*").alias("_n"))
        .agg(
            F.bool_or(any_null(ids.columns)).alias("null_key"),
            F.bool_or(F.col("_n") > 1).alias("dup_key"),
        )
        .first()
    )
    if upd["null_key"]:
        raise null_key_error("updates")
    if delete_keys is not None and delete_keys.agg(
        F.bool_or(any_null(keys))
    ).first()[0]:
        raise null_key_error("delete_keys")
    if upd["dup_key"]:
        raise ValueError(
            f"{op}: updates contain duplicate keys — dedupe to "
            "last-wins upstream before merging"
        )
    if delete_keys is not None:
        both = updates.select(*keys).join(
            delete_keys.select(*keys), keys, "left_semi"
        )
        if both.agg(F.count("*")).first()[0]:
            raise ValueError(
                f"{op}: key appears in both updates and "
                "delete_keys — update+delete on one row is a conflict; "
                "resolve upstream"
            )


def merge_parquet_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    partition_col: str,
    *,
    delete_keys: DataFrame | None = None,
) -> list[str]:
    """Partition-aware copy-on-write MERGE against a hive-partitioned
    parquet table (``path/<partition_col>=<value>/...``): only the
    partitions named by the update/delete rows are rewritten; every other
    partition's files are left byte-identical (same inode, same mtime) —
    the 100 TB MERGE story :func:`merge_parquet`'s docstring promises,
    implemented.

    The MERGE key is ``(key, partition_col)`` — the partition column is
    part of row identity, as in every partition-pruned lakehouse MERGE.
    Consequence: an update row whose partition differs from the base
    row's is an INSERT into the new partition and does NOT remove the old
    row (only the named partitions are touched); to move a key across
    partitions, ship a ``delete_keys`` row for the old partition in the
    same batch.

    ``updates`` must carry ``partition_col`` (it decides where each row
    lands); ``delete_keys`` is ``(key, partition_col)`` so deletes also
    prune to their partitions. Affected-partition discovery is one
    batch-sized distinct-collect; each affected partition is then merged
    independently with the same broadcast anti-join + atomic-ish swap as
    the unpartitioned form, so a crash mid-run leaves every partition
    either fully old or fully new (and a rerun heals + completes).
    Staging directories live OUTSIDE the table root (siblings of
    ``path``) — staging inside the root under hive-parseable names would
    make partition discovery read a half-written partition as a phantom
    duplicate.

    Partition values must be NULL-free and hive-safe
    (``[A-Za-z0-9._-]``): Spark escapes anything else (or writes
    ``__HIVE_DEFAULT_PARTITION__`` for NULL) in directory names, so a raw
    value would address the wrong directory — refused up front.

    Returns the list of partition values rewritten. All directory IO
    goes through the path's own Hadoop FileSystem (any scheme the
    cluster supports).
    """
    import re

    from mare_spark.fsio import FsIO, resolve_path

    path = resolve_path(path).rstrip("/")
    fs = FsIO(spark, path)
    if partition_col not in updates.columns:
        raise ValueError(
            f"updates must carry partition column {partition_col!r}"
        )
    if delete_keys is not None and partition_col not in delete_keys.columns:
        raise ValueError(
            f"delete_keys must carry partition column {partition_col!r} "
            "(a delete without its partition would force a full-table scan)"
        )
    # conflict checks on the COMPOSITE identity (key, partition_col):
    # moving a key across partitions legitimately ships an update for the
    # new partition plus a delete_keys row for the old one, and two update
    # rows for one key in different partitions are two distinct rows
    _check_merge_inputs(updates, [key, partition_col], delete_keys)
    parts = updates.select(partition_col)
    if delete_keys is not None:
        parts = parts.unionByName(delete_keys.select(partition_col))
    values = [r[0] for r in parts.distinct().collect()]
    bad = [
        v for v in values
        if v is None or not re.fullmatch(r"[A-Za-z0-9._-]+", str(v))
    ]
    if bad:
        raise ValueError(
            "merge_parquet_partitioned: partition values must be non-NULL "
            "and hive-safe ([A-Za-z0-9._-]) — Spark escapes anything else "
            f"in directory names; offending values: {bad[:5]!r}"
        )
    # keep the ORIGINAL typed value for filtering (comparing a bigint
    # column to a string literal coerces both to double, which conflates
    # longs above 2^53); str(v) is only ever the directory name
    affected = sorted(values, key=str)

    root, base_name = path.rsplit("/", 1)
    rewritten: list[str] = []
    for pval in affected:
        pv = str(pval)
        part_dir = f"{path}/{partition_col}={pv}"
        # staging OUTSIDE the table root: a reader listing `path` must
        # never see a half-written tmp or orphaned old copy as a phantom
        # hive partition
        stage = f"{root}/{base_name}._merge_{partition_col}={pv}"
        tmp, old_dir = stage + ".tmp", stage + ".old"
        if fs.exists(old_dir) and not fs.exists(part_dir):
            fs.rename(old_dir, part_dir)  # heal a crashed earlier run
        upd = updates.filter(F.col(partition_col) == F.lit(pval)).drop(
            partition_col
        )
        gone = upd.select(F.col(key))
        if delete_keys is not None:
            gone = gone.unionByName(
                delete_keys.filter(
                    F.col(partition_col) == F.lit(pval)
                ).select(F.col(key))
            )
        if fs.exists(part_dir):
            base = spark.read.parquet(part_dir)
            merged = base.join(gone, key, "left_anti").unionByName(upd)
        else:
            merged = upd  # brand-new partition: inserts only
        # a result with no ROWS must never be INSTALLED: a no-op delete
        # would mint a phantom partition (Spark writes a schema-only
        # parquet file even for an empty frame, so file presence proves
        # nothing). The row count is OBSERVED during the write job —
        # zero extra passes, works on any filesystem scheme.
        obs = Observation()
        merged.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(tmp)
        if (obs.get["n"] or 0) == 0:
            fs.delete(tmp)
            if fs.exists(part_dir):
                # every row of the partition was deleted: drop the dir
                # crash-safely (rename aside first, heal path above)
                fs.rename(part_dir, old_dir)
                fs.delete(old_dir)
                rewritten.append(pv)
            # delete aimed at a partition that never existed: pure no-op
            continue
        if fs.exists(part_dir):
            _swap_dirs(fs, part_dir, tmp, old_dir)
        else:
            fs.rename(tmp, part_dir)
        rewritten.append(pv)
    return rewritten


def partition_skew_report(df: DataFrame) -> DataFrame:
    """Diagnose physical-partition skew BEFORE it becomes a straggler:
    one row per RDD partition with its row count and share of the
    total, computed as ONE aggregate keyed on ``spark_partition_id()``
    (a bounded, partition-count-sized result). The operator every "why
    is task 1017 still running" investigation starts with; pair with
    `salted_join`/`repartition` once the skewed key is identified.

    Returns ``(partition_id, n_rows, pct_of_total)`` sorted by size
    descending; ``pct_of_total`` is exact (integer-ratio) so the output
    is layout-deterministic for a fixed partitioning. EMPTY partitions
    appear as explicit 0-row entries — "196 of 200 partitions are empty"
    IS the skew signal, and a groupBy alone would omit them.
    """
    from pyspark.sql.window import Window

    n_parts = df.rdd.getNumPartitions()
    all_ids = df.sparkSession.range(n_parts).select(
        F.col("id").cast("int").alias("partition_id")
    )
    counts = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .join(all_ids, "partition_id", "right")
        .select(
            "partition_id",
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
        )
    )
    total = Window.partitionBy()
    return counts.select(
        "partition_id",
        "n_rows",
        fround(
            F.col("n_rows")
            / F.sum("n_rows").over(total).cast("double"),
            6,
        ).alias("pct_of_total"),
    ).orderBy(F.desc("n_rows"), "partition_id")
