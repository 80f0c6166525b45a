"""Training-shard export: the last mile between a cleaned corpus and a
training job's data loader.

``export_training_shards`` materializes a DataFrame as N deterministic,
hash-assigned shards (one directory per shard, parquet or JSON-lines) and
writes a manifest — per-shard row counts, token totals, and an
order-insensitive id digest — computed FROM THE WRITTEN FILES, so the
manifest certifies what landed on disk, not what the plan intended.
``verify_export`` re-derives the same stats from the files later and diffs
them against the manifest: a truncated copy, a lost shard, or a partial
overwrite surfaces as a named shard mismatch instead of a silent
short-count epoch.

Scale shape (100 TB): one optional aggregate job to size the shard count
from a token budget, then ONE hash exchange on the shard key followed by
embarrassingly-parallel sorted writes — no global order, no driver data
path. The manifest aggregate is a bounded ``n_shards``-row result; the id
digest uses ``bit_xor`` over the 60-bit md5 prefix (order-insensitive and
overflow-free, unlike a sum), the registry-wide 60-bit hash convention
(`corpus.epoch_shuffle`).

Determinism: shard membership is a pure function of the row key (same
md5-prefix convention as `epoch_shuffle`/`train_val_split`), and rows are
sorted by key within each shard — two exports of the same data are
byte-comparable at the manifest level regardless of input partition
layout. Pair with `corpus.epoch_shuffle` when the TRAINING ORDER should
change per epoch; the export layout itself stays stable so epochs re-read
the same files.

Filesystems: manifest IO goes through the Hadoop FileSystem API
(:mod:`mare_spark.fsio`), so exports run against any scheme the cluster's
classpath/credentials support — file://, hdfs://, s3a://... — with the
control files landing on the SAME filesystem as the data. Scheme-less
paths pin to file:// on both sides.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mare_spark.cache import cache_scope, persist

MANIFEST_NAME = "_manifest.json"

_RESERVED = ("shard",)


class ExportIntegrityError(RuntimeError):
    """A shard's on-disk stats no longer match the export manifest."""


def _shard_col(id_col: str, n_shards: int):
    """Deterministic shard id from the 60-bit md5 prefix of the row key
    (15 hex digits — wide enough that modulo bias is negligible at any
    practical shard count; see epoch_shuffle's rationale)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(n_shards),
    ).cast("int")


def _shard_stats(df: DataFrame, id_col: str, token_col: str) -> DataFrame:
    """Bounded (n_shards rows) per-shard fingerprint: row count, token
    total, and an order-insensitive 60-bit id digest."""
    prefix = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return df.groupBy("shard").agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col(token_col).cast("long")).alias("tokens"),
        F.bit_xor(prefix).alias("id_xor"),
    )


def export_training_shards(
    df: DataFrame,
    path: str,
    *,
    id_col: str,
    token_col: str,
    n_shards: int | None = None,
    shard_token_budget: int | None = None,
    keep_cols: tuple[str, ...] = (),
    fmt: str = "parquet",
) -> dict:
    """Write ``df`` as hash-sharded training data plus a manifest.

    Exactly one of ``n_shards`` / ``shard_token_budget`` sizes the layout;
    with a budget, one aggregate job computes ``ceil(total_tokens /
    budget)`` (hash assignment balances shards to ~budget tokens each by
    the law of large numbers — no bin-packing pass, no global sort). Each
    shard is a ``shard=K`` directory holding ONE file (the write is
    repartitioned on the shard key), rows sorted by ``id_col``.

    Returns the manifest dict, also written to ``<path>/_manifest.json``
    AFTER the data write commits — manifest presence is the export's
    completion marker (the ``_SUCCESS``-with-checksums pattern).

    ``id_col`` need not be unique for correctness, but the xor digest is
    strongest with unique ids: duplicate ids cancel in XOR pairs, so a
    lost duplicate pair would be caught only by the row/token counts.
    """
    if (n_shards is None) == (shard_token_budget is None):
        raise ValueError(
            "pass exactly one of n_shards / shard_token_budget"
        )
    if fmt not in ("parquet", "json"):
        raise ValueError(f"fmt must be 'parquet' or 'json', got {fmt!r}")
    clash = set(_RESERVED).intersection({id_col, token_col, *keep_cols})
    if clash:
        raise ValueError(
            f"column names clash with export output columns: "
            f"{sorted(clash)} (reserved: {list(_RESERVED)})"
        )
    fs, spark_path, manifest_uri = _manifest_io(df.sparkSession, path)

    cols = [id_col, token_col, *keep_cols]
    slim = df.select(*cols)

    if shard_token_budget is not None:
        if shard_token_budget < 1:
            raise ValueError("shard_token_budget must be >= 1")
        total = slim.agg(
            F.sum(F.col(token_col).cast("long")).alias("t")
        ).collect()[0]["t"]
        total = int(total or 0)
        n_shards = max(1, math.ceil(total / shard_token_budget))
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")

    _check_export_input(slim, id_col, token_col)
    sharded = slim.withColumn("shard", _shard_col(id_col, n_shards))
    writer = (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", id_col)
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if fmt == "parquet":
        writer.parquet(spark_path)
    else:
        writer.json(spark_path)

    return _fingerprint_and_manifest(
        df.sparkSession, fs, spark_path, manifest_uri,
        fmt=fmt, id_col=id_col, token_col=token_col, n_shards=n_shards,
        columns=sharded.columns,
    )


def refresh_training_shards(
    df: DataFrame,
    path: str,
    *,
    keep_cols: tuple[str, ...] = (),
) -> tuple[dict, list[int]]:
    """Incremental re-export: rewrite ONLY the shards whose content
    changed since the manifest at ``path`` was written.

    The daily-refresh shape at 100 TB: a crawl snapshot replaces a small
    slice of the corpus, but shard membership is a pure function of the
    row key — so most shards are byte-for-byte what the last export
    produced. One bounded aggregate computes the NEW per-shard
    fingerprints from ``df``; shards whose (rows, tokens, id_xor) match
    the manifest are never read, never shuffled, and never rewritten.
    Changed shards are rewritten through Spark's dynamic partition
    overwrite (only ``shard=K`` dirs with new data are replaced); a
    shard that lost all its rows is deleted explicitly (dynamic
    overwrite can't express "now empty").

    Returns ``(new_manifest, changed_shard_ids)``. With nothing changed
    this is a single aggregate job and zero writes — cheap enough to run
    unconditionally after every upstream corpus update.

    Layout/schema are taken from the manifest (``n_shards``, ``fmt``,
    id/token columns); pass the same ``keep_cols`` as the original
    export — the rewrite writes exactly those columns.
    """
    spark = df.sparkSession
    fs, spark_path, manifest_uri = _manifest_io(spark, path)
    manifest = _load_manifest(
        fs, manifest_uri, path,
        "refresh requires a completed export_training_shards run",
    )
    id_col, token_col = manifest["id_col"], manifest["token_col"]
    n_shards = manifest["n_shards"]

    slim = df.select(id_col, token_col, *keep_cols)
    sharded = slim.withColumn("shard", _shard_col(id_col, n_shards))
    _check_refresh_columns(sharded, manifest, path)
    bad = sharded.filter(F.col(id_col).isNull() | F.col(token_col).isNull())
    if not bad.isEmpty():
        raise ValueError(
            f"NULL {id_col!r}/{token_col!r} rows cannot be exported — "
            "filter or fill them first"
        )
    return _refresh_from_sharded(
        spark, fs, sharded, manifest, spark_path, manifest_uri,
        sort_col=id_col,
    )


def _check_refresh_columns(
    sharded: DataFrame, manifest: dict, path: str
) -> None:
    """A refresh must write the SAME schema the export recorded —
    otherwise rewritten shards silently diverge from clean ones (the
    fingerprint covers rows/tokens/id digest, not columns, so
    verify_export would still pass). Manifests from before the
    ``columns`` field skip the check."""
    want = manifest.get("columns")
    if want is not None and sorted(sharded.columns) != want:
        raise ExportIntegrityError(
            f"refresh columns {sorted(sharded.columns)} != exported "
            f"columns {want} under {path!r} — pass the same keep_cols "
            "the export used"
        )


def _refresh_from_sharded(
    spark: SparkSession,
    fs,
    sharded: DataFrame,
    manifest: dict,
    spark_path: str,
    manifest_uri: str,
    *,
    sort_col: str,
) -> tuple[dict, list[int]]:
    """Shared refresh core (doc shards and token tapes): diff the NEW
    per-shard fingerprints against the manifest, dynamic-overwrite only
    the dirty ``shard=K`` dirs, delete emptied ones, re-fingerprint the
    rewritten slice FROM DISK, and rewrite the manifest."""
    id_col, token_col = manifest["id_col"], manifest["token_col"]
    fmt = manifest["format"]
    with cache_scope():
        persist(sharded)
        new_stats = {
            r["shard"]: (r["rows"], r["tokens"], r["id_xor"])
            for r in _shard_stats(sharded, id_col, token_col).collect()
        }
        old_stats = {
            s["shard"]: (s["rows"], s["tokens"], s["id_xor"])
            for s in manifest["shards"]
        }
        changed = sorted(
            k
            for k in set(new_stats) | set(old_stats)
            if new_stats.get(k) != old_stats.get(k)
        )
        if changed:
            to_write = sharded.filter(F.col("shard").isin(changed))
            writer = (
                to_write.repartition(len(changed), "shard")
                .sortWithinPartitions("shard", sort_col)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("shard")
            )
            if fmt == "parquet":
                writer.parquet(spark_path)
            else:
                writer.json(spark_path)
            # shards that vanished entirely: dynamic overwrite wrote no
            # replacement dir, so drop the stale one (through the same
            # filesystem the write landed on)
            root = spark_path.rstrip("/")
            for k in changed:
                if k not in new_stats:
                    fs.delete(f"{root}/shard={k}", recursive=True)
            # the manifest certifies DISK, not the plan: re-fingerprint
            # the rewritten shards from their files (bounded aggregate
            # over the changed slice only)
            rewritten = {k for k in changed if k in new_stats}
            if rewritten:
                disk = _read_shards(spark, spark_path, fmt).filter(
                    F.col("shard").isin(sorted(rewritten))
                )
                for r in _shard_stats(disk, id_col, token_col).collect():
                    new_stats[r["shard"]] = (
                        r["rows"], r["tokens"], r["id_xor"],
                    )

    manifest = dict(
        manifest,
        total_rows=sum(v[0] for v in new_stats.values()),
        total_tokens=sum(v[1] for v in new_stats.values()),
        shards=[
            {"shard": k, "rows": v[0], "tokens": v[1], "id_xor": v[2]}
            for k, v in sorted(new_stats.items())
        ],
    )
    _write_manifest(fs, manifest_uri, manifest)
    return manifest, changed


def _manifest_io(spark: SparkSession, path: str):
    """Resolve the export root through the Hadoop FileSystem API: the
    manifest side speaks whatever scheme the data side writes to
    (file://, hdfs://, s3a://...), so the integrity story runs where the
    100 TB export actually lands — not just on the driver's local disk.
    Scheme-less paths pin to file:// on BOTH sides (defaultFS hazard —
    see :func:`mare_spark.fsio.resolve_path`). Returns
    ``(fs, spark_path, manifest_uri)``."""
    from mare_spark.fsio import FsIO, resolve_path

    spark_path = resolve_path(path)
    fs = FsIO(spark, spark_path)
    return fs, spark_path, spark_path.rstrip("/") + "/" + MANIFEST_NAME


def _load_manifest(fs, manifest_uri: str, path: str, missing: str) -> dict:
    if not fs.exists(manifest_uri):
        raise ExportIntegrityError(f"no {MANIFEST_NAME} under {path!r} — {missing}")
    try:
        return json.loads(fs.read_text(manifest_uri))
    except Exception as ex:  # torn/corrupted control file = integrity
        raise ExportIntegrityError(
            f"unreadable {MANIFEST_NAME} under {path!r} (checksum "
            f"mismatch or IO error): {ex}"
        ) from ex


def _write_manifest(fs, manifest_uri: str, manifest: dict) -> None:
    """Atomic manifest write (tmp + rename through the filesystem's own
    API): the manifest is the export's completion/integrity marker, so a
    crash mid-write must leave either the old manifest, the new one, or
    no manifest ("incomplete") — never a torn file."""
    fs.write_text_atomic(
        manifest_uri, json.dumps(manifest, indent=1, sort_keys=True)
    )


def _check_export_input(slim: DataFrame, id_col: str, token_col: str) -> None:
    """Refuse the inputs that corrupt an export silently or crash it
    after the (destructive, mode=overwrite) write: an empty frame would
    delete the previous export and leave an unreadable tree; NULL ids
    land in __HIVE_DEFAULT_PARTITION__ and break refresh; NULL tokens
    null out a shard's fingerprint sum. Each check is an early-exit
    ``isEmpty()`` probe."""
    bad = slim.filter(F.col(id_col).isNull() | F.col(token_col).isNull())
    if not bad.isEmpty():
        raise ValueError(
            f"NULL {id_col!r}/{token_col!r} rows cannot be exported — "
            "filter or fill them first"
        )
    if slim.isEmpty():
        raise ValueError(
            "refusing to export an EMPTY DataFrame (mode=overwrite would "
            "destroy any previous export at this path)"
        )


def _read_shards(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    # (JSON-lines carries no schema; the JSON source always infers, and
    # the shard key comes from the directory name either way)
    return spark.read.format(fmt).option("basePath", path).load(path)


def _fingerprint_and_manifest(
    spark: SparkSession,
    fs,
    spark_path: str,
    manifest_uri: str,
    *,
    fmt: str,
    id_col: str,
    token_col: str,
    n_shards: int,
    columns: list[str],
) -> dict:
    """Shared post-write step for both export flavors: fingerprint what
    actually LANDED (never the plan), then atomically write the manifest
    recording the schema alongside the per-shard stats."""
    written = _read_shards(spark, spark_path, fmt)
    stats = (
        _shard_stats(written, id_col, token_col).orderBy("shard").collect()
    )
    manifest = {
        "format": fmt,
        "id_col": id_col,
        "token_col": token_col,
        "n_shards": n_shards,
        "columns": sorted(columns),
        "total_rows": sum(r["rows"] for r in stats),
        "total_tokens": sum(r["tokens"] for r in stats),
        "shards": [
            {
                "shard": r["shard"],
                "rows": r["rows"],
                "tokens": r["tokens"],
                "id_xor": r["id_xor"],
            }
            for r in stats
        ],
    }
    _write_manifest(fs, manifest_uri, manifest)
    return manifest


def verify_export(
    spark: SparkSession,
    path: str,
    *,
    shards: list[int] | None = None,
) -> dict:
    """Re-derive per-shard stats from the files and diff against the
    manifest. Returns the manifest on success; raises
    :class:`ExportIntegrityError` naming every mismatched or missing
    shard otherwise. One bounded aggregate job — cheap enough to run at
    the top of every training epoch. ``shards=[...]`` verifies ONLY
    those shards (manifest entries are per-shard, so subset verification
    is well-defined) — a data-parallel loader's rank checks the shards
    it owns instead of re-scanning the whole export per rank."""
    fs, spark_path, manifest_uri = _manifest_io(spark, path)
    manifest = _load_manifest(
        fs, manifest_uri, path,
        "export incomplete or not an export directory",
    )

    expected = manifest["shards"]
    if shards is not None:
        wanted = set(shards)
        expected = [s for s in expected if s["shard"] in wanted]
        missing = wanted - {s["shard"] for s in expected}
        if missing:
            raise ExportIntegrityError(
                f"shards {sorted(missing)} not in the manifest under "
                f"{path!r}"
            )
    on_disk_dirs = [
        d for d in fs.listdir(spark_path) if d.startswith("shard=")
    ]
    if not manifest["shards"]:
        # a legitimately-emptied export (refresh deleted every shard):
        # nothing to read — just require the tree to be empty too
        if on_disk_dirs:
            raise ExportIntegrityError(
                f"manifest lists no shards but {sorted(on_disk_dirs)} "
                f"exist under {path!r}"
            )
        return manifest

    written = _read_shards(spark, spark_path, manifest["format"])
    if shards is not None:
        written = written.filter(F.col("shard").isin(list(shards)))
    got = {
        r["shard"]: (r["rows"], r["tokens"], r["id_xor"])
        for r in _shard_stats(
            written, manifest["id_col"], manifest["token_col"]
        ).collect()
    }
    bad = []
    for s in expected:
        want = (s["rows"], s["tokens"], s["id_xor"])
        if got.pop(s["shard"], None) != want:
            bad.append(s["shard"])
    bad.extend(got)  # shards on disk but not in the manifest (subset scope)
    if bad:
        raise ExportIntegrityError(
            f"shard stats diverge from manifest for shards "
            f"{sorted(bad)} under {path!r}"
        )
    return manifest


def read_training_shards(
    spark: SparkSession,
    path: str,
    *,
    shards: list[int] | None = None,
    verify: bool = True,
) -> DataFrame:
    """Loader-side entry: read an export back, integrity-checked first.

    ``verify=True`` (default) runs :func:`verify_export` before
    returning — one bounded aggregate, so an epoch never starts on a
    truncated tree; with ``shards=[...]`` only THOSE shards are verified
    AND read (a data-parallel reader's rank checks and reads exactly the
    shards it owns — no per-rank full-export scan). Pair with
    :func:`mare_spark.operators.corpus.epoch_shuffle` for the per-epoch
    training order — the export layout stays fixed across epochs; only
    the order changes.
    """
    fs, spark_path, manifest_uri = _manifest_io(spark, path)
    fmt = _load_manifest(
        fs, manifest_uri, path, "not a completed export"
    )["format"]
    if verify:
        verify_export(spark, path, shards=shards)
    df = _read_shards(spark, spark_path, fmt)
    if shards is not None:
        df = df.filter(F.col("shard").isin(list(shards)))
    return df


def export_token_tapes(
    tape: DataFrame,
    path: str,
    *,
    shard_col: str = "pack_shard",
    fmt: str = "parquet",
) -> dict:
    """Write a :func:`~mare_spark.operators.corpus.pack_token_tape`
    result as the on-disk training artifact: one ``shard=K`` directory
    per tape (the shard assignment the packer ALREADY made — unlike
    :func:`export_training_shards`, nothing re-hashes), one file per
    shard, sequences sorted by ``seq_id``, plus the same
    ``_manifest.json`` contract (per-shard rows / token totals /
    order-insensitive id digest, fingerprinted from the WRITTEN files).
    ``verify_export`` and ``read_training_shards`` work on the result
    unchanged — a dataloader verifies then reads exactly the shards its
    rank owns, partition-pruned.

    The digest id is ``shard:seq_id`` (sequence ids restart per tape, so
    the composite is the unique key). Extra columns — ``token_ids``,
    ``doc_starts`` — ride along verbatim.
    """
    if fmt not in ("parquet", "json"):
        raise ValueError(f"fmt must be 'parquet' or 'json', got {fmt!r}")
    fs, spark_path, manifest_uri = _manifest_io(tape.sparkSession, path)
    sharded = _tape_sharded(tape, shard_col)
    _check_export_input(sharded, "tape_seq_id", "n_tokens")
    writer = (
        sharded.repartition("shard")
        .sortWithinPartitions("shard", "seq_id")
        .write.mode("overwrite")
        .partitionBy("shard")
    )
    if fmt == "parquet":
        writer.parquet(spark_path)
    else:
        writer.json(spark_path)

    manifest = _fingerprint_and_manifest(
        tape.sparkSession, fs, spark_path, manifest_uri,
        fmt=fmt, id_col="tape_seq_id", token_col="n_tokens",
        n_shards=-1,  # patched below: tape shard count is data-derived
        columns=sharded.columns,
    )
    manifest["n_shards"] = len(manifest["shards"])
    _write_manifest(fs, manifest_uri, manifest)
    return manifest


def _tape_sharded(tape: DataFrame, shard_col: str) -> DataFrame:
    """Shared tape→export frame (export + refresh must build the SAME
    shape or fingerprints diverge): shard from the pre-assigned pack
    column, composite ``shard:seq_id`` id, everything else verbatim."""
    if shard_col not in tape.columns:
        raise ValueError(
            f"{shard_col!r} not in {tape.columns} — pack with shards=N or "
            "pass shard_col=<group column>"
        )
    dtype = dict(tape.dtypes)[shard_col]
    if dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"{shard_col!r} must be integral (got {dtype}): a string "
            "shard value round-trips through Hive partition-column "
            "inference as a DIFFERENT type and breaks refresh diffs"
        )
    clash = {"shard", "tape_seq_id"}.intersection(tape.columns)
    if clash:
        raise ValueError(
            f"column names clash with tape-export output columns: "
            f"{sorted(clash)}"
        )
    keep = [c for c in tape.columns if c not in (shard_col, "seq_id")]
    return tape.select(
        F.col(shard_col).alias("shard"),
        F.concat_ws(":", F.col(shard_col), F.col("seq_id"))
        .alias("tape_seq_id"),
        F.col("seq_id"),
        *keep,
    )


def refresh_token_tapes(
    tape: DataFrame,
    path: str,
    *,
    shard_col: str = "pack_shard",
) -> tuple[dict, list[int]]:
    """Incremental tape re-export: recompute the packed tapes, rewrite
    ONLY the ``shard=K`` dirs whose sequences changed since the manifest
    at ``path``. An upstream document edit re-flows every sequence AFTER
    it on its own tape but touches no other tape — shard granularity is
    exactly the blast radius — and with ``pack_token_tape(shards=N)``
    membership is a pure hash of the doc id, so unrelated tapes
    fingerprint byte-identically and are never read or written. Same
    diff/dynamic-overwrite/re-fingerprint core as
    :func:`refresh_training_shards`. Returns
    ``(new_manifest, changed_shard_ids)``."""
    spark = tape.sparkSession
    fs, spark_path, manifest_uri = _manifest_io(spark, path)
    manifest = _load_manifest(
        fs, manifest_uri, path,
        "refresh requires a completed export_token_tapes run",
    )
    if manifest["id_col"] != "tape_seq_id":
        raise ExportIntegrityError(
            f"{path!r} is not a token-tape export (id_col = "
            f"{manifest['id_col']!r})"
        )
    sharded = _tape_sharded(tape, shard_col)
    _check_refresh_columns(sharded, manifest, path)
    return _refresh_from_sharded(
        spark, fs, sharded, manifest, spark_path, manifest_uri,
        sort_col="seq_id",
    )
