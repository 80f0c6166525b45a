"""Sources & sinks (SURVEY §2B scans/sinks rows).

Thin, typed wrappers over ``spark.read``/``df.write`` — the value is the
contract each wrapper pins down (schema-required JSON/CSV in production,
lineSep-aware text, binaryFile for multimodal payloads) plus the
single-file sink the reference's ``collectReduce`` workflow expects.

The reference's own IO surface is ``sc.textFile`` / ``wholeTextFiles`` /
``binaryFiles`` + custom Hadoop input formats (MaReTest.scala:38,71,104;
VirtualScreeningTest.scala:30) — rows 1:1 here as text/binary readers; the
columnar formats are the engine's relational extension.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Columnar scan: predicate pushdown + column pruning + partition
    pruning all apply — the default at-scale source.

    ``merge_schema=True`` unions the schemas of every file (columns
    added by later ingests read as NULL in older files) — the
    schema-evolution contract a long-lived landing corpus needs. It
    costs a footer read per file at planning, so leave it off (the
    default, reading one footer) for fixed-schema tables."""
    if merge_schema:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV scan. Pass an explicit schema in production — ``inferSchema``
    costs a full extra pass over the data. With neither a schema nor an
    explicit ``inferSchema`` option, inference defaults ON (the
    exploratory path); ``inferSchema=False`` in options opts out to the
    all-strings read without being silently overridden (r8 review)."""
    reader = spark.read.options(header=header, **options)
    if schema is not None:
        reader = reader.schema(schema)
    elif "inferSchema" not in options:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    **options,
) -> DataFrame:
    """JSON-lines scan; explicit schema skips inference (and at 100 TB,
    inference is a full scan you don't want)."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_text(
    spark: SparkSession,
    path: str,
    line_sep: str | None = None,
    whole_text: bool = False,
) -> DataFrame:
    """Text scan → ``value: string``, one record per ``line_sep``
    (reference parity: ``TextFile(recordDelimiter=...)``,
    MountPoint.scala:60-63 / Hadoop ``textinputformat.record.delimiter``,
    VirtualScreeningTest.scala:30)."""
    reader = spark.read
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    # NB: the option-string spelling `.option("wholetext", True)` is silently
    # ignored by the text source — only the reader kwarg takes effect.
    return reader.text(path, wholetext=whole_text)


def read_fixed_record_text(
    spark: SparkSession,
    path: str,
    n_lines: int,
    drop_incomplete: bool = False,
) -> DataFrame:
    """Multi-line fixed-record text scan: one record = ``n_lines``
    consecutive lines of a file (FASTQ = 4) → (file, record_id, value),
    ``value`` holding the lines re-joined with ``\\n``.

    Reference parity: the custom Hadoop ``SingleFastqInputFormat`` used by
    HaplotypeCallTest.scala:26-35 — the one reference input capability
    ``lineSep`` can't express, since the record boundary is positional, not
    a delimiter string.

    Plan: whole-file text scan, then pure expression code — split to a line
    array, chunk with ``transform``/``slice``, ``posexplode`` — zero
    shuffle, zero Python. Records never span files by construction (line
    numbering restarts per file — a global-line-number scheme would break on
    files whose line count isn't a multiple of ``n_lines`` and depends on
    undocumented split ordering). Memory bound = file size, the same posture
    as the reference's whole-file read (MountPoint.scala:90); at scale the
    parallelism unit is the file, which matches how FASTQ corpora ship
    (many per-sample files).

    ``drop_incomplete`` drops a trailing partial record instead of keeping
    it short.
    """
    if n_lines < 1:
        raise ValueError("n_lines must be >= 1")
    from pyspark.sql import functions as F

    raw = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), "value"
    )
    # \r?\n, not bare \n: Hadoop's LineReader (the SingleFastqInputFormat
    # parity target) strips \r, so CRLF files must yield the same record
    # content as their LF twins (r8 review) — the re-join below normalizes
    # records to LF
    sp = F.split(F.col("value"), "\r?\n", -1)
    # a trailing newline yields one trailing empty element — drop exactly it
    lines = F.when(
        (F.size(sp) > 0) & (F.element_at(sp, -1) == ""),
        F.slice(sp, 1, F.size(sp) - 1),
    ).otherwise(sp)
    n_rec = F.ceil(F.size(lines) / F.lit(n_lines)).cast("int")
    records = F.when(F.size(lines) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_rec - 1, F.lit(0))),
            lambda i: F.array_join(
                F.slice(lines, i * n_lines + 1, F.lit(n_lines)), "\n"
            ),
        )
    )
    out = raw.select(
        "file", F.posexplode(records).alias("record_id", "value")
    ).withColumn("_n_lines", F.size(F.split(F.col("value"), "\n", -1)))
    if drop_incomplete:
        out = out.filter(F.col("_n_lines") == n_lines)
    return out.drop("_n_lines")


def read_whole_text(
    spark: SparkSession,
    path: str,
    charset: str = "UTF-8",
    path_glob_filter: str | None = None,
    on_error: str = "replace",
) -> DataFrame:
    """Whole-file text scan → (path, content) — reference parity with
    ``sc.wholeTextFiles`` (MaReTest.scala:71), built on the binaryFile
    source so it composes with pathGlobFilter/partition discovery
    (``path_glob_filter`` passes through, mirroring :func:`read_binary`).

    ``on_error="replace"`` (default) decodes LENIENTLY — malformed bytes
    become U+FFFD, exactly what ``sc.wholeTextFiles``' Text decoding
    does — via an Arrow-batched decode (whole files cross the boundary
    anyway; file-granular, not a hot row path). Under Spark 4's default
    ANSI mode the JVM ``decode()`` would instead abort the WHOLE scan on
    one stray non-UTF-8 file (r8 review, confirmed live) — that strict
    contract remains available as ``on_error="fail"`` (fast JVM path)."""
    import pandas as pd
    from pyspark.sql import functions as F

    if on_error not in ("replace", "fail"):
        raise ValueError(f"on_error must be 'replace' or 'fail', got {on_error!r}")
    raw = read_binary(spark, path, path_glob_filter)
    if on_error == "fail":
        content = F.decode(F.col("content"), charset)
    else:
        def dec(payloads: pd.Series) -> pd.Series:
            return payloads.map(
                lambda b: None if b is None
                else bytes(b).decode(charset, errors="replace")
            )

        dec.__annotations__ = {"payloads": pd.Series, "return": pd.Series}
        content = F.pandas_udf(dec, "string")(F.col("content"))
    return raw.select(F.col("path"), content.alias("content"))


def read_binary(
    spark: SparkSession, path: str, path_glob_filter: str | None = None
) -> DataFrame:
    """Binary-file scan → (path, modificationTime, length, content) —
    the multimodal payload source (reference parity: ``sc.binaryFiles``,
    MaReTest.scala:104-105)."""
    reader = spark.read.format("binaryFile")
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    return reader.load(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same vectorized/pushdown treatment as parquet (Spark's
    other first-class columnar format; no extra packages)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink; ``partition_by`` enables partition pruning for readers."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink; ``partition_by`` enables partition pruning for readers."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    """CSV sink; headers default ON but an explicit ``header=`` in
    options wins (previously a TypeError — r8 review)."""
    options.setdefault("header", True)
    df.write.mode(mode).options(**options).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite", **options) -> None:
    """JSON-lines sink (one object per line, splittable on read)."""
    df.write.mode(mode).options(**options).json(path)


def write_single_file(df: DataFrame, path: str, fmt: str = "csv", **options) -> str:
    """Single-file sink: write via one task, then move the part file to
    ``path``. For driver-sized results only (the distributed sinks above are
    the at-scale path; this mirrors the reference's collectReduce
    local-output contract, MaRe.scala:194-241)."""
    # local-filesystem contract, checked up front: the part-file move
    # below runs on the driver's OS paths, so a remote URI would "write"
    # successfully and then die in the glob with an opaque IndexError,
    # leaking the staging dir (r8 review). file:// URIs are accepted and
    # stripped; other schemes are rejected with the at-scale pointer.
    if path.startswith("file://"):
        path = path[len("file://"):]
    if "://" in path:
        raise ValueError(
            f"write_single_file moves the part file with local OS calls "
            f"and supports local paths only, got {path!r} — use the "
            "distributed sinks for remote filesystems"
        )
    if os.path.isdir(path):
        raise ValueError(
            f"write_single_file target {path!r} is an existing DIRECTORY "
            "— the part file would silently land inside it; pass a file "
            "path (or remove the directory first)"
        )
    staging = path + ".staging"
    writer = df.coalesce(1).write.mode("overwrite").options(**options)
    if fmt == "csv" and "header" not in options:
        writer = writer.option("header", True)
    try:
        getattr(writer, fmt)(staging)
        part = glob.glob(os.path.join(staging, "part-*"))[0]
        shutil.move(part, path)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return path


def read_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "csv",
    **options,
):
    """Malformed-row quarantine for semi-trusted feeds: PERMISSIVE parse
    with the corrupt-record column captured, split into
    ``(good_df, quarantine_df)`` — the production contract for 100 TB
    ingest where one bad row must neither kill the job (FAILFAST) nor
    vanish silently (DROPMALFORMED). The quarantine side keeps the raw
    line for replay after the upstream fix.

    The parsed DataFrame is cached before splitting: Spark evaluates the
    corrupt column during parsing only, so filtering on it alone over a
    fresh scan is unsupported (raises AnalysisException) — the cache
    materializes parse results once and both splits read from it. The
    cache is shared and lives in the caller's
    :func:`~mare_spark.cache.cache_scope`: consume BOTH splits before
    that scope exits.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    corrupt = "_corrupt_record"
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    full = StructType(list(schema.fields)).add(corrupt, StringType())
    reader = (
        spark.read.options(**options)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .schema(full)
    )
    from mare_spark.cache import persist

    df = persist(getattr(reader, fmt)(path))
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = df.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_record")
    )
    # a split read after the scope exits goes back to the raw scan, where
    # a corrupt-column-only projection raises the very AnalysisException
    # the cache exists to avoid
    return good, bad
