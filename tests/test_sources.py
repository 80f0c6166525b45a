"""Sources & sinks round-trip tests (SURVEY §2B scans/sinks rows)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mare_spark import sources as src
from mare_spark.tables import read_table
from tests.conftest import SF_SMOKE, cached_entries


def test_csv_roundtrip(spark, tmp_path):
    df = read_table(spark, SF_SMOKE, "region")
    p = str(tmp_path / "region_csv")
    src.write_csv(df, p)
    back = src.read_csv(spark, p, schema="r_regionkey int, r_name string")
    assert sorted(r.r_name for r in back.collect()) == sorted(
        r.r_name for r in df.collect()
    )


def test_json_roundtrip(spark, tmp_path):
    df = read_table(spark, SF_SMOKE, "nation")
    p = str(tmp_path / "nation_json")
    df.write.mode("overwrite").json(p)
    back = src.read_json(
        spark, p, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    assert back.count() == 25
    assert set(back.columns) == {"n_nationkey", "n_name", "n_regionkey"}


def test_text_with_custom_linesep(spark, tmp_path):
    p = str(tmp_path / "mol.sdf")
    records = ["mol1\nline2", "mol2\nline2"]
    with open(p, "w") as f:
        f.write("\n$$$$\n".join(records) + "\n$$$$\n")
    df = src.read_text(spark, p, line_sep="\n$$$$\n")
    vals = [r.value for r in df.collect() if r.value]
    assert vals == records


def test_binary_source(spark, tmp_path):
    d = tmp_path / "bin"
    d.mkdir()
    (d / "a.bin").write_bytes(b"\x00\x01\x02")
    (d / "b.bin").write_bytes(b"payload")
    df = src.read_binary(spark, str(d))
    rows = {os.path.basename(r.path): bytes(r.content) for r in df.collect()}
    assert rows == {"a.bin": b"\x00\x01\x02", "b.bin": b"payload"}
    assert dict(df.dtypes)["content"] == "binary"


def test_single_file_sink(spark, tmp_path):
    df = read_table(spark, SF_SMOKE, "region").orderBy("r_regionkey")
    out = str(tmp_path / "regions.csv")
    src.write_single_file(df.select("r_regionkey", "r_name"), out, fmt="csv")
    lines = open(out).read().strip().splitlines()
    assert lines[0] == "r_regionkey,r_name"
    assert len(lines) == 6  # header + 5 regions


def test_partitioned_parquet_sink_prunes(spark, tmp_path):
    df = read_table(spark, SF_SMOKE, "orders")
    p = str(tmp_path / "orders_part")
    src.write_parquet(
        df.withColumn("status", F.col("o_orderstatus")), p, partition_by=["status"]
    )
    back = src.read_parquet(spark, p).filter(F.col("status") == "F")
    # partition pruning: only the status=F directory is listed in the scan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == df.filter(F.col("o_orderstatus") == "F").count()


def test_orc_roundtrip_with_partition_pruning(spark, tmp_path):
    df = read_table(spark, SF_SMOKE, "nation")
    p = str(tmp_path / "nation_orc")
    src.write_orc(df, p, partition_by=["n_regionkey"])
    back = src.read_orc(spark, p)
    assert back.count() == df.count()
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in df.collect()
    )
    # partition filter prunes to one directory's files
    one = back.filter(F.col("n_regionkey") == 0)
    assert one.count() < df.count()


def test_fixed_record_text_fastq(spark, tmp_path):
    """4-line FASTQ records, two files — differential vs a readlines-chunking
    oracle; records never span files; per-file record_ids restart at 0."""
    fq1 = tmp_path / "a.fastq"
    fq2 = tmp_path / "b.fastq"
    recs1 = [
        "@read1\nACGT\n+\nFFFF",
        "@read2\nTTAA\n+\n!!!!",
        "@read3\nGGGG\n+\nIIII",
    ]
    recs2 = ["@readX\nCCCC\n+\nHHHH"]
    fq1.write_text("\n".join(recs1) + "\n")
    fq2.write_text("\n".join(recs2) + "\n")

    df = src.read_fixed_record_text(spark, str(tmp_path), n_lines=4)
    rows = df.collect()
    # oracle: chunk each file's lines in python
    expected = set()
    for p, recs in ((fq1, recs1), (fq2, recs2)):
        lines = p.read_text().splitlines()
        for i in range(0, len(lines), 4):
            expected.add((i // 4, "\n".join(lines[i : i + 4])))
    assert {(r.record_id, r.value) for r in rows} == expected
    assert len(rows) == 4
    # per-file ids restart
    per_file = {}
    for r in rows:
        per_file.setdefault(r.file, []).append(r.record_id)
    assert all(sorted(ids) == list(range(len(ids))) for ids in per_file.values())


def test_fixed_record_text_incomplete_tail(spark, tmp_path):
    p = tmp_path / "trunc.fastq"
    p.write_text("@r1\nACGT\n+\nFFFF\n@r2\nACGT\n")  # 6 lines: 1.5 records
    kept = src.read_fixed_record_text(spark, str(p), n_lines=4)
    assert kept.count() == 2
    dropped = src.read_fixed_record_text(spark, str(p), n_lines=4, drop_incomplete=True)
    vals = [r.value for r in dropped.collect()]
    assert vals == ["@r1\nACGT\n+\nFFFF"]


def test_fixed_record_text_roundtrip(spark, tmp_path):
    """Records re-joined with the record separator reproduce the file byte
    for byte (codec round-trip, TextFile-style trailing delimiter)."""
    p = tmp_path / "r.txt"
    original = "l1\nl2\nl3\nl4\nl5\nl6\n"
    p.write_text(original)
    df = src.read_fixed_record_text(spark, str(p), n_lines=2)
    recs = [r.value for r in df.orderBy("record_id").collect()]
    assert "\n".join(recs) + "\n" == original


def test_read_text_whole_text_kwarg(spark, tmp_path):
    """Regression: .option(\"wholetext\", True) is silently ignored by the
    text source; read_text must route through the reader kwarg."""
    p = tmp_path / "w.txt"
    p.write_text("a\nb\nc\n")
    assert src.read_text(spark, str(p), whole_text=True).count() == 1
    assert src.read_text(spark, str(p)).count() == 3


def test_json_sink_round_trip(spark, tmp_path):
    from mare_spark.sources import read_json, write_json
    from mare_spark.tables import read_table
    from tests.conftest import SF_SMOKE

    df = read_table(spark, SF_SMOKE, "nation")
    path = str(tmp_path / "nation_json")
    write_json(df, path)
    back = read_json(spark, path)
    assert back.count() == df.count()
    a = {tuple(sorted(r.asDict().items())) for r in df.collect()}
    b = {tuple(sorted(r.asDict().items())) for r in back.collect()}
    assert a == b


def test_read_with_quarantine_splits_bad_rows(spark, tmp_path):
    """Good rows parse; malformed rows land in quarantine with the raw
    line preserved for replay; nothing is silently dropped."""
    from mare_spark.sources import read_with_quarantine

    p = tmp_path / "feed.csv"
    p.write_text("id,qty\n1,10\n2,notanumber\n3,30\nbroken line only\n")
    good, bad = read_with_quarantine(
        spark, str(p), "id INT, qty INT", fmt="csv", header=True
    )
    assert sorted((r.id, r.qty) for r in good.collect()) == [(1, 10), (3, 30)]
    raws = sorted(r.raw_record for r in bad.collect())
    assert raws == ["2,notanumber", "broken line only"]


def test_read_parquet_merge_schema_evolution(spark, tmp_path):
    """A landing dir whose later files add a column reads as the union
    schema with NULLs in the older files when merge_schema=True."""
    from mare_spark.sources import read_parquet

    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        d + "/ingest=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(d + "/ingest=2")

    merged = read_parquet(spark, d, merge_schema=True)
    assert set(merged.columns) >= {"id", "v", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_sources_review_guards_r8(spark, tmp_path):
    """r8 review sweep over sources/__init__.py: lenient whole-text
    decode (one bad file must not kill a corpus scan under ANSI);
    explicit header/inferSchema opts no longer silently overridden;
    write_single_file rejects directory targets and remote URIs, honors
    header=False, accepts file:// and cleans staging; CRLF fixed-record
    parity; quarantine accepts DDL strings via the public API."""
    import os

    import pytest

    from mare_spark.sources import (
        read_csv,
        read_fixed_record_text,
        read_whole_text,
        write_csv,
        write_single_file,
    )

    # --- lenient vs strict whole-text decode
    d = tmp_path / "wt"
    d.mkdir()
    (d / "good.txt").write_text("hello")
    (d / "bad.txt").write_bytes(b"he\xff\xfello")
    got = {os.path.basename(r.path): r.content
           for r in read_whole_text(spark, str(d)).collect()}
    assert got["good.txt"] == "hello"
    assert got["bad.txt"] == "he\ufffd\ufffdllo"  # replaced, not raised
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException
    with pytest.raises((PySparkException, Py4JJavaError, Exception)):
        read_whole_text(spark, str(d), on_error="fail").collect()
    with pytest.raises(ValueError, match="on_error"):
        read_whole_text(spark, str(d), on_error="ignore")
    only = read_whole_text(spark, str(d), path_glob_filter="good.txt")
    assert only.count() == 1

    # --- CRLF fixed-record parity with the LF twin
    lf = tmp_path / "lf.txt"; crlf = tmp_path / "crlf.txt"
    lf.write_text("@r1\nACGT\n+\n!!!!\n")
    crlf.write_bytes(b"@r1\r\nACGT\r\n+\r\n!!!!\r\n")
    va = read_fixed_record_text(spark, str(lf), 4).collect()[0].value
    vb = read_fixed_record_text(spark, str(crlf), 4).collect()[0].value
    assert va == vb == "@r1\nACGT\n+\n!!!!"

    # --- header / inferSchema opt-outs honored
    df = spark.range(3).selectExpr("id")
    p_noheader = str(tmp_path / "noheader.csv")
    write_single_file(df, p_noheader, fmt="csv", header=False)
    assert open(p_noheader).read().splitlines()[0] == "0"
    assert not os.path.exists(p_noheader + ".staging")
    dcsv = tmp_path / "csvdir"
    write_csv(df, str(dcsv), header=False)
    text = "".join(
        open(dcsv / f).read() for f in os.listdir(dcsv)
        if f.startswith("part-"))
    assert "id" not in text
    strings = read_csv(
        spark, str(dcsv), header=False, inferSchema=False
    )
    assert [f.dataType.simpleString() for f in strings.schema.fields] == [
        "string"
    ]

    # --- single-file sink contracts
    with pytest.raises(ValueError, match="DIRECTORY"):
        write_single_file(df, str(tmp_path))
    with pytest.raises(ValueError, match="local paths"):
        write_single_file(df, "s3a://bucket/out.csv")
    via_uri = write_single_file(df, "file://" + str(tmp_path / "u.csv"))
    assert open(via_uri).read().splitlines()[0] == "id"

    # --- quarantine via public DDL parse
    feed = tmp_path / "feed.csv"
    feed.write_text("a,b\n1,2\nbadrow\n")
    from mare_spark.cache import cache_scope
    from mare_spark.sources import read_with_quarantine

    before = cached_entries(spark)
    with cache_scope():
        good, bad = read_with_quarantine(
            spark, str(feed), "a int, b int", fmt="csv", header=True
        )
        # ONE parse cache shared by both splits; it survives until both
        # are consumed
        assert cached_entries(spark) == before + 1
        assert good.count() == 1
        assert cached_entries(spark) == before + 1
        assert bad.count() == 1
    assert cached_entries(spark) == before


def test_read_table_pre_epoch_nanos_floor(spark, tmp_path):
    """r8 review: nanos->micros conversion must FLOOR (a nanos-native
    oracle floors), not truncate toward zero — pre-epoch values differed
    by one microsecond."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mare_spark.tables import TABLE_NAMES, read_table, table_path
    from tests.conftest import SF_SMOKE

    sf = str(tmp_path / "sfnanos")
    (tmp_path / "sfnanos").mkdir()
    for t in TABLE_NAMES:
        shutil.copy(table_path(SF_SMOKE, t), table_path(sf, t))
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([-1500, -2000, 1500], pa.timestamp("ns")),
            "user_id": pa.array([1, 1, 1], pa.int64()),
            "event_type": pa.array(["a", "a", "a"]),
            "value": pa.array([1.0, 1.0, 1.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(tbl, table_path(sf, "events"))
    from pyspark.sql import functions as SF

    got = {
        r.event_id: r.us
        for r in read_table(spark, sf, "events")
        .select("event_id", SF.unix_micros("ts").alias("us")).collect()
    }
    # floor semantics: -1500 ns -> -2 us; exact multiples unchanged
    assert got[1] == -2
    assert got[2] == -2
    assert got[3] == 1
