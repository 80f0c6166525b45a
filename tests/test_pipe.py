"""Container-pipeline differential + structural tests, porting the
reference's test strategy (MaReTest.scala) to the DataFrame engine:

* differential GC-count vs native Spark at reduce depths 2..4
  (MaReTest.scala:35-66, sweep at :40)
* codec round-trip / type-switch chain BinaryFiles → WholeTextFiles →
  TextFile (MaReTest.scala:150-188)
* custom record delimiter (VirtualScreeningTest.scala:30,36-37)
* repartition_by structural parity check (MaReTest.scala:305-324)
* collect_reduce local sink (MaReTest.scala:190-221)
"""

from __future__ import annotations

import gzip
import os
import random

import pytest
from pyspark.sql import functions as F

from mare_spark.codecs import BinaryFiles, TextFile, WholeTextFiles
from mare_spark.dataset import MaRe


def _dna_lines(n=200, seed=7):
    rng = random.Random(seed)
    lines = []
    for i in range(n):
        if i % 5 == 0:
            lines.append(f">random sequence {i} consisting of bases")
        else:
            lines.append("".join(rng.choice("atgc") for _ in range(60)))
    return lines


@pytest.fixture(scope="module")
def dna_df(spark):
    return spark.createDataFrame(
        [(l,) for l in _dna_lines()], "value string"
    ).repartition(5)


def _native_gc_count(df):
    # native-Spark oracle, mirrors MaReTest.scala:19-26
    return (
        df.select(
            (
                F.length("value") - F.length(F.regexp_replace("value", "[gc]", ""))
            ).alias("n")
        )
        .agg(F.sum("n"))
        .collect()[0][0]
    )


@pytest.mark.parametrize("depth", [2, 3, 4])
def test_gc_count_differential(spark, dna_df, depth):
    expected = _native_gc_count(dna_df)
    result = (
        MaRe(dna_df)
        .map(
            input_mount=TextFile("/dna"),
            output_mount=TextFile("/count"),
            image="busybox:1",
            command="grep -o '[gc]' /dna | wc -l > /count",
        )
        .reduce(
            input_mount=TextFile("/counts"),
            output_mount=TextFile("/sum"),
            image="busybox:1",
            command="awk '{ s += $1 } END { print s }' /counts > /sum",
            depth=depth,
        )
    )
    rows = result.df.collect()
    assert len(rows) == 1
    assert int(rows[0].value) == expected


def test_type_switch_chain(spark):
    """BinaryFiles → WholeTextFiles → TextFile chain with gzip payloads
    (MaReTest.scala:150-188)."""
    files = [(f"dna_{i}.txt.gz", gzip.compress(f"acgt\nggcc_{i}\n".encode())) for i in range(3)]
    df = spark.createDataFrame(files, "path string, content binary").repartition(3)

    out = (
        MaRe(df)
        .map(
            input_mount=BinaryFiles("/zipped"),
            output_mount=WholeTextFiles("/unzipped"),
            image="busybox:1",
            command=(
                "for f in /zipped/*.gz; do [ -e \"$f\" ] || continue; "
                "gunzip -c $f > /unzipped/$(basename $f .gz); done"
            ),
        )
        .map(
            input_mount=WholeTextFiles("/plain"),
            output_mount=TextFile("/lines"),
            image="busybox:1",
            command="find /plain -type f -exec cat {} + > /lines",
        )
    )
    lines = sorted(r.value for r in out.df.collect())
    # Empty partitions yield one "" record each (reference parity: an empty
    # TextFile output reads as [""], MountPoint.scala:88-90 + Java split).
    non_empty = [l for l in lines if l]
    assert len(non_empty) == 6
    assert "acgt" in non_empty
    assert any(l.startswith("ggcc_") for l in non_empty)


def test_custom_record_delimiter_roundtrip(tmp_path):
    """SDF-style multi-line records with '\\n$$$$\\n' delimiter
    (VirtualScreeningTest.scala:36-37): write appends the delimiter after
    every record; read splits and drops trailing empties."""
    mp = TextFile("/sdf", record_delimiter="\n$$$$\n")
    records = ["mol1\nline2\nscore:9", "mol2\nline2\nscore:3"]
    p = str(tmp_path / "f.sdf")
    mp.write(records, p)
    raw = open(p).read()
    assert raw == "mol1\nline2\nscore:9\n$$$$\nmol2\nline2\nscore:3\n$$$$\n"
    assert mp.read(p) == records


def test_textfile_empty_file_yields_one_empty_record(tmp_path):
    """Java ''.split(x) == [''] parity (MountPoint.scala:88-90)."""
    mp = TextFile("/t")
    p = str(tmp_path / "empty")
    mp.create_empty(p)
    assert mp.read(p) == [""]


def test_wholetextfiles_basename_keys(tmp_path):
    """Keys become basenames after one hop (MountPoint.scala:119,139)."""
    mp = WholeTextFiles("/w")
    d = str(tmp_path / "d")
    mp.write([("/deep/nested/a.txt", "A"), ("b.txt", "B")], d)
    assert mp.read(d) == [("a.txt", "A"), ("b.txt", "B")]


def test_repartition_by_colocates_keys(spark):
    """Expression path: equal keys always co-locate (hash partitioning)."""
    df = spark.range(1, 101).select(F.col("id").alias("n"))
    m = MaRe(df).repartition_by(F.col("n") % 2, 2)
    parts = m.df.rdd.glom().map(lambda rows: {r.n % 2 for r in rows}).collect()
    assert len(parts) == 2
    # each parity class appears in exactly one partition
    for parity in (0, 1):
        assert sum(1 for keys in parts if parity in keys) == 1


def test_repartition_by_callable_parity(spark):
    """Callable path mirrors the reference HashPartitioner exactly: evens in
    one partition, odds in the other (MaReTest.scala:305-324)."""
    df = spark.range(1, 101).select(F.col("id").alias("n"))
    m = MaRe(df).repartition_by(lambda row: row["n"] % 2, 2)
    parts = m.df.rdd.glom().map(lambda rows: sorted(r.n for r in rows)).collect()
    assert len(parts) == 2
    assert all(n % 2 == 0 for n in parts[0])
    assert all(n % 2 == 1 for n in parts[1])


def test_reduce_rejects_depth_below_2(spark, dna_df):
    with pytest.raises(ValueError):
        MaRe(dna_df).reduce(
            TextFile("/i"), TextFile("/o"), "busybox:1", "cat /i > /o", depth=1
        )


def test_collect_reduce_local_sink(spark, tmp_path):
    """collectReduce: partitions pulled one at a time, single local command,
    output left at local_out_path (MaRe.scala:194-241)."""
    df = spark.createDataFrame([(str(i),) for i in range(1, 11)], "value string").repartition(3)
    out = str(tmp_path / "total.txt")
    MaRe(df).collect_reduce(
        input_mount=TextFile("/nums"),
        output_mount=TextFile("/total"),
        image="busybox:1",
        command="awk '{ s += $1 } END { print s }' /nums > /total",
        local_out_path=out,
    )
    assert os.path.exists(out)
    assert open(out).read().strip() == "55"


def test_pipe_failure_raises(spark, dna_df):
    """Non-zero exit propagates → Spark task failure (DockerHelper.scala:132-135)."""
    from py4j.protocol import Py4JJavaError

    m = MaRe(dna_df).map(
        input_mount=TextFile("/i"),
        output_mount=TextFile("/o"),
        image="busybox:1",
        command="exit 7",
    )
    with pytest.raises(Exception) as ei:
        m.df.collect()
    assert "code 7" in str(ei.value) or isinstance(ei.value, Py4JJavaError)


def test_gzipped_directory_input_parity(spark, tmp_path):
    """Compressed-input parity (MaReTest.scala:100-148, 'GC count gzipped
    DNA files'): the same DNA corpus produces the identical GC total read
    three ways —
    (a) uncompressed directory via read_text,
    (b) the gzipped copy via read_text (the text source decompresses
        ``*.gz`` transparently, the sc.textFile behavior the reference's
        own oracle relies on at MaReTest.scala:144-146),
    (c) the gzipped copy via read_binary with gunzip running INSIDE the
        piped container (the reference's parallel path, :103-137).
    All three equal the native-Spark oracle."""
    from mare_spark.sources import read_binary, read_text

    plain, zipped = tmp_path / "plain", tmp_path / "zipped"
    plain.mkdir(), zipped.mkdir()
    lines = _dna_lines(120, seed=23)
    for i in range(4):
        chunk = "\n".join(lines[i * 30:(i + 1) * 30]) + "\n"
        (plain / f"dna_{i}.fasta").write_text(chunk)
        (zipped / f"dna_{i}.fasta.gz").write_bytes(gzip.compress(chunk.encode()))

    def gc_text_pipeline(df):
        out = (
            MaRe(df)
            .repartition(3)
            .map(
                input_mount=TextFile("/dna"),
                output_mount=TextFile("/count"),
                image="busybox:1",
                command="awk '{ n += gsub(/[gc]/, \"\") } END { print n+0 }'"
                        " /dna > /count",
            )
            .reduce(
                input_mount=TextFile("/counts"),
                output_mount=TextFile("/sum"),
                image="busybox:1",
                command="awk '{ s += $1 } END { print s+0 }' /counts > /sum",
                depth=2,
            )
        )
        rows = out.df.collect()
        assert len(rows) == 1
        return int(rows[0].value)

    expected = _native_gc_count(read_text(spark, str(plain)))
    assert gc_text_pipeline(read_text(spark, str(plain))) == expected
    assert gc_text_pipeline(read_text(spark, str(zipped))) == expected

    # (c) gunzip inside the container, reference command shape
    binary = (
        MaRe(read_binary(spark, str(zipped)).select(
            F.col("path"), F.col("content")
        ).repartition(3))
        .map(
            input_mount=BinaryFiles("/dna"),
            output_mount=BinaryFiles("/counts"),
            image="busybox:1",
            command=(
                "for f in /dna/*.fasta.gz; do [ -e \"$f\" ] || continue; "
                "gunzip -c $f | awk '{ n += gsub(/[gc]/, \"\") } "
                "END { print n+0 }' > /counts/$(basename $f).sum; done"
            ),
        )
        .reduce(
            input_mount=BinaryFiles("/in"),
            output_mount=BinaryFiles("/out"),
            image="busybox:1",
            command=(
                "cat /in/*.sum 2>/dev/null | awk '{ s += $1 } "
                "END { print s+0 }' > /out/$(date +%s%N).sum"
            ),
        )
        .map(
            input_mount=BinaryFiles("/sum"),
            output_mount=TextFile("/unzipped"),
            image="busybox:1",
            command="cat /sum/*.sum > /unzipped",
        )
    )
    rows = [r.value for r in binary.df.collect() if r.value]
    assert len(rows) == 1
    assert int(rows[0]) == expected


def test_collect_reduce_whole_files(spark, tmp_path):
    """MaReTest.scala:223-259 ('GC count on whole files with
    collectReduce'): WholeTextFiles map → driver-side collectReduce into a
    local DIRECTORY; exactly one output file whose value equals the
    native-Spark GC count."""
    from mare_spark.sources import read_text, read_whole_text

    src = tmp_path / "fasta"
    src.mkdir()
    lines = _dna_lines(90, seed=31)
    for i in range(3):
        (src / f"dna_{i}.fasta").write_text(
            "\n".join(lines[i * 30:(i + 1) * 30]) + "\n"
        )
    expected = _native_gc_count(read_text(spark, str(src)))

    out_dir = str(tmp_path / "out")
    MaRe(read_whole_text(spark, str(src)).repartition(3)).map(
        input_mount=WholeTextFiles("/dna"),
        output_mount=WholeTextFiles("/counts"),
        image="busybox:1",
        command=(
            "for f in /dna/dna_*.fasta; do [ -e \"$f\" ] || continue; "
            "grep -o '[gc]' $f | wc -l > /counts/$(basename $f).sum; done"
        ),
    ).collect_reduce(
        input_mount=WholeTextFiles("/counts"),
        output_mount=WholeTextFiles("/sum"),
        image="busybox:1",
        command="awk '{ s += $1 } END { print s+0 }' /counts/*.sum"
                " > /sum/total.sum",
        local_out_path=out_dir,
    )
    assert os.listdir(out_dir) == ["total.sum"]
    assert open(os.path.join(out_dir, "total.sum")).read().strip() == str(
        expected
    )


def test_collect_reduce_gzipped_binary_files(spark, tmp_path):
    """MaReTest.scala:261-303 ('GC count gzipped files with
    collectReduce'): gzipped BinaryFiles in, gunzip inside both the piped
    map and the driver-side reduce command, plain-text total out."""
    from mare_spark.sources import read_binary, read_text

    plain, zipped = tmp_path / "plain", tmp_path / "zipped"
    plain.mkdir(), zipped.mkdir()
    lines = _dna_lines(90, seed=37)
    for i in range(3):
        chunk = "\n".join(lines[i * 30:(i + 1) * 30]) + "\n"
        (plain / f"dna_{i}.fasta").write_text(chunk)
        (zipped / f"dna_{i}.fasta.gz").write_bytes(
            gzip.compress(chunk.encode())
        )
    expected = _native_gc_count(read_text(spark, str(plain)))

    out_dir = str(tmp_path / "out")
    MaRe(
        read_binary(spark, str(zipped))
        .select("path", "content")
        .repartition(3)
    ).map(
        input_mount=BinaryFiles("/dna"),
        output_mount=BinaryFiles("/counts"),
        image="busybox:1",
        command=(
            "for f in /dna/dna_*.fasta.gz; do [ -e \"$f\" ] || continue; "
            "gunzip -c $f | grep -o '[gc]' | wc -l "
            "> /counts/$(basename $f).sum; "
            "gzip /counts/$(basename $f).sum; done"
        ),
    ).collect_reduce(
        input_mount=BinaryFiles("/counts"),
        output_mount=BinaryFiles("/sum"),
        image="busybox:1",
        command=(
            "gunzip /counts/*.sum.gz && "
            "awk '{ s += $1 } END { print s+0 }' /counts/*.sum"
            " > /sum/total.sum"
        ),
        local_out_path=out_dir,
    )
    assert os.listdir(out_dir) == ["total.sum"]
    assert open(os.path.join(out_dir, "total.sum")).read().strip() == str(
        expected
    )


def test_empty_partition_emits_no_phantom_record(spark):
    """An empty partition whose command produces nothing must contribute
    ZERO rows (TextFile.read of an empty file is [''] for Java-split
    parity, which would otherwise mint one bogus '' row per empty
    partition and break row-count parity with the declarative twin)."""
    from mare_spark.codecs import TextFile
    from mare_spark.dataset import MaRe

    df = spark.createDataFrame([("a",), ("b",)], "value string")
    out = (
        MaRe(df)
        .repartition(8)  # 6 empty partitions
        .map(
            TextFile("/in"), TextFile("/out"), "busybox:1",
            "tr '[:lower:]' '[:upper:]' < /in > /out",
        )
        .df.collect()
    )
    assert sorted(r.value for r in out) == ["A", "B"]


def test_pipe_differentials_on_adversarial_text(spark, tmp_path):
    """r8 review: the pipe-vs-SQL differentials hold beyond the
    fixture-lucky corpus — NULL text, tabs, unicode, newlines, empty
    strings. The oracles now model what the TOOLS do (byte-wise ASCII
    tr via translate(), awk blank-splitting) over the codec's pinned
    record domain."""
    import shutil

    import pandas as pd

    from mare_spark.registry import all_queries
    from mare_spark.tables import TABLE_NAMES, table_path
    from tests.conftest import SF_ORACLE
    from tests.oracle import compare

    sf = str(tmp_path / "sfadv")
    (tmp_path / "sfadv").mkdir()
    for t in TABLE_NAMES:
        shutil.copy(table_path(SF_ORACLE, t), table_path(sf, t))
    docs = [
        "plain ascii words",
        None,                      # codec NULL rejection vs SQL NULL
        "\ttab\tseparated\t",      # awk blanks vs trim()
        "café résumé",  # tr is ASCII-only
        "",                        # empty record
        "  spaced  out  ",
        "multi\nline text here",   # record-splitting domain gate
    ]
    pd.DataFrame(
        {
            "doc_id": list(range(len(docs))),
            "text": docs,
            "lang": ["en"] * len(docs),
            "source": ["src0"] * len(docs),
            "n_chars": [len(d) if d else 0 for d in docs],
        }
    ).to_parquet(table_path(sf, "documents"))

    qs = all_queries()
    for name in ("pipe_gc_count", "pipe_token_total", "pipe_map_upper"):
        compare(qs[name].fn(spark, sf), qs[name].oracle, sf)
    # spot-check the modeled tool semantics directly
    upper = {r.value for r in qs["pipe_map_upper"].fn(spark, sf).collect()}
    assert "CAFé RéSUMé" in upper  # e-acute NOT uppercased
    tok = qs["pipe_token_total"].fn(spark, sf).head().token_total
    # awk NF over the 6 non-NULL docs ('multi\nline text here' = 1 + 3:
    # the newline is a record boundary, fields sum across records)
    assert tok == 3 + 2 + 2 + 0 + 2 + 4


def test_reduce_tree_builds_without_jobs_and_runs_each_stage_once(
    spark, tmp_path, monkeypatch
):
    """Building map + a depth-3 reduce tree over 5 partitions launches no
    Spark job (partition counts are static: 5, then 2, then 1), and one
    collect() runs every container stage exactly once: 5 map + 5 combine
    + 2 + 1 = 13 runs. The map and the first-level combine share one
    MapInPandas, so the plan holds 3 of them, not 4."""
    log = tmp_path / "runs.log"
    df = spark.createDataFrame(
        [(" ".join(["w"] * (i % 7)),) for i in range(60)], "value string"
    )
    counts = []
    repartition = MaRe.repartition

    def counted(self, n):
        out = repartition(self, n)
        counts.append(out.num_partitions)
        return out

    monkeypatch.setattr(MaRe, "repartition", counted)
    sc = spark.sparkContext
    sc.setJobGroup("mare-build", "MaRe pipeline build")
    try:
        mapped = MaRe(df).repartition(5).map(
            TextFile("/in"), TextFile("/out"), "busybox:1",
            f"echo map >> {log}; awk '{{ s += NF }} END {{ print s+0 }}' /in > /out",
        )
        assert mapped.num_partitions == 5
        out = mapped.reduce(
            TextFile("/in"), TextFile("/out"), "busybox:1",
            f"echo sum >> {log}; awk '{{ s += $1 }} END {{ print s+0 }}' /in > /out",
            depth=3,
        )
        assert counts == [5, 2, 1]
        assert out.num_partitions == 1
        assert sc.statusTracker().getJobIdsForGroup("mare-build") == []
        plan = out.df._jdf.queryExecution().analyzed().toString()
        assert plan.count("MapInPandas") == 3
        rows = out.df.collect()
    finally:
        sc.setJobGroup("", "")
    assert [int(r.value) for r in rows] == [sum(i % 7 for i in range(60))]
    runs = log.read_text().split()
    assert (runs.count("map"), runs.count("sum")) == (5, 8)
