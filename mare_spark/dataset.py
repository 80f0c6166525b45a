"""The MaRe container-pipeline API, DataFrame-native.

API parity with the reference's public surface
(/root/reference/src/main/scala/se/uu/it/mare/MaRe.scala):

=====================  ============================================
reference              this class
=====================  ============================================
``new MaRe(rdd)``      ``MaRe(df)``                 (MaRe.scala:23)
``getNumPartitions``   ``num_partitions``           (MaRe.scala:32)
``cache``              ``cache()``                  (MaRe.scala:39-41)
``repartition``        ``repartition(n)``           (MaRe.scala:49-51)
``map``                ``map(...)``                 (MaRe.scala:63-100)
``reduce``             ``reduce(...)``              (MaRe.scala:115-153)
``repartitionBy``      ``repartition_by(...)``      (MaRe.scala:161-178)
``collectReduce``      ``collect_reduce(...)``      (MaRe.scala:194-241)
=====================  ============================================

Execution model: building a pipeline runs no Spark job. The partition count
is tracked statically (``repartition``/``repartition_by`` set it, ``map`` and
``cache`` carry it; only a DataFrame wrapped directly asks Spark, once), so
``reduce`` plans its whole tree up front and every container stage runs
exactly once, in the action. ``map`` enters the Catalyst plan as a
``MapInPandas`` node, and consecutive ``map`` calls (no repartition or cache
between) share that node: one Python pass per partition runs their commands
in order. The executor-side body re-assembles the WHOLE partition from the
Arrow batch iterator (one container run per partition, not per batch — the
reference's unit of work is the partition, MaRe.scala:69-96), writes it to a
temp mount under ``$TMPDIR`` (tmpfs recommended, reference README.md:25),
runs the command, reads the output mount back and hands it to the next
command in the pass, or yields it as Arrow batches after the last one.
Each partition's pass is one Python task, forked from the engine's worker
daemon (``mare_spark.worker_daemon``), with a fixed start-up cost of about
0.05 CPU-s (Arrow set-up, reads from the JVM) before it sees a row.

Scale posture: the per-partition temp file bounds memory exactly like the
reference (MountPoint.scala:90 reads whole files); at 100 TB you size
partitions via ``repartition``/``spark.sql.files.maxPartitionBytes`` so each
container invocation sees a bounded slice, and Spark's task retry handles
container failures (non-zero exit → exception → retry).
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mare_spark.cache import cache_scope, persist
from mare_spark.codecs import MountPoint
from mare_spark.runner import run_container


def _payload_bytes(rec) -> int:
    """Approximate serialized size of one codec record (a text record, or
    a (name, payload) tuple) — sizing for the chunk/flush budgets."""
    if isinstance(rec, (str, bytes, bytearray)):
        return len(rec)
    if isinstance(rec, tuple):
        return sum(
            len(v) for v in rec if isinstance(v, (str, bytes, bytearray))
        )
    return 64


def _record_chunks(records: list, byte_budget: int = 256 << 20):
    """Slice a record list into bounded-size chunks (by payload bytes,
    with a row-count backstop) so no downstream consumer materializes an
    unbounded single buffer."""
    chunk: list = []
    size = 0
    for rec in records:
        chunk.append(rec)
        size += _payload_bytes(rec)
        if size >= byte_budget or len(chunk) >= 100_000:
            yield chunk
            chunk, size = [], 0
    if chunk:
        yield chunk


def _pipe_partition(
    batches: Iterator[pd.DataFrame],
    in_mp: MountPoint,
    out_mp: MountPoint,
    image: str,
    command: str,
    force_pull: bool,
    backend: str | None,
    tmp_dir: str | None = None,
) -> Iterator[pd.DataFrame]:
    """Executor-side body of ``map``: partition → temp mount → command →
    output mount → partition (mirrors MaRe.scala:69-96). ``tmp_dir``
    defaults to the EXECUTOR's $TMPDIR (tmpfs recommended, reference
    README.md:25) — an explicit value overrides it (tests, shared scratch)."""
    tmp_dir = tmp_dir or os.environ.get("TMPDIR", tempfile.gettempdir())
    tmp_in = os.path.join(tmp_dir, f"mare_{uuid.uuid4()}")
    tmp_out = os.path.join(tmp_dir, f"mare_{uuid.uuid4()}")
    try:
        # Stream the whole partition (all Arrow batches) into the input mount.
        in_mp.create_empty(tmp_in)
        n_in = 0
        for pdf in batches:
            n_in += len(pdf)
            in_mp.write(in_mp.records_from_pandas(pdf), tmp_in, append=True)
        out_mp.create_empty(tmp_out)

        run_container(
            image,
            command,
            binds=[(tmp_in, in_mp.path), (tmp_out, out_mp.path)],
            force_pull=force_pull,
            backend=backend,
        )

        records = out_mp.read(tmp_out)
        # An EMPTY partition whose command also produced nothing must not
        # mint a phantom '' record: TextFile.read of an empty file returns
        # [''] (Java-split parity for real record streams), which would
        # add one bogus row per empty partition and break row-count parity
        # with any declarative twin of the command.
        if n_in == 0 and records == [""]:
            records = []
        # Chunked yield: each yielded frame becomes ONE Arrow batch (Spark
        # does not re-slice), and a multi-GB partition output in a single
        # batch hits Arrow's 32-bit string/binary offset wall — so large
        # outputs leave as bounded batches.
        for chunk in _record_chunks(records):
            yield out_mp.records_to_pandas(chunk)
    finally:
        for p in (tmp_in, tmp_out):
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.exists(p):
                os.unlink(p)


class MaRe:
    """Distributed container-pipeline over a DataFrame."""

    def __init__(
        self, df: DataFrame, backend: str | None = None, tmp_dir: str | None = None
    ):
        self.df = df
        self.backend = backend
        self.tmp_dir = tmp_dir
        # Partition count, once known: set by repartition/repartition_by,
        # else asked of ``_same_parts`` (the MaRe a map/cache derived from)
        # or, for a DataFrame wrapped directly, of Spark — at most once.
        self._parts: int | None = None
        self._same_parts: MaRe | None = None
        # For a map result: (input DataFrame, stages) such that ``df`` is
        # ONE mapInPandas over the input that runs the stages in order.
        self._pipe: tuple[DataFrame, tuple] | None = None

    def _derive(self, df: DataFrame, parts: int | None = None) -> "MaRe":
        """A MaRe over ``df``, which has ``parts`` partitions, or as many
        as ``self`` when ``parts`` is None."""
        out = MaRe(df, self.backend, self.tmp_dir)
        out._parts = self._parts if parts is None else parts
        if out._parts is None:
            out._same_parts = self
        return out

    # -- RDD-plumbing parity (MaRe.scala:32-51) ------------------------------
    @property
    def num_partitions(self) -> int:
        """Partition count, known statically along a pipeline: only a
        DataFrame wrapped directly asks Spark (once), which under AQE runs
        the upstream shuffle stages."""
        if self._parts is None:
            self._parts = (
                self._same_parts.num_partitions
                if self._same_parts is not None
                else self.df.rdd.getNumPartitions()
            )
        return self._parts

    def cache(self) -> "MaRe":
        return self._derive(self.df.cache())

    def repartition(self, num_partitions: int) -> "MaRe":
        return self._derive(self.df.repartition(num_partitions), num_partitions)

    def repartition_by(self, key: str | Column | Callable, num_partitions: int) -> "MaRe":
        """Co-locate records by key (MaRe.scala:161-178).

        ``key`` is a column name / Column expression (hash-partitioned via
        ``df.repartition(n, key)`` — no Python in the path), or a Python
        callable over a row dict for arbitrary-partitioner parity (slow path,
        RDD-based, mirrors the custom-Partitioner overload).
        """
        if callable(key) and not isinstance(key, Column):
            schema = self.df.schema
            rdd = (
                self.df.rdd.keyBy(lambda row: key(row.asDict()))
                .partitionBy(num_partitions)
                .map(lambda kv: kv[1])
            )
            return self._derive(
                self.df.sparkSession.createDataFrame(rdd, schema), num_partitions
            )
        col = F.col(key) if isinstance(key, str) else key
        return self._derive(self.df.repartition(num_partitions, col), num_partitions)

    # -- container ops -------------------------------------------------------
    def map(
        self,
        input_mount: MountPoint,
        output_mount: MountPoint,
        image: str,
        command: str,
        force_pull: bool = False,
    ) -> "MaRe":
        """Pipe each partition through ``sh -c command`` (MaRe.scala:63-100).

        Type-changing: the result schema is ``output_mount.spark_schema``.
        Runs on every partition, including empty ones (reference parity).
        A map directly on a map result (no repartition or cache between)
        joins its ``mapInPandas``: one Python pass per partition runs the
        commands in order, each with its own mounts and codecs.
        """
        backend, tmp_dir = self.backend, self.tmp_dir
        src, stages = self._pipe or (self.df, ())
        stages += ((input_mount, output_mount, image, command, force_pull),)

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for stage in stages:
                batches = _pipe_partition(batches, *stage, backend, tmp_dir)
            yield from batches

        out = self._derive(src.mapInPandas(fn, schema=output_mount.spark_schema))
        out._pipe = (src, stages)
        return out

    def reduce(
        self,
        input_mount: MountPoint,
        output_mount: MountPoint,
        image: str,
        command: str,
        depth: int = 2,
        force_pull: bool = False,
    ) -> "MaRe":
        """Tree-reduce with a containerized combiner (MaRe.scala:115-153).

        The command must be associative & commutative over record multisets
        (it is applied unchanged at every tree level). Combine runs
        in-partition BEFORE any shuffle (MaRe.scala:124-130 — the map-side
        combiner that makes this scale); ``scale = max(ceil(P^(1/depth)), 2)``
        (:132); recursion repartitions to ``P/scale`` while it still shrinks
        (:133-141; like the reference, the recursive call does not forward
        ``force_pull``), else a final single-partition pass (:142-149).
        The tree is planned from the static partition count, so building it
        runs no Spark job; on a map result, the first-level combine shares
        that map's Python pass.
        """
        if depth < 2:
            raise ValueError(f"depth must be >= 2 but got {depth}")

        p0 = self.num_partitions
        reduced = self.map(input_mount, output_mount, image, command, force_pull)

        scale = max(math.ceil(p0 ** (1.0 / depth)), 2)
        if depth > 2 and p0 > p0 // scale and p0 // scale >= 1:
            return reduced.repartition(p0 // scale).reduce(
                input_mount, output_mount, image, command, depth - 1
            )
        if p0 > 1:
            return reduced.repartition(1).map(
                input_mount, output_mount, image, command, force_pull
            )
        return reduced

    def collect_reduce(
        self,
        input_mount: MountPoint,
        output_mount: MountPoint,
        image: str,
        command: str,
        local_out_path: str,
        force_pull: bool = False,
        intermediate_storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    ) -> None:
        """Sink: pull partitions to the driver ONE AT A TIME, concatenate
        into a single local mount, run one command on the driver host, leave
        output at ``local_out_path`` (MaRe.scala:194-241).

        Uses ``toLocalIterator`` — the DataFrame equivalent of the
        reference's per-partition ``sc.runJob`` loop (MaRe.scala:224-227):
        only one partition is resident on the driver at a time.
        """
        with cache_scope():
            persisted = persist(self.df, intermediate_storage_level)
            persisted.count()  # force upstream computation (MaRe.scala:205-208)

            parent = os.path.dirname(os.path.abspath(local_out_path))
            tmp_dir = os.path.join(parent, f".temporary_{uuid.uuid4()}")
            os.makedirs(tmp_dir, exist_ok=True)
            tmp_in = os.path.join(tmp_dir, f"mare_{uuid.uuid4()}")
            try:
                input_mount.create_empty(tmp_in)
                # Streaming driver pull; append preserves the record stream
                # exactly like the reference's per-partition loop. The flush
                # budget is BYTES first (row count only as a backstop):
                # 10k buffered WholeText/Binary records of ~100 MB each would
                # be ~1 TB resident, where the documented contract is
                # one-bounded-slice-at-a-time.
                batch: list = []
                batch_bytes = 0
                flush_bytes = 64 << 20
                for row in persisted.toLocalIterator(prefetchPartitions=False):
                    batch.append(row)
                    batch_bytes += _payload_bytes(tuple(row))
                    if batch_bytes >= flush_bytes or len(batch) >= 10_000:
                        input_mount.write(
                            input_mount.records_from_pandas(_rows_to_pandas(batch, persisted)),
                            tmp_in,
                            append=True,
                        )
                        batch, batch_bytes = [], 0
                if batch:
                    input_mount.write(
                        input_mount.records_from_pandas(_rows_to_pandas(batch, persisted)),
                        tmp_in,
                        append=True,
                    )

                output_mount.create_empty(local_out_path)
                run_container(
                    image,
                    command,
                    binds=[(tmp_in, input_mount.path), (local_out_path, output_mount.path)],
                    force_pull=force_pull,
                    backend=self.backend,
                )
            finally:
                shutil.rmtree(tmp_dir, ignore_errors=True)


def _rows_to_pandas(rows: list, df: DataFrame) -> pd.DataFrame:
    return pd.DataFrame.from_records(
        [r.asDict() for r in rows], columns=df.columns
    )
