"""Structured-Streaming operators over the events stream.

The reference has no streaming counterpart (its whole surface is batch
container pipelines) — this family is part of the engine's declared
capability extension (SURVEY §2B streaming row). Semantics come from Spark's
Structured Streaming model; correctness is established by batch-equivalence
(the same windowed aggregation expressed in batch mode is oracle-checked
against DuckDB) plus late-data/watermark behavioral tests.

Scale posture: every operator here is incremental state — windows + a
watermark bound state size; ``session_window`` state is per active session;
stateful dedup keeps keys only within the watermark horizon
(``dropDuplicatesWithinWatermark``). At 100 TB/day the watermark IS the
memory bound: state never outlives ``watermark + window``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mare_spark.numeric import VALUE4, dsum


def _infer_or_cold_start(
    spark: SparkSession, source_dir: str, default_schema: str
):
    """Shared file-source bootstrap (r8 review: this block existed as
    two hand-synced copies in the events and documents readers): infer
    the schema from the landing dir's own parquet footers (one metadata
    read, no data scan), fall back to ``default_schema`` on a cold start
    (empty or not-yet-created dir — a stream cannot change schema after
    start, so it must begin with the contract schema and wait), and
    return ``(schema, readStream)`` with the one-file-per-trigger
    replay setting both readers share."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    try:
        schema = spark.read.parquet(source_dir).schema
    except AnalysisException:
        schema = T._parse_datatype_string(default_schema)
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return schema, reader


def read_events_stream(
    spark: SparkSession,
    source_dir: str,
    cold_start_schema: str | None = None,
) -> DataFrame:
    """File-source stream over an events landing directory (parquet files).

    Streaming sources need an upfront schema; we take it from the landing
    dir's own parquet footers (one metadata read — no data scan), so the
    reader is timestamp-unit-agnostic: a TIMESTAMP(MICROS) fixture arrives
    as TimestampType directly, while a TIMESTAMP(NANOS) fixture (read as
    longs under ``nanosAsLong``, see mare_spark.tables) or a raw
    nanosecond-long column is converted with exact integer division
    (``div 1000`` — `/` would round-trip through double and lose precision
    on int64 nanos).

    Cold start (empty/not-yet-created landing dir): there is no footer to
    infer from and a stream cannot change schema after start, so the
    reader falls back to ``cold_start_schema`` (default: the micros/NTZ
    events contract, ``ts timestamp``). If your landing format stores
    TIMESTAMP(NANOS), pass ``cold_start_schema`` with ``ts long`` so the
    div-1000 conversion path engages when the first file lands.
    """
    from pyspark.sql import types as T

    # same defensive confs as tables.read_table (the repo's documented
    # pattern for harness-built sessions): nanos fixtures need the
    # long-read, and a non-UTC session TZ would shift every window edge
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema, raw = _infer_or_cold_start(
        spark, source_dir,
        cold_start_schema
        or "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        # FLOOR division — tables.read_table's pre-epoch contract, kept
        # in lockstep (bare div truncates toward zero)
        raw = raw.withColumn(
            "ts",
            F.timestamp_micros(F.expr(
                "ts div 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)"
            )),
        )
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        # Watermarks require TIMESTAMP (with-TZ); the session TZ is pinned
        # to UTC above, so this cast is value-preserving.
        raw = raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return raw


def tumbling_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window counts/sums per event_type with late-data drop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", VALUE4).alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )


def session_aggregate(
    events: DataFrame,
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user: events closer than ``gap`` merge; session
    end = last event + gap (Spark session_window semantics)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", VALUE4).alias("total"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total",
        )
    )


def stateful_dedup(
    events: DataFrame,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Drop duplicate event_ids arriving within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes — bounded state, the production-correct dedup for
    at-least-once sources (plain ``dropDuplicates`` on a stream grows state
    forever)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------------

_RUNNING_SCHEMA = "user_id long, n_events long, total double"
_STATE_SCHEMA = "n long, total double"


def _running_totals_fn(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total": [round(total, 2)]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running event count + value total,
    emitted once per micro-batch (applyInPandasWithState, update mode)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running count + value total via ``transformWithStateInPandas``
    — the Spark 4 stateful-processor API (successor to
    ``applyInPandasWithState``): named state variables on a handle instead
    of one opaque state tuple, plus timer/TTL support. Semantically
    equivalent to :func:`running_user_totals`; both are kept because the
    two APIs are distinct public surfaces.

    State = one (n, total) value-state per user — bounded by user
    cardinality, not stream length.

    Runtime dependency: the TWS state-server protocol needs ``protobuf``
    in the Python workers (ships with full PySpark installs; absent here —
    the operator import-gates cleanly and the applyInPandasWithState
    variant is the no-extra-deps path).
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n long, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._state.get() if self._state.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=_RUNNING_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def purchases_with_recent_view(
    events: DataFrame,
    join_horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to view events by
    the same user within the preceding ``join_horizon``.

    Both sides carry watermarks and the join predicate bounds event-time
    distance, so state on both sides is droppable once the watermark passes
    — the only state-bounded form of a stream-stream join. At 100 TB/day
    the horizon IS the state bound (state ∝ rate × horizon, not history).
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    return purchases.join(
        views,
        F.expr(
            f"""
            p_user = v_user AND
            v_ts <= p_ts AND
            v_ts >= p_ts - INTERVAL {join_horizon}
            """
        ),
        "inner",
    ).select("purchase_id", "p_user", "p_ts", "purchase_value", "v_ts")


def enrich_with_static(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: str,
    how: str = "left",
    *,
    hint_broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joined to a STATIC
    dimension DataFrame — the standard lookup-enrichment shape (user
    profile, product catalog, geo table) and the stateless counterpart of
    the stream-stream interval join above (no watermark, no state: the
    static side is re-planned per micro-batch, so a dim backed by a live
    table picks up updates batch-to-batch).

    ``how`` is limited to the forms Spark supports with a static right
    side (inner / left outer / left semi); a right/full outer against a
    stream is rejected by Spark itself. The dim is broadcast-hinted by
    default — enrichment dims are small by contract, and per-micro-batch
    re-shuffles of the stream side are exactly what the hint avoids;
    pass ``hint_broadcast=False`` for a dim that outgrows the threshold
    (the join then shuffles EVERY micro-batch — at that size prefer
    re-keying the pipeline so the dim join happens downstream in batch).
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi"}
    if how not in allowed:
        raise ValueError(
            f"stream-static join supports {sorted(allowed)}, got {how!r}"
        )
    dim = F.broadcast(dim_df) if hint_broadcast else dim_df
    return stream_df.join(dim, on, how)


def write_foreach_batch(stream_df: DataFrame, batch_fn, checkpoint_dir: str):
    """foreachBatch sink: exactly-once-per-epoch delivery of each
    micro-batch DataFrame to ``batch_fn(df, epoch_id)`` — the idiomatic
    bridge to sinks without native streaming support (JDBC upserts,
    multi-table writes). Checkpointing makes epochs replay-safe: the sink
    must be idempotent per epoch_id."""
    return (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_to_memory_sink(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming query to completion synchronously against the
    in-memory sink (test/bench harness)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return q


# ---------------------------------------------------------------------------
# Incremental corpus ingestion: streaming quality gate + exact dedup
# ---------------------------------------------------------------------------


def read_documents_stream(
    spark: SparkSession,
    source_dir: str,
    cold_start_schema: str | None = None,
) -> DataFrame:
    """File-source stream over a documents landing directory (parquet).

    Same footer-inferred-schema / cold-start bootstrap as
    :func:`read_events_stream` (shared: :func:`_infer_or_cold_start`);
    the documents contract has no event-time column, so downstream
    stateful operators key their watermark on ingest time (see
    :func:`clean_corpus_stream`).
    """
    _schema, reader = _infer_or_cold_start(
        spark, source_dir,
        cold_start_schema
        or "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    return reader


def clean_corpus_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 25,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Incremental corpus cleaning: the streaming form of the batch
    length-gate + exact-dedup pipeline stages, for continuous ingestion
    (crawl batches landing as files) instead of periodic full re-runs.

    * The token gate is a stateless scan-side expression — streaming-safe
      by construction, identical semantics to the batch pipeline's gate.
    * Exact dedup keys on the shared normalized-text digest
      (``operators.dedup.normalize_text`` + md5 — the same digest the
      batch tier and every oracle use) via
      ``dropDuplicatesWithinWatermark``. Documents carry no event time, so
      the watermark runs on an ingest-time column: state is bounded by the
      watermark horizon — duplicates arriving within it are dropped, a
      re-crawl after the horizon re-admits (by design: bounded state IS
      the 100 TB/day contract; widen the horizon or add a periodic batch
      sweep for total dedup).

    Output: one row per first-seen digest — (id, digest, n_tokens, lang
    passthrough columns preserved upstream of the select are intentionally
    dropped so the sink schema is the minimal dedup ledger).
    """
    from mare_spark.operators.dedup import normalize_text
    from mare_spark.operators.text import token_count

    # the scrub stream's reserved-name posture (r8 review): a caller
    # column named like an output/internal column would be silently
    # clobbered (id_col='digest' would even lose the document ids)
    reserved = {"n_tokens", "digest", "_ingest_ts"}
    clash = reserved.intersection({id_col, text_col, *docs.columns})
    if clash:
        raise ValueError(
            "column names clash with clean_corpus_stream output/internal "
            f"columns: {sorted(clash)} (reserved: {sorted(reserved)})"
        )
    return (
        docs.withColumn("n_tokens", token_count(F.col(text_col)))
        .filter(F.col("n_tokens") >= min_tokens)
        .withColumn("digest", F.md5(normalize_text(F.col(text_col))))
        .withColumn("_ingest_ts", F.current_timestamp())
        .withWatermark("_ingest_ts", watermark)
        .dropDuplicatesWithinWatermark(["digest"])
        .select(id_col, "digest", "n_tokens")
    )


def _sketch_state(checkpoint_dir: str, filename: str, params: dict = None):
    """Shared npz-persisted driver state for the streaming sketch ops:
    loads prior state (restart resumes full history), tracks the MAX
    applied epoch (ids are monotonic per Structured Streaming
    checkpoint, so one int gives the same retry-folds-once guarantee as
    a full epoch set at O(1) state instead of O(stream lifetime)), and
    saves atomically per epoch.

    ``params`` (e.g. {"width_bits": 16, "depth": 4} or {"k": 1024,
    "salt": ...}) are persisted alongside the state and VALIDATED on
    reload — resuming a checkpoint with different build parameters
    would silently mis-shape the sketch (a 16-bit CMS table probed with
    14-bit shifts UNDERestimates; a different quantile salt merges two
    incompatible hash orderings).

    Returns ``(loaded, applied_max, save, guard)``."""
    import json as _json
    import os

    import numpy as np

    os.makedirs(checkpoint_dir, exist_ok=True)
    state_path = os.path.join(checkpoint_dir, filename)
    loaded = np.load(state_path) if os.path.exists(state_path) else None
    max_applied = -1
    if loaded is not None:
        if "max_epoch" in loaded.files:
            max_applied = int(loaded["max_epoch"])
        elif "epochs" in loaded.files and len(loaded["epochs"]):
            max_applied = int(loaded["epochs"].max())  # legacy format
        if params and "params" in loaded.files:
            saved = _json.loads(str(loaded["params"]))
            if saved != {k: str(v) for k, v in params.items()}:
                raise ValueError(
                    f"checkpoint at {state_path!r} was built with "
                    f"{saved}, resumed with "
                    f"{ {k: str(v) for k, v in params.items()} } — "
                    "matching parameters are required (a mismatched "
                    "resume silently corrupts the sketch)"
                )
    state = {"max": max_applied}

    def save(**arrays) -> None:
        tmp = state_path + ".tmp"
        extra = {}
        if params:
            extra["params"] = np.array(
                _json.dumps({k: str(v) for k, v in params.items()})
            )
        with open(tmp, "wb") as f:  # file handle: savez appends no suffix
            np.savez(
                f,
                max_epoch=np.int64(state["max"]),
                **extra,
                **arrays,
            )
            # fsync before the rename: Spark fsyncs its commit log, so a
            # power loss after the epoch commits but before the page
            # cache writes back would otherwise leave a truncated state
            # file for an epoch the restart will SKIP — permanently
            # losing its fold (the sketch must never underestimate)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, state_path)
        dfd = os.open(checkpoint_dir, os.O_RDONLY)
        try:  # persist the rename itself
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def guard(fold, after):
        def wrapped(batch_df: DataFrame, epoch_id: int) -> None:
            if epoch_id <= state["max"]:
                return  # epoch retry — already folded
            fold(batch_df, epoch_id)
            state["max"] = int(epoch_id)
            after()

        return wrapped

    return loaded, state, save, guard


# ---------------------------------------------------------------------------
# Streaming frequency sketch: CMS accumulated across micro-batches
# ---------------------------------------------------------------------------


def run_cms_over_stream(
    stream_df: DataFrame,
    key_col: str,
    checkpoint_dir: str,
    *,
    width_bits: int = 16,
    depth: int = 4,
):
    """Accumulate a count-min sketch over a stream of int64 keys — the
    streaming form of :func:`mare_spark.operators.sketches.build_cms`,
    for "is this chunk/gram/url corpus-frequent so far?" questions during
    continuous ingestion, without ever keying state by the (unbounded)
    key set itself.

    Each micro-batch folds into one per-batch sketch on the executors
    (the same zero-shuffle partial build as batch) and merges into a
    driver-held running sketch inside ``foreachBatch`` — sketch size is
    fixed by (width, depth), so state is O(1) in stream length, the
    property that makes frequency tracking viable on an unbounded
    stream where exact per-key state would grow without limit. CMS
    merge is associative/commutative, so batch boundaries don't change
    the result — pinned by the stream-equals-batch test.

    Restart/retry safety (the sketch must NEVER underestimate):
    * the running sketch persists to ``<checkpoint_dir>/cms_state.npz``
      after every epoch (atomic tmp+rename) and reloads at construction,
      so a restarted query resumes full-history counts instead of
      silently starting from zeros while Structured Streaming skips the
      already-committed epochs;
    * the MAX applied epoch id persists with it (epoch ids are monotonic
      per checkpoint, so one int gives the retry-folds-once guarantee at
      O(1) state — see :func:`_sketch_state`), so a foreachBatch RETRY
      of an uncommitted epoch is folded exactly once.

    Returns ``(query, sketch)``: the running sketch object updates in
    place as epochs commit; call ``query.processAllAvailable()`` (tests)
    or poll it live.
    """
    from mare_spark.operators.sketches import CountMinSketch, build_cms

    loaded, _, save, guard = _sketch_state(
        checkpoint_dir, "cms_state.npz",
        params={"width_bits": width_bits, "depth": depth},
    )
    sketch = CountMinSketch(width_bits, depth)
    if loaded is not None:
        sketch.table = loaded["table"].copy()

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        part = build_cms(batch_df, key_col, width_bits=width_bits, depth=depth)
        # merge_bytes invalidates any cached probe broadcast (see the
        # heavy-hitters fold) — a raw += would leave cluster-side
        # cms_probe_expr reads stale
        sketch.merge_bytes(part.table.tobytes())

    q = (
        stream_df.writeStream.foreachBatch(
            guard(fold, lambda: save(table=sketch.table))
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return q, sketch


def run_heavy_hitters_over_stream(
    stream_df: DataFrame,
    key_col: str,
    checkpoint_dir: str,
    *,
    k: int = 20,
    width_bits: int = 16,
    depth: int = 4,
    candidates_per_batch: int = 200,
):
    """Streaming top-k heavy hitters: the classic CMS + candidate-set
    construction. Per micro-batch, (a) the batch's keys fold into the
    running count-min sketch (zero-shuffle partials, O(1) state — see
    run_cms_over_stream) and (b) the batch's exact top
    ``candidates_per_batch`` keys (one keyed aggregate + TakeOrdered on
    batch-sized data) join the candidate set. ``top(k)`` re-estimates
    every candidate against the full-history sketch.

    Why this shape: a key can only become a GLOBAL heavy hitter by being
    frequent in at least one batch (a corpus-wide heavy hitter that is
    never in any batch's top-N needs pathologically many batches), so
    the candidate set stays bounded at batches × N while counts stay
    exact-ish (CMS never underestimates). This is how you track
    boilerplate n-grams / hot URLs on an unbounded crawl without keying
    state by the unbounded gram set.

    Returns ``(query, tracker)``; ``tracker.top(k)`` gives
    [(key, est_count)] best-first at any point.
    """
    import numpy as np

    from mare_spark.operators.sketches import CountMinSketch, build_cms

    class _Tracker:
        def __init__(self):
            self.sketch = CountMinSketch(width_bits, depth)
            self.candidates: set[int] = set()

        def top(self, n: int = k):
            if not self.candidates:
                return []
            # sorted(), not raw set order: the stable argsort breaks
            # estimate TIES by input position, and set iteration order
            # differs between a fresh run (insertion order) and a
            # restart (npz reload) — sorting keys first makes the
            # boundary tie-break (count DESC, key ASC) run-history-
            # independent (r8 review)
            vals = np.fromiter(sorted(self.candidates), dtype=np.int64)
            est = self.sketch.estimate(vals)
            order = np.argsort(-est.astype(np.int64), kind="stable")
            return [
                (int(vals[i]), int(est[i])) for i in order[:n]
            ]

    loaded, _, save, guard = _sketch_state(
        checkpoint_dir, "hh_state.npz",
        params={"width_bits": width_bits, "depth": depth},
    )
    tracker = _Tracker()
    if loaded is not None:
        tracker.sketch.table = loaded["table"].copy()
        tracker.candidates.update(int(c) for c in loaded["candidates"])

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark import StorageLevel

        from mare_spark.cache import cache_scope, persist

        # two consumers (CMS build + exact top-N) — persist so the
        # micro-batch source isn't re-read per action (the scrub fold's
        # own pattern; r8 review)
        with cache_scope():
            batch_df = persist(batch_df, StorageLevel.MEMORY_AND_DISK)
            part = build_cms(
                batch_df, key_col, width_bits=width_bits, depth=depth
            )
            # merge_bytes, never a raw `+=`: the helper invalidates any
            # cached executor broadcast (a live cms_probe_expr would
            # otherwise read stale pre-epoch counts on a real cluster)
            tracker.sketch.merge_bytes(part.table.tobytes())
            top_rows = (
                batch_df.filter(F.col(key_col).isNotNull())  # int(None)
                # would abort the query; build_cms excludes NULLs too
                .groupBy(key_col)
                .count()
                .orderBy(F.desc("count"), F.asc(key_col))
                .limit(candidates_per_batch)
                .collect()
            )
            tracker.candidates.update(int(r[0]) for r in top_rows)

    def _persist() -> None:
        save(
            table=tracker.sketch.table,
            candidates=np.array(sorted(tracker.candidates), dtype=np.int64),
        )

    q = (
        stream_df.writeStream.foreachBatch(guard(fold, _persist))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return q, tracker


def scrub_corpus_stream(
    stream_docs: DataFrame,
    checkpoint_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    chunk_words: int = 8,
    max_freq: int = 2,
    width_bits: int = 16,
    depth: int = 4,
    keep_cols: tuple[str, ...] = (),
):
    """Incremental chunk-level boilerplate scrub over a document stream:
    each micro-batch's chunks fold into the checkpointed running CMS
    first, then the batch is scrubbed against the POST-fold sketch (so a
    banner exceeding ``max_freq`` within one batch, or across history +
    this batch, is caught) and cleaned rows append to ``out_dir``.

    Semantics caveat inherent to ANY streaming dedup: copies of a chunk
    that arrived while its count was still ≤ ``max_freq`` were already
    emitted and are not retracted — early copies survive, later copies
    are scrubbed (the same horizon contract as clean_corpus_stream's
    watermarked dedup). A batch run over the full corpus is the total
    cleanup; this stream keeps a landing corpus continuously mostly-clean
    at O(sketch) state, where exact chunk-frequency state would grow with
    the corpus.

    Restart-safe via the shared checkpointed sketch scaffold; output
    lands in per-epoch hive subdirectories (``out_dir/epoch=<id>``,
    overwrite mode) so a foreachBatch retry replaces rather than
    duplicates its own epoch — read ``out_dir`` as one partitioned table.
    """
    from pyspark import StorageLevel

    from mare_spark.cache import cache_scope, persist
    from mare_spark.operators.corpus import (
        _check_scrub_columns,
        _chunk_explode,
        _chunk_reassemble,
    )
    from mare_spark.operators.sketches import (
        CountMinSketch,
        build_cms,
        cms_probe_expr,
    )

    _check_scrub_columns("scrub_corpus_stream", id_col, text_col, keep_cols)
    loaded, _, save, guard = _sketch_state(
        checkpoint_dir, "scrub_state.npz",
        params={"width_bits": width_bits, "depth": depth,
                "chunk_words": chunk_words, "max_freq": max_freq},
    )
    sketch = CountMinSketch(width_bits, depth)
    if loaded is not None:
        sketch.table = loaded["table"].copy()

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        with cache_scope():
            ex = persist(
                _chunk_explode(batch_df, text_col, id_col, chunk_words,
                               keep_cols)
                .withColumn("chunk_h", F.xxhash64("chunk")),
                StorageLevel.MEMORY_AND_DISK,
            )
            part = build_cms(ex, "chunk_h", width_bits=width_bits, depth=depth)
            # merge_bytes invalidates the cached broadcast so the probe below
            # ships the UPDATED table (raw += left it stale on a cluster)
            sketch.merge_bytes(part.table.tobytes())
            flagged = ex.withColumn(
                "est", cms_probe_expr(F.col("chunk_h"), sketch,
                                      batch_df.sparkSession)
            )
            cleaned = _chunk_reassemble(
                flagged, id_col, keep_cols, F.col("est") <= max_freq
            )
            # Epoch-keyed subdirectory in OVERWRITE mode, not a flat append:
            # a crash after a flat append but before the sketch save would
            # make the restarted query re-run this epoch and append its rows
            # a second time. Overwriting epoch=<id> makes the retry replace
            # its own partial output — the sink is epoch-idempotent like the
            # sketch fold, and readers see the epoch as a hive partition
            # column.
            cleaned.write.mode("overwrite").parquet(
                f"{out_dir}/epoch={int(epoch_id)}"
            )

    q = (
        stream_docs.writeStream.foreachBatch(
            guard(fold, lambda: save(table=sketch.table))
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return q, sketch


class _BottomKSketch:
    """Driver-held mergeable bottom-k sample (the streaming twin of
    ``sketches.quantile_sketch_table``): (md5-hash, value) rows kept
    sorted by hash, trimmed to k. Merge = concat, hash-dedup, re-trim —
    associative, idempotent under epoch retries."""

    def __init__(self, k: int):
        self.k = k
        self.rows: list[tuple[str, float]] = []

    def fold(self, rows) -> None:
        seen = dict(self.rows)
        for h, v in rows:
            # smallest value wins on a hash (id) collision — the same
            # deterministic rule the batch merge applies, so conflicting
            # re-ingestion of an id converges instead of being
            # fold-order-dependent
            if h not in seen or v < seen[h]:
                seen[h] = v
        self.rows = sorted(seen.items())[: self.k]

    def percentile(self, p: float) -> float:
        if not 0.0 < p <= 1.0:
            raise ValueError(f"p must be in (0, 1], got {p}")
        if not self.rows:
            raise ValueError("empty sketch")
        vals = sorted(v for _h, v in self.rows)
        import math

        return vals[max(1, math.ceil(p * len(vals))) - 1]


def run_quantile_sketch_over_stream(
    stream_df: DataFrame,
    value_col: str,
    id_col: str,
    checkpoint_dir: str,
    *,
    k: int = 1024,
    salt: str = "",
):
    """Accumulate a bottom-k quantile sample over a stream — latency /
    size / score distributions during continuous ingestion with O(k)
    state, the same exact-merge deterministic sample as the batch
    ``quantile_sketch_table`` (pinned equal by test: any epoch slicing
    of the same rows converges to the identical sketch).

    Per micro-batch the executors take the batch's bottom-k by
    ``md5(id:salt)`` (a TakeOrdered — per-partition heaps, no global
    sort) and the k rows fold into the driver-held sketch inside
    ``foreachBatch``. Same restart/retry contract as the CMS op: state
    persists per epoch (atomic tmp+rename) and reloads at construction;
    retried epochs fold idempotently (hash dedup makes double-folds
    harmless anyway). Returns ``(query, sketch)``; read
    ``sketch.percentile(p)`` as epochs commit."""
    import numpy as np

    loaded, _, save, guard = _sketch_state(
        checkpoint_dir, "quantile_state.npz",
        params={"k": k, "salt": salt},
    )
    sketch = _BottomKSketch(k)
    if loaded is not None:
        sketch.rows = [
            (str(h), float(v))
            for h, v in zip(loaded["hashes"], loaded["values"])
        ]

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        from mare_spark.operators.sketches import bottomk_hash

        rows = (
            batch_df.filter(
                F.col(id_col).isNotNull() & F.col(value_col).isNotNull()
            )
            .select(
                bottomk_hash(id_col, salt).alias("h"),
                F.col(value_col).cast("double").alias("v"),
            )
            # dedup per hash BEFORE the trim (min v — the shared
            # smallest-value-wins rule): a duplicate id with CONFLICTING
            # values in one batch would otherwise burn two of the k row
            # slots and evict a hash that a different epoch slicing of
            # the same rows keeps, breaking the "any slicing converges
            # to the identical sketch" contract at the k boundary
            # (r8 review finding; the batch build dedups the same way).
            .groupBy("h")
            .agg(F.min("v").alias("v"))
            .orderBy("h")
            .limit(k)
            .collect()
        )
        sketch.fold([(r.h, r.v) for r in rows])

    def persist() -> None:
        save(
            hashes=np.array([h for h, _ in sketch.rows], dtype="<U32"),
            values=np.array([v for _, v in sketch.rows], dtype=np.float64),
        )

    q = (
        stream_df.writeStream.foreachBatch(guard(fold, persist))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    return q, sketch
