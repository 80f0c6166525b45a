"""Batch-expressible views of the streaming operators (SURVEY §2B streaming
row) — the SAME windowing expressions the streaming module uses, run in
batch mode so the DuckDB oracle can check them. Streaming execution of these
operators (watermarks, late-data drop, incremental state) is verified by the
batch-equivalence tests in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mare_spark.queries._decimal import VALUE4, davg, dsum, fround
from mare_spark.registry import register
from mare_spark.tables import read_table


@register(
    "events_tumbling_window",
    category="streaming",
    bench=True,
    oracle="""
    SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           count(*) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM events
    -- Spark's F.window injects isnotnull(ts) — a NULL-ts event would
    -- otherwise form a NULL window on this side only (r8 review; the
    -- session-window oracle already guards this)
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute counts/sums per event_type (batch view of
    streaming.tumbling_counts)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", VALUE4).alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


@register(
    "events_sliding_window",
    category="streaming",
    oracle="""
    WITH shifted AS (
      SELECT time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS b0,
             event_type, value
      -- Spark's F.window drops NULL-ts rows implicitly (r8 review)
      FROM events WHERE ts IS NOT NULL
    ),
    assigned AS (
      SELECT b0 AS window_start, event_type, value FROM shifted
      UNION ALL
      SELECT b0 - INTERVAL '5 minutes' AS window_start, event_type, value FROM shifted
    )
    SELECT window_start, event_type,
           (floor(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                  / count(value) * 10000.0 + 0.5) / 10000.0)
             AS avg_value,
           count(*) AS n
    FROM assigned
    GROUP BY 1, 2
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10-minute/5-minute average value per event_type. Each event
    belongs to exactly two windows (window/slide = 2) — the oracle assigns
    them explicitly via the two covering bucket starts."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(davg("value", VALUE4).alias("avg_value"), F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "avg_value", "n")
    )


# ONE gaps-and-islands text shared by the batch session-window row AND the
# live streaming replay (their equivalence claim is only as strong as the
# oracle texts being identical — a shared constant enforces it)
_SESSION_WINDOW_SQL = """
    WITH g AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN CAST(ts AS TIMESTAMP)
                       - lag(CAST(ts AS TIMESTAMP))
                         OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '1 hour'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      -- Spark's session_window DROPS NULL event times (TimeWindowing
      -- injects an isnotnull filter); the oracle must too, or a NULL-ts
      -- row folds into an existing session on this side only
      WHERE ts IS NOT NULL
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT min(ts)                         AS session_start,
           max(ts) + INTERVAL '1 hour'     AS session_end,
           user_id,
           count(*)                        AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM s
    GROUP BY user_id, session_id
"""


@register(
    "events_session_window",
    category="streaming",
    oracle=_SESSION_WINDOW_SQL,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (1-hour gap; end = last event + gap) —
    batch view of streaming.session_aggregate. The oracle derives sessions
    with the classic lag/gap-cumsum construction."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", VALUE4).alias("total"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total",
        )
    )


@register(
    "events_sessionize",
    category="streaming",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      -- NULL event times are excluded on BOTH sides: Spark windows sort
      -- them FIRST, DuckDB LAST, so they would land in different
      -- sessions engine-to-engine; a NULL-ts event has no session
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM o
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events, min(ts) AS session_start,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM s GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with explicit session ids — the gaps-and-islands
    construction (lag → new-session flag → running sum) expressed on the
    DataFrame API, 30-minute gap. Unlike the session_window views, each
    session carries a stable per-user ordinal, which downstream joins can
    key on. One shuffle on user_id; both windows share it."""
    from pyspark.sql.window import Window

    e = read_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()  # see the oracle's NULL-ts note
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(
        F.lag("ts").over(w).isNull() | (gap > 1800), 1
    ).otherwise(0)
    s = e.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        dsum("value", VALUE4).alias("total"),
    )


@register(
    "events_user_anomalies",
    category="relational",
    oracle="""
    WITH s AS (
      SELECT user_id, value,
             CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sv,
             CAST(sum(CAST(value AS DECIMAL(18,4))
                      * CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sq,
             count(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id)
    ),
    z AS (
      SELECT user_id, n, sv / n AS mean,
             CASE WHEN n > 1 AND (sq - sv * sv / n) / (n - 1) > 0
                  THEN (value - sv / n)
                       / sqrt((sq - sv * sv / n) / (n - 1))
             END AS zscore
      FROM s
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           (floor(mean * 10000.0 + 0.5) / 10000.0) AS mean_value,
           CAST(sum(CAST(abs(zscore) > 2 AS BIGINT)) AS BIGINT) AS n_anomalies,
           (floor(max(abs(zscore)) * 10000.0 + 0.5) / 10000.0) AS max_abs_z
    FROM z GROUP BY user_id, n, mean
    """,
)
def events_user_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user anomaly report: event count, mean value, events beyond 2
    sample standard deviations, and the largest |z| — the batch form of a
    streaming outlier monitor.

    Hash-stable variance: the sums feeding mean/variance are DECIMAL
    (exact, order-independent — the _decimal.py convention applied to
    second moments: value is a 4dp fixture column, so value² is exact at
    8dp), cast to double only for the final arithmetic, which is then the
    identical IEEE expression on both engines. Degenerate cases are
    guarded explicitly (n = 1, zero variance → z undefined/NULL) because
    the engines disagree on NaN ordering (DuckDB sorts NaN above all
    numbers; Spark comparisons return false) — a 0/0 must never reach a
    comparison.

    One shuffle: the per-user window hash-partitions on user_id and the
    final groupBy reuses that partitioning (no second exchange).
    """
    from pyspark.sql.window import Window

    e = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    v4 = F.col("value").cast("decimal(18,4)")
    sv = F.sum(v4).over(w).cast("double")
    sq = F.sum(v4 * v4).over(w).cast("double")
    n = F.count("*").over(w)
    mean = sv / n
    var = (sq - sv * sv / n) / (n - 1)
    z = F.when((n > 1) & (var > 0), (F.col("value") - mean) / F.sqrt(var))
    scored = e.select(
        "user_id",
        n.alias("n"),
        mean.alias("mean"),
        z.alias("zscore"),
    )
    return (
        scored.groupBy("user_id", "n", "mean")
        .agg(
            F.sum((F.abs("zscore") > 2).cast("bigint")).alias("n_anomalies"),
            fround(F.max(F.abs("zscore")), 4).alias("max_abs_z"),
        )
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            fround("mean", 4).alias("mean_value"),
            "n_anomalies",
            "max_abs_z",
        )
    )


@register(
    "events_funnel",
    category="streaming",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT 'step1_view' AS step, count(*) AS n_users FROM v
    UNION ALL SELECT 'step2_click_after_view', count(*) FROM c
    UNION ALL SELECT 'step3_purchase_after_click', count(*) FROM p
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): a user
    advances a step only with a LATER event of the next type — the
    classic product-analytics sequence query. Each step is one keyed
    aggregate joined to the previous step's first-reach time; counts are
    integers, so the result is trivially hash-stable.

    Scale: three filtered aggregates on user_id, each join co-keyed on
    the same column — one partitioning reused end-to-end; step tables
    only shrink."""
    e = read_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )

    def step(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(label).alias("step"), "n_users"
        )

    return (
        step(v, "step1_view")
        .unionAll(step(c, "step2_click_after_view"))
        .unionAll(step(p, "step3_purchase_after_click"))
    )


@register(
    "streaming_heavy_hitters_replay",
    category="streaming",
    oracle="""
    SELECT user_id, count(*) AS est_count
    FROM events
    -- the streaming fold and the CMS both exclude NULL keys; a NULL
    -- group here could reach the top-k on this side only
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    ORDER BY est_count DESC, user_id
    LIMIT 20
    """,
)
def streaming_heavy_hitters_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming execution checked against the exact batch answer:
    the events table is split into files, replayed through the file-source
    stream one file per micro-batch, and folded into the streaming CMS +
    candidate-set heavy-hitters tracker
    (:func:`mare_spark.streaming.run_heavy_hitters_over_stream`). The
    tracker's final ``top(k)`` re-estimates every candidate against the
    full-history sketch; the DuckDB oracle is the exact groupBy top-k.

    Why the sketch answer can hash-match an EXACT oracle: CMS only
    overestimates when a key collides with another key in EVERY depth row
    — with width 2^18 and depth 4 over the fixture's key cardinality the
    collision probability is ~1e-9 per key (and the sketch is
    deterministic, so a local green run stays green). The candidate cap
    is set above the per-batch distinct-key count, so the candidate set
    is the full key set and top-k misses nothing. Boundary ties break on
    (count DESC, user_id ASC) on both sides.

    Scale story: per batch the sketch partial is a zero-shuffle
    mapInArrow fold (state O(width x depth), not O(keys)); only the
    candidate-set refresh pays one keyed aggregate on batch-sized data.
    This is the driver-visible row for the streaming-sketch family — the
    batch-equivalence and restart/retry-exactly-once properties are
    pinned in tests/test_streaming.py.
    """
    import shutil
    import tempfile

    from mare_spark.streaming import run_heavy_hitters_over_stream

    k = 20
    scratch = tempfile.mkdtemp(prefix="mare_hh_replay_")
    try:
        landing = f"{scratch}/landing"
        # Split the table into 4 files -> 4 micro-batches. The CMS fold is
        # associative/commutative and the candidate cap exceeds any batch's
        # distinct-key count, so the split itself cannot change the answer.
        read_table(spark, sf_dir, "events").select("user_id").repartition(
            4
        ).write.parquet(landing)
        stream = (
            spark.readStream.schema("user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q, tracker = run_heavy_hitters_over_stream(
            stream,
            "user_id",
            f"{scratch}/ckpt",
            k=k,
            width_bits=18,
            candidates_per_batch=1_000_000,
        )
        try:
            q.processAllAvailable()
        finally:
            # an orphaned query would keep erroring against the
            # rmtree'd scratch dir for the rest of the session
            q.stop()
        rows = tracker.top(len(tracker.candidates))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    out = spark.createDataFrame(rows, "user_id long, est_count long")
    return out.orderBy(F.desc("est_count"), F.asc("user_id")).limit(k)


@register(
    "streaming_sessionize_replay",
    category="streaming",
    oracle=_SESSION_WINDOW_SQL,
)
def streaming_sessionize_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming sessionization checked against the exact batch
    answer: the events table is range-split on ``ts`` into 4 files,
    replayed through the file-source stream one file per micro-batch, and
    session-windowed by :func:`mare_spark.streaming.session_aggregate`
    (1-hour gap). Sessions that straddle a file boundary must merge
    across micro-batches through Spark's session-window state store —
    that cross-batch merge is exactly what this row proves; a session
    computed per-batch would fragment and hash-fail.

    Why a streaming run can hash-match an EXACT oracle: the watermark is
    set beyond the fixture's time span, so no row is ever late-dropped,
    and the memory sink runs in COMPLETE mode, so the final emission
    carries every session including ones a real deployment would still
    hold open. The DuckDB oracle is the classic gaps-and-islands
    construction (lag → new-session flag → running sum), identical to
    the green ``events_session_window`` batch row.

    Scale story: session_window state is per-user and watermark-bounded
    in production (the huge watermark here is the equivalence harness,
    not the deployment setting); the aggregation shuffles once on
    user_id per micro-batch, and the state store holds only open
    sessions. Restart/exactly-once properties of the streaming tier are
    pinned in tests/test_streaming.py.
    """
    import shutil
    import tempfile
    import uuid

    from mare_spark import streaming as S

    scratch = tempfile.mkdtemp(prefix="mare_sess_replay_")
    try:
        landing = f"{scratch}/landing"
        # time-range split: sessions crossing the 4 range boundaries can
        # only be recovered by cross-batch session-window state merging.
        # The cut points are fixed by the table's ts span and the files
        # land one after another (the stream replays them in mtime
        # order), so every run replays the same files in the same order:
        # each micro-batch's watermark literal repeats and a warm run
        # compiles nothing.
        events = read_table(spark, sf_dir, "events")
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        lo, hi = events.agg(F.min(us), F.max(us)).first()
        lo, hi = (lo, hi) if lo is not None else (0, 0)
        # NULL-ts rows go to the first file: the split drops no row
        part = F.coalesce(((us - lo) * 4 / (hi - lo + 1)).cast("int"), F.lit(0))
        for i in range(4):
            events.filter(part == i).coalesce(1).write.mode("append").parquet(
                landing
            )
        stream = S.session_aggregate(
            S.read_events_stream(spark, landing),
            gap="1 hour",
            watermark="3650 days",  # never late-drop: exact-equivalence run
        )
        name = "sess_replay_" + uuid.uuid4().hex[:8]
        q = S.run_to_memory_sink(stream, name, "complete")
        try:
            rows = spark.sql(f"SELECT * FROM {name}").collect()
        finally:
            q.stop()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "session_start timestamp, session_end timestamp, user_id long, "
        "n_events long, total double",
    )


@register(
    "events_cohort_retention",
    category="streaming",
    oracle="""
    WITH f AS (
      SELECT user_id,
             date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id,
             date_trunc('week', ts) AS active_week
      FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS INT)
             AS week_offset,
           count(*) AS n_active_users
    FROM a JOIN f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their first
    event, counted in each subsequent week they were active — the
    engagement-decay triangle. Week arithmetic is exact integer day
    differences over Monday-truncated timestamps (both engines truncate
    weeks to Monday midnight), so every output cell is an integer.

    Scale: one aggregate for first-touch, one distinct on (user, week),
    one join co-keyed on user_id, one final aggregate — all standard
    keyed shuffles on uniform keys."""
    e = read_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    a = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    return (
        a.join(f, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active_users"))
    )


@register(
    "streaming_quantile_replay",
    category="streaming",
    oracle="""
    WITH d AS (
      -- dedup per hash before the trim (min value per hash), mirroring
      -- the r8 dedup-before-trim fix in the fold; a no-op on the
      -- fixture's unique event_ids but the semantics must match
      SELECT md5(CAST(event_id AS VARCHAR) || ':') AS h,
             min(value) AS value
      FROM events
      -- the sketch fold filters NULL ids/values; a NULL value in the
      -- bottom-256 would otherwise ride list_sort to the tail here
      WHERE event_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    ),
    s AS (
      SELECT value, row_number() OVER (ORDER BY h) AS rn FROM d
    ),
    v AS (SELECT list_sort(list(value)) AS vals FROM s WHERE rn <= 256)
    SELECT CAST(p AS DOUBLE) AS p,
           vals[greatest(1, CAST(ceil(CAST(p AS DOUBLE) * len(vals))
                                 AS BIGINT))] AS qvalue,
           CAST(len(vals) AS INT) AS sample_rows
    FROM v, (VALUES (0.1), (0.25), (0.5), (0.75), (0.9), (0.99)) AS ps(p)
    """,
)
def streaming_quantile_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL streaming quantile-sketch execution checked against the
    exact batch answer: the events table is split into 4 files, replayed
    through the file-source stream one file per micro-batch, and folded
    into the driver-held bottom-k sample
    (:func:`mare_spark.streaming.run_quantile_sketch_over_stream`);
    the final sketch's percentile reads are the row set.

    Why a streaming run can hash-match an EXACT oracle: the bottom-k
    sample is a DETERMINISTIC sample — membership is "the k smallest
    md5(id:salt) hashes over the whole history", a pure function of the
    data that any epoch slicing converges to because bottom-k merges are
    exact (the same property the batch ``events_quantile_sketch`` row
    pins). The oracle replays the sample read as one global bottom-k;
    both sides take vals[max(1, ceil(p·n))] on the identical sorted
    sample, so every percentile is the identical double.

    Scale story: per micro-batch the executors take the batch's
    bottom-k with a TakeOrdered (per-partition heaps, no global sort)
    and ship exactly k rows to the driver fold — state is O(k), not
    O(stream). Restart/retry-idempotence of the sketch state is pinned
    in tests/test_streaming.py.
    """
    import shutil
    import tempfile

    from mare_spark.streaming import run_quantile_sketch_over_stream

    scratch = tempfile.mkdtemp(prefix="mare_qs_replay_")
    try:
        landing = f"{scratch}/landing"
        # 4 files -> 4 micro-batches; the fold is associative/idempotent
        # so the split cannot change the converged sketch
        read_table(spark, sf_dir, "events").select(
            "event_id", "value"
        ).repartition(4).write.parquet(landing)
        stream = (
            spark.readStream.schema("event_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q, sketch = run_quantile_sketch_over_stream(
            stream, "value", "event_id", f"{scratch}/ckpt", k=256
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        n = len(sketch.rows)
        rows = [
            (p, sketch.percentile(p), n)
            for p in (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
        ]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(rows, "p double, qvalue double, sample_rows int")
