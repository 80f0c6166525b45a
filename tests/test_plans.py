"""Physical-plan assertions: the 100 TB posture, checked in CI rather than
eyeballed. A plan regression (lost pushdown, broadcast flipping to shuffle,
global sort sneaking in) fails here before it costs anything at scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from mare_spark import plans as P
from mare_spark.queries.relational import (
    q1_pricing_summary,
    q5_local_supplier_volume,
    q_orderby_limit,
)
from mare_spark.tables import read_table
from tests.conftest import SF_ORACLE


def test_q1_filter_pushed_to_scan(spark):
    df = q1_pricing_summary(spark, SF_ORACLE)
    assert P.has_pushed_filter(df, "l_shipdate"), P.formatted_plan(df)


def test_q1_column_pruning(spark):
    df = q1_pricing_summary(spark, SF_ORACLE)
    (cols,) = P.read_schema_columns(df)
    # 7 referenced columns, not all 11
    assert set(cols) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }, cols


def test_q5_broadcasts_fixed_dims(spark):
    df = q5_local_supplier_volume(spark, SF_ORACLE)
    # nation + region are broadcast (hinted); supplier is small enough that
    # Catalyst broadcasts it too — at minimum the two hinted ones are there.
    assert P.count_broadcast_joins(df) >= 2, P.formatted_plan(df)


def test_orderby_limit_is_take_ordered_not_global_sort(spark):
    df = q_orderby_limit(spark, SF_ORACLE)
    assert P.uses_take_ordered(df), P.formatted_plan(df)


def test_scan_side_filter_keeps_codegen(spark):
    li = read_table(spark, SF_ORACLE, "lineitem").filter(F.col("l_quantity") > 30)
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    # node-scoped (r8 review): the old any-stage check passed as long as
    # the SCAN codegens, even with the hot aggregate on CodegenFallback
    assert P.codegen_covers(agg, "HashAggregate")


def test_projection_prunes_scan(spark):
    li = read_table(spark, SF_ORACLE, "lineitem").select("l_orderkey", "l_quantity")
    (cols,) = P.read_schema_columns(li)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_q6_pushes_all_predicates(spark):
    """Q6 is pure scan+filter+agg: every predicate must reach PushedFilters
    and the plan must have exactly one exchange (the final combine)."""
    from mare_spark.queries.relational2 import q6_revenue_change

    df = q6_revenue_change(spark, SF_ORACLE)
    assert P.has_pushed_filter(df, "l_shipdate")
    assert P.has_pushed_filter(df, "l_discount")
    assert P.has_pushed_filter(df, "l_quantity")
    assert P.count_shuffle_exchanges(df) <= 1, P.formatted_plan(df)


def test_dedup_exact_single_shuffle(spark):
    """Exact dedup = one exchange on the digest, nothing else."""
    from mare_spark.operators.dedup import exact_dedup
    from mare_spark.tables import read_table

    docs = read_table(spark, SF_ORACLE, "documents")
    df = exact_dedup(docs, "text", "doc_id")
    assert P.count_shuffle_exchanges(df) == 1, P.formatted_plan(df)


def test_tumbling_window_single_shuffle(spark):
    from mare_spark.queries.streaming_batch import events_tumbling_window

    df = events_tumbling_window(spark, SF_ORACLE)
    assert P.count_shuffle_exchanges(df) == 1, P.formatted_plan(df)


def test_asof_join_single_shuffle_per_side(spark):
    """The as-of composition is union + one window: exactly one hash
    exchange on the by-key (plus none hidden elsewhere)."""
    from mare_spark.operators.asof import asof_join
    from mare_spark.tables import read_table
    from pyspark.sql import functions as F

    e = read_table(spark, SF_ORACLE, "events")
    p = e.filter(F.col("event_type") == "purchase").select("user_id", "event_id", "ts", "value")
    v = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    df = asof_join(p, v, on="ts", by="user_id", right_cols=["value"])
    assert P.count_shuffle_exchanges(df) == 1, P.formatted_plan(df)


def test_q10_take_ordered_and_pushed_filters(spark):
    """Q10's LIMIT 20 must be a per-partition heap (TakeOrderedAndProject),
    never a global sort, and both scan-side filters must reach parquet."""
    from mare_spark.queries.relational4 import q10_returned_item_reporting

    df = q10_returned_item_reporting(spark, SF_ORACLE)
    assert P.uses_take_ordered(df), P.formatted_plan(df)
    assert P.has_pushed_filter(df, "l_returnflag"), P.formatted_plan(df)
    assert P.has_pushed_filter(df, "o_orderdate"), P.formatted_plan(df)


def test_q9_broadcasts_nation_and_prunes_part(spark):
    from mare_spark.queries.relational4 import q9_product_type_profit

    df = q9_product_type_profit(spark, SF_ORACLE)
    assert P.count_broadcast_joins(df) >= 1, P.formatted_plan(df)
    # part scan must read only the columns the query touches
    for cols in P.read_schema_columns(df):
        if "p_name" in cols:
            assert set(cols) <= {"p_partkey", "p_name", "p_retailprice"}, cols


def test_ivf_indexed_probe_prunes_partitions(spark, tmp_path):
    """With ivf_cell as a partition column, the probe must be a
    partition-pruned scan: PartitionFilters on ivf_cell, only nprobe/nlist
    of the cell directories read — the 100 TB probe story, demonstrated."""
    from mare_spark.operators.similarity import (
        ivf_topk_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )
    from mare_spark.tables import read_table

    emb = read_table(spark, SF_ORACLE, "embeddings")
    centroids = train_ivf_centroids(emb, nlist=8)
    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, path, centroids)

    q = emb.select("embedding").head()[0]
    probe = ivf_topk_indexed(spark, path, centroids, list(q), k=5, nprobe=2)
    plan = P.formatted_plan(probe)
    assert "PartitionFilters" in plan, plan
    # the probe predicate must be a partition filter (listing-time pruning),
    # not a post-scan data filter
    pf_section = plan.split("PartitionFilters")[1].split("]")[0]
    assert "ivf_cell" in pf_section and "IN" in pf_section, plan
    assert probe.count() == 5
    # after execution the scan metric confirms only the probed cells' files
    # were opened (8 cells written, nprobe=2 read)
    leaves = probe._jdf.queryExecution().executedPlan().collectLeaves()
    n_files = None
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numFiles"):
            n_files = m.apply("numFiles").value()
            break
    assert n_files is not None
    total_files = len(spark.read.parquet(path).inputFiles())
    assert n_files < total_files, (n_files, total_files)


def test_q20_semi_join_after_aggregate(spark):
    """The IN-subquery is planned as a semi join onto the aggregated
    qualifying set — no full join materializing lineitem against supplier."""
    from mare_spark.queries.relational4 import q20_promo_volume_suppliers

    df = q20_promo_volume_suppliers(spark, SF_ORACLE)
    plan = P.formatted_plan(df)
    assert "LeftSemi" in plan, plan


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval side must be broadcast (benchmarks are MBs): both the gram
    semi-join and the final anti-join stay broadcast — the 100 TB corpus is
    scanned, never shuffled, and no nested-loop join appears."""
    from mare_spark.queries.llm2 import decontaminate_vs_eval

    df = decontaminate_vs_eval(spark, SF_ORACLE)
    plan = P.formatted_plan(df)
    assert P.count_broadcast_joins(df) >= 1, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pack_sequences_single_shuffle(spark):
    """Packing = one exchange on the group key + one windowed running sum."""
    from mare_spark.queries.llm2 import pack_training_sequences

    df = pack_training_sequences(spark, SF_ORACLE)
    assert P.count_shuffle_exchanges(df) == 1, P.formatted_plan(df)


def test_repetition_stats_no_shuffle(spark):
    """Repetition signals are scan-side expression code: zero exchanges."""
    from mare_spark.queries.llm2 import text_repetition_stats

    df = text_repetition_stats(spark, SF_ORACLE)
    assert P.count_shuffle_exchanges(df) == 0, P.formatted_plan(df)
    # column pruning reaches the scan unless another test has cached the
    # full table (InMemoryRelation hides the parquet scan's ReadSchema)
    if "InMemoryRelation" not in P.formatted_plan(df):
        (cols,) = P.read_schema_columns(df)
        assert set(cols) == {"doc_id", "text"}, cols


# Queries whose plans legitimately contain a nested-loop/cartesian join:
# an intentional cross join, theta-joins (range/band predicates), and the
# small-N exact embedding tier (guarded: large inputs route through LSH).
_NESTED_LOOP_OK = {
    "q_join_cross",
    "q_join_range_band",
    "q_asof_join",
    "dedup_embedding_cosine",
    "sim_filtered_topk",  # scalar query-vector broadcast into the gate
    "q_subquery_above_avg",  # scalar subquery joins as a 1-row broadcast
    "q22_idle_wealthy_customers",  # scalar avg-balance threshold, 1-row broadcast
    "text_tfidf_keywords",  # scalar corpus-size (n_docs), 1-row broadcast
    "text_unigram_logprob",  # scalar token-total normalizer, 1-row broadcast
    "corpus_dsir_weights",  # two scalar corpus-total normalizers, 1-row broadcasts
    "sample_dsir_gumbel",  # same weight pipeline, same scalar broadcasts
    "embedding_covariance",  # scalar vector-count normalizer, 1-row broadcast
    "text_bigram_logprob",  # scalar token-total normalizer, 1-row broadcast
    "sim_hard_negatives",  # exact all-pairs tier (scale tier: the IVF block)
}


def test_no_accidental_cartesian_joins(spark):
    """Registry-wide plan audit: no registered query may plan a
    BroadcastNestedLoopJoin or CartesianProduct unless it is on the
    explicit allowlist — at 100 TB an accidental nested-loop join is the
    difference between a job and an outage."""
    from mare_spark.registry import all_queries
    from tests.conftest import SF_SMOKE

    offenders = {}
    for name, q in all_queries().items():
        try:
            plan = P.formatted_plan(q.fn(spark, SF_SMOKE))
        except Exception as e:  # plan construction only; execution untested here
            offenders[name] = f"plan construction failed: {e}"
            continue
        if name in _NESTED_LOOP_OK:
            continue
        if "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan:
            offenders[name] = "nested-loop/cartesian join in plan"
    assert not offenders, offenders


# -- corpus-audit family (round 3) ------------------------------------------

def test_heavy_hitters_topk_is_take_ordered(spark):
    """Top-k heavy hitters must plan TakeOrderedAndProject — a global sort
    of the full n-gram frequency table would materialize billions of rows
    at corpus scale just to keep 25."""
    from mare_spark.queries.llm3 import corpus_ngram_heavy_hitters

    df = corpus_ngram_heavy_hitters(spark, SF_ORACLE)
    plan = P.formatted_plan(df)
    assert P.uses_take_ordered(df), plan
    # one KEYED shuffle: the gram aggregate (TakeOrdered is not an
    # exchange); a narrow fixture scan additionally fans out round-robin
    # before the Counter UDF (r9 — no-op on an at-scale wide scan)
    import re

    assert len(re.findall(r"hashpartitioning", plan)) == 1, plan
    assert len(re.findall(r"RoundRobinPartitioning", plan)) <= 1, plan


def test_length_histogram_window_after_aggregate(spark):
    """The per-group share window must run over the aggregated
    (groups x buckets) result — 2 keyed shuffles total, never a window
    over raw documents."""
    from mare_spark.queries.llm3 import corpus_length_histogram

    df = corpus_length_histogram(spark, SF_ORACLE)
    assert P.count_shuffle_exchanges(df) <= 2, P.formatted_plan(df)


def test_tfidf_scalar_broadcast_and_topk_pushdown(spark):
    """The corpus-size scalar must enter as a 1-row broadcast, never via a
    global (empty-partition) window: the only SinglePartition exchange
    allowed is the scalar count's own final combine (32 partial rows).
    The per-doc top-k must plan WindowGroupLimit (rank-filter pushdown),
    so partitions keep only k rows per doc before the window shuffle."""
    from mare_spark.queries.llm3 import text_tfidf_keywords

    plan = P.formatted_plan(text_tfidf_keywords(spark, SF_ORACLE))
    assert plan.count("SinglePartition") <= 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_user_anomalies_single_shuffle(spark):
    """The per-user window hash-partitions on user_id; the final groupBy
    (user_id + derived keys) must reuse that partitioning — exactly one
    exchange end-to-end."""
    from mare_spark.queries.streaming_batch import events_user_anomalies

    df = events_user_anomalies(spark, SF_ORACLE)
    assert P.count_shuffle_exchanges(df) == 1, P.formatted_plan(df)


def test_quality_classifier_zero_shuffle_interpreted_hof(spark):
    """The hashed linear classifier is a zero-exchange single pass, but
    its Project CANNOT whole-stage-codegen: ``F.aggregate`` (all
    higher-order functions) is CodegenFallback in Spark, so the scoring
    Project runs interpreted. Pin BOTH facts: if Spark ever codegens
    HOFs, the second assert flips and the claim can be upgraded (a
    ``codegen_covers(df, "Project")`` assert is structurally
    unsatisfiable today)."""
    from mare_spark.operators.corpus import hashed_quality_classifier

    docs = read_table(spark, SF_ORACLE, "documents")
    df = hashed_quality_classifier(docs, "text", "doc_id")
    assert P.count_shuffle_exchanges(df) == 0, P.formatted_plan(df)
    # the scan side still codegens; the HOF Project deliberately doesn't
    assert P.has_whole_stage_codegen(df)
    assert not P.codegen_covers(df, "Project")


def test_zorder_value_project_codegens(spark):
    """COVERAGE's 'pure bitwise codegen' claim for the Morton interleave,
    node-scoped: the z-value Project (shiftleft/or/least — all built-in
    expressions, no HOFs) must sit INSIDE a WholeStageCodegen stage."""
    from mare_spark.operators.scale import zorder_value

    docs = read_table(spark, SF_ORACLE, "documents")
    df, zcol = zorder_value(docs, ["doc_id", "n_chars"], bits_per_col=8)
    assert P.codegen_covers(df.select(zcol), "Project"), P.formatted_plan(df)


def test_repeated_chunk_scrub_shuffle_budget(spark):
    """Chunk scrub is exactly 2 KEYED exchanges — the narrow digest
    partials into the frequency aggregate and the doc-id reassembly; the
    hot-head flag joins back as a broadcast, so the exploded chunks are
    never exchanged on the digest. A narrow fixture scan additionally
    fans out round-robin before the interpreted chunk transform (r9 —
    no-op on an at-scale wide scan), so the budget is 2 hash exchanges
    plus at most one RoundRobin."""
    import re

    from mare_spark.operators.corpus import repeated_chunk_scrub

    docs = read_table(spark, SF_ORACLE, "documents")
    df = repeated_chunk_scrub(docs, "text", "doc_id")
    plan = P.formatted_plan(df)
    assert len(re.findall(r"hashpartitioning", plan)) == 2, plan
    # the static plan prints the fan-out once per consuming branch (the
    # subtrees are canonically identical, so the runtime plan reuses ONE
    # exchange); only its keyed exchanges may not grow
    assert len(re.findall(r"RoundRobinPartitioning", plan)) <= 2, plan


def test_samplers_single_shuffle(spark):
    """Both deterministic samplers cost exactly one keyed exchange (the
    per-group window) — same budget as pack_sequences."""
    from mare_spark.operators.corpus import (
        group_fixed_k_sample,
        token_budget_sample,
    )

    docs = read_table(spark, SF_ORACLE, "documents")
    k = group_fixed_k_sample(docs, "doc_id", group_col="lang", k=5)
    b = token_budget_sample(
        docs, "text", "doc_id", group_col="lang", budget_tokens=1000
    )
    assert P.count_shuffle_exchanges(k) == 1, P.formatted_plan(k)
    assert P.count_shuffle_exchanges(b) == 1, P.formatted_plan(b)


def test_frequency_caps_never_window_a_content_digest(spark):
    """Zipf skew safety (round 4): content-digest frequencies are Zipfian,
    and WindowExec must colocate a partition key's every row in one task —
    AQE cannot split a window partition the way it skew-splits a shuffled
    join. So the frequency-cap family must never plan a Window over a
    chunk/fingerprint/prefix/gram digest: the cap is a partial-combined
    aggregate whose >cap HEAD joins back (broadcast or skew-splittable).
    These four plans must contain no Window operator at all."""
    from mare_spark.registry import all_queries
    from tests.conftest import SF_SMOKE

    qs = all_queries()
    for name in (
        "text_chunk_dedup",
        "text_ngram_novelty",
        "dedup_substring_candidates",
        "dedup_edit_distance",
    ):
        plan = P.formatted_plan(qs[name].fn(spark, SF_SMOKE))
        assert "Window" not in plan, (name, plan)


def test_jaccard_windows_are_cap_bounded_only(spark):
    """ngram_jaccard_pairs keeps exactly ONE window, with bounded
    partitions: the PPJoin prefix row_number per doc (groups = shingles
    per doc). The hot-head drop + df_freq annotation is a single inner
    join against the ≤cap frequency aggregate (r9: replaced the
    LeftAnti-then-recount-window shape — groups are ≤ cap by
    construction, so the join is skew-safe and the shingle window's
    second exchange + sort are gone). A count window over the raw
    shingle would funnel a Zipf-hot digest into one task; none may
    appear."""
    import re

    from mare_spark.cache import cache_scope
    from mare_spark.operators.dedup import ngram_jaccard_pairs

    docs = read_table(spark, SF_ORACLE, "documents")
    # exit the scope (unpersist) FIRST so no subtree renders as
    # InMemoryRelation and the window specs are always visible in the
    # formatted plan
    with cache_scope():
        pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
    plan = P.formatted_plan(pairs)
    # Node counts vary with cache substitution (persisted subtrees render
    # as InMemoryRelation or inline depending on suite order), so assert
    # the order-independent invariants only: every window partitions by
    # the doc id — never a shingle/digest — and the cap is applied as a
    # df_freq filter on the aggregate (join-back), not as a window.
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and set(specs) <= {"doc"}, specs
    assert "df_freq" in plan, plan
    assert "LeftAnti" not in plan, plan


def test_fixed_k_sampler_plans_two_phase_group_limit(spark):
    """The row_number() <= k filter must trigger Catalyst's two-phase
    WindowGroupLimit: a partial limit BEFORE the exchange keeps at most k
    rows per group per map task, so the shuffle carries <= k*tasks rows
    per group and a corpus-sized group is never a single-task sort."""
    from mare_spark.operators.corpus import group_fixed_k_sample

    docs = read_table(spark, SF_ORACLE, "documents")
    df = group_fixed_k_sample(docs, "doc_id", group_col="lang", k=5)
    plan = P.formatted_plan(df)
    import re

    limits = re.findall(r"\(\d+\) WindowGroupLimit", plan)
    assert len(limits) >= 2, plan  # partial (pre-exchange) + final


def test_gapfill_two_small_exchanges_with_partial_group_limit(spark):
    """gapfill_locf's scale contract: exactly two exchanges, and the
    rn=1 per-bucket pick must run as a PARTIAL WindowGroupLimit before
    the first one — at most one row per (key, bucket) leaves each map
    task, so neither exchange ever carries the raw event stream."""
    from mare_spark import plans as P
    from mare_spark.operators.timeseries import gapfill_locf
    from mare_spark.tables import read_table
    from tests.conftest import SF_SMOKE

    ev = read_table(spark, SF_SMOKE, "events")
    df = gapfill_locf(
        ev, ts_col="ts", key_col="user_id", value_col="value",
        bucket_seconds=21600, tiebreak_cols=("event_id",),
    )
    plan = P.simple_plan(df)
    assert P.count_shuffle_exchanges(df) == 2, plan
    partial_lines = [
        ln for ln in plan.splitlines()
        if "WindowGroupLimit" in ln and ln.rstrip().endswith("Partial")
    ]
    assert partial_lines, plan
    # the partial group-limit must sit BELOW (after, in toString order)
    # the first exchange — i.e. on the map side of it
    first_exchange = plan.index("Exchange hashpartitioning")
    assert plan.index(partial_lines[0]) > first_exchange, plan


def test_pack_token_tape_single_exchange(spark):
    """The tape query shuffles ONCE: the window's hashpartitioning(lang)
    exchange also satisfies the (lang, seq_id) aggregate's clustered
    distribution (a subset-key partitioning co-locates the superset key),
    so assembling sequences adds NO second exchange — and there is no
    per-token explode anywhere (the Generate emits (doc, seq) pairs)."""
    from mare_spark.registry import all_queries

    df = all_queries()["pack_token_ids_tape"].fn(spark, SF_ORACLE)
    assert P.count_shuffle_exchanges(df) == 1, P.formatted_plan(df)


def test_cluster_balanced_sample_windowgrouplimit(spark):
    """The diversity sampler's only exchange is the cluster-keyed top-k,
    and Catalyst plans it two-phase (Partial WindowGroupLimit before the
    exchange) — no whole-cluster sort; assignment itself adds no shuffle."""
    from mare_spark.registry import all_queries

    df = all_queries()["sample_cluster_balanced"].fn(spark, SF_ORACLE)
    plan = P.formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert P.count_shuffle_exchanges(df) == 1, plan


def test_ivfpq_indexed_probe_prunes_partitions(spark, tmp_path):
    """The IVF-PQ layout probes like the raw IVF index — PartitionFilters
    on the cell column, fewer files opened than written — while scanning
    CODES, not vectors; the keep_vectors rerank path returns exact-L2
    order over the shortlist."""
    from mare_spark.operators.pq import (
        ivfpq_topk_indexed,
        train_pq_codebooks,
        write_ivfpq_index,
    )
    from mare_spark.operators.similarity import train_ivf_centroids
    from mare_spark.tables import read_table

    emb = read_table(spark, SF_ORACLE, "embeddings")
    cents = train_ivf_centroids(emb, nlist=8)
    books = train_pq_codebooks(emb, "embedding", "vec_id", m=16, nbits=6)
    path = str(tmp_path / "ivfpq_index")
    write_ivfpq_index(emb, path, cents, books, keep_vectors=True)

    q = list(emb.select("embedding").head()[0])
    probe = ivfpq_topk_indexed(
        spark, path, cents, books, q, 5, nprobe=2
    )
    plan = P.formatted_plan(probe)
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "ivf_cell" in pf and "IN" in pf, plan
    assert probe.count() == 5
    leaves = probe._jdf.queryExecution().executedPlan().collectLeaves()
    n_files = None
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numFiles"):
            n_files = m.apply("numFiles").value()
            break
    total_files = len(spark.read.parquet(path).inputFiles())
    assert n_files is not None and n_files < total_files

    rer = ivfpq_topk_indexed(
        spark, path, cents, books, q, 5, nprobe=8, rerank_shortlist=50
    ).collect()
    assert len(rer) == 5 and rer[0].dist <= rer[-1].dist


def test_fan_out_skips_wide_directory_table(spark, tmp_path):
    """_fan_out spreads a scan narrower than the cluster — a single-file
    table, filtered or not — and leaves a directory table whose part files
    already cover every slot unchanged (no RoundRobin on a wide scan)."""
    from mare_spark.operators.dedup import _fan_out
    from mare_spark.tables import read_table

    slots = spark.sparkContext.defaultParallelism
    narrow = read_table(spark, SF_ORACLE, "documents")
    plan = P.formatted_plan(_fan_out(narrow))
    assert "RoundRobinPartitioning" in plan, plan
    filtered = narrow.filter(F.col("doc_id") % 2 == 0)
    plan = P.formatted_plan(_fan_out(filtered))
    assert "RoundRobinPartitioning" in plan, plan

    path = str(tmp_path / "many_parts.parquet")
    narrow.limit(slots * 3).repartition(slots * 3).write.parquet(path)
    wide = read_table(spark, str(tmp_path), "many_parts")
    assert _fan_out(wide) is wide, "wide many-small-files scan re-shuffled"


def test_fan_out_of_memoized_table_runs_no_job(spark):
    """A second _fan_out of the same read_table frame asks Spark for the
    partition count again without running a job."""
    from mare_spark.operators.dedup import _fan_out

    sc = spark.sparkContext
    df = read_table(spark, SF_ORACLE, "documents")
    _fan_out(df)
    assert read_table(spark, SF_ORACLE, "documents") is df
    sc.setJobGroup("fan-out-again", "second _fan_out")
    try:
        _fan_out(df)
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert sc.statusTracker().getJobIdsForGroup("fan-out-again") == []


def test_directory_table_memo_invalidates_on_part_rewrite(spark, tmp_path):
    """The (path, stats) memo key for a directory table must change when a
    part file is rewritten in place, even though the directory inode's
    mtime may not (ADVICE r9: stale schema/DataFrame memos)."""
    import mare_spark.tables as T

    src = read_table(spark, SF_ORACLE, "documents").limit(4)
    path = str(tmp_path / "t.parquet")
    src.coalesce(1).write.parquet(path)
    key1 = T._scan_stat(path)
    assert key1 is not None and key1[1] == "dir" and key1[2] >= 1
    df1 = T.read_table(spark, str(tmp_path), "t")

    # rewrite: same directory, new content
    src.limit(2).coalesce(1).write.mode("overwrite").parquet(path)
    key2 = T._scan_stat(path)
    assert key1 != key2
    df2 = T.read_table(spark, str(tmp_path), "t")
    assert df2 is not df1, "rewritten directory table must not hit the memo"
    assert df2.count() == 2
