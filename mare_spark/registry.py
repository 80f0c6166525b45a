"""Central query registry.

Every operator/query the engine claims in SURVEY.md §2B gets a named entry
here with (a) a PySpark builder ``fn(spark, sf_dir) -> DataFrame`` and
(b) optionally an equivalent ANSI-SQL string a DuckDB oracle can run on the
same parquet tables. The driver's correctness gate walks this registry via
``__spark_entry__.py``.

Determinism contract (shared with the oracle):
* every computed/aggregate column is aliased identically on both sides;
* float aggregates are rounded (2dp money, 4-6dp ratios) on both sides so
  summation-order differences between engines can't flip the value hash;
* result sets that are order-sensitive (top-k, limit) break ties with a
  unique key column so both engines agree on the exact row set.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable SQL, or None → rows-only check
    category: str = "relational"
    bench: bool = False  # include in bench.py headline set
    doc: str = field(default="")


_REGISTRY: dict[str, QueryDef] = {}


def register(
    name: str,
    *,
    oracle: str | None,
    category: str = "relational",
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query builder under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QueryDef(
            name=name, fn=fn, oracle=oracle, category=category, bench=bench,
            doc=(fn.__doc__ or ""),
        )
        return fn

    return deco


# Driver-facing enumeration order: the driver's correctness gate records
# rows for the FIRST 50 entries of all_queries(), and this tuple decides
# which queries those are (the rest follow in registration order).
DRIVER_PRIORITY: tuple[str, ...] = (
    # -- 1. operator paths no TPC-H row reaches: sketches, streaming
    #    replays, quantization, media decode, UDTF, DSIR, pipe, epoch
    #    shuffle --
    "events_quantile_sketch", "streaming_quantile_replay",
    "streaming_sessionize_replay", "sim_pq_recall_report",
    "multimodal_decode", "q_udtf_word_positions",
    "corpus_dsir_weights", "sample_dsir_gumbel",
    "pipe_gc_count", "pipe_map_upper", "pipe_token_total",
    "corpus_epoch_shuffle",
    # -- 2. end-to-end compositions of those operators --
    "multimodal_media_stats", "rag_retrieval_report",
    # -- 3. anchors --
    "q1_pricing_summary", "q5_local_supplier_volume", "pipeline_clean_corpus",
    # -- 4. 33 relational, UDF, event, sampling and corpus shapes that
    #    fill the window (registration order) --
    "q3_shipping_priority", "q_agg_stats",
    "q_rollup", "q_cube",
    "q_grouping_sets", "q_window_running",
    "q_udf_pandas_scalar", "q_udf_grouped_agg",
    "q_math_conditional", "q6_revenue_change",
    "q9_product_type_profit", "q10_returned_item_reporting",
    "q17_small_quantity_revenue", "events_user_anomalies",
    "sample_fixed_k_per_lang", "sample_token_budget",
    "text_ngram_novelty", "q_correlated_exists",
    "q_correlated_scalar", "events_funnel",
    "events_cohort_retention", "text_chunk_dedup_cms",
    "q_variant_json", "embedding_cluster_assign",
    "embedding_kmeans_refined", "dedup_edit_distance",
    "text_sliding_chunks", "corpus_snapshot_diff",
    "corpus_quality_funnel", "pipeline_clean_corpus_v3",
    "q_asof_join_forward", "streaming_heavy_hitters_replay",
    "q_join_interval_binned",
    # -- the window holds exactly 50; every other query follows in
    #    registration order --
)


def all_queries() -> dict[str, QueryDef]:
    """Import all query modules (idempotent) and return the registry,
    enumerated in :data:`DRIVER_PRIORITY` order (remaining queries follow in
    registration order)."""
    from mare_spark import queries  # noqa: F401  (side-effect: registration)

    ordered = {n: _REGISTRY[n] for n in DRIVER_PRIORITY if n in _REGISTRY}
    ordered.update({n: q for n, q in _REGISTRY.items() if n not in ordered})
    return ordered
