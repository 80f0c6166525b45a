"""Workload definitions: which registered queries one round invokes, and
the input tables each query reads (for ``input_rows_per_s``). Every
workload runs on the shipped sf0.1 fixture tables in ``data/sf0.1``."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "corpus_floor",
            (
                "dedup_minhash_lsh",
                "pipeline_clean_corpus",
                "decontaminate_vs_eval",
                "sim_topk_cosine",
                "pipe_token_total",
            ),
            "fixture corpus: time goes to driver build, job launch and "
            "codegen, so job and compile cuts show and kernel speed-ups do not",
        ),
        Workload(
            "tpch_refresh",
            (
                "q1_pricing_summary",
                "q5_local_supplier_volume",
                "q6_revenue_change",
                "q_sql_returned_items",
                "maintenance_merge_report",
            ),
            "JVM scan, join, aggregate and a copy-on-write merge with no Python "
            "UDF or pipe work, reads beside writes on the same tables",
        ),
    )
}

# Input tables each query reads (rows summed into input_rows_per_s).
QUERY_TABLES = {
    "dedup_minhash_lsh": ("documents",),
    "pipeline_clean_corpus": ("documents",),
    "decontaminate_vs_eval": ("documents",),
    "sim_topk_cosine": ("embeddings",),
    "pipe_token_total": ("documents",),
    "q1_pricing_summary": ("lineitem",),
    "q5_local_supplier_volume": (
        "customer", "orders", "lineitem", "supplier", "nation", "region",
    ),
    "q6_revenue_change": ("lineitem",),
    "q_sql_returned_items": ("customer", "orders", "lineitem", "nation"),
    "maintenance_merge_report": ("orders",),
}

# Queries whose answer is checked against the exact Python reference in
# reference.py instead of running the registry's DuckDB oracle SQL: that
# SQL self-joins every shingle occurrence and takes 12-50 s on the sf0.1
# corpus (4 vCPU), most of a benchmark run.
PY_REFERENCE = ("pipeline_clean_corpus",)

# Approximate queries with no oracle: checked for repeatability, exact
# Jaccard of every reported pair, and recall of the exact pairs.
LSH_QUERIES = ("dedup_minhash_lsh",)
LSH_THRESHOLD = 0.8
# Share of the exact pairs at Jaccard >= LSH_THRESHOLD (the reference's
# ``jaccard_pairs``) that ``dedup_minhash_lsh`` must report. On the sf0.1
# corpus the engine finds all 256 of them, so any lost pair fails the run.
LSH_RECALL_FLOOR = 1.0
