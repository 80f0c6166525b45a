"""Extended relational corpus: more TPC-H-style shapes, the UDF surface,
as-of join, exact/approx percentiles, unpivot (SURVEY §2B rows not covered
by queries/relational.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mare_spark.operators.asof import asof_join
from mare_spark.queries._decimal import MONEY4, dsum, dsum_raw, fround
from mare_spark.registry import register
from mare_spark.tables import read_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# TPC-H-style shapes
# ---------------------------------------------------------------------------

@register(
    "q6_revenue_change",
    bench=True,
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-side filter + single aggregate — every predicate
    pushes to the parquet scan, zero shuffle beyond the final combine."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), MONEY4).alias("revenue")
    )


@register(
    "q4_priority_with_late_items",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > CAST(o.o_orderdate AS DATE) + 90
    )
    GROUP BY o.o_orderpriority
    """,
)
def q4_priority_with_late_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: EXISTS with a correlated non-equi condition →
    left-semi join, then aggregate by priority."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    semi = o.join(
        l,
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate > F.date_add(o.o_orderdate.cast("date"), 90).cast("timestamp")),
        "left_semi",
    )
    return semi.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "q14_promo_revenue_share",
    oracle="""
    SELECT (floor(
             100.0 * CAST(sum(CASE WHEN p.p_type = 'ECONOMY'
                              THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0) AS promo_share_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-08-01 00:00:00'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: conditional aggregate over a fact-dim join (part is
    dim-sized → Catalyst broadcasts it)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-08-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            fround(
                100.0
                * F.sum(
                    F.when(
                        F.col("p_type") == "ECONOMY", rev.cast(MONEY4)
                    ).otherwise(F.lit(0).cast(MONEY4))
                ).cast("double")
                / dsum_raw(rev, MONEY4),
                4,
            ).alias("promo_share_pct")
        )
    )


@register(
    "q_percentiles_exact",
    oracle="""
    SELECT l_returnflag,
           (floor(quantile_cont(l_extendedprice, 0.5) * 10000.0 + 0.5)
            / 10000.0)  AS p50,
           (floor(quantile_cont(l_extendedprice, 0.95) * 10000.0 + 0.5)
            / 10000.0) AS p95,
           (floor(quantile_cont(l_extendedprice, 0.99) * 10000.0 + 0.5)
            / 10000.0) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        fround(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        fround(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95"),
        fround(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


@register("q_percentiles_approx", oracle=None)
def q_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (GK sketch) — the 100 TB path: bounded-memory
    mergeable sketches instead of a full sort per group. Accuracy vs the
    exact tier asserted in tests."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95"),
    )


@register(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val
    FROM lineitem WHERE l_orderkey % 200 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount' AS metric, l_discount AS val
    FROM lineitem WHERE l_orderkey % 200 = 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax' AS metric, l_tax AS val
    FROM lineitem WHERE l_orderkey % 200 = 0
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via the native ``unpivot``/``stack``."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 200 == 0)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    ).withColumn("metric", F.expr("substring(metric, 3)"))


# ---------------------------------------------------------------------------
# As-of join
# ---------------------------------------------------------------------------

def _asof_oracle(cmp: str, tie_agg: str) -> str:
    """ONE ASOF oracle template (r8 review: backward/forward were 29-line
    hand-synced twins differing only in the comparator). ``tie_agg``
    pins the equal-timestamp winner: DuckDB's pick among duplicate
    (user_id, ts) view rows is scan-order dependent, while the engine
    deterministically carries the lexicographically largest (backward) /
    smallest (forward) tied right struct — so the views are deduped per
    (user_id, ts) with max/min(value) to mirror that tiebreak."""
    return f"""
WITH purchases AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE event_type = 'purchase'
),
views AS (
  -- NULL event times never match (the engine's contract): DuckDB's
  -- KEYED ASOF sort-matcher would match NULL left times (NULL sorts
  -- high), so the never-match rule is modeled explicitly — ASOF over
  -- the NOT-NULL rows, NULL-ts purchases appended unmatched
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, {tie_agg}(value) AS value
  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
  GROUP BY user_id, CAST(ts AS TIMESTAMP)
)
SELECT p.event_id,
       p.user_id,
       p.ts,
       CAST(round(CAST(p.value AS DECIMAL(18,4)), 2) AS DOUBLE)
         AS purchase_value,
       v.ts AS view_ts,
       CAST(round(CAST(v.value AS DECIMAL(18,4)), 2) AS DOUBLE)
         AS view_value
FROM (SELECT * FROM purchases WHERE ts IS NOT NULL) p
ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts {cmp} v.ts
UNION ALL
SELECT event_id, user_id, ts,
       CAST(round(CAST(value AS DECIMAL(18,4)), 2) AS DOUBLE),
       CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE)
FROM purchases WHERE ts IS NULL
"""


def _asof_projection(joined):
    """Shared output projection of both as-of rows (r8 review: exact
    12-line duplicate)."""
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        # decimal-round the exact-4dp money column (round(double, 2) is
        # engine-divergent near half boundaries — the fround/decimal class)
        F.round(F.col("value").cast("decimal(18,4)"), 2)
        .cast("double").alias("purchase_value"),
        F.col("ts_asof").alias("view_ts"),
        F.round(F.col("value_asof").cast("decimal(18,4)"), 2)
        .cast("double").alias("view_value"),
    )


_ASOF_ORACLE = _asof_oracle(">=", "max")


@register("q_asof_join", oracle=_ASOF_ORACLE)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase event picks up the most recent
    prior (or simultaneous) view by the same user — pure DataFrame
    composition (union + per-key window carry-forward), no UDF. Oracle:
    DuckDB's native ASOF LEFT JOIN."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = asof_join(purchases, views, on="ts", by="user_id", right_cols=["ts", "value"])
    return _asof_projection(joined)


# ---------------------------------------------------------------------------
# UDF surface (SURVEY §2B UDF row) — each kind exercised once, with the
# same logic expressed in the SQL oracle (deterministic UDFs only).
# ---------------------------------------------------------------------------

@F.pandas_udf(T.DoubleType())
def _charge_pudf(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
    # nullable Float64 + mask: a NULL input must come back as NULL (the
    # oracle's NULL*x), not the NaN a plain float64 pipeline would emit
    ok = price.notna() & disc.notna() & tax.notna()
    return (price * (1.0 - disc) * (1.0 + tax)).astype("Float64").where(ok)


@register(
    "q_udf_pandas_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           (floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                  * 100.0 + 0.5) / 100.0) AS charge
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
)
def q_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-vectorized) computing the charge column."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        fround(
            _charge_pudf(F.col("l_extendedprice"), F.col("l_discount"), F.col("l_tax")),
            2,
        ).alias("charge"),
    )


@F.pandas_udf(T.DoubleType())
def _weighted_avg_pudf(price: pd.Series, qty: pd.Series) -> float:
    # exact integer-cents arithmetic: numpy's pairwise float sum accumulates
    # different error than the oracle's sequential sum, so the quotient is
    # built from exact integers (2dp fixture columns -> cents), cast to
    # double only for the single final division — engine-identical.
    # Chunked accumulation into arbitrary-precision Python ints: a single
    # int64 product-sum over a whole group would overflow around 1e8 rows
    # (cents x cents ~ 5e10/row vs 9.2e18); per-1M-row chunk sums stay
    # below 1e17, and the chunk total is exact.
    import numpy as np

    pa_ = np.asarray(price, dtype=np.float64)
    qa = np.asarray(qty, dtype=np.float64)
    # NULL masking mirrors the oracle's decimal sums: sum(price*qty)
    # skips rows where EITHER is NULL, sum(qty) skips only NULL qty.
    # Without it a NaN rides np.rint().astype(int64) into INT64_MIN and
    # silently poisons the aggregate.
    both = ~(np.isnan(pa_) | np.isnan(qa))
    qok = ~np.isnan(qa)
    pc = np.rint(np.where(both, pa_, 0.0) * 100).astype(np.int64)
    qc_num = np.rint(np.where(both, qa, 0.0) * 100).astype(np.int64)
    qc_den = np.rint(np.where(qok, qa, 0.0) * 100).astype(np.int64)
    num, den = 0, 0
    for i in range(0, len(pc), 1_000_000):
        num += int(np.multiply(pc[i:i+1_000_000], qc_num[i:i+1_000_000],
                               dtype=np.int64).sum())
        den += int(qc_den[i:i+1_000_000].sum())
    if den == 0:
        return None  # all-zero weights: NULL, matching DuckDB's x/0 -> NULL
    return float(num) / (float(den) * 100.0)


@register(
    "q_udf_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           (floor(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                                * CAST(l_quantity AS DECIMAL(18,2))) * 10000
                       AS HUGEINT) AS DOUBLE)
                  / (CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100
                          AS HUGEINT) AS DOUBLE) * 100.0)
                  * 10000.0 + 0.5) / 10000.0)
             AS weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (quantity-weighted mean price)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        fround(
            _weighted_avg_pudf(F.col("l_extendedprice"), F.col("l_quantity")), 4
        ).alias("weighted_avg_price")
    )


@register(
    "q_apply_in_pandas",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(o_totalprice - min(o_totalprice) OVER (PARTITION BY o_custkey), 2)
             AS price_vs_cust_min
    FROM orders
    """,
)
def q_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-customer baseline delta (≡ a window
    aggregate — the oracle states it relationally). Baseline is the group
    MIN, not MEAN: min is summation-order-free, so pandas and SQL agree
    bit-for-bit (a mean differs in the last ulp and can flip rounding).

    Cost model, stated honestly: grouped-map invokes Python once PER
    GROUP (~ms each), so fine group keys dominate wall time regardless
    of row count — at sf0.1 this query's ~10k tiny customer groups cost
    ~30s where the equivalent window runs in <1s. This query exists to
    exercise the applyInPandas surface; when the logic is
    window-expressible (as here — the oracle IS the window form), the
    relational plan is the production path, and grouped-map is for logic
    that genuinely needs a whole group in pandas at once."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")

    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["price_vs_cust_min"] = (
            pdf["o_totalprice"] - pdf["o_totalprice"].min()
        ).round(2)
        return pdf[["o_custkey", "o_orderkey", "price_vs_cust_min"]]

    return o.groupBy("o_custkey").applyInPandas(
        center, schema="o_custkey long, o_orderkey long, price_vs_cust_min double"
    )


@register(
    "q_map_in_pandas",
    oracle="""
    SELECT p_partkey, p_name,
           (floor(p_retailprice * 1.1 * 100.0 + 0.5) / 100.0)
             AS price_with_markup
    FROM part
    """,
)
def q_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas (table-in/table-out, batch iterator) — the UDTF-shaped
    entry point the container pipe is built on."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_retailprice")

    def add_markup(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "p_partkey": pdf["p_partkey"],
                    "p_name": pdf["p_name"],
                    # fround grid, not .round(2): pandas rounds half-to-
                    # even, DuckDB half-away — 227 of 10001 2dp prices in
                    # the fixture's own range diverge under a 5-cent digit
                    "price_with_markup": np.floor(
                        pdf["p_retailprice"] * 1.1 * 100.0 + 0.5
                    ) / 100.0,
                }
            )

    return p.mapInPandas(
        add_markup, schema="p_partkey long, p_name string, price_with_markup double"
    )


@register(
    "q_udf_python_rowwise",
    oracle="""
    SELECT s_suppkey, s_name,
           CASE WHEN s_acctbal IS NULL THEN NULL
                WHEN s_acctbal < 0 THEN 'debt'
                WHEN s_acctbal < 5000 THEN 'ok'
                ELSE 'rich' END AS bal_class
    FROM supplier
    """,
)
def q_udf_python_rowwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF — registered for surface completeness and
    deliberately used on a dim-sized table only (per-row serde makes this
    the slow path; the pandas variants above are the production shape)."""
    s = _t(spark, sf_dir, "supplier")

    @F.udf(T.StringType(), useArrow=False)
    def classify(bal: float) -> str:
        if bal is None:  # None < 0 is a TypeError, not a CASE branch
            return None
        return "debt" if bal < 0 else ("ok" if bal < 5000 else "rich")

    return s.select("s_suppkey", "s_name", classify("s_acctbal").alias("bal_class"))


# ---------------------------------------------------------------------------
# Correlated subqueries (SQL-surface depth: EXISTS / per-row scalar)
# ---------------------------------------------------------------------------

# ONE text for both the registered oracle and the spark.sql body — two
# hand-synced copies silently decouple the engine query from its oracle
_CORRELATED_EXISTS_SQL = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
"""


@register(
    "q_correlated_exists",
    oracle=_CORRELATED_EXISTS_SQL,
)
def q_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS pair — customers with at least one
    urgent order and no finished order. Catalyst rewrites the pair to a
    semi-join plus an anti-join on o_custkey (decorrelation), so the
    correlated form costs the same two hash joins the manual rewrite
    would."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CORRELATED_EXISTS_SQL)


@register(
    "q_correlated_scalar",
    oracle="""
    SELECT p.p_partkey, p.p_brand,
           CAST(round(CAST(p.p_retailprice AS DECIMAL(18,2)), 2) AS DOUBLE)
             AS price,
      (SELECT CAST(count(*) AS BIGINT) FROM part p2
        WHERE p2.p_brand = p.p_brand
          AND p2.p_retailprice > p.p_retailprice) AS n_pricier_in_brand
    FROM part p
    WHERE p.p_size <= 5
    """,
)
def q_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar count, expressed as a window — for each small
    part, how many same-brand parts are pricier.

    The naive correlated form (``(SELECT count(*) FROM part p2 WHERE
    p2.p_brand = p.p_brand AND p2.p_retailprice > p.p_retailprice)``)
    is decorrelated by Spark 4 into a *domain join*: a
    BroadcastNestedLoopJoin between the distinct-price domain and the
    entire part table with only the inequality as the join condition —
    O(distinct_prices x |part|), an outage at 100 TB. The equivalent
    window form costs exactly one hash exchange on p_brand:
    ``rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC)``
    equals 1 + the number of strictly-pricier same-brand rows, so
    ``rank - 1`` is the correlated count. The rank must be computed over
    the FULL part table, BEFORE the ``p_size <= 5`` filter (the subquery
    counts all same-brand parts, not just small ones). The DuckDB oracle
    keeps the correlated form as the independent cross-check."""
    p = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    # NULL-price contract (r8 review): `p2.p_retailprice > NULL` is never
    # true, so the correlated count for a NULL-price part is 0 — but
    # rank() under DESC (nulls LAST) would report the count of ALL
    # priced same-brand rows for it. Pin the subquery's semantics.
    ranked = p.withColumn(
        "n_pricier_in_brand",
        F.when(
            F.col("p_retailprice").isNull(), F.lit(0)
        ).otherwise(F.rank().over(w) - F.lit(1)).cast("bigint"),
    )
    return ranked.filter(F.col("p_size") <= 5).select(
        "p_partkey",
        "p_brand",
        F.expr(
            "CAST(round(CAST(p_retailprice AS DECIMAL(18,2)), 2) AS DOUBLE)"
        ).alias("price"),
        "n_pricier_in_brand",
    )


@register(
    "q_variant_json",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
             AS k_total,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    ``parse_json`` ingests the raw JSON once into the binary variant
    encoding, ``variant_get`` extracts typed paths without re-parsing —
    the modern replacement for per-path get_json_object string scans
    (which re-tokenize the JSON per extraction). Aggregates are integer,
    so the result is trivially hash-stable."""
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").cast("bigint").alias("k_total"),
        F.max("k").alias("k_max"),
    )


_ASOF_FWD_ORACLE = _asof_oracle("<=", "min")


@register("q_asof_join_forward", oracle=_ASOF_FWD_ORACLE)
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase picks up the EARLIEST later (or
    simultaneous) view by the same user — the "next measurement after
    this event" direction, same carry plan over the reversed event
    order. Oracle: DuckDB native ASOF LEFT JOIN with p.ts <= v.ts."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    joined = asof_join(
        purchases, views, on="ts", by="user_id",
        right_cols=["ts", "value"], direction="forward",
    )
    return _asof_projection(joined)
