"""Run every registered query with a DuckDB oracle against the oracle and
compare (mirrors the driver's t2 correctness gate, at sf0.01)."""

from __future__ import annotations

import pytest

from mare_spark.cache import cache_scope
from mare_spark.registry import all_queries
from tests.conftest import SF_ORACLE, SF_SMOKE, cached_entries
from tests.oracle import compare

QUERIES = all_queries()
ORACLE_CHECKED = sorted(n for n, q in QUERIES.items() if q.oracle)
ROWS_ONLY = sorted(n for n, q in QUERIES.items() if not q.oracle)


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_match(spark, name):
    q = QUERIES[name]
    with cache_scope():
        compare(q.fn(spark, SF_ORACLE), q.oracle, SF_ORACLE)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_not_hollow(spark, name):
    """A 0-row result hash-matches a 0-row oracle, so an over-restrictive
    predicate passes the gate while checking nothing. Every declared query
    must select actual rows at the oracle SF.

    Built and counted inside a cache scope, which must leave the cache
    manager as it found it: a persist that escapes the scope is a leak
    that accumulates across invocations in a long-lived session."""
    before = cached_entries(spark)
    with cache_scope():
        n = QUERIES[name].fn(spark, SF_ORACLE).count()
    assert n > 0, f"{name} returns 0 rows at sf0.01 — hollow check"
    assert cached_entries(spark) == before, f"{name} leaks a cache"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only(spark, name):
    q = QUERIES[name]
    df = q.fn(spark, SF_ORACLE)
    assert df.count() >= 0  # runs end-to-end with a stable schema
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_schema_scalar_only(spark, name):
    """The driver's correctness harness canonicalizes result sets with
    pandas (sort_values + factorize), where array/map/struct cells are
    unhashable — an array-typed output column turns a correct query into a
    hard ERR (the only two red rows of round 1). Registered queries must
    therefore emit scalar columns only; operators may still return nested
    types for composition."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = QUERIES[name].fn(spark, SF_SMOKE)
    for f in df.schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
            f"{name}.{f.name} is {f.dataType.simpleString()} — registered "
            "queries must emit scalar columns (serialize arrays at the query "
            "layer; see VERDICT r1 §wrong-1/2)"
        )


def test_driver_priority_consistent():
    """DRIVER_PRIORITY must reference only real queries, without duplicates,
    and all_queries() must enumerate it first — the driver's correctness
    gate checks a prefix of this enumeration."""
    from mare_spark.registry import DRIVER_PRIORITY

    assert len(set(DRIVER_PRIORITY)) == len(DRIVER_PRIORITY)
    unknown = [n for n in DRIVER_PRIORITY if n not in QUERIES]
    assert not unknown, f"DRIVER_PRIORITY names not in registry: {unknown}"
    assert list(QUERIES)[: len(DRIVER_PRIORITY)] == list(DRIVER_PRIORITY)


def test_fround_is_engine_portable_where_round_is_not(spark):
    """Documents the bug class behind the fround convention: Spark and
    DuckDB round the SAME double differently near half boundaries (Spark
    rounds the exact decimal expansion; DuckDB scales-then-rounds in
    float), so round(quotient) outputs can flip a value hash whenever a
    regenerated fixture lands near a boundary. fround — floor(x*10^s+0.5)
    — is pure IEEE arithmetic and must agree on every engine."""
    import duckdb

    from mare_spark.numeric import fround, sql_fround
    from pyspark.sql import functions as F

    import pandas as pd

    hazard = 3118.29 / 56  # = 55.683749999999996 (one ulp below the half)
    con = duckdb.connect()
    # evaluate over a COLUMN on both engines (DuckDB's constant-folder
    # uses extended precision for literal arithmetic — see sql_fround)
    con.register("hz", pd.DataFrame({"x": [hazard]}))
    duck_round = con.execute("SELECT round(x, 4) FROM hz").fetchone()[0]
    spark_round = (
        spark.createDataFrame([(hazard,)], "x double")
        .select(F.round("x", 4).alias("r"))
        .head()
        .r
    )
    assert spark_round != duck_round  # the divergence fround exists to avoid

    duck_f = con.execute(f"SELECT {sql_fround('x', 4)} FROM hz").fetchone()[0]
    spark_f = (
        spark.createDataFrame([(hazard,)], "x double")
        .select(fround("x", 4).alias("r"))
        .head()
        .r
    )
    assert spark_f == duck_f == 55.6838
    con.close()


def test_fround_parity_on_adversarial_boundary_values(spark):
    """Fuzz the fround grid snap on doubles engineered to sit AT and
    within a few ulp around 4dp half boundaries (the region where round()
    diverges between engines), plus random quotients of exact integers:
    Spark and DuckDB must agree exactly on every value.

    The DuckDB side MUST evaluate over a COLUMN (a registered frame): its
    constant-folder multiplies literals in extended precision
    (97.30614999999999 * 10000.0 folds to 973061.5 where the IEEE product
    is ...4999999999), while the vectorized column path is correctly
    rounded — and every real oracle computes over columns."""
    import math
    import random

    import duckdb
    import pandas as pd

    from mare_spark.numeric import fround, sql_fround

    rng = random.Random(7)
    vals = []
    for _ in range(120):
        k = rng.randrange(1, 10_000_000)
        base = k / 10_000 + 0.00005  # a 4dp half boundary
        for bump in (0, 1, -1, 2, -2):
            vals.append(math.nextafter(base, math.inf if bump >= 0 else -math.inf)
                        if bump else base)
    for _ in range(200):
        vals.append(rng.randrange(1, 10**9) / rng.randrange(1, 10**6))

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        (r.a, r.b)
        for r in df.select(
            fround("x", 4).alias("a"), fround("x", 6).alias("b")
        ).collect()
    ]
    con = duckdb.connect()
    con.register("vals_t", pd.DataFrame({"x": vals}))
    want = [
        tuple(r)
        for r in con.execute(
            f"SELECT {sql_fround('x', 4)}, {sql_fround('x', 6)} FROM vals_t"
        ).fetchall()
    ]
    con.close()
    mism = [
        (v, g, w) for v, g, w in zip(vals, got, want) if g != w
    ]
    assert not mism, f"fround divergence: {mism[:5]}"


def test_cluster_oracle_exact_cc_on_diameter3_chain(spark, tmp_path):
    """Regression for the 2-round-propagation oracle bug class: a chain
    component of diameter 3 (sliding-window near-dups d0-d1-d2-d3, each
    consecutive pair at Jaccard >= 0.8, non-consecutive below) must
    resolve every member to the component MINIMUM on both engines. The
    previous fixed-2-round oracle labeled d3 with its 2-hop min (1), not
    the true component min (0)."""
    import shutil

    import pandas as pd

    from mare_spark.tables import TABLE_NAMES, table_path

    sf = str(tmp_path / "sfchain")
    (tmp_path / "sfchain").mkdir()
    for t in TABLE_NAMES:
        shutil.copy(table_path(SF_ORACLE, t), table_path(sf, t))

    words = [f"w{i:03d}" for i in range(200)]
    chain = [" ".join(words[i * 8 : i * 8 + 100]) for i in range(4)]
    docs = chain + ["totally unrelated " + " ".join(f"u{i}" for i in range(40))]
    pd.DataFrame(
        {
            "doc_id": list(range(len(docs))),
            "text": docs,
            "lang": ["en"] * len(docs),
            "source": ["src0"] * len(docs),
            "n_chars": [len(d) for d in docs],
        }
    ).to_parquet(table_path(sf, "documents"))

    q = QUERIES["dedup_clusters_resolve"]
    got = {r.member: r.cluster for r in q.fn(spark, sf).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0}  # diameter-3 chain, one component
    compare(q.fn(spark, sf), q.oracle, sf)

    # the composed pipeline agrees end-to-end on the same corpus
    p = QUERIES["pipeline_clean_corpus"]
    compare(p.fn(spark, sf), p.oracle, sf)


def test_shingle_frequency_far_below_candidate_cap():
    """Contract canary: ngram_jaccard_pairs drops shingles shared by more
    than max_shingle_freq=1000 docs from CANDIDATE GENERATION, while the
    all-pairs SQL oracles do not model the cap. That divergence is
    unreachable while the corpus' densest 3-gram stays far below the cap
    — this canary fails LOUDLY (instead of a silent oracle mismatch) if a
    regenerated fixture ever gets within 4x of the boundary, at which
    point the oracles must model the cap or the queries must pass
    max_shingle_freq=None."""
    import duckdb

    for sf in (SF_ORACLE, "/root/testdata/sf0.1"):
        (max_df,) = duckdb.sql(
            f"""
            WITH w AS (SELECT string_split(lower(trim(regexp_replace(
                         text, '\\s+', ' ', 'g'))), ' ') AS w
                       FROM '{sf}/documents.parquet'),
            d AS (SELECT unnest(list_distinct(list_transform(
                    range(1, greatest(len(w) - 2, 0) + 1),
                    i -> array_to_string(w[i:i+2], ' ')))) AS sh FROM w)
            SELECT max(c) FROM (SELECT count(*) AS c FROM d GROUP BY sh)
            """
        ).fetchone()
        assert max_df <= 250, (
            f"densest 3-gram in {sf} appears in {max_df} docs — within 4x "
            "of the 1000-doc candidate cap; align oracle and engine"
        )


def test_agg_stats_constant_group_clamps_negative_variance(spark, tmp_path):
    """Regression: a group whose values are all equal makes the exact-
    moment variance (pq - pv²/n)/(n-1) a TINY negative through float
    cancellation (five rows of 0.01 → -1e-19); unclamped, Spark sqrt
    NaNs and DuckDB hard-errors. Both engines must clamp to 0.0 and
    hash-match."""
    import shutil

    import pandas as pd

    from mare_spark.tables import TABLE_NAMES, table_path

    sf = str(tmp_path / "sfconst")
    (tmp_path / "sfconst").mkdir()
    for t in TABLE_NAMES:
        shutil.copy(table_path(SF_ORACLE, t), table_path(sf, t))
    li = pd.read_parquet(table_path(sf, "lineitem"))
    mask = li["l_returnflag"] == li["l_returnflag"].iloc[0]
    li.loc[mask, "l_extendedprice"] = 0.01
    li.loc[mask, "l_quantity"] = 5.0
    li.to_parquet(table_path(sf, "lineitem"))

    q = QUERIES["q_agg_stats"]
    rows = {r.l_returnflag: r for r in q.fn(spark, sf).collect()}
    const_flag = li["l_returnflag"].iloc[0]
    assert rows[const_flag].std_price == 0.0
    assert rows[const_flag].var_qty == 0.0
    compare(q.fn(spark, sf), q.oracle, sf)


def test_udtf_oracle_null_text_parity(spark, tmp_path):
    """Regression (r8 review): DuckDB's least() IGNORES a NULL argument
    instead of propagating it, so `least(len(ws), 5)` on a NULL-text doc
    is 5 and the un-guarded oracle emitted five phantom (pos, NULL-word)
    rows the UDTF's `if text is None: return` never yields. With the
    explicit NULL-text guard both engines skip the doc."""
    import shutil

    import pandas as pd

    from mare_spark.tables import TABLE_NAMES, table_path

    sf = str(tmp_path / "sfnull")
    (tmp_path / "sfnull").mkdir()
    for t in TABLE_NAMES:
        shutil.copy(table_path(SF_ORACLE, t), table_path(sf, t))

    docs = ["alpha beta gamma delta epsilon zeta", None, "solo"]
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": docs,
            "lang": ["en"] * 3,
            "source": ["src0"] * 3,
            "n_chars": [len(d) if d else 0 for d in docs],
        }
    ).to_parquet(table_path(sf, "documents"))

    q = QUERIES["q_udtf_word_positions"]
    got = sorted(
        (r.doc_id, r.pos, r.word) for r in q.fn(spark, sf).collect()
    )
    assert got == [
        (0, 0, "alpha"), (0, 1, "beta"), (0, 2, "gamma"),
        (0, 3, "delta"), (0, 4, "epsilon"), (2, 0, "solo"),
    ]
    compare(q.fn(spark, sf), q.oracle, sf)


def test_ln_snap_boundary_canary(spark):
    """r8 measurement: Java Math.log and DuckDB ln bit-differ on ~0.8%
    of doubles (1-ulp). Every hash-checked ln row rides the 6dp snap
    margin — a 1-ulp diff only flips the snapped value within ~1 ulp of
    a 0.5e-6 grid boundary. This canary VERIFIES the margin on the
    driver-gate fixture: every ln value feeding a snapped output sits
    orders of magnitude further from a boundary than the libm error
    bound, so the rows cannot silently diverge on this corpus. Fails
    loudly on a regenerated fixture that lands near a boundary (fix:
    snap the ln INPUT first, or adjust the flagged row)."""
    import math

    import numpy as np

    from pyspark.sql import functions as F

    from mare_spark.tables import read_table

    def boundary_dist(vals):
        # distance (in 1e-6 grid units) from floor(v*1e6 + 0.5)'s cut
        g = np.asarray(vals, dtype=np.float64) * 1e6 + 0.5
        return np.min(np.abs(g - np.round(g)))

    # ~1 ulp of ln outputs (|ln| < 20) scaled to grid units, with slack
    ULP_GRID = 20 * 2.3e-16 * 1e6  # ≈ 4.6e-9 grid units
    # floor: ~200x the ulp bound. (The expected MIN over n uniform
    # values is ~0.5/n grid units — at n≈1200 that's ~4e-4, measured
    # 9.4e-5 — so a tighter floor would false-alarm on healthy
    # fixtures; 1e-6 still catches anything genuinely at libm risk.)
    FLOOR = 1e-6

    # q_math_conditional: ln(l_extendedprice) on its filtered rows
    li = read_table(spark, SF_ORACLE, "lineitem").filter(
        F.col("l_orderkey") % 50 == 0
    )
    prices = [r[0] for r in li.select("l_extendedprice").collect()]
    d = boundary_dist([math.log(p) for p in prices if p and p > 0])
    assert d > max(ULP_GRID, FLOOR), f"q_math_conditional margin {d}"

    # DSIR logratios: the ln inputs are exact-int-product ratios
    from mare_spark.operators.dsir import dsir_logratios
    from mare_spark.queries.llm7 import _B, _TARGET

    docs = read_table(spark, SF_ORACLE, "documents")
    lr = dsir_logratios(
        docs.filter(F.col("source") != _TARGET),
        docs.filter(F.col("source") == _TARGET),
        "text", num_buckets=_B,
    )
    vals = [r.logratio for r in lr.collect() if r.logratio is not None]
    # logratio is ALREADY snapped; recompute the pre-snap margin from
    # the snapped grid? No — assert the snapped values are far from
    # HALF-boundaries is meaningless post-snap. Instead check the raw
    # ratios' ln margin via the operator's own algebra at this SF.
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_ORACLE}/documents.parquet'"
    )
    raw = con.execute(f"""
        WITH w AS (SELECT doc_id, source,
                   string_split(lower(trim(regexp_replace(text, '\\s+', ' ',
                   'g'))), ' ') AS ws FROM documents),
        g AS (SELECT source, unnest(ws) AS gram FROM w),
        f AS (SELECT source,
              CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % {_B} AS b
              FROM g),
        tc AS (SELECT b, count(*) c FROM f WHERE source = '{_TARGET}'
               GROUP BY b),
        rc AS (SELECT b, count(*) c FROM f WHERE source <> '{_TARGET}'
               GROUP BY b),
        tt AS (SELECT count(*) t FROM f WHERE source = '{_TARGET}'),
        rt AS (SELECT count(*) r FROM f WHERE source <> '{_TARGET}')
        SELECT CAST((COALESCE(tc.c,0)+1) * (rt.r+{_B}) AS DOUBLE)
               / CAST((COALESCE(rc.c,0)+1) * (tt.t+{_B}) AS DOUBLE)
        FROM range({_B}) b(bucket)
        LEFT JOIN tc ON tc.b = b.bucket LEFT JOIN rc ON rc.b = b.bucket
        CROSS JOIN tt CROSS JOIN rt
    """).fetchall()
    d2 = boundary_dist([math.log(r[0]) for r in raw])
    assert d2 > max(ULP_GRID, FLOOR), f"dsir logratio margin {d2}"


def test_ln_exp_snap_boundary_canary_logprob_and_temperature(spark):
    """r9 extension of the ln snap-boundary canary (same methodology) to
    the remaining libm consumers on the hash-checked path:

    - text_unigram_logprob: ln(cnt/total) per vocabulary word;
    - text_bigram_logprob: ln(0.9·cab/ca + 0.1·cb/T) per corpus bigram;
    - sample_temperature_rates / sample_apply_mixture: ln(nat) per
      stratum AND the chain's second libm call exp(0.7·snap(ln(nat))).

    Each value feeds a 6dp grid snap whose margin must dominate the
    1-ulp cross-engine libm drift. Large sets (bigrams ~1e5) use a 50×
    safety floor instead of the gate tests' ~200× — the expected MIN
    over n uniform grid offsets shrinks as 0.5/n, and a fixture value
    genuinely within 50 ulps of a boundary deserves the alarm."""
    import math

    import numpy as np

    from pyspark.sql import functions as F

    from mare_spark.operators.text import tokens
    from mare_spark.tables import read_table

    def boundary_dist(vals):
        g = np.asarray(vals, dtype=np.float64) * 1e6 + 0.5
        return np.min(np.abs(g - np.round(g)))

    ULP_GRID = 20 * 2.3e-16 * 1e6  # ≈ 4.6e-9 grid units (|ln| < 20)
    FLOOR_SMALL = 1e-6      # small sets (strata, vocab)
    FLOOR_LARGE = 50 * ULP_GRID  # large sets (bigram table)

    docs = read_table(spark, SF_ORACLE, "documents")

    # unigram: ln(cnt/total) over the vocabulary
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("_w"))
        .groupBy("_w").agg(F.count("*").alias("c"))
    )
    counts = [r.c for r in freq.collect()]
    total = sum(counts)
    d_uni = boundary_dist([math.log(c / total) for c in counts])
    assert d_uni > max(ULP_GRID, FLOOR_SMALL), f"unigram margin {d_uni}"

    # bigram: ln(0.9·cab/ca + 0.1·cb/T) over the bigram table
    pairs = F.expr(
        "CASE WHEN size(_w) > 1 THEN transform(sequence(1, size(_w) - 1),"
        " i -> struct(_w[i - 1] AS a, _w[i] AS b)) ELSE array() END"
    )
    tp = (
        docs.select(tokens(F.col("text")).alias("_w"))
        .select(F.explode(pairs).alias("_p"))
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
    )
    big = tp.groupBy("a", "b").agg(F.count("*").alias("cab"))
    ctx = big.groupBy("a").agg(F.sum("cab").alias("ca"))
    uni = (
        docs.select(F.explode(tokens(F.col("text"))).alias("b"))
        .groupBy("b").agg(F.count("*").alias("cb"))
    )
    rows = (
        big.join(ctx, "a").join(uni, "b")
        .select("cab", "ca", "cb").collect()
    )
    t_tokens = total  # same tokenizer, same corpus
    ps = [0.9 * (r.cab / r.ca) + 0.1 * (r.cb / t_tokens) for r in rows]
    d_big = boundary_dist([math.log(p) for p in ps])
    assert d_big > max(ULP_GRID, FLOOR_LARGE), f"bigram margin {d_big}"

    # temperature chain: ln(nat) then exp(0.7 · snapped-ln), per stratum
    lang_counts = [
        r.c for r in docs.groupBy("lang").agg(F.count("*").alias("c"))
        .collect()
    ]
    lt = sum(lang_counts)
    nats = [c / lt for c in lang_counts]
    lns = [math.log(x) for x in nats]
    d_ln = boundary_dist(lns)
    assert d_ln > max(ULP_GRID, FLOOR_SMALL), f"temperature ln margin {d_ln}"
    snapped = [math.floor(v * 1e6 + 0.5) / 1e6 for v in lns]
    exps = [math.exp(0.7 * s) for s in snapped]
    d_exp = boundary_dist(exps)
    assert d_exp > max(ULP_GRID, FLOOR_SMALL), f"temperature exp margin {d_exp}"
