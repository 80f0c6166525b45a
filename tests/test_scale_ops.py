"""Scale-hardening tests: salted join correctness under skew, bucketed
exchange-free joins (plan-asserted), embedding LSH pair recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mare_spark.operators.dedup import embedding_cosine_pairs
from mare_spark.operators.scale import bucketed_table, join_bucketed, salted_join
from mare_spark.operators.similarity import embedding_lsh_pairs
from mare_spark.session import codegen_compiles
from mare_spark.tables import read_table
from tests.conftest import SF_ORACLE


def test_salted_join_matches_plain_join(spark):
    """Skewed fact (90% one key) joined to a unique-key dim: salted result
    must equal the plain join exactly."""
    fact = spark.range(10_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dim_val")
    )
    plain = fact.join(dim, "k").groupBy("k").agg(
        F.count("*").alias("n"), F.sum("dim_val").alias("s")
    )
    salted = salted_join(fact, dim, "k", salt=8).groupBy("k").agg(
        F.count("*").alias("n"), F.sum("dim_val").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    fact = spark.createDataFrame([(1, "a"), (99, "b")], "k int, v string")
    dim = spark.createDataFrame([(1, 10.0)], "k int, d double")
    out = salted_join(fact, dim, "k", salt=4, how="left").collect()
    by_key = {r.k: r.d for r in out}
    assert by_key == {1: 10.0, 99: None}
    with pytest.raises(ValueError):
        salted_join(fact, dim, "k", how="full")


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    orders = read_table(spark, SF_ORACLE, "orders")
    customer = read_table(spark, SF_ORACLE, "customer")
    bucketed_table(
        orders.select(F.col("o_custkey").alias("custkey"), "o_totalprice"),
        "t_orders_b",
        "custkey",
    )
    bucketed_table(
        customer.select(F.col("c_custkey").alias("custkey"), "c_name"),
        "t_customer_b",
        "custkey",
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path: at real scale neither side broadcasts,
        # which is exactly when bucketing saves the exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = join_bucketed(spark, "t_orders_b", "t_customer_b", "custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_embedding_cosine_pairs_exact_tier_plan(spark):
    """embedding_cosine_pairs is the exact all-pairs tier at any input
    size: its plan is the theta self-join, never the LSH scale tier."""
    emb = read_table(spark, SF_ORACLE, "embeddings")
    exact = embedding_cosine_pairs(emb, "embedding", "vec_id", 0.4)
    assert "BroadcastNestedLoopJoin" in exact._jdf.queryExecution().executedPlan().toString()


def test_embedding_lsh_pairs_no_job_before_signature_stage(spark):
    """With an explicit dim, building the LSH-pairs plan runs ONLY the
    deliberate cache-materialization barriers (cache.materialize — one
    count() each for the base persist and, since r10, the bucket-table
    persist that stops the candidate self-join's sides re-running the
    signature UDF), never a dim probe; without dim and without schema
    metadata it must raise BEFORE any job instead of probing (r2 #5)."""
    from mare_spark.operators.similarity import embedding_lsh_pairs

    emb = read_table(spark, SF_ORACLE, "embeddings")
    sc = spark.sparkContext
    sc.setJobGroup("lsh-plan-build", "plan construction: barrier job only")
    try:
        embedding_lsh_pairs(emb, "embedding", "vec_id", 0.4, dim=64)
        built = len(sc.statusTracker().getJobIdsForGroup("lsh-plan-build"))
        # the two materialize barriers (base + bucket table): one count()
        # action each, plus up to a schema-inference job on a cold session
        # and AQE per-stage jobs — double digits would mean per-row/
        # per-band probe jobs
        assert 1 <= built <= 7, built
        with pytest.raises(ValueError, match="pass dim"):
            embedding_lsh_pairs(emb, "embedding", "vec_id", 0.4)
        # the dim-less path raised before ANY job — still no probe
        after = len(sc.statusTracker().getJobIdsForGroup("lsh-plan-build"))
        assert after == built, (built, after)
    finally:
        sc.setJobGroup("", "")


def test_embedding_lsh_pairs_recall(spark):
    emb = read_table(spark, SF_ORACLE, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(emb, "embedding", "vec_id", 0.4).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_lsh_pairs(
            emb,
            "embedding",
            "vec_id",
            0.4,
            bands=16,
            bits_per_band=4,
            dim=len(emb.head()["embedding"]),
        ).collect()
    }
    assert exact
    assert lsh <= exact  # exact verify → no false positives
    recall = len(lsh) / len(exact)
    assert recall >= 0.7, f"LSH recall too low: {recall}"


def test_vectorized_similarity_udfs_realistic_dim(spark):
    """1536-dim: the numpy hot-path UDFs (batched multi-band signatures,
    query cosine, pairwise cosine) must agree with a reference numpy
    computation — these are the forms the 100 TB paths actually run."""
    import numpy as np

    from mare_spark.operators.similarity import (
        cosine_to_query,
        hyperplane_signatures,
        pairwise_cosine,
    )

    dim, n_rows = 1536, 16
    rng = np.random.default_rng(11)
    planes_per_band = [rng.standard_normal((8, dim)) for _ in range(6)]
    vecs = rng.standard_normal((n_rows, dim))
    q = rng.standard_normal(dim)

    df = spark.createDataFrame(
        [
            (i, [float(x) for x in vecs[i]], [float(x) for x in vecs[(i + 1) % n_rows]])
            for i in range(n_rows)
        ],
        "vec_id int, a array<double>, b array<double>",
    )
    out = df.select(
        "vec_id",
        hyperplane_signatures(F.col("a"), planes_per_band).alias("sigs"),
        F.round(cosine_to_query(F.col("a"), [float(x) for x in q]), 8).alias("cq"),
        F.round(pairwise_cosine(F.col("a"), F.col("b")), 8).alias("cp"),
    ).collect()

    for r in out:
        v = vecs[r.vec_id]
        w = vecs[(r.vec_id + 1) % n_rows]
        want_sigs = [
            int(sum(1 << i for i in range(8) if float(p[i] @ v) > 0))
            for p in planes_per_band
        ]
        assert r.sigs == want_sigs
        assert r.cq == round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 8)
        assert r.cp == round(float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w))), 8)

    with pytest.raises(ValueError):  # bit 63 would wrap the int64 sign
        hyperplane_signatures(F.col("a"), [np.zeros((64, dim))])


def test_cosine_kernel_equals_left_to_right_fold(spark):
    """pairwise_cosine and cosine_to_query equal a pure-Python
    left-to-right fold EXACTLY (== on doubles) at dim 64 (array<float>,
    the fixture's type) and dim 1536 (array<double>) — the summation
    order the DuckDB oracles' list_sum replays. Degenerate rows: a zero
    vector scores 0.0; a NULL vector, a NULL element or a length
    mismatch scores NULL; an empty batch returns an empty result."""
    import math

    import numpy as np
    import pyarrow as pa

    from mare_spark.operators.similarity import (
        _cosine_kernel,
        cosine_to_query,
        pairwise_cosine,
    )

    def fold(a, b):
        if a is None or b is None or len(a) != len(b):
            return None
        if any(x is None for x in a) or any(y is None for y in b):
            return None
        ab = aa = bb = 0.0
        for x, y in zip(a, b):
            ab += x * y
        for x in a:
            aa += x * x
        for y in b:
            bb += y * y
        den = math.sqrt(aa) * math.sqrt(bb)
        return 0.0 if den == 0.0 else ab / den

    rng = np.random.default_rng(5)
    for dim, elem, n in ((64, "float", 300), (1536, "double", 40)):
        vecs = rng.standard_normal((n + 1, dim))
        if elem == "float":  # the values Spark will hold, as doubles
            vecs = vecs.astype(np.float32).astype(np.float64)
        rows = [[float(x) for x in v] for v in vecs]
        q = rows[-1]
        a = rows[:n]
        b = rows[1:]
        a[0] = [0.0] * dim                        # zero vector
        a[1] = None                               # NULL vector
        b[2] = b[2][:5] + [None] + b[2][6:]       # NULL element
        a[3] = a[3][:-1]                          # length mismatch
        df = spark.createDataFrame(
            list(zip(range(n), a, b)),
            f"i int, a array<{elem}>, b array<{elem}>",
        )
        got = sorted(
            (r.i, r.cp, r.cq)
            for r in df.select(
                "i",
                pairwise_cosine(F.col("a"), F.col("b")).alias("cp"),
                cosine_to_query(F.col("a"), q).alias("cq"),
            ).collect()
        )
        want = [(i, fold(a[i], b[i]), fold(a[i], q)) for i in range(n)]
        assert got == want
        assert got[0][1:] == (0.0, 0.0)
        assert got[1][1:] == (None, None)
        assert got[2][1] is None and got[3][1:] == (None, None)

    assert df.limit(0).select(pairwise_cosine("a", "b")).collect() == []
    empty = pa.array([], pa.list_(pa.float32()))
    assert len(_cosine_kernel(empty, empty)) == 0
    assert len(_cosine_kernel(empty, q=np.ones(4))) == 0


def test_embedding_lsh_dim_from_column_metadata(spark):
    """with_dim_metadata makes the schema-derived dim branch real: no
    explicit dim parameter, no driver-side probe job."""
    from mare_spark.operators.similarity import (
        embedding_lsh_pairs,
        with_dim_metadata,
    )
    from mare_spark.tables import read_table
    from tests.conftest import SF_SMOKE

    emb = with_dim_metadata(
        read_table(spark, SF_SMOKE, "embeddings"), "embedding", 64
    )
    df = embedding_lsh_pairs(emb, "embedding", "vec_id", threshold=0.5)
    assert df.count() >= 0  # plan builds and runs without dim=


def test_write_sorted_layout_disjoint_file_ranges(spark, tmp_path):
    """Range-partitioned sorted writes give every file a disjoint key
    range and sorted rows inside — the property that makes parquet
    min/max pruning surgical on the sort column."""
    import os

    from mare_spark.operators.scale import write_sorted_layout

    li = read_table(spark, SF_ORACLE, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    out = str(tmp_path / "sorted")
    write_sorted_layout(li, out, ["l_orderkey"], num_files=4)

    files = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    assert len(files) == 4
    ranges, total = [], 0
    for f in files:
        rows = [r.l_orderkey for r in spark.read.parquet(f).collect()]
        assert rows == sorted(rows)  # sorted within the file
        ranges.append((min(rows), max(rows)))
        total += len(rows)
    assert total == li.count()
    for (_, hi), (lo, _) in zip(
        sorted(ranges), sorted(ranges)[1:]
    ):  # disjoint across files
        assert hi <= lo


def test_compact_small_files_preserves_data(spark, tmp_path):
    """Compaction collapses a many-small-files directory to the sized
    file count without changing a single row."""
    import os

    from mare_spark.operators.scale import compact_small_files

    path = str(tmp_path / "many")
    df = spark.range(10_000).withColumn("v", F.col("id") * 2)
    df.repartition(20).write.parquet(path)
    before_rows = sorted(r.id for r in spark.read.parquet(path).collect())

    n_before, n_after = compact_small_files(
        spark, path, target_file_bytes=1 << 30
    )
    assert n_before == 20 and n_after == 1
    assert not os.path.exists(path + "._compact_tmp")
    after = spark.read.parquet(path)
    assert sorted(r.id for r in after.collect()) == before_rows
    assert after.filter(F.col("v") != F.col("id") * 2).count() == 0


def test_assign_to_centroids_matches_numpy_argmin(spark):
    """Every vector's assignment equals the numpy argmin over the same
    seed centroids (ties impossible in the fixture; dist2 within fp
    tolerance of numpy's)."""
    import numpy as np

    from mare_spark.operators.similarity import assign_to_centroids
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    rows = emb.orderBy("vec_id").collect()
    cents = np.array([r.embedding for r in rows[:8]], dtype=np.float64)
    got = {
        r.vec_id: (r.cluster_id, r.dist2)
        for r in assign_to_centroids(emb, "embedding", "vec_id", k=8).collect()
    }
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64)
        d2 = ((v[None, :] - cents) ** 2).sum(axis=1)
        assert got[r.vec_id][0] == int(np.argmin(d2))
        assert abs(got[r.vec_id][1] - d2.min()) < 1e-6


def test_kmeans_refine_descends_sse(spark):
    """Distributed Lloyd refinement never increases within-cluster SSE
    (the Lloyd invariant), improves visibly on the seed centroids, and
    preserves shape."""
    import numpy as np

    from mare_spark.operators.similarity import kmeans_refine
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    seed = np.array(
        [list(r.embedding) for r in emb.orderBy("vec_id").head(6)],
        dtype=np.float64,
    )
    X = np.array(
        [list(r.embedding) for r in emb.collect()], dtype=np.float64
    )

    def sse(c):
        d = ((X[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        return d.min(axis=1).sum()

    prev, c = sse(seed), seed
    for _ in range(3):
        c = kmeans_refine(emb, "embedding", c, iters=1)
        cur = sse(c)
        assert cur <= prev + 1e-6
        prev = cur
    assert c.shape == seed.shape
    assert sse(c) < sse(seed)


def test_merge_parquet_upsert_insert_delete(spark, tmp_path):
    """MERGE semantics on plain parquet: matched keys update, new keys
    insert, delete keys vanish, untouched rows survive byte-identical,
    and no tmp directory is left behind."""
    import os

    from mare_spark.operators.scale import merge_parquet

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, v string"
    ).write.parquet(path)

    updates = spark.createDataFrame(
        [(2, "B2"), (5, "E")], "id long, v string"
    )
    deletes = spark.createDataFrame([(4,)], "id long")
    merge_parquet(spark, path, updates, "id", delete_keys=deletes)

    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 5: "E"}
    assert not os.path.exists(path + "._merge_tmp")


def test_maintenance_ops_resolve_scheme_up_front(spark):
    """compact/merge now walk and rename through the Hadoop FileSystem
    API, so any scheme the cluster classpath supports works; a scheme
    with NO implementation available (s3a:// in this jar-less sandbox)
    must fail at FS RESOLUTION — clearly and before any rewrite — not
    after the expensive write ran."""
    import pytest

    from mare_spark.operators.scale import compact_small_files, merge_parquet

    with pytest.raises(ValueError, match="cannot resolve a Hadoop"):
        compact_small_files(spark, "s3a://bucket/tbl")
    with pytest.raises(ValueError, match="cannot resolve a Hadoop"):
        merge_parquet(
            spark, "s3a://bucket/tbl",
            spark.createDataFrame([(1,)], "id long"), "id",
        )


def test_merge_parquet_rejects_duplicate_update_keys(spark, tmp_path):
    import pytest

    from mare_spark.operators.scale import merge_parquet

    path = str(tmp_path / "tbl2")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    dup_updates = spark.createDataFrame(
        [(1, "x"), (1, "y")], "id long, v string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_parquet(spark, path, dup_updates, "id")


def test_merge_parquet_on_key_named_count(spark, tmp_path):
    """A key column named ``count`` merges like any other: the duplicate
    check names its own columns, so none can collide with a key."""
    from mare_spark.operators.scale import merge_parquet

    path = str(tmp_path / "tbl_count")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "count long, v string"
    ).write.parquet(path)
    updates = spark.createDataFrame([(2, "B2"), (3, "c")], "count long, v string")
    merge_parquet(spark, path, updates, "count")
    got = {r["count"]: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B2", 3: "c"}

    dup = spark.createDataFrame([(1, "x"), (1, "y")], "count long, v string")
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_parquet(spark, path, dup, "count")


def test_eager_validators_compile_nothing_when_warm(spark):
    """A second call of the merge and export preconditions on the same
    frames reuses every compiled class. The merge checks are aggregates:
    a LIMIT probe over a union (``updates`` here) is pushed into each
    branch and codegen'd under a counter name that is new on every call."""
    from mare_spark.operators.export import _check_export_input
    from mare_spark.operators.scale import _check_merge_inputs

    updates = spark.range(2).selectExpr("id", "'x' AS v").union(
        spark.range(5, 7).selectExpr("id", "'y' AS v")
    )
    deletes = spark.range(10, 11)
    slim = spark.range(3).selectExpr("id AS doc_id", "id + 5 AS n_tokens")

    def validate():
        _check_merge_inputs(updates, ["id"], deletes)
        _check_export_input(slim, "doc_id", "n_tokens")

    validate()
    before = codegen_compiles(spark)
    validate()
    assert codegen_compiles(spark) == before


def test_compact_heals_crashed_swap(spark, tmp_path):
    """A crash between the swap renames leaves the data only at ._old;
    a rerun restores and completes instead of erroring on a missing
    table."""
    import os

    from mare_spark.operators.scale import compact_small_files

    path = str(tmp_path / "tbl3")
    spark.createDataFrame([(i,) for i in range(100)], "id long") \
        .repartition(5).write.parquet(path)
    rows = sorted(r.id for r in spark.read.parquet(path).collect())
    os.rename(path, path + "._compact_old")  # simulate mid-swap crash

    before, after = compact_small_files(
        spark, path, target_file_bytes=1 << 30
    )
    assert after == 1
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == rows
    assert not os.path.exists(path + "._compact_old")


def test_merge_heals_crashed_swap(spark, tmp_path):
    """merge_parquet mirrors compact's early heal: after a crash between
    the swap renames (table only at ._merge_old), a rerun restores the
    table FIRST and completes the merge instead of failing the base read
    and leaving the table offline."""
    import os

    from mare_spark.operators.scale import merge_parquet

    path = str(tmp_path / "tbl_heal")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.parquet(path)
    os.rename(path, path + "._merge_old")  # simulate mid-swap crash

    updates = spark.createDataFrame([(2, "B2")], "id long, v string")
    merge_parquet(spark, path, updates, "id")
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B2"}
    assert not os.path.exists(path + "._merge_old")


def test_merge_rejects_update_delete_conflict(spark, tmp_path):
    """A key in BOTH updates and delete_keys is a defined conflict (SQL
    MERGE semantics), not a silent upsert."""
    import pytest

    from mare_spark.operators.scale import merge_parquet

    path = str(tmp_path / "tbl_conflict")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    updates = spark.createDataFrame([(1, "x")], "id long, v string")
    deletes = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="both updates and"):
        merge_parquet(spark, path, updates, "id", delete_keys=deletes)
    # table untouched by the failed merge
    assert {r.v for r in spark.read.parquet(path).collect()} == {"a"}


def test_maintenance_ops_normalize_file_uris(spark, tmp_path):
    """file:// URIs pass the guard AND work: the scheme is stripped before
    the os.walk/rename calls (previously they sized from an empty listing
    and failed at the rename after the rewrite)."""
    import os

    from mare_spark.operators.scale import compact_small_files

    path = str(tmp_path / "tbl_uri")
    spark.range(1000).repartition(6).write.parquet(path)
    before, after = compact_small_files(
        spark, "file://" + path, target_file_bytes=1 << 30
    )
    assert before == 6 and after == 1
    assert not os.path.exists(path + "._compact_tmp")
    assert spark.read.parquet(path).count() == 1000


def test_merge_partitioned_rewrites_only_affected(spark, tmp_path):
    """Partition-aware MERGE: only the partitions named by the batch are
    rewritten — untouched partitions keep byte-identical files (same
    inode, same mtime), the property that makes MERGE affordable on a
    100 TB partitioned table."""
    import os

    from mare_spark.operators.scale import merge_parquet_partitioned

    path = str(tmp_path / "tbl_part")
    spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"), (4, "d", "p3")],
        "id long, v string, pt string",
    ).write.partitionBy("pt").parquet(path)

    def file_stats(part):
        d = os.path.join(path, f"pt={part}")
        return {
            f: (os.stat(os.path.join(d, f)).st_ino,
                os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")
        }

    p2_before, p3_before = file_stats("p2"), file_stats("p3")

    updates = spark.createDataFrame(
        [(2, "B2", "p1"), (9, "NEW", "p4")], "id long, v string, pt string"
    )
    deletes = spark.createDataFrame([(4, "p3")], "id long, pt string")
    rewritten = merge_parquet_partitioned(
        spark, path, updates, "id", "pt", delete_keys=deletes
    )
    assert sorted(rewritten) == ["p1", "p3", "p4"]

    got = {(r.id, r.pt): r.v for r in spark.read.parquet(path).collect()}
    assert got == {
        (1, "p1"): "a", (2, "p1"): "B2", (3, "p2"): "c", (9, "p4"): "NEW",
    }
    # untouched partition p2: files byte-identical (inode + mtime preserved)
    assert file_stats("p2") == p2_before
    # p3 lost its ONLY row: the directory is removed outright (an empty
    # hive dir would be a phantom partition), not rewritten in place
    assert p3_before  # it existed before the merge
    assert not os.path.exists(os.path.join(path, "pt=p3"))
    assert not os.path.exists(os.path.join(path, "pt=p1._merge_tmp"))


def test_merge_partitioned_cross_partition_move(spark, tmp_path):
    """The documented cross-partition move recipe — an update row for the
    NEW partition plus a delete_keys row for the OLD one in the same
    batch — must be accepted (conflict checks run on the composite
    (key, partition_col) identity, not the bare key) and must actually
    move the row. Two update rows for one key in DIFFERENT partitions are
    likewise two distinct rows, not duplicates."""
    from mare_spark.operators.scale import merge_parquet_partitioned

    path = str(tmp_path / "tbl_move")
    spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2")],
        "id long, v string, pt string",
    ).write.partitionBy("pt").parquet(path)

    # move id=1 from p1 to p2; simultaneously carry a second update for a
    # DIFFERENT key that lands two rows for key-space neighbor id=3's
    # partition — composite identities are all distinct
    updates = spark.createDataFrame(
        [(1, "a-moved", "p2"), (3, "c2", "p2")], "id long, v string, pt string"
    )
    deletes = spark.createDataFrame([(1, "p1")], "id long, pt string")
    rewritten = merge_parquet_partitioned(
        spark, path, updates, "id", "pt", delete_keys=deletes
    )
    assert sorted(rewritten) == ["p1", "p2"]
    got = {(r.id, r.pt): r.v for r in spark.read.parquet(path).collect()}
    assert got == {
        (1, "p2"): "a-moved", (2, "p1"): "b", (3, "p2"): "c2",
    }


def test_merge_partitioned_same_key_two_partitions_updates(spark, tmp_path):
    """Updates for ONE key in TWO partitions are distinct composite rows:
    accepted, each lands in its own partition (partition_col is part of
    row identity). A true composite duplicate still raises."""
    import pytest

    from mare_spark.operators.scale import merge_parquet_partitioned

    path = str(tmp_path / "tbl_same_key")
    spark.createDataFrame(
        [(1, "a", "p1"), (1, "b", "p2")], "id long, v string, pt string"
    ).write.partitionBy("pt").parquet(path)

    updates = spark.createDataFrame(
        [(1, "A1", "p1"), (1, "B2", "p2")], "id long, v string, pt string"
    )
    merge_parquet_partitioned(spark, path, updates, "id", "pt")
    got = {(r.id, r.pt): r.v for r in spark.read.parquet(path).collect()}
    assert got == {(1, "p1"): "A1", (1, "p2"): "B2"}

    dup = spark.createDataFrame(
        [(1, "x", "p1"), (1, "y", "p1")], "id long, v string, pt string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_parquet_partitioned(spark, path, dup, "id", "pt")
    # update+delete on the SAME composite identity is still a conflict
    with pytest.raises(ValueError, match="both updates"):
        merge_parquet_partitioned(
            spark, path,
            spark.createDataFrame([(1, "x", "p1")], "id long, v string, pt string"),
            "id", "pt",
            delete_keys=spark.createDataFrame([(1, "p1")], "id long, pt string"),
        )


def test_merge_partitioned_requires_partition_column(spark, tmp_path):
    import pytest

    from mare_spark.operators.scale import merge_parquet_partitioned

    path = str(tmp_path / "tbl_part2")
    spark.createDataFrame(
        [(1, "a", "p1")], "id long, v string, pt string"
    ).write.partitionBy("pt").parquet(path)
    with pytest.raises(ValueError, match="partition column"):
        merge_parquet_partitioned(
            spark, path,
            spark.createDataFrame([(1, "x")], "id long, v string"),
            "id", "pt",
        )
    with pytest.raises(ValueError, match="partition column"):
        merge_parquet_partitioned(
            spark, path,
            spark.createDataFrame([(1, "x", "p1")], "id long, v string, pt string"),
            "id", "pt",
            delete_keys=spark.createDataFrame([(2,)], "id long"),
        )


def test_zorder_layout_clusters_both_columns(spark, tmp_path):
    """Z-order: every output file covers a small hypercube, so per-file
    min/max ranges are narrow on BOTH clustered columns — where the
    single-column sorted layout leaves the second column's per-file
    ranges spanning (almost) the whole domain. Asserted as average
    per-file range coverage, the quantity that drives min/max skipping."""
    import os

    from mare_spark.operators.scale import (
        write_sorted_layout,
        write_zorder_layout,
    )

    # two independent dimensions; 64 x 64 grid, 16 files -> z-order files
    # should cover ~1/4 of each dimension, sorted layout ~1 of dim y
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long")

    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zorder_layout(df, zpath, ["x", "y"], num_files=16)
    write_sorted_layout(df, spath, ["x"], num_files=16)

    def avg_coverage(path, col):
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        assert len(files) == 16
        cov = []
        for f in files:
            vals = [r[col] for r in spark.read.parquet(f).select(col).collect()]
            cov.append((max(vals) - min(vals) + 1) / 64)
        return sum(cov) / len(cov)

    # z-order: both dimensions well-clustered
    assert avg_coverage(zpath, "x") <= 0.5, avg_coverage(zpath, "x")
    assert avg_coverage(zpath, "y") <= 0.5, avg_coverage(zpath, "y")
    # sorted layout: leading column surgical, second column unclustered
    assert avg_coverage(spath, "x") <= 0.15
    assert avg_coverage(spath, "y") >= 0.9
    # lossless
    assert spark.read.parquet(zpath).count() == len(rows)


def test_zorder_value_validates_width(spark):
    import pytest

    from mare_spark.operators.scale import zorder_value

    df = spark.createDataFrame([(1, 2)], "x long, y long")
    with pytest.raises(ValueError, match="signed long"):
        zorder_value(df, ["x", "y"], bits_per_col=32)


def test_zorder_value_matches_python_morton(spark):
    """The bitwise interleave expression equals a reference Python Morton
    encode on the scaled codes — pinning the expression tree (shiftleft/
    bitwiseOR chains are easy to get subtly wrong, e.g. column order or
    bit direction)."""
    from mare_spark.operators.scale import zorder_value

    rows = [(x, y) for x in (0, 1, 5, 63) for y in (0, 2, 31, 63)]
    df = spark.createDataFrame(rows, "x long, y long")
    zdf, zcol = zorder_value(df, ["x", "y"], bits_per_col=6)
    got = {(r.x, r.y): r[zcol] for r in zdf.collect()}

    def scale(v):  # min 0, max 63 in the fixture -> code = v
        return int(v * 64 / 63) if v < 63 else 63

    def morton(cx, cy, bits=6):
        z = 0
        for bit in range(bits - 1, -1, -1):
            z = (z << 1) | ((cx >> bit) & 1)
            z = (z << 1) | ((cy >> bit) & 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(scale(x), scale(y)), (x, y, z)


def test_zorder_value_nulls_land_in_bottom_bin(spark):
    """NULL column values take the bottom bin (code 0), by contract: a
    NULL x must z-encode exactly like the minimum x, not silently
    co-cluster with max-value rows (the least()-skips-NULLs accident)."""
    from mare_spark.operators.scale import zorder_value

    df = spark.createDataFrame(
        [(0, 0), (0, 63), (63, 63), (None, 63), (None, 0)], "x long, y long"
    )
    zdf, zcol = zorder_value(df, ["x", "y"], bits_per_col=6)
    got = {(r.x, r.y): r[zcol] for r in zdf.collect()}
    # NULL x ≡ x=0 (the min), for either y
    assert got[(None, 63)] == got[(0, 63)]
    assert got[(None, 0)] == got[(0, 0)]
    # and is far from the max-value corner
    assert got[(None, 63)] < got[(63, 63)]


def test_file_skipping_report_shows_layout_payoff(spark, tmp_path):
    """The footer-stats report quantifies what the layout writers buy: a
    range predicate on the sort column skips most files of the sorted
    layout and (typically) none of a round-robin layout — measured from
    parquet footers only, no data read."""
    from mare_spark.operators.scale import (
        file_skipping_report,
        write_sorted_layout,
    )

    li = read_table(spark, SF_ORACLE, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    sorted_path = str(tmp_path / "sorted")
    rr_path = str(tmp_path / "rr")
    write_sorted_layout(li, sorted_path, ["l_orderkey"], num_files=8)
    li.repartition(8).write.parquet(rr_path)

    # probe MID-domain: every round-robin file's [min, max] spans it (a
    # min/max-edge probe would let rr files skip accidentally), while the
    # sorted layout's disjoint ranges put it in at most 2 files
    mn, mx = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).head()
    lo = hi = int((mn + mx) // 2)
    srt = file_skipping_report(sorted_path, "l_orderkey", lo, hi)
    rr = file_skipping_report(rr_path, "l_orderkey", lo, hi)
    assert srt["files"] == rr["files"] == 8
    # point query mid-domain: sorted layout -> all but (at most) one file
    # skips (two if the value sits exactly on a range boundary)
    assert srt["skippable"] >= 6, srt
    # round-robin: every file spans the whole domain -> nothing skips
    assert rr["skippable"] == 0, rr
    assert srt["skippable_row_groups"] >= srt["skippable"]

    import pytest

    with pytest.raises(ValueError, match="not in"):
        file_skipping_report(sorted_path, "no_such_col", 0, 1)


def test_merge_partitioned_stages_outside_table_root(spark, tmp_path):
    """Staging dirs must be siblings of the table root, never
    hive-parseable names inside it: a reader listing the table mid-merge
    (or after a crash before the swap) must not see a phantom duplicate
    partition."""
    import os
    from unittest.mock import patch

    from mare_spark.operators.scale import merge_parquet_partitioned

    path = str(tmp_path / "tbl_stage")
    spark.createDataFrame(
        [(1, "a", "p1")], "id long, v string, pt string"
    ).write.partitionBy("pt").parquet(path)
    updates = spark.createDataFrame([(1, "A", "p1")], "id long, v string, pt string")

    seen = []
    import mare_spark.operators.scale as S
    orig = S._swap_dirs

    def spy(fs, p, tmp, old):
        seen.append((tmp, old))
        # mid-merge: tmp exists but must be INVISIBLE to a table reader
        # (paths are file:// URIs now that IO goes through the FS API)
        assert os.path.exists(tmp[len("file://"):])
        assert not tmp.startswith("file://" + path + os.sep), tmp
        got = {r.v for r in spark.read.parquet(path).collect()}
        assert got == {"a"}, got  # reader sees only the old partition
        return orig(fs, p, tmp, old)

    with patch.object(S, "_swap_dirs", side_effect=spy):
        merge_parquet_partitioned(spark, path, updates, "id", "pt")
    assert seen
    assert {r.v for r in spark.read.parquet(path).collect()} == {"A"}
    # nothing staged remains under or beside the root
    leftovers = [d for d in os.listdir(tmp_path) if "_merge_" in d]
    assert not leftovers, leftovers


def test_merge_partitioned_rejects_unsafe_partition_values(spark, tmp_path):
    import pytest

    from mare_spark.operators.scale import merge_parquet_partitioned

    path = str(tmp_path / "tbl_unsafe")
    spark.createDataFrame(
        [(1, "a", "p1")], "id long, v string, pt string"
    ).write.partitionBy("pt").parquet(path)
    for bad in [None, "a b", "x:y"]:
        updates = spark.createDataFrame(
            [(1, "x", bad)], "id long, v string, pt string"
        )
        with pytest.raises(ValueError, match="hive-safe|non-NULL"):
            merge_parquet_partitioned(spark, path, updates, "id", "pt")


def test_zorder_value_rejects_reserved_name_collision(spark):
    import pytest

    from mare_spark.operators.scale import zorder_value

    df = spark.createDataFrame([(1, 2, 3)], "x long, y long, _zorder long")
    with pytest.raises(ValueError, match="collide"):
        zorder_value(df, ["x", "y"])


def test_merge_partitioned_heals_crashed_partition_swap(spark, tmp_path):
    """A crash between a partition's swap renames leaves that partition
    only at the sibling .old staging dir; a rerun of the SAME batch must
    restore it first and complete the merge."""
    import os

    from mare_spark.operators.scale import merge_parquet_partitioned

    path = str(tmp_path / "tbl_pheal")
    spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2")], "id long, v string, pt string"
    ).write.partitionBy("pt").parquet(path)
    # simulate the crash: p1 renamed aside to its sibling staging name,
    # promotion never happened
    os.rename(
        os.path.join(path, "pt=p1"),
        str(tmp_path / "tbl_pheal._merge_pt=p1.old"),
    )

    updates = spark.createDataFrame([(1, "A", "p1")], "id long, v string, pt string")
    rewritten = merge_parquet_partitioned(spark, path, updates, "id", "pt")
    assert rewritten == ["p1"]
    got = {(r.id, r.pt): r.v for r in spark.read.parquet(path).collect()}
    assert got == {(1, "p1"): "A", (2, "p2"): "b"}
    assert not any("_merge_" in d for d in os.listdir(tmp_path))


def test_partition_skew_report_counts_and_shares(spark):
    """Row counts per physical partition sum to the input; an engineered
    skewed repartition surfaces as one dominant row; shares are exact
    6dp ratios."""
    from pyspark.sql import functions as F

    from mare_spark.operators.scale import partition_skew_report

    df = spark.range(1000).withColumn(
        "k", F.when(F.col("id") < 900, F.lit(1)).otherwise(F.col("id"))
    )
    skewed = df.repartition(8, "k")
    rep = partition_skew_report(skewed).collect()
    assert sum(r.n_rows for r in rep) == 1000
    assert rep[0].n_rows >= 900          # the hot key's partition leads
    assert abs(sum(r.pct_of_total for r in rep) - 1.0) < 1e-4
    assert rep == sorted(rep, key=lambda r: (-r.n_rows, r.partition_id))


def test_scale_review_guards(spark, tmp_path):
    """Review-driven maintenance contracts: NULL merge keys are rejected
    (non-null-safe joins would duplicate updates / no-op deletes); a
    delete aimed at a nonexistent partition is a no-op, and emptying a
    partition REMOVES its directory (never installs a phantom empty hive
    dir); numeric partition values filter by their original type; the
    skew report lists empty partitions explicitly; salted_join rejects a
    pre-existing _salt column; zorder survives NaN values."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from mare_spark.operators.scale import (
        merge_parquet,
        merge_parquet_partitioned,
        partition_skew_report,
        salted_join,
        zorder_value,
    )

    # NULL merge key rejected
    base_path = str(tmp_path / "t0")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        base_path
    )
    with pytest.raises(ValueError, match="non-NULL"):
        merge_parquet(
            spark, base_path,
            spark.createDataFrame([(None, "x")], "id long, v string"),
            "id",
        )

    # partitioned: empty-partition handling
    p = str(tmp_path / "t1")
    spark.createDataFrame(
        [(1, "a", "p1"), (2, "b", "p2")], "id long, v string, pt string"
    ).write.partitionBy("pt").parquet(p)
    deletes = spark.createDataFrame(
        [(1, "p1"), (9, "p9")], "id long, pt string"
    )
    rewritten = merge_parquet_partitioned(
        spark, p,
        spark.createDataFrame([], "id long, v string, pt string"),
        "id", "pt",
        delete_keys=deletes,
    )
    assert rewritten == ["p1"]          # p9 never existed: pure no-op
    assert not os.path.exists(f"{p}/pt=p1")   # emptied dir REMOVED
    assert not os.path.exists(f"{p}/pt=p9")   # no phantom dir created
    back = spark.read.parquet(p)
    assert [r.id for r in back.collect()] == [2]

    # skew report: empty partitions appear as explicit zeros
    df = spark.range(100).repartition(8, (F.col("id") % 2))
    rep = partition_skew_report(df).collect()
    assert len(rep) == 8
    assert sum(1 for r in rep if r.n_rows == 0) >= 6

    with pytest.raises(ValueError, match="_salt"):
        salted_join(
            df.withColumn("_salt", F.lit(1)), df.selectExpr("id"), "id"
        )

    # zorder: one NaN row must not collapse a dimension to bin 0
    nan_df = spark.createDataFrame(
        [(1, 1.0, 10.0), (2, 2.0, 20.0), (3, float("nan"), 30.0)],
        "id long, x double, y double",
    )
    zdf, zc = zorder_value(nan_df, ["x", "y"], bits_per_col=4)
    zs = {r.id: r[zc] for r in zdf.collect()}
    assert zs[1] != zs[2]  # the x dimension still separates rows


def test_compact_and_merge_file_scheme_uri(spark, tmp_path):
    """compact + merge against explicit file:// URIs — the sandbox proxy
    for hdfs://s3a:// now that directory IO goes through the Hadoop
    FileSystem API (listing, sizing, swap renames, deletes)."""
    from pyspark.sql import functions as F

    from mare_spark.operators.scale import compact_small_files, merge_parquet

    local = str(tmp_path / "tbl_uri")
    uri = "file://" + local
    spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).repartition(16).write.parquet(local)
    before, after = compact_small_files(
        spark, uri, target_file_bytes=1 << 30
    )
    assert before == 16 and after == 1

    updates = spark.createDataFrame([(5, 999), (2000, 1)], "id long, v long")
    deletes = spark.createDataFrame([(7,)], "id long")
    merge_parquet(spark, uri, updates, "id", delete_keys=deletes)
    got = {r.id: r.v for r in spark.read.parquet(local).collect()}
    assert got[5] == 999 and got[2000] == 1 and 7 not in got
    assert len(got) == 1000  # -1 delete +1 insert
