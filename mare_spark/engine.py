"""Engine facade — the one-object entry point tying the surfaces together:

    eng = Engine(get_spark(), "/root/testdata/sf0.01")
    eng.sql("SELECT count(*) FROM lineitem")       # SQL over the catalog
    eng.table("orders")                             # DataFrame handle
    eng.pipe(df)                                    # container pipeline
    eng.run_query("q1_pricing_summary")             # registered corpus
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mare_spark.dataset import MaRe
from mare_spark.registry import all_queries
from mare_spark.tables import load_tables


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str | None = None, backend: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.backend = backend
        if sf_dir is not None:
            load_tables(spark, sf_dir)

    # -- catalog ------------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        # always the live catalog view — a cached DataFrame handle would go
        # stale the moment the temp view is replaced outside register()
        # (e.g. via eng.sql("CREATE OR REPLACE TEMP VIEW ...")), making
        # table() and sql() silently disagree about the same name
        # (r8 review)
        return self.spark.table(name)

    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    # -- SQL entry point ----------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- container pipeline -------------------------------------------------
    def pipe(self, df: DataFrame) -> MaRe:
        return MaRe(df, backend=self.backend)

    # -- registered corpus --------------------------------------------------
    def run_query(self, name: str) -> DataFrame:
        """Build the registered query ``name`` over the engine's tables.

        The result is unscoped: caches its operators persist while
        building it register in the caller's innermost ``cache_scope()``,
        or in the root scope outside any. A caller running many queries
        should build and consume each one inside its own
        ``with cache_scope():`` so its caches are released when done.
        """
        if self.sf_dir is None:
            raise ValueError("Engine was built without an sf_dir")
        qs = all_queries()
        if name not in qs:
            import difflib

            near = difflib.get_close_matches(name, qs, n=3)
            hint = f"; did you mean {near}?" if near else ""
            raise ValueError(
                f"unknown query {name!r}{hint} — query_names() lists the "
                f"{len(qs)} registered queries"
            )
        return qs[name].fn(self.spark, self.sf_dir)

    def query_names(self) -> list[str]:
        return sorted(all_queries())
