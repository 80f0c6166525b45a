# `check` is the Tier-1 gate (ROADMAP.md "Tier-1 verify"): the full suite
# with Spark pinned to this machine's CPUs, shuffle/spill under
# /tmp/spark-local, a 2,670 s hard limit, a collection error reported
# without stopping the run, and no pytest cache written into the tree.
# Run it last, after every code change, before committing.
# `quickcheck` is the fast inner loop (plan audit + all DuckDB oracles at
# sf0.01).

.PHONY: check quickcheck bench

check:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

quickcheck:
	python -m pytest tests/test_plans.py tests/test_queries_oracle.py -q

bench:
	python bench.py
