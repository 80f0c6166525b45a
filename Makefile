# Round-exit gate: run `make check` as the LAST act before recording
# artifacts — round 3 shipped with its own plan-audit test red because the
# final full-suite run was skipped. `check` is the full gate; `quickcheck`
# is the fast inner loop (plan audit + all 153 DuckDB oracles at sf0.01).
#
# Snapshot discipline (round 8 shipped 2 red tests in its final commit):
# a round's final commit must contain NO new operator/test logic that
# post-dates the last full `make check` — docs and driver artifacts only,
# or the suite must be re-run before committing.

.PHONY: check quickcheck bench

check:
	python -m pytest tests/ -q

quickcheck:
	python -m pytest tests/test_plans.py tests/test_queries_oracle.py -q

bench:
	python bench.py
