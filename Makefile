# Round-7 verdict item 5: one invocation that runs EVERYTHING the round's
# final handoff must have run — the full suite plus the three env-gated
# sweeps (108-query dirty-input sweep, 108-query empty-table sweep, 10x
# scale smoke) — so "the sweeps ran on the final commit" is a single
# `make verify` away instead of three remembered env vars.

.PHONY: test verify bench bench-commit

# the ROADMAP Tier-1 command, verbatim: host core count, local spill dir,
# the 2670 s budget, and no -x so one failure does not hide the rest
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

verify:
	TSDL_DIRTY_SWEEP=1 TSDL_EMPTY_SWEEP=1 TSDL_SCALE_SMOKE=1 \
		python3 -m pytest tests/ -q

# plain bench writes the gitignored BENCH_PLANS.run.json sidecar only;
# bench-commit (round-8 verdict item 2) deliberately refreshes the
# committed per-round adjudication record BENCH_PLANS.json
bench:
	python3 bench.py

bench-commit:
	python3 bench.py --commit-plans
