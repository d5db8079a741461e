# Development gates, mirroring the reference CI surface (reference
# Makefile:11 `make lint test`, setup.cfg:15-20 pylama + coverage>=85).
# The image has no pylama/flake8/coverage.py, so lint and coverage are
# self-contained stdlib tools under tools/ — see their docstrings for what
# they check and what the coverage number can honestly claim (driver-side
# lines only; executor-process UDF bodies are not traced).

.PHONY: lint test test-full check sim cluster-sim soak coverage bench catalog gate census all

lint:
	python tools/lint.py

# default tier (r14 verdict #8): everything except the `slow` marker —
# multi-JVM cluster suites and SIGKILL/injected-failure recovery
# (membership: tests/conftest.py SLOW_MODULES). The histgbm differential
# and system tests joined the default tier once histgbm merged over its
# own socket ring instead of one ~1 s barrier allGather per tree level.
# Measured r15 (before that move): default 276 tests / ~21 min of wall in
# a 25%-inflated window (~17 min clean), slow tier 34 tests / ~25 min —
# full pass 307 green in 45:54.
test:
	python -m pytest tests/ -x -q -m "not slow"

# full pass (CI / certification): the complete suite including the slow
# tier. This is the tier the round's green claim is made on.
test-full:
	python -m pytest tests/ -x -q

# full DuckDB bit-exact oracle gate over the query catalog
check:
	python tools/check.py /root/testdata/sf0.01

# same simulation as the external driver (fresh process, untuned session,
# cwd outside the repo); cluster-sim runs it across two REAL executor JVMs
# so a plan accidentally dependent on single-address-space locality fails
sim:
	python tools/driver_sim.py

cluster-sim:
	SPARK_GRAFT_SIM_MASTER='local-cluster[2,2,1500]' python tools/driver_sim.py

# soak/service-regime gate: the FULL catalog twice in one JVM with
# release_caches between passes — asserts pass-2 <= 1.2x pass-1 and zero
# persistent RDDs / empty CacheManager at end (r11 verdict task 5)
soak:
	python tools/driver_sim.py --passes 2

# driver-side line coverage; threshold calibrated to the measured baseline
# (executor-side code excluded by construction — see tools/coverage.py)
coverage:
	python tools/coverage.py --fail-under 85 --with-catalog

bench:
	python bench.py

catalog:
	python tools/gen_catalog.py

# full-catalog per-query timing census: driver sim with timing capture,
# then a family-relative outlier report (tools/census.py docstring)
census:
	SPARK_GRAFT_CENSUS=/tmp/dls_census.json python tools/driver_sim.py
	python tools/census.py /tmp/dls_census.json --md docs/CENSUS.md

# re-rotate the correctness gate from the committed CORRECTNESS_r*.json
# files (each round's mandatory commit #1); --check in CI-style usage
gate:
	python tools/gen_gate.py

all: lint test
