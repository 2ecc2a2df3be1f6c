# Build-time regression guard (round-4 verdict item #8): `make verify`
# fails on any oracle mismatch, any hard plan-audit flag (cartesian
# join / row-at-a-time Python UDF), any unpartitioned-window
# single-task stage (the "WindowExec: No Partition Defined" runtime
# warning), or any pytest failure.

SHELL := /bin/bash
SF_DIR ?= /root/testdata/sf0.01

.PHONY: verify oracle plan test test-wide bench

verify: oracle plan test

oracle:
	@log=$$(mktemp); \
	python tools/oracle_check.py $(SF_DIR) 2>&1 | tee $$log; rc=$${PIPESTATUS[0]}; \
	if grep -q "No Partition Defined" $$log; then \
	  echo "FAIL: unpartitioned window (single-task stage) in some query plan"; \
	  rm -f $$log; exit 1; \
	fi; \
	rm -f $$log; exit $$rc

plan:
	python tools/plan_audit.py $(SF_DIR)

test:
	python -m pytest tests/ -x -q

# the wide sweep: the heavy stream-join twins plus 20 examples per
# property test (the defaults skip the twins and run 3 examples)
test-wide:
	SPARK_GRAFT_HEAVY_TESTS=1 SPARK_GRAFT_PROP_EXAMPLES=20 \
	  python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py
