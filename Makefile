# Test entry points. `test` is the Tier-1 command of ROADMAP.md: the
# default selection of pytest.ini, which defers the `slow` tests. `test-full`
# is the same command over every test, the `slow` ones included.
TIER1 = export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

.PHONY: test test-full

test:
	$(TIER1)

test-full:
	$(TIER1) -m ""
