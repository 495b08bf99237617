.PHONY: test durations test-fast package bench clean

# the tier-1 command (ROADMAP.md)
TIER1 = export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

test:
	$(TIER1)

# tier-1 plus the 20 slowest tests: how much of the timeout is used
durations:
	$(TIER1) --durations=20

test-fast:
	python -m pytest tests/ -x -q -k "not e2e and not resume and not streaming"

package:
	mkdir -p dist
	rm -f dist/starchart_spark.zip
	cd . && zip -qr dist/starchart_spark.zip starchart_spark -i 'starchart_spark/*.py'

bench:
	python bench.py

clean:
	rm -rf dist .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} +
