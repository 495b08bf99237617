.PHONY: test test-fast package bench clean

test:
	python -m pytest tests/ -x -q

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
