.PHONY: test bench perfbench scaling dist clean

test:
	python -m pytest tests/ -x -q

bench:
	python bench.py

perfbench:
	python3 -m pytest perfbench -q

scaling:
	python bench/scaling.py

dist:
	mkdir -p dist
	rm -f dist/readembedability_spark.zip
	cd . && zip -qr dist/readembedability_spark.zip readembedability_spark \
		-x '*__pycache__*'

clean:
	rm -rf dist .bench_cache .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} +
