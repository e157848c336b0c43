.PHONY: test dist bench scaling check-oracle loc clean

# the Tier-1 gate: cores from the host, spill dirs on local disk, one timeout
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

dist:
	mkdir -p dist
	cd . && zip -qr dist/chatvector_ai_spark.zip chatvector_ai_spark -x '*__pycache__*'
	@echo "submit with: spark-submit --py-files dist/chatvector_ai_spark.zip jobs/run_pipeline.py --n-docs 100000 --warehouse /data/kg_wh"

# bench depends on dist so the README's "verified spark-submit" claim
# always matches HEAD: the zip is rebuilt before every bench run
bench: dist
	python bench.py

scaling:
	python tools/bench_scaling.py

check-oracle:
	PYTHONPATH=. python tools/check_oracle.py

# the package line count ROADMAP tracks (every .py file, comments included)
loc:
	@find chatvector_ai_spark -name '*.py' | xargs cat | wc -l

clean:
	rm -rf dist .pytest_cache
	find . -name __pycache__ -type d -prune -exec rm -rf {} +
