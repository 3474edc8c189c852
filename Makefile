.PHONY: dist test tier1 oracle bench bench-pairs scaling loc clean

dist:
	rm -f dist/elasticsearch_eslib_spark.zip
	mkdir -p dist
	cd . && zip -qr dist/elasticsearch_eslib_spark.zip elasticsearch_eslib_spark \
		-x '*__pycache__*'
	@echo "dist/elasticsearch_eslib_spark.zip ready for spark-submit --py-files"

test:
	python -m pytest tests/ -x -q

# the tier-1 suite as ROADMAP.md's verify command runs it
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the Spark-vs-DuckDB compare on indexes this tree builds: __spark_entry__
# reuses any finished lifecycle index cached in the temp dir, so drop them
oracle:
	rm -rf "$$(python -c 'import tempfile; print(tempfile.gettempdir())')"/eslib_idx_v*_*
	python scripts/check_oracle.py

bench:
	python bench.py

# the working tree vs PARENT on one perfbench workload, in alternating
# pairs (see scripts/bench_pairs.py)
PARENT ?= HEAD
WORKLOAD ?= serve
SEEDS ?= 1-10
bench-pairs:
	python3 scripts/bench_pairs.py --parent $(PARENT) --workload $(WORKLOAD) \
		--seeds $(SEEDS)

scaling:
	python bench_scaling.py

# line totals of the package and of its plans/ + sources/ (ROADMAP aim 2)
loc:
	@printf 'package           %s\n' "$$(cat $$(find elasticsearch_eslib_spark -name '*.py') | wc -l)"
	@printf 'plans + sources   %s\n' "$$(cat $$(find elasticsearch_eslib_spark/plans elasticsearch_eslib_spark/sources -name '*.py') | wc -l)"

clean:
	rm -rf dist .pytest_cache tests/.fixtures BENCH/.fixtures
