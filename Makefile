.PHONY: dist test tier1 bench scaling clean

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

bench:
	python bench.py

scaling:
	python bench_scaling.py

clean:
	rm -rf dist .pytest_cache tests/.fixtures BENCH/.fixtures
