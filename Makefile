.PHONY: package test tier1 bench oracle

package:
	mkdir -p dist
	rm -f dist/web3research_etl_spark.zip
	cd . && zip -qr dist/web3research_etl_spark.zip web3research_etl_spark -x '*__pycache__*'
	@echo built dist/web3research_etl_spark.zip

test:
	python -m pytest tests/ perfbench/tests -x -q

# ROADMAP.md's Tier-1 verify command, plus the 25 slowest tests
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider --durations=25

oracle:
	python tools/oracle_check.py /root/testdata/sf0.01

bench:
	python bench.py
