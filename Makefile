.PHONY: package test bench oracle

package:
	mkdir -p dist
	rm -f dist/web3research_etl_spark.zip
	cd . && zip -qr dist/web3research_etl_spark.zip web3research_etl_spark -x '*__pycache__*'
	@echo built dist/web3research_etl_spark.zip

test:
	python -m pytest tests/ perfbench/tests -x -q

oracle:
	python tools/oracle_check.py /root/testdata/sf0.01

bench:
	python bench.py
