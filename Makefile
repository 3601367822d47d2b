# One-command round health check (VERDICT r4 item 8).
#
#   make verify   - oracle parity (sf0.01) -> plan audit -> bench (sf0.1)
#
# Individual stages:
#   make parity    - every registered query vs its DuckDB oracle
#   make plans     - regenerate PLANS.md (exchange/broadcast/codegen audit)
#   make bench     - min-of-2 headline benchmark, one JSON line
#   make bench-sf1 - 10x-scale benchmark (VERDICT r6 item 5): builds the
#                    /tmp/graft_sf1 replication fixture if absent, runs the
#                    full registry (HEADLINE: every spec but the quarantine)
#                    with the untimed state-build pass, writes
#                    BENCH_SF1.json — re-run every round so the scaling
#                    table never goes stale
#   make test      - full pytest suite, run to completion (the ROADMAP
#                    Tier-1 command: a failure or a collection error does
#                    not stop the run)

SF_PARITY ?= /root/testdata/sf0.01
SF_PLANS  ?= /root/testdata/sf0.01
SF_BENCH  ?= /root/testdata/sf0.1
SF1_DIR   ?= /tmp/graft_sf1

.PHONY: verify parity plans bench bench-sf1 test round-end check-artifacts

verify: parity plans bench

# End-of-round artifact discipline (VERDICT r10 items 2 and 7): ONE
# gated target regenerates PLANS.md + BENCH_FULL.json together and then
# verifies internal consistency (PLANS row count == registry size via
# tests/test_artifacts.py), so a truncated or stale artifact can never
# be snapshotted.  Commit the artifact set only after this passes.
round-end: plans bench bench-sf1 check-artifacts

check-artifacts:
	python -m pytest tests/test_artifacts.py -q

parity:
	SPARK_GRAFT_TEST_SF_DIR=$(SF_PARITY) python -m pytest tests/test_oracle_parity.py -q

plans:
	python -m updating_datasets_data_engineering_spark.plans.audit $(SF_PLANS)

bench:
	SPARK_GRAFT_SF_DIR=$(SF_BENCH) python bench.py

bench-sf1:
	@test -d $(SF1_DIR)/lineitem.parquet || python make_sf1.py $(SF1_DIR)
	SPARK_GRAFT_SF_DIR=$(SF1_DIR) SPARK_GRAFT_BENCH_OUT=BENCH_SF1.json \
	SPARK_GRAFT_BENCH_QUERIES=@sf1 python bench.py

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider
