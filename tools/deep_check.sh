#!/usr/bin/env bash
# Deep check: the slow lanes the Tier-1 suite leaves out. Stops at the
# first failure and exits with its status.
#
#   tools/deep_check.sh            # from any directory
#
# 1. the end-to-end prune fuzz at 350 cases per config (Tier-1 runs 100);
# 2. the SQL surface's oracle entry (qb_sql_view vs DuckDB at sf0.01,
#    the testdata layout in TESTDATA.md);
# 3. the perfbench tests, including the two that start Spark;
# 4. a traced benchmark run of every workload (seed 1, 10 s): a traced
#    run exits non-zero when a per-layer metric its workload exercises is
#    missing or reads 0, or a traced entry point is gone.
set -euo pipefail

cd "$(dirname "$0")/.."
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

step() { printf '\n== %s\n' "$*"; }

step "prune fuzz, QBEAST_FUZZ_CASES=350"
QBEAST_FUZZ_CASES=350 python -m pytest tests/test_prune_fuzz_e2e.py -q \
    -p no:cacheprovider

step "oracle: qb_sql_view at sf0.01"
python tools/oracle_check.py /root/testdata/sf0.01 qb_sql_view

step "perfbench tests, PERFBENCH_SPARK_TESTS=1"
PERFBENCH_SPARK_TESTS=1 python -m pytest perfbench/tests -q \
    -p no:cacheprovider

for w in read_mix ingest_dml metadata_scale; do
    step "traced benchmark run: $w"
    python3 perfbench/run.py --workload "$w" --seed 1 --seconds 10 --trace 1
done

step "deep check passed"
