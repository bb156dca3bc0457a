#!/usr/bin/env bash
# Full verification recipe (what the round close-out runs):
#   0. the Spark-free structural tests, first: a dead definition, a grown
#      perfbench import cone or a bad validate_registry invocation fails
#      in seconds, before the long passes
#   1. pytest at all three fixture scales (suite is scale-portable)
#   2. full-registry DuckDB validation at sf0.01 and sf0.1
#   3. perfbench: one serve and one query_mix run (the benchmark
#      BENCHMARK.json declares; each exits non-zero unless correct)
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_LOCAL_DIRS=/tmp/spark-local
echo "== structural tests =="
python -m pytest -q tests/test_module_reachability.py tests/test_validate_registry_args.py
for sf in sf0.001 sf0.01 sf0.1; do
  echo "== pytest @ $sf =="
  SPARK_GRAFT_TEST_SF_DIR=/root/testdata/$sf python -m pytest tests/ -q
done
for sf in sf0.01 sf0.1; do
  echo "== validate @ $sf =="
  python3 scripts/validate_registry.py /root/testdata/$sf | tail -2
done
for workload in serve query_mix; do
  echo "== perfbench $workload =="
  python3 perfbench/run.py --workload "$workload" --seed 1 --seconds 10 | tail -1
done
