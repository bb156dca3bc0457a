#!/usr/bin/env bash
# Full verification recipe (what the round close-out runs):
#   0. the Spark-free tests, first: a dead definition, a defaulted
#      parameter of perfbench's cone that no real call sets (the
#      parameter rule), a grown perfbench import cone, a bad
#      validate_registry invocation or a zipimporter patch that re-reads
#      an unchanged archive fails in seconds, before the long passes
#   0b. the plan-shape, NumPy-kernel parity and session-default tests
#      (about a minute): a second Python node in a stage, a kernel that
#      drifts from the JVM SQL it replaced or a generated-class cache
#      too small to hold a repeated pass fails here, before the long
#      passes
#   1. pytest at all three fixture scales (suite is scale-portable)
#   2. full-registry DuckDB validation at sf0.01 and sf0.1
#   3. perfbench: one serve and one query_mix run (the benchmark
#      BENCHMARK.json declares; each exits non-zero unless correct)
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_LOCAL_DIRS=/tmp/spark-local
echo "== structural and Spark-free tests =="
python -m pytest -q tests/test_module_reachability.py tests/test_validate_registry_args.py \
  tests/test_zipimport_patch.py
echo "== plan shape, kernel parity and session defaults =="
python -m pytest -q tests/test_timeseries_kernels.py tests/test_session_defaults.py \
  tests/test_plan_quality.py::test_preprocessing_is_single_narrow_stage \
  tests/test_plan_quality.py::test_serve_plan_prunes_the_trend \
  tests/test_plan_quality.py::test_r2_metrics_folds_each_sst_once \
  tests/test_plan_quality.py::test_preprocessing_evaluates_trend_once \
  tests/test_plan_quality.py::test_preprocessing_outputs_fold_each_series_once \
  tests/test_plan_quality.py::test_cashflow_queries_hold_one_python_node_per_stage
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
