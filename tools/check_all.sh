#!/usr/bin/env bash
# One-command gate: compile, tests, the CDC benchmark self-test, oracle
# parity at both verify SFs, and the sf0.1 bench.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== compile + tests =="
sbt -batch test

# compiles the CDC benchmark's Scala code against the engine sources, so an
# engine API change that breaks the benchmark fails here
echo "== CDC benchmark self-test =="
python3 cdcbench/selftest.py

echo "== verify + oracle @ sf0.01 =="
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/check_all_001"
python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/check_all_001

echo "== verify + oracle @ sf0.1 =="
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/check_all_01"
python3 tools/check_oracle.py /root/testdata/sf0.1 /tmp/check_all_01

# optional 10x stage: CHECK_SF1=1 synthesizes /tmp/sf1 and verifies there
if [ -n "${CHECK_SF1:-}" ]; then
  echo "== verify + oracle @ synthesized sf1 (10x) =="
  [ -d /tmp/sf1 ] || python3 tools/gen_scale.py /root/testdata/sf0.1 /tmp/sf1 10
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}" \
    sbt -batch "runMain graft.Verify /tmp/sf1 /tmp/check_all_sf1"
  python3 tools/check_oracle.py /tmp/sf1 /tmp/check_all_sf1
fi

echo "== bench @ sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  sbt -batch "runMain graft.Bench" | grep '"metric"' | tail -1
