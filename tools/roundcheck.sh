#!/usr/bin/env bash
# Full round gate, in one command: unit tests, oracle differential at two
# scale factors, and the sf0.1 bench. Run before declaring a round done.
# Any failing step stops the gate with a non-zero exit: a Verify that
# exits non-zero, or an oracle sweep with a FAIL row (oracle_check.py
# exits 1 on FAIL, NO_SPARK_OUTPUT and ORACLE_SQL_ERROR).
set -euo pipefail
cd "$(dirname "$0")/.."

# Spark sizing defaults from this host, as the Tier-1 verify derives them:
# every core, and half the memory clamped to 2-8g. Explicit env values win.
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"

echo "== README query-count gate =="
# the count was hand-typed and drifted in rounds 7 AND 8 (ADVICE both
# times) — compare the declared suite size against the README claim and
# fail loudly instead of accumulating doc drift
n_q=$(grep -c '" -> ((' src/main/scala/graft/Queries.scala)
if ! grep -q "(${n_q} queries" README.md; then
  echo "FAIL: README.md query count drifted — Queries.scala declares ${n_q}"
  exit 1
fi
echo "ok: ${n_q} queries (README matches)"

echo "== checkpoint gate =="
# core/Checkpoints.scala is the one place the engine checkpoints a frame
# (it picks the backend and gives free() its handle); a raw checkpoint
# anywhere else in src/main escapes both. Comment lines do not count.
raw=$(grep -rnE 'localCheckpoint\(|\.checkpoint\(' src/main --include='*.scala' \
  | grep -v '^src/main/scala/graft/core/Checkpoints.scala:' \
  | grep -vE '^[^:]+:[0-9]+:[[:space:]]*(\*|//)' || true)
if [ -n "${raw}" ]; then
  echo "FAIL: checkpoint outside core/Checkpoints.scala:"
  printf '%s\n' "${raw}"
  exit 1
fi
echo "ok: every checkpoint goes through core/Checkpoints.scala"

echo "== unit/e2e specs =="
t_out=$(sbt -batch test 2>&1 | grep -E 'Tests:|TESTS FAILED' | tail -2)
printf '%s\n' "$t_out"
# test-count gate (round-13 advice: the declared count drifted one
# spec commit behind HEAD) — README declares the suite size; compare
# against what sbt actually ran, the query-count-gate precedent
n_t=$(printf '%s\n' "$t_out" | grep -oE 'succeeded [0-9]+' | head -1 | grep -oE '[0-9]+')
if [ -z "${n_t}" ] || printf '%s' "$t_out" | grep -q 'TESTS FAILED'; then
  echo "FAIL: test suite did not pass"
  exit 1
fi
if ! grep -q "(${n_t} tests" README.md; then
  echo "FAIL: README.md test count drifted — sbt test ran ${n_t}"
  exit 1
fi
echo "ok: ${n_t} tests (README matches)"

echo "== oracle @ sf0.01 (the driver's gate) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_sf001" >/dev/null 2>&1
python3 tools/oracle_check.py /root/testdata/sf0.01 /tmp/verify_sf001 | grep -v '^PASS'

echo "== oracle @ sf0.1 (scale-dependent float-boundary sweep) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/verify_sf01" >/dev/null 2>&1
python3 tools/oracle_check.py /root/testdata/sf0.1 /tmp/verify_sf01 | grep -v '^PASS'

echo "== bench @ sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | sed 's/^\[info\] //'
