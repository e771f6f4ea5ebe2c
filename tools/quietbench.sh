#!/usr/bin/env bash
# Quiet full-suite bench record + pin fold, in one command:
#
#   tools/quietbench.sh r14pins
#
# waits for the 1-minute loadavg to settle, runs graft.Bench at sf0.1,
# copies BENCH_DETAIL.json to BENCH_DETAIL_<tag>.json, reports any
# >2x escapes vs the committed BENCH_QUIET pins, and folds the run's
# per-query minima back into BENCH_QUIET.json. Takes ~17 min for the
# full suite — run it inside tmux/nohup, not a short-timeout harness.
# NEVER run sbt (or anything heavy) concurrently: uniform per-query
# inflation from host load is exactly what the quiet record exists to
# exclude, and the loadavg fields in the artifact make it self-evident.
set -euo pipefail
cd "$(dirname "$0")/.."

# Spark sizing defaults from this host, as the Tier-1 verify derives them:
# every core, and half the memory clamped to 2-8g. Explicit env values win.
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"

tag="${1:?usage: tools/quietbench.sh <tag, e.g. r14pins>}"

echo "== waiting for quiet host (1-min loadavg < 1.5) =="
for _ in $(seq 1 30); do
  la=$(cut -d' ' -f1 /proc/loadavg)
  awk "BEGIN{exit !($la < 1.5)}" && break
  sleep 20
done
echo "loadavg: $(cut -d' ' -f1-3 /proc/loadavg)"

echo "== full-suite bench @ sf0.1 =="
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | sed 's/^\[info\] //'

cp BENCH_DETAIL.json "BENCH_DETAIL_${tag}.json"
echo "recorded BENCH_DETAIL_${tag}.json"

python3 - "$tag" <<'EOF'
import json, sys
d = json.load(open('BENCH_DETAIL.json'))
print(f"total {d['value']:.2f} s / {d['n_queries']} queries "
      f"= {d['value']/d['n_queries']:.3f} s/q; "
      f"load {d['loadavg_start']} -> {d['loadavg_end']}; "
      f"n_reprobed {d['n_reprobed']}")
quiet = json.load(open('BENCH_QUIET.json'))["queries"]
esc = {k: (round(v, 3), quiet[k])
       for k, v in d["queries"].items() if k in quiet and v > 2 * quiet[k]}
print("escapes_2x:", esc if esc else "none")
print("new (no pin):", [k for k in d["queries"] if k not in quiet] or "none")
# fold: per-query min over (committed pin, every rep of this run)
for k, rs in d["queries_runs"].items():
    m = min(rs)
    quiet[k] = min(quiet.get(k, m), m)
json.dump({"note": "per-query quiet-host minima, folded across rounds "
                   "(see BASELINE.md)",
           "queries": dict(sorted(quiet.items()))},
          open('BENCH_QUIET.json', 'w'), indent=1)
print(f"folded {len(quiet)} pins; sum {sum(quiet.values()):.2f} s")
EOF
