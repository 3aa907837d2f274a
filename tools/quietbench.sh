#!/bin/bash
# Quiet-gated official bench: probe the scheduler floor first, run
# graft.Bench only when the box is calm, and collect N CLEAN artifacts
# (contended == []). The official number is the MEDIAN-total clean run —
# a real artifact copied whole into BENCH.json, not a synthetic
# per-query mix — so "official" is the central tendency of the clean
# process, not its favorable tail (round 15 stamped the best clean run,
# which biases officials low and guarantees artifact-vs-official gaps).
# The stamp REQUIRES >= 3 clean runs: "median of 2" is arithmetically
# the MIN of 2 — the exact best-run bias the median policy exists to
# kill (round 16 stamped 44.4s of a 44.4-57.8 spread that way). With
# fewer than 3 cleans the script keeps attempting and, if attempts run
# out, FAILS rather than settles; on even n >= 4 it takes the
# UPPER-middle artifact (never the min-leaning lower-middle).
# Host-steal windows on this box last minutes and move the trivial-job
# p50 12 -> 130 ms with no in-guest signal except /proc/stat steal — see
# graft.tools.Probe's floor line and the README's latency model.
# Usage: tools/quietbench.sh [n_clean] [max_attempts] [p50_ceiling_ms]
set -u
cd "$(dirname "$0")/.."
WANT=${1:-3}
ATTEMPTS=${2:-16}
MIN_CLEAN=3
[ "$WANT" -lt "$MIN_CLEAN" ] && WANT=$MIN_CLEAN
CEILING=${3:-70}
rm -f /tmp/quietbench_clean_*.json
n=0
for a in $(seq 1 "$ATTEMPTS"); do
  [ "$n" -ge "$WANT" ] && break
  p50=$(sbt -batch "runMain graft.tools.Probe ${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" 2>&1 |
    grep -oE "floor p50=[0-9.]+" | head -1 | cut -d= -f2)
  echo "attempt $a: job p50 = ${p50:-?} ms (ceiling $CEILING; clean $n/$WANT)"
  if python3 -c "exit(0 if float('${p50:-999}') < $CEILING else 1)"; then
    SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
      sbt -batch "runMain graft.Bench" > /tmp/quietbench_run.log 2>&1
    rc=$?
    cont=$(grep -o '"contended":\[[^]]*\]' BENCH.json | tail -1)
    total=$(grep -o '"metric":"total","value":[0-9.]*' BENCH.json |
      tail -1 | cut -d: -f3)
    p50run=$(grep -o '"job_p50_ms":[0-9.]*' BENCH.json | cut -d: -f2)
    echo "bench rc=$rc total=${total:-?}s run_p50=${p50run:-?}ms $cont"
    # clean = contended empty AND the run's OWN stamped floor stayed near
    # the probe ceiling: the contended allowance scales with the stamped
    # p50, so a floor that collapses mid-run (measured 65 -> 412 ms)
    # self-certifies as "clean" while every number in it is garbage
    if [ "$rc" = 0 ] && [ "$cont" = '"contended":[]' ] &&
       python3 -c "exit(0 if float('${p50run:-999}') < $CEILING * 1.5 else 1)"
    then
      n=$((n+1))
      cp BENCH.json "/tmp/quietbench_clean_$n.json"
    fi
  fi
  [ "$n" -ge "$WANT" ] || sleep 240
done
if [ "$n" -lt "$MIN_CLEAN" ]; then
  echo "REFUSING to stamp: only $n clean run(s) in $ATTEMPTS attempts" \
    "(need >= $MIN_CLEAN — a 'median' of fewer is the min in disguise)." \
    "Re-run with more attempts; inspect /tmp/quietbench_run.log"
  exit 1
fi
python3 - "$n" <<'EOF'
import json, shutil, sys
n = int(sys.argv[1])
runs = []
for i in range(1, n + 1):
    p = f"/tmp/quietbench_clean_{i}.json"
    with open(p) as f:
        runs.append((json.load(f)["value"], p))
runs.sort()
lo, hi = runs[0][0], runs[-1][0]
# n//2 is the true middle for odd n and the UPPER-middle for even n;
# the old (n-1)//2 picked the lower-middle, which for n=2 is literally
# the min (the round-16 stamp bug)
med_total, med_path = runs[len(runs) // 2]
shutil.copy(med_path, "BENCH.json")
with open(med_path) as f:
    med = json.load(f)
print(f"official = MEDIAN clean run: {med_total}s from {med_path} "
      f"(n={len(runs)}, spread {lo}-{hi}s)")
print(f"  stamp for README: job p50 ~ {med.get('job_p50_ms')} ms, "
      f"timed jobs {med.get('timed_jobs')}")
EOF
echo "CLEAN median artifact in BENCH.json"
# propagate benchcheck's verdict — a README-drift failure must fail THIS
# script, not hide behind its success status
exec python3 tools/benchcheck.py BENCH.json README.md
