#!/bin/bash
# Steal-gated probe: wait for a calm window (steal rate below
# STEAL_CS centiseconds over a PROBE_S-second probe), then run
# graft.tools.Probe on the given queries. Prints the steal delta around
# the measured run so a polluted measurement is self-identifying.
# Usage: tools/quietmeasure.sh "<query list>" [max_wait_s] [steal_cs_per_probe]
set -u
cd "$(dirname "$0")/.."
QUERIES=${1:?query list}
MAXWAIT=${2:-1800}
GATE=${3:-150}
PROBE_S=10
waited=0
while true; do
  s0=$(awk '/^cpu /{print $9}' /proc/stat)
  sleep $PROBE_S
  s1=$(awk '/^cpu /{print $9}' /proc/stat)
  d=$((s1 - s0))
  echo "probe: steal ${d}cs/${PROBE_S}s (gate $GATE)"
  [ "$d" -lt "$GATE" ] && break
  waited=$((waited + PROBE_S))
  [ "$waited" -ge "$MAXWAIT" ] && { echo "gave up waiting"; break; }
  sleep 20
  waited=$((waited + 20))
done
b=$(awk '/^cpu /{print $9}' /proc/stat)
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
  sbt -batch "runMain graft.tools.Probe ${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} $QUERIES" 2>&1 | grep "== "
a=$(awk '/^cpu /{print $9}' /proc/stat)
echo "steal during run: $((a - b))cs"
