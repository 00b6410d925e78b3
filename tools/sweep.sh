#!/usr/bin/env bash
# Round-end evidence sweep: one command reproduces every gate the round
# reports. Each gate prints one "GATE <name>: PASS/FAIL" line; the script
# exits nonzero if any gate fails. Dev-only (driver-side python allowed).
#
# Usage: tools/sweep.sh [gate ...]
#   gates: reach test scales wide lint determinism bench   (default: all)
# Wide-gate scale data is regenerated into /tmp/sf1 unless already there.
set -u
cd "$(dirname "$0")/.."
PY=/root/.pyenv/versions/3.11.7/bin/python
GATES=${*:-"reach test scales wide lint determinism bench"}
declare -A RESULT
fail_any=0

note() { echo "[sweep] $*"; }
record() { # name status
  RESULT[$1]=$2
  [ "$2" = PASS ] || fail_any=1
}

run_reach() {
  # every public engine member is reached from an entry point or kept on
  # tools/reachability_keep.txt (tools/reachability.py documents the walk)
  note "sbt compile + reachability ..."
  if ! sbt -batch compile > /tmp/sweep_reach_compile.log 2>&1; then
    record reach "FAIL (compile, see /tmp/sweep_reach_compile.log)"
  elif python3 tools/reachability.py > /tmp/sweep_reach.log 2>&1; then
    record reach PASS
  else
    record reach "FAIL ($(tail -1 /tmp/sweep_reach.log); see /tmp/sweep_reach.log)"
  fi
}

run_test() {
  note "sbt test ..."
  if sbt -batch test > /tmp/sweep_test.log 2>&1; then
    record test PASS
  else
    record test "FAIL (see /tmp/sweep_test.log)"
  fi
}

run_scales() {
  local ok=1
  for sf in 0.001 0.01 0.1; do
    note "verify sf$sf ..."
    sbt -batch "runMain graft.Verify /root/testdata/sf$sf /tmp/sweep_v$sf" \
      > /tmp/sweep_verify_$sf.log 2>&1 || ok=0
    local line
    line=$($PY tools/check.py /root/testdata/sf$sf /tmp/sweep_v$sf 2>&1 | tail -1)
    note "sf$sf: $line"
    echo "$line" | grep -q " 0 fail " || ok=0
  done
  [ $ok = 1 ] && record scales PASS || record scales FAIL
}

run_wide() {
  if [ ! -d /tmp/sf1/lineitem.parquet ] && [ ! -f /tmp/sf1/lineitem.parquet ]; then
    note "scalegen sf1 ..."
    sbt -batch "runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/sf1 10" \
      > /tmp/sweep_scalegen.log 2>&1 || { record wide "FAIL (scalegen)"; return; }
  fi
  note "verify sf1 (~35 min) ..."
  sbt -batch "runMain graft.Verify /tmp/sf1 /tmp/sweep_v_sf1" \
    > /tmp/sweep_verify_sf1.log 2>&1 || { record wide "FAIL (verify)"; return; }
  local line
  line=$($PY tools/scalecheck.py /tmp/sf1 /tmp/sweep_v_sf1 300 2>&1 | tail -2 | head -1)
  note "sf1: $line"
  if echo "$line" | grep -q " 0 fail / 0 skip"; then
    record wide PASS
  else
    record wide "FAIL ($line)"
  fi
}

run_lint() {
  note "oraclelint ..."
  sbt -batch "runMain graft.VerifyOne /root/testdata/sf0.001 /tmp/sweep_lint" \
    > /tmp/sweep_lintdump.log 2>&1 || { record lint "FAIL (dump)"; return; }
  if $PY tools/oraclelint.py /root/testdata/sf0.001 /tmp/sweep_lint \
      > /tmp/sweep_lint.log 2>&1; then
    record lint PASS
  else
    record lint "FAIL (see /tmp/sweep_lint.log)"
  fi
}

run_determinism() {
  note "determinism (two sf0.01 runs) ..."
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/sweep_dA" \
    > /dev/null 2>&1
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/sweep_dB" \
    > /dev/null 2>&1
  if $PY tools/determinism.py /tmp/sweep_dA /tmp/sweep_dB \
      > /tmp/sweep_det.log 2>&1; then
    record determinism PASS
  else
    record determinism "FAIL (see /tmp/sweep_det.log)"
  fi
}

run_bench() {
  note "bench sf0.1 ..."
  if SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench" \
      > /tmp/sweep_bench.log 2>&1; then
    local j
    j=$(grep -o '{"metric".*' /tmp/sweep_bench.log | tail -1)
    local out rc
    out=$($PY - "$j" <<'EOF'
import json, sys
d = json.loads(sys.argv[1])
qs = d.get("queries", {})
errs = [k for k, v in qs.items() if not isinstance(v, (int, float))]
print(f"total={d.get('value')}s n={len(qs)} errors={len(errs)}")
sys.exit(1 if errs else 0)
EOF
)
    rc=$?
    note "bench: $out"
    if [ $rc = 0 ]; then record bench PASS; else record bench "FAIL ($out)"; fi
  else
    record bench "FAIL (see /tmp/sweep_bench.log)"
  fi
}

for g in $GATES; do
  case $g in
    reach) run_reach ;;
    test) run_test ;;
    scales) run_scales ;;
    wide) run_wide ;;
    lint) run_lint ;;
    determinism) run_determinism ;;
    bench) run_bench ;;
    *) echo "unknown gate: $g"; exit 2 ;;
  esac
done

echo
echo "==================== SWEEP SUMMARY ===================="
for g in $GATES; do
  printf "GATE %s: %s\n" "$g" "${RESULT[$g]:-NOT RUN}"
done
exit $fail_any
