#!/bin/bash
# THE parameterized measurement driver (round-18 consolidation of the
# per-round r{N}_campaign*.sh / r{N}_close.sh pattern — the shell twin
# of LegBench's Scala-main consolidation; see tools/README.md).
#
# Stages:
#   campaign.sh clone
#       Clone + compile HEAD into the campaign dir ($CAMP_DIR, default
#       target/camp). Implicit in gen/leg; explicit for pre-warming.
#   campaign.sh gen <src> <out> <copies> <tables> [widen]
#       GenScale a fixture (skips if <out> exists). Absolute paths.
#   campaign.sh leg <name> <family-and-args...>
#       One LegBench run in the campaign clone, event-logged; the
#       family is one of query, pair, cc, sem, flagship:
#       stdout -> target/<name>.log, last medians line ->
#       target/<name>.json, per-rep attribution ->
#       target/<name>_attr.json. All SPARK_GRAFT_* env knobs pass
#       through; set SPARK_GRAFT_ATTR_SIZES=d1=N,d2=M to add
#       wall+bytes exponents to the attribution.
#   campaign.sh close <round> [pre_commit]
#       The drift-proof round close (BASELINE.md): same-boot paired
#       full-surface bench (pre_commit default = previous round's
#       close commit, passed explicitly) -> BENCH_ANCHOR_r<N>.json
#       with BOTH contract tables — the historical 58-query
#       r01_contract AND the full-surface full_contract vs
#       BASELINE_r17.json (every registered query, frozen per r17
#       verdict #1) — plus BENCH_MEDIANS_sf0.1.json and the
#       determinism sweep -> DETERMINISM_r<N>.txt.
#
# Protocol invariants (do not run anything CPU-heavy concurrently):
# medians over SPARK_GRAFT_REPS rep-major interleaved passes; fences /
# modes / budgets are LegBench env knobs, not flags here.
set -u
ROOT=$(cd "$(dirname "$0")/.." && pwd) || exit 1
cd "$ROOT" || exit 1
log(){ echo "=== $(date +%T) $*"; }
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
CAMP=${CAMP_DIR:-$ROOT/target/camp}
MEM=${SPARK_DRIVER_MEM:-64g}

ensure_clone(){
  if [ ! -d "$CAMP" ]; then
    log "clone HEAD -> $CAMP + compile"
    git clone -q "$ROOT" "$CAMP"
    (cd "$CAMP" && sbt -batch compile > "$ROOT/target/camp_compile.log" 2>&1) \
      || { echo "FAIL camp compile"; tail -5 "$ROOT/target/camp_compile.log"; exit 1; }
  fi
}

cmd=${1:?usage: campaign.sh clone|gen|leg|close ...}; shift
case "$cmd" in

clone) ensure_clone ;;

gen)
  src=$1; out=$2; copies=$3; tables=$4; widen=${5:-}
  if [ -d "$out" ]; then echo "have $out"; exit 0; fi
  ensure_clone
  (cd "$CAMP" && SPARK_DRIVER_MEM=48g sbt -batch \
    "runMain graft.GenScale $src $out $copies $tables $widen" \
    >> "$ROOT/target/campaign_gen.log" 2>&1) \
    || { echo "FAIL gen $out"; tail -5 "$ROOT/target/campaign_gen.log"; exit 1; }
  du -sh "$out"
  ;;

leg)
  name=$1; shift
  ensure_clone
  rm -rf "$CAMP/target/eventlog"; mkdir -p "$CAMP/target/eventlog"
  log "leg $name: LegBench $*"
  (cd "$CAMP" && SPARK_DRIVER_MEM=$MEM SPARK_GRAFT_EVENTLOG_DIR=target/eventlog \
    sbt -batch "runMain graft.LegBench $*" \
    > "$ROOT/target/$name.log" 2>&1)
  rc=$?
  df -h / | tail -1
  [ $rc -ne 0 ] && { echo "leg $name exited $rc:"; tail -10 "$ROOT/target/$name.log"; }
  grep -oE '\{"metric":"[a-z_]+medians".*' "$ROOT/target/$name.log" \
    | tail -1 > "$ROOT/target/$name.json"
  if [ -n "${SPARK_GRAFT_ATTR_SIZES:-}" ]; then
    python3 tools/attr_reps.py "$ROOT/target/$name.log" "$CAMP/target/eventlog" \
      --json "$ROOT/target/${name}_attr.json" --sizes "$SPARK_GRAFT_ATTR_SIZES"
  else
    python3 tools/attr_reps.py "$ROOT/target/$name.log" "$CAMP/target/eventlog" \
      --json "$ROOT/target/${name}_attr.json"
  fi
  head -c 300 "$ROOT/target/$name.json"; echo
  exit $rc
  ;;

close)
  N=$1; PRE=${2:?close needs the previous rounds close commit}
  NEWC="$ROOT/target/r${N}close"
  OLDC="$ROOT/target/r${N}preclose"
  log "clone HEAD -> $NEWC ; clone $PRE -> $OLDC"
  rm -rf "$NEWC" "$OLDC"
  git clone -q "$ROOT" "$NEWC"
  git clone -q "$ROOT" "$OLDC" && git -C "$OLDC" checkout -q "$PRE"
  (cd "$NEWC" && sbt -batch compile > "$ROOT/target/r${N}close_compile.log" 2>&1) \
    || { echo "FAIL head compile"; exit 1; }
  (cd "$OLDC" && sbt -batch compile > "$ROOT/target/r${N}pre_compile.log" 2>&1) \
    || { echo "FAIL pre compile"; exit 1; }

  log "(a1) anchor bench: PRE ($PRE) full surface, 3 reps, sf0.1"
  (cd "$OLDC" && SPARK_GRAFT_REPS=3 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_DRIVER_MEM=$MEM sbt -batch "runMain graft.Bench" \
    > "$ROOT/target/r${N}_close_bench_pre.log" 2>&1) \
    || { echo "FAIL pre bench"; tail -5 "$ROOT/target/r${N}_close_bench_pre.log"; exit 1; }

  log "(a2) anchor bench: HEAD full surface, 3 reps, sf0.1"
  (cd "$NEWC" && SPARK_GRAFT_REPS=3 SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
    SPARK_DRIVER_MEM=$MEM sbt -batch "runMain graft.Bench" \
    > "$ROOT/target/r${N}_close_bench_head.log" 2>&1) \
    || { echo "FAIL head bench"; tail -5 "$ROOT/target/r${N}_close_bench_head.log"; exit 1; }

  cp "$NEWC/target/bench.json" "$ROOT/BENCH_MEDIANS_sf0.1.json"
  python3 tools/close_anchor.py "$N" "$PRE" \
    "$NEWC/target/bench.json" "$OLDC/target/bench.json" || exit 1

  log "(b) determinism: two Verify runs at sf0.01 + byte diff"
  (cd "$NEWC" && sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $ROOT/target/det_a" \
    > "$ROOT/target/r${N}_det_a.log" 2>&1) || { echo "FAIL det A"; exit 1; }
  (cd "$NEWC" && sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $ROOT/target/det_b" \
    > "$ROOT/target/r${N}_det_b.log" 2>&1) || { echo "FAIL det B"; exit 1; }
  python3 tools/determinism.py "$ROOT/target/det_a" "$ROOT/target/det_b" \
    > "$ROOT/DETERMINISM_r${N}.txt" 2>&1
  tail -3 "$ROOT/DETERMINISM_r${N}.txt"
  log "CLOSE DONE"
  ;;

*) echo "unknown stage: $cmd"; exit 2 ;;
esac
