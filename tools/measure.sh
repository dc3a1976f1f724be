#!/bin/bash
# Measurement chain, run sequentially for clean numbers after the tests
# and the oracle check pass:
#   1. the bench suite at sf0.1           -> bench_out/bench_<tag>.json
#   2. the standard scale sweeps, factors 1/10/30/100, on both sources
#                                         -> bench_out/scale_<tag>.json (sf0.01)
#                                            bench_out/scale100_<tag>.json (sf0.1)
#   3. core scaling: the query sweep at 100x on sf0.1
#                                         -> bench_out/scale100_c<N>_<tag>.json
#
# Usage: tools/measure.sh <tag> <testdata-dir>
#   <testdata-dir> holds the sf0.01/ and sf0.1/ fixtures (TESTDATA.md).
#   Every step runs at local[N], N = SPARK_GRAFT_CPUS (default: nproc), the
#   one session knob (graft.GraftSession). Step 3 is the core-scaling half:
#   run the chain under two SPARK_GRAFT_CPUS values and compare the two
#   scale100_c<N> artifacts per query. SPARK_DRIVER_MEM sets the JVM heap
#   (build.sbt); the 100x sweeps want 32g.
# Logs go to ${TMPDIR:-/tmp}/measure_<tag>_<step>.log.
set -u
tag="${1:?usage: tools/measure.sh <tag> <testdata-dir>}"
data="${2:?usage: tools/measure.sh <tag> <testdata-dir>}"
cd "$(dirname "$0")/.."
out="$PWD/bench_out"
logs="${TMPDIR:-/tmp}/measure_${tag}"
cpus="${SPARK_GRAFT_CPUS:-$(nproc)}"
export SPARK_GRAFT_CPUS="$cpus"
mkdir -p "$out"

step() { # <name> <sbt command> with the step's env already exported
  sbt -batch "$2" > "${logs}_$1.log" 2>&1
  echo "$1 exit=$? log=${logs}_$1.log"
}

( export SPARK_GRAFT_SF_DIR="$data/sf0.1" SPARK_GRAFT_BENCH_OUT="$out/bench_$tag.json"
  step bench "runMain graft.Bench" )

( export SPARK_GRAFT_SF_DIR="$data/sf0.01" SPARK_GRAFT_SCALE_OUT="$out/scale_$tag.json"
  step scale "runMain graft.bench.ScaleBench 1 10 30 100" )
( export SPARK_GRAFT_SF_DIR="$data/sf0.1" SPARK_GRAFT_SCALE_OUT="$out/scale100_$tag.json"
  step scale100 "runMain graft.bench.ScaleBench 1 10 30 100" )

( export SPARK_GRAFT_SF_DIR="$data/sf0.1" SPARK_GRAFT_SCALE_SECTIONS=none \
    SPARK_GRAFT_SCALE_OUT="$out/scale100_c${cpus}_$tag.json"
  step "scale100_c$cpus" "runMain graft.bench.ScaleBench 100" )
