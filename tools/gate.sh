#!/usr/bin/env bash
# Pre-snapshot green-suite gate.
#
# Run this IMMEDIATELY before any end-of-round / milestone commit:
#
#   tools/gate.sh && git commit ...
#
# It runs the full ScalaTest suite and exits non-zero unless the log ends
# in an unambiguous all-green summary, so a `&&`-chained commit can never
# ship a red tree. Rounds 8 and 9 both shipped a red suite inside the
# final bookkeeping commit because the last test run predated the last
# code change — this makes the check mechanical and fail-closed.
#
# sbt runs with the environment of the Tier-1 command in ROADMAP.md:
# offline coursier/sbt resolution, Spark sized to this host's cores and
# memory (SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM) and a fixed SPARK_LOCAL_DIRS.
# No failure is allowed for, known-red specs included.
set -u
cd "$(dirname "$0")/.."
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
export SPARK_LOCAL_DIRS=/tmp/spark-local
# Source guard, before sbt: a graft SQL function reaches a session only
# through the graft.functions.Registry table (installed once per session),
# the streaming engine binds batches to SQL by plan, writing no
# session temp view, and JSON schemas are inferred in one place.
stray="$(grep -rl createOrReplaceTempFunction src/main/scala |
  grep -vxE 'src/main/scala/graft/functions/(Registry|WeightedPercentile)\.scala')"
views="$(grep -rl createOrReplaceTempView src/main/scala/graft/streaming)"
# JSON schema inference has one helper (Codecs.inferJsonSchema over
# org.apache.spark.sql.GraftJson); a schema-less `read.json(` elsewhere
# would run Spark's full per-record inference beside it.
jsonInfer="$(grep -rlE '\.read\.json\(' src/main/scala |
  grep -vx 'src/main/scala/org/apache/spark/sql/GraftJson\.scala')"
# One measurement harness: the only mains are the driver's Bench and
# Verify, the Explain and ScaleProbe diagnostics and the streaming CLI.
# Timing an entry belongs in graft.Bench, a pipeline in perfbench.
mainsWant="src/main/scala/graft/Bench.scala
src/main/scala/graft/Explain.scala
src/main/scala/graft/ScaleProbe.scala
src/main/scala/graft/Verify.scala
src/main/scala/graft/streaming/Main.scala"
mainsHave="$(grep -rl 'def main(' src/main/scala | LC_ALL=C sort)"
mains=""
[ "$mainsHave" != "$mainsWant" ] && mains="[$(echo $mainsHave)]"
if [ -n "$stray$views$jsonInfer$mains" ]; then
  echo "[gate] RED — source guard:" >&2
  [ -n "$stray" ] && echo "  createOrReplaceTempFunction outside functions/Registry.scala: $stray" >&2
  [ -n "$views" ] && echo "  createOrReplaceTempView under graft/streaming/: $views" >&2
  [ -n "$jsonInfer" ] && echo "  schema-less read.json( outside sql/GraftJson.scala: $jsonInfer" >&2
  [ -n "$mains" ] && echo "  the files declaring def main( are not exactly graft/{Bench,Verify,Explain,ScaleProbe}.scala and graft/streaming/Main.scala: $mains" >&2
  exit 1
fi
LOG=/tmp/gate_sbt_test.log
echo "[gate] running full sbt test suite (log: $LOG)..." >&2
sbt --batch -Dsbt.log.noformat=true Test/compile "testOnly *" >"$LOG" 2>&1
status=$?
if [ $status -ne 0 ]; then
  echo "[gate] RED — sbt exited $status. Failures:" >&2
  grep -E "\*\*\* FAILED \*\*\*|^\[error\]" "$LOG" | head -20 >&2
  exit 1
fi
if ! grep -qE "Tests: succeeded [0-9]+, failed 0, canceled 0" "$LOG"; then
  echo "[gate] could not confirm a green summary in $LOG — refusing." >&2
  exit 1
fi
echo "[gate] GREEN — $(grep -oE 'Total number of tests run: [0-9]+' "$LOG" | tail -1); safe to commit." >&2
