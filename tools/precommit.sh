#!/usr/bin/env bash
# Snapshot gate: no commit without a compiling tree (main + test).
# Round 6's end-of-round snapshot landed a signature refactor with two
# stale call sites and zeroed the round's artifacts — this is the
# one-line guard that makes that impossible. Run before EVERY commit:
#
#   tools/precommit.sh && git commit ...
#
# Full-test variant (slower, ~3.5 min): tools/precommit.sh test
#
# Both variants also run graft.SmokeCheck — the seconds-scale
# environment-drift gate (testdata regens have changed the events.ts
# parquet encoding twice; round 11 shipped 10 broken queries because
# nothing in-session read the regenerated files). Skip with
# SKIP_SMOKE=1 when testdata is known-good and iterating fast.
set -euo pipefail
cd "$(dirname "$0")/.."
# Barrier policy: every graft.ext barrier goes through Checkpoints.stage,
# so spark.graft.checkpointDir reaches all of them. A direct
# localCheckpoint( call anywhere else in the package fails the gate.
if direct=$(grep -rn --include='*.scala' 'localCheckpoint(' src/main/scala/graft/ext \
    | grep -v '^src/main/scala/graft/ext/Checkpoints\.scala:'); then
  echo "precommit: direct localCheckpoint( in graft.ext — use Checkpoints.stage:" >&2
  echo "$direct" >&2
  exit 1
fi
# State-table naming: one owner spells each shared state-table suffix,
# so a family can never drop or read a differently spelled table.
# IndexLifecycle owns the takedown list and the PostingsIndex/LmIndex
# side tables (tombstonesOf, docsOf, statsTableOf, statsDeltasOf);
# StreamOps owns the compactSink staging (compactStagingOf). Any of
# these literals in graft.ext or graft.queries outside its owner fails
# the gate.
for suffix in _tombstones _docs _stats _stats_deltas _compact_stage; do
  case "$suffix" in
    _compact_stage) owner=src/main/scala/graft/streaming/StreamOps.scala ;;
    *) owner=src/main/scala/graft/ext/IndexLifecycle.scala ;;
  esac
  if literal=$(grep -rn --include='*.scala' "\"$suffix\"" \
      src/main/scala/graft/ext src/main/scala/graft/queries \
      | grep -v "^$owner:"); then
    echo "precommit: \"$suffix\" literal outside $owner — use its name helper:" >&2
    echo "$literal" >&2
    exit 1
  fi
done
if [[ "${1:-}" == "test" ]]; then
  sbt -batch test
else
  sbt -batch Test/compile
fi
if [[ "${SKIP_SMOKE:-}" != "1" ]]; then
  sbt -batch "runMain graft.SmokeCheck"
fi
