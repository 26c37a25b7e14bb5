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
# Tombstone-table naming: IndexLifecycle.tombstonesOf owns the
# `<table>_tombstones` name, so a family can never drop or read a
# differently spelled takedown list. A "_tombstones" literal anywhere
# else in the package fails the gate.
if literal=$(grep -rn --include='*.scala' '"_tombstones"' src/main/scala/graft/ext \
    | grep -v '^src/main/scala/graft/ext/IndexLifecycle\.scala:'); then
  echo "precommit: \"_tombstones\" literal in graft.ext — use IndexLifecycle.tombstonesOf:" >&2
  echo "$literal" >&2
  exit 1
fi
if [[ "${1:-}" == "test" ]]; then
  sbt -batch test
else
  sbt -batch Test/compile
fi
if [[ "${SKIP_SMOKE:-}" != "1" ]]; then
  sbt -batch "runMain graft.SmokeCheck"
fi
