#!/usr/bin/env bash
# Compile gate: refuse to commit a tree whose Scala sources do not
# compile (main + test), or that the benchmark in perfbench/ no longer
# builds against (`perfbench/build.py --test`). Round 8 shipped an
# end-of-round snapshot that failed `sbt compile`, which blanked the
# entire driver signal for the round — this hook makes that impossible.
# A staged change under graft/sinks also runs the index crash-state specs,
# one to Bench, ScaleCheck or graft/metrics the measurement specs, and one
# to the router, its config builder or the routed stream the routing specs.
# Bypass (emergencies only): git commit --no-verify.
set -euo pipefail
cd "$(git rev-parse --show-toplevel)"

# Only pay the compile when Scala/sbt sources are part of the commit.
if git diff --cached --name-only | grep -qE '\.(scala|sbt)$'; then
  echo "[precommit] Scala sources staged - running sbt Test/compile" >&2
  if ! sbt -batch Test/compile >/tmp/precommit-compile.log 2>&1; then
    echo "[precommit] COMPILE FAILED - commit refused. Tail of log:" >&2
    tail -30 /tmp/precommit-compile.log >&2
    exit 1
  fi
  echo "[precommit] compile green" >&2
  # the benchmark compiles src/main/scala together with perfbench/src:
  # a signature it calls that changed fails here, not at benchmark time
  echo "[precommit] building the benchmark against the staged sources" >&2
  if ! python3 perfbench/build.py --test >/tmp/precommit-perfbench.log 2>&1; then
    echo "[precommit] BENCHMARK BUILD/TEST FAILED - commit refused. Tail of log:" >&2
    tail -30 /tmp/precommit-perfbench.log >&2
    exit 1
  fi
  echo "[precommit] benchmark build green" >&2
fi

# The persisted-index commit log and visibility rules live in
# graft/sinks: a staged change there also runs their crash-state,
# replay and valve specs.
if git diff --cached --name-only | grep -q '^src/main/scala/graft/sinks/'; then
  echo "[precommit] index sinks staged - running the crash-state specs" >&2
  if ! sbt -batch "testOnly graft.StagedFileVisibilitySpec graft.IvfRebuildSpec \
      graft.IndexLogSpec graft.VectorTombstoneValveSpec \
      graft.IndexLayerHygieneSpec graft.IndexReaddSpec" \
      >/tmp/precommit-sinks.log 2>&1; then
    echo "[precommit] CRASH-STATE SPECS FAILED - commit refused. Tail of log:" >&2
    tail -30 /tmp/precommit-sinks.log >&2
    exit 1
  fi
  echo "[precommit] crash-state specs green" >&2
fi

# The measurement layer and its two readers: a staged change there also
# runs the specs of its counters and of the bench_full.json format.
if git diff --cached --name-only | grep -qE \
    '^src/main/scala/graft/(Bench\.scala|ScaleCheck\.scala|metrics/)'; then
  echo "[precommit] measurement layer staged - running its specs" >&2
  if ! sbt -batch "testOnly graft.BenchSpec graft.MetricsSpec graft.IndexLayerHygieneSpec" \
      >/tmp/precommit-metrics.log 2>&1; then
    echo "[precommit] MEASUREMENT SPECS FAILED - commit refused. Tail of log:" >&2
    tail -30 /tmp/precommit-metrics.log >&2
    exit 1
  fi
  echo "[precommit] measurement specs green" >&2
fi

# First-match routing: the router, the config that builds it and the
# streaming epoch body that runs it. A staged change there also runs the
# routing, plan-count and compile-guard specs and the specs that land
# routed rows.
if git diff --cached --name-only | grep -qE \
    '^src/main/scala/graft/(operators/Router|config/EngineConfig|streaming/StreamRoutes)\.scala$'; then
  echo "[precommit] router staged - running the routing specs" >&2
  if ! sbt -batch "testOnly graft.RouterSpec graft.RouterPlanSpec graft.ConfigExprRouteSpec \
      graft.StreamPiiRouteSpec graft.MqttFunctionsSpec graft.SinkSpec graft.EdgeCaseSpec" \
      >/tmp/precommit-router.log 2>&1; then
    echo "[precommit] ROUTING SPECS FAILED - commit refused. Tail of log:" >&2
    tail -30 /tmp/precommit-router.log >&2
    exit 1
  fi
  echo "[precommit] routing specs green" >&2
fi
