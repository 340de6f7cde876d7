#!/bin/bash
# Round-snapshot guardrail: the end-of-round tree must compile AND pass
# the full ScalaTest suite, or the snapshot must not be taken. Rounds
# 6-7 shipped an uncompilable tree and burned two driver rounds on it;
# this script makes that impossible to repeat silently.
#
# It also runs the benchmark harness self-tests (perfbench/tests), so a
# tree that breaks the harness fails here too.
#
# Usage: tools/preflight.sh        (from anywhere; exits nonzero on any
#                                   compile error or test failure)
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[preflight] sbt Test/compile ..."
sbt -batch Test/compile

echo "[preflight] sbt test ..."
sbt -batch test

echo "[preflight] perfbench harness self-tests ..."
python3 -m unittest discover -s perfbench/tests

echo "[preflight] OK — tree compiles, all tests and harness self-tests pass"
