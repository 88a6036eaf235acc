#!/usr/bin/env bash
# Registry-wide gates — run before EVERY commit that registers a query.
#
# Invariants that rot silently when only the new query's file is tested:
#   * test_output_contract — every registry query's output schema obeys
#     the driver-hash contract (no floats/arrays/maps, stable col names),
#     README's registry count tracks the registry, and every public
#     operator has a caller outside tests;
#   * test_scale_audit     — every registry query's physical plan passes
#     the 100 TB linter (or carries a justified KNOWN_BOUNDED entry).
#
# The exit code is pytest's own — NOT a pipe's. Piping pytest through
# `tail`/`grep` and reading $? reports the PIPE's status and has twice
# produced a false "green" claim in COVERAGE.md. This script exists so
# there is no reason to ever hand-compose that pipeline again.
set -o pipefail
cd "$(dirname "$0")/.."
python -m pytest tests/test_output_contract.py tests/test_scale_audit.py \
    -q "$@" | tail -25
status=${PIPESTATUS[0]}
echo "GATES EXIT: $status"
exit "$status"
