#!/usr/bin/env bash
# Oracle parity in one command: for each (scale-factor dir, cpus) pair, run
# graft.Verify into a fresh temporary directory, then compare its output with
# the DuckDB oracle through tools/compare_oracle.py.
#
# Usage (from anywhere in the checkout):
#   tools/oracle_parity.sh <sf-dir>... [--cpus N...]
#
# Without --cpus each Verify runs at the default core count
# (SPARK_GRAFT_CPUS unset, local[32]); with it, once per listed count.
# Every pair writes into its own `mktemp -d` directory, removed on exit.
# Exits non-zero when any pair has a mismatching query, a failed Verify, or
# a non-empty failures.json.
set -euo pipefail
cd "$(dirname "$0")/.."

dirs=()
cpus=()
target=dirs
for arg in "$@"; do
  case "$arg" in
    --cpus) target=cpus ;;
    *) if [ "$target" = dirs ]; then dirs+=("$arg"); else cpus+=("$arg"); fi ;;
  esac
done
if [ ${#dirs[@]} -eq 0 ]; then
  echo "usage: $0 <sf-dir>... [--cpus N...]" >&2
  exit 2
fi
[ ${#cpus[@]} -gt 0 ] || cpus=(default)

work=()
cleanup() { [ ${#work[@]} -eq 0 ] || rm -rf "${work[@]}"; }
trap cleanup EXIT

status=0
summary=()
for sf in "${dirs[@]}"; do
  for n in "${cpus[@]}"; do
    out=$(mktemp -d "${TMPDIR:-/tmp}/graft_parity.XXXXXX")
    work+=("$out")
    label="$sf cpus=$n"
    echo "== $label -> $out" >&2
    if [ "$n" = default ]; then
      run=(env -u SPARK_GRAFT_CPUS)
    else
      run=(env SPARK_GRAFT_CPUS="$n")
    fi
    if ! "${run[@]}" sbt --batch -Dsbt.log.noformat=true "runMain graft.Verify $sf $out" >&2; then
      summary+=("FAIL  $label: graft.Verify exited non-zero")
      status=1
      continue
    fi
    if python3 tools/compare_oracle.py "$sf" "$out" > "$out/compare.txt"; then
      result="match"
    else
      result="MISMATCH"
      status=1
    fi
    grep -v '^OK ' "$out/compare.txt" >&2 || true
    failures=$(python3 -c 'import json, sys; print(len(json.load(open(sys.argv[1]))))' \
      "$out/failures.json" 2>/dev/null || echo missing)
    if [ "$failures" != 0 ]; then
      status=1
      cat "$out/failures.json" >&2 2>/dev/null || true
    fi
    summary+=("$( [ "$result" = match ] && [ "$failures" = 0 ] && echo PASS || echo FAIL)  $label: $(tail -1 "$out/compare.txt"), failures.json entries: $failures")
  done
done
printf '%s\n' "${summary[@]}"
exit $status
