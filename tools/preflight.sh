#!/usr/bin/env bash
# Full local pre-flight: everything the driver's gates check, in one command.
#   tools/preflight.sh            # compile + tests + verify/oracle + bench
#   tools/preflight.sh --fast    # skip bench
set -euo pipefail
cd "$(dirname "$0")/.."

log=$(mktemp /tmp/graft_preflight.XXXXXX.log)

echo "== tracked-tree hygiene =="
# the TRACKED tree must stay free of internal-infrastructure hostnames so
# the leak signal is separable from git-history echoes. Pattern-based (no
# literal hostname may appear here either — that would itself be a leak).
# (LEAKCHECK.json is the DRIVER'S own report — it quotes its hits by design
# and is written by the judge side, not by this repo's sources)
if git grep -I -l -E '[a-z0-9-]+\.(corp|internal|intranet)\.[a-z0-9.-]+|artifactory[a-z0-9.-]*\.[a-z]{2,}' \
    -- . 2>/dev/null | grep -v -E '^(tools/preflight.sh|LEAKCHECK.json)$'; then
  echo "preflight: internal hostname pattern found in tracked files (above)"; exit 1
fi

echo "== compile + test =="
# tee to a file and grep the file: piping sbt into grep would let pipefail be
# defeated by `|| true`-style status laundering — a failing `sbt test` must
# abort preflight, not just hide its summary line.
sbt -batch test >"$log" 2>&1 || { tail -40 "$log"; echo "preflight: sbt test FAILED"; exit 1; }
grep -E 'Tests:|FAILED|error' "$log" || true

echo "== verify @ sf0.01 + DuckDB oracle =="
rm -rf /tmp/graft_preflight_vout
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} sbt -batch \
  "runMain graft.Verify /root/testdata/sf0.01 /tmp/graft_preflight_vout" \
  >"$log" 2>&1 || { tail -40 "$log"; echo "preflight: Verify FAILED"; exit 1; }
grep -E '\[verify\].*failed' "$log" || true
python3 tools/check_correctness.py /tmp/graft_preflight_vout /root/testdata/sf0.01

echo "== reference golden parity =="
# FragmentEngineSpec holds the byte-parity tests against the reference's
# golden files; FragmentQueryOrderSpec checks the same query output line for
# line against a plain-Scala model, so it is the parity check on hosts that
# lack the reference fixture.
sbt -batch "testOnly graft.FragmentEngineSpec graft.FragmentQueryOrderSpec" 2>&1 | grep -E 'Tests:|FAILED'

if [[ "${1:-}" != "--fast" ]]; then
  echo "== bench @ sf0.1 =="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32} \
    SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-16g} sbt -batch "runMain graft.Bench" \
    2>/dev/null | grep -E '^\{'
fi
echo "== preflight done =="
