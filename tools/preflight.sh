#!/usr/bin/env bash
# Pre-commit gate: never commit a non-compiling HEAD (round-3 failure mode).
#
# Usage:
#   tools/preflight.sh              # test-only def scan + compile + unit specs
#   tools/preflight.sh --fast       # test-only def scan + compile only
#                                   # (sbt + benchmark harness)
#   tools/preflight.sh --gate       # scan + compile + specs + sf0.001 Verify + check.py
#                                   # + etl_ticks and llm_ops count repeatability
#
# Exit non-zero on any failure; commit only when this exits 0.
set -euo pipefail
cd "$(dirname "$0")/.."

mode="${1:-}"

# The same offline sbt settings and Spark environment as the tier-1 test
# command in ROADMAP.md, so this gate runs what tier-1 runs. Values already
# set in the environment win.
export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

# No public src/main def may be reachable only from tests (or from nothing)
# unless tools/test_only_defs.allow names it with a reason.
echo "[preflight] test-only defs"
python3 tools/test_only_defs.py

echo "[preflight] sbt compile"
sbt -batch compile Test/compile < /dev/null

# The benchmark harness compiles src/main together with perfbench/src on its
# own, without sbt; build it the same way so a change that breaks the
# harness fails here and not first in a benchmark run.
echo "[preflight] perfbench harness build"
python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.build()'

if [[ "$mode" != "--fast" ]]; then
  echo "[preflight] sbt test"
  sbt -batch test < /dev/null
fi

if [[ "$mode" == "--gate" ]]; then
  out=/tmp/preflight_verify
  rm -rf "$out"
  echo "[preflight] Verify sf0.001 -> $out"
  sbt -batch "runMain graft.Verify /root/testdata/sf0.001 $out" < /dev/null
  echo "[preflight] check.py"
  python3 tools/check.py /root/testdata/sf0.001 "$out"

  # Replicate the driver's bench parse: capture sbt's combined output and
  # json-parse the LAST non-empty line. Subset + sf0.001 keeps it fast;
  # the parse contract (undecorated final JSON line) is sf-independent.
  echo "[preflight] bench line parse smoke"
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
    SPARK_GRAFT_ONLY=q01_pricing_summary,txt_quality \
    sbt -batch "runMain graft.Bench" < /dev/null 2>&1 \
    | tee /tmp/preflight_bench.out >/dev/null
  python3 - <<'EOF'
import json
lines = [l.strip() for l in open("/tmp/preflight_bench.out") if l.strip()]
last = lines[-1]
d = json.loads(last)  # raises (non-zero exit) if the driver couldn't parse it
assert d.get("metric") == "total" and d.get("n_queries", 0) > 0, d
print("[preflight] bench line parses:", {k: d[k] for k in ("metric", "value", "n_queries")})
EOF

  # Two traced runs of one seed must repeat every count metric (jobs,
  # tasks, rows, tables changed, build jobs) exactly, per workload; a probe,
  # sidecar or memo path that depends on timing or listing order shows up
  # here.
  echo "[preflight] perfbench selftest etl_ticks llm_ops"
  python3 perfbench/selftest.py etl_ticks llm_ops
fi

echo "[preflight] OK"
