#!/bin/bash
# Run the whole test suite — the default tier plus the Slow tier
# (SPARK_GRAFT_SLOW_TESTS=1) — in the tier-1 environment, and record the
# result in VERIFY_FULL.json: the commit the tree is based on, whether the
# tree had uncommitted changes, tests run, failures (failed tests plus
# aborted suites) and wall time. Exits non-zero unless the suite ran and
# nothing failed.
# Usage: tools/verify_full.sh [log]   (default log: target/verify_full.log)
set -uo pipefail
cd "$(dirname "$0")/.."
LOG="${1:-target/verify_full.log}"
mkdir -p "$(dirname "$LOG")"

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_SLOW_TESTS=1
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-${TMPDIR:-/tmp}/spark-local}"

BASE="$(git rev-parse HEAD)"
# Dirty: any tracked change or untracked file, except this record itself.
DIRTY=false
if git status --porcelain | grep -qv ' VERIFY_FULL.json$'; then DIRTY=true; fi

START=$(date +%s)
sbt --batch -Dsbt.log.noformat=true Test/compile "testOnly *" > "$LOG" 2>&1
RC=$?
DURATION=$(( $(date +%s) - START ))

python3 - "$LOG" "$BASE" "$DIRTY" "$DURATION" "$RC" "$SPARK_GRAFT_CPUS" <<'EOF'
import json, re, sys
log, base, dirty, duration, rc, cpus = sys.argv[1:]
text = open(log, errors="replace").read()
def last(pattern):
    found = re.findall(pattern, text)
    return found[-1] if found else None
run = last(r"Total number of tests run: (\d+)")
tests = last(r"Tests: succeeded (\d+), failed (\d+)")
suites = last(r"Suites: completed (\d+), aborted (\d+)")
record = {
    "base_commit": base,
    "dirty": dirty == "true",
    "slow_tier": True,
    "cpus": int(cpus),
    "tests": int(run) if run else 0,
    "failures": int(tests[1]) if tests else None,
    "suites_aborted": int(suites[1]) if suites else None,
    "sbt_exit": int(rc),
    "duration_s": int(duration),
}
with open("VERIFY_FULL.json", "w") as f:
    json.dump(record, f, indent=2)
    f.write("\n")
print(json.dumps(record))
ok = (record["sbt_exit"] == 0 and record["tests"] > 0
      and record["failures"] == 0 and record["suites_aborted"] == 0)
sys.exit(0 if ok else 1)
EOF
