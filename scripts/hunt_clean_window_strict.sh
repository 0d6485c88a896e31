#!/bin/bash
# Strict clean-host-window hunter: gate the launch on BOTH canaries —
# single-core matmul <= 0.45 s (mid known-good band, not the 0.5 edge)
# AND the pinned parallel canary's cpu_scaling >= 0.9 — so a rep12
# scaling pair is only spent on windows where the HOST itself can
# demonstrate the target efficiency. Motivated by the two wasted
# late-round-5 pairs: one launched at matmul 0.499 and hit a 0.793 host
# cpu-scaling ceiling (INVALID), one drifted 17%.
# Usage: scripts/hunt_clean_window_strict.sh <logfile> <cmd...>
# Exits with the wrapped command's status, or 1 if no window was found.
set -u
LOG="$1"; shift
cd "$(dirname "$0")/.."
for i in $(seq 1 120); do
  read -r M S <<<"$(python - <<'EOF'
import sys
sys.path.insert(0, "scripts")
from bench_scaling import host_canary, parallel_canary
m = host_canary()["matmul_s"]
s = parallel_canary(1, 4)["cpu_scaling"] if m <= 0.45 else 0.0
print(m, s)
EOF
)"
  echo "$(date -u +%H:%M:%S) canary matmul=${M}s cpu_scaling=${S}" >> "$LOG"
  if python -c "import sys; sys.exit(0 if (float('${M}') <= 0.45 and float('${S}') >= 0.9) else 1)"; then
    echo "$(date -u +%H:%M:%S) strict clean window -> running: $*" >> "$LOG"
    "$@" >> "$LOG" 2>&1
    rc=$?
    echo "EXIT=$rc" >> "$LOG"
    exit $rc
  fi
  sleep 150
done
echo "no strict clean window found in budget" >> "$LOG"
exit 1
