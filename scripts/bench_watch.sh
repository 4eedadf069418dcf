#!/bin/bash
# Health-gated protocol runner (BENCH.md round 3-5 discipline): probe the box
# every $SLEEP s and, once TWO consecutive probes are healthy (>= $THRESHOLD
# URLs/s at 8 cores, healthy ~2000), run the full N->4N protocol, a
# post-protocol probe and the graph N->4N sample. If no healthy window
# appears within $ATTEMPTS probes nothing is run; the log discloses every
# probe.
#
# Coordination with other work on the box:
#   - a probe is skipped while /tmp/graft_busy exists (hold it during sbt
#     compile/test/Verify runs — they would both read a low probe AND be
#     slowed by it);
#   - /tmp/graft_protocol_running exists while the samples run (check it
#     before starting sbt work); it is removed on exit, also when the
#     watcher is killed.
#
# Usage:  sbt -batch package && setsid nohup scripts/bench_watch.sh [log] &
# (setsid matters: a plain background job dies with its shell session.)
set -u
cd "$(dirname "$0")/.."
LOG=${1:-/tmp/bench_watch.log}
THRESHOLD=${THRESHOLD:-1700}
ATTEMPTS=${ATTEMPTS:-80}
SLEEP=${SLEEP:-480}
echo "== watcher start $(date -u +%F' '%T) threshold=$THRESHOLD attempts=$ATTEMPTS" >> "$LOG"
# Launch gate: two consecutive healthy probes, back-to-back (~3 min apart).
# One probe cannot tell a transient spike from a stable idle stretch, and a
# launch into a decaying window wastes 25 min of samples.
launched=0
streak=0
for i in $(seq 1 "$ATTEMPTS"); do
  if [ -e /tmp/graft_busy ]; then
    echo "$(date -u +%H:%M:%S) probe#$i skipped (busy)" >> "$LOG"
    streak=0
    sleep 120
    continue
  fi
  line=$(scripts/scaling_protocol.sh probe 2>/dev/null | tail -1)
  tput=$(echo "$line" | python3 -c "import json,sys; print(json.load(sys.stdin)['urls_per_sec'])" 2>/dev/null || echo 0)
  ok=$(python3 -c "print(1 if float('$tput' or 0)>=$THRESHOLD else 0)")
  if [ "$ok" = "1" ]; then streak=$((streak+1)); else streak=0; fi
  echo "$(date -u +%H:%M:%S) probe#$i $tput streak=$streak" >> "$LOG"
  if [ "$streak" -ge 2 ]; then launched=1; break; fi
  if [ "$streak" = "1" ]; then continue; fi   # confirm immediately, no sleep
  sleep "$SLEEP"
done
if [ "$launched" = "1" ]; then
  touch /tmp/graft_protocol_running
  trap 'rm -f /tmp/graft_protocol_running' EXIT
  echo "== protocol start $(date -u +%F' '%T)" >> "$LOG"
  scripts/scaling_protocol.sh >> "$LOG" 2>/dev/null
  echo "== post-protocol probe" >> "$LOG"
  scripts/scaling_protocol.sh probe >> "$LOG" 2>/dev/null
  echo "== graph" >> "$LOG"
  scripts/scaling_protocol.sh graph >> "$LOG" 2>/dev/null
  echo "== done $(date -u +%F' '%T)" >> "$LOG"
else
  echo "== no healthy window after $ATTEMPTS probes $(date -u +%F' '%T)" >> "$LOG"
fi
