#!/bin/bash
# Full-registry DuckDB-oracle sweep in driver-window-sized chunks.
#
# The 336-query registry exceeds one command window at sf0.1, so the
# sweep runs scripts/selfcheck.py over ~65-name slices in REGISTRY
# order (slice 1 therefore covers the entire 50-name driver window).
#
# Usage: scripts/sweep_all.sh [sf_dir] [logfile]
#   sf_dir  default /root/testdata/sf0.01 (the driver's scale)
#   logfile default /tmp/klss_sweep_<sf>.log
# Prints the per-chunk pass/fail summary lines; exit 1 on any FAIL,
# on a nonzero selfcheck exit (crash/OOM/launch failure — ADVICE r12:
# a chunk that dies without printing FAIL must not read as green), or
# when the checked-name total does not add up to the registry size.
set -u
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
LOG="${2:-/tmp/klss_sweep_$(basename "$SF").log}"
: > "$LOG"
NAMES=$(python -c "import sys; sys.path.insert(0,'.'); import __spark_entry__ as m; print(' '.join(m.queries()))")
set -- $NAMES
TOTAL=$#
if [ "$TOTAL" -eq 0 ]; then
    echo "sweep: query enumeration returned 0 names" | tee -a "$LOG"
    exit 1
fi
CHUNK=65
I=0
RC=0
while [ $# -gt 0 ]; do
    BATCH=""
    N=0
    while [ $# -gt 0 ] && [ $N -lt $CHUNK ]; do
        BATCH="$BATCH $1"; shift; N=$((N+1))
    done
    I=$((I+1))
    echo "== chunk $I" >> "$LOG"
    # Full output (stderr included) goes to a per-chunk log so a
    # misbehaving chunk leaves evidence; the summary log stays terse.
    CLOG="${LOG%.log}.chunk$I.log"
    python scripts/selfcheck.py "$SF" $BATCH > "$CLOG" 2>&1
    CRC=$?
    grep -E "PASS|FAIL|ROWS|pass," "$CLOG" >> "$LOG"
    if [ $CRC -ne 0 ]; then
        echo "== chunk $I exited $CRC (see $CLOG)" | tee -a "$LOG"
        RC=1
    fi
done
echo "== sweep done ($TOTAL names)" >> "$LOG"
grep -E "pass,|== sweep|exited" "$LOG"
if grep -q FAIL "$LOG"; then
    RC=1
fi
# Every name must have produced a verdict: a chunk that silently
# skipped work (or died mid-list with rc somehow 0) must not pass.
# Counted from the per-chunk summary lines, not the PASS lines —
# Spark progress bars prefix some PASS lines with \r-carried text, so
# a line-anchored grep undercounts (observed: 303 "lines" for 329
# green verdicts).
CHECKED=$(awk -F'[ ,]+' '/ pass, .* fail, .* rows-only/ {n += $1 + $3 + $5} END {print n + 0}' "$LOG")
if [ "$CHECKED" -ne "$TOTAL" ]; then
    echo "sweep: $CHECKED verdicts for $TOTAL names — incomplete" | tee -a "$LOG"
    RC=1
fi
exit $RC
