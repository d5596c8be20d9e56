#!/usr/bin/env bash
# Same-VM previous-commit A/B — the bench-drift escalation protocol
# (SCALING.md, round 13). When the raw common-query sum drifts past what
# the anchors absorb AND the flags re-time in-band, the remaining
# question is "did the CODE get uniformly slower, or the HOST?" — which
# anchor normalization cannot answer. This answers it directly: build
# the previous round's closing commit in a worktree and run the same
# whole-board sequential passes (graft.DevTime) on it and on HEAD, on
# the current host. The code is exonerated iff the old code reads no
# faster than HEAD (round 13: old 516-624 s vs HEAD 395-410 s on a host
# whose archived baseline was 282 s).
#
# Round-14: the disposition is mechanical — the walls are parsed, the
# verdict computed (exonerated iff min(REF wall) >= 0.95 * min(HEAD
# wall), the 5% band absorbing pass-to-pass noise), and the A/B block
# appended to SCALING.md the way dev/adjudicate.py appends its own.
# Exit 0 = exonerated, 1 = the old code ran faster (a REAL uniform
# regression — the gate stays red). round_check.sh invokes this
# automatically when bench_diff trips the RAW-DRIFT bar.
#
# Round-15: `--quick` runs a ~40-query stratified subset first (strata =
# wall-time deciles of the newest archived full board, plus the five
# bench_diff plan-shape anchors) — ~1/8 the wall of the full board. The
# quick verdict is decisive only when it lands CLEARLY away from the
# 0.95 exoneration bar (outside ±10% of it); a near-bar ratio escalates
# to the full board automatically, so quick can shorten an exoneration
# but never soften one.
#
# Usage: dev/ab_prev.sh [--quick] <prev-ref> [passes]   (default passes: 2)
set -euo pipefail
cd "$(dirname "$0")/.."
QUICK=0
if [ "${1:-}" = "--quick" ]; then QUICK=1; shift; fi
REF=${1:?usage: dev/ab_prev.sh [--quick] <prev-ref> [passes]}
PASSES=${2:-2}
WT=/tmp/graft_ab_prev
LOGDIR=$(mktemp -d /tmp/graft_ab_logs.XXXXXX)

# JDK 17 module opens for Spark outside sbt (the list build.sbt also reads)
JOPTS=$(sed -e '/^#/d' -e '/^$/d' -e 's/.*/--add-opens &=ALL-UNNAMED/' dev/jdk17-add-opens.txt)

compile() { # $1 = project dir, $2 = label — log to file, surface on failure
  local safe=${2//\//_}  # a ref like origin/main must not become a path
  if ! ( cd "$1" && sbt -batch compile >"$LOGDIR/compile_$safe.log" 2>&1 ); then
    echo "ab_prev: FAIL — sbt compile for $2 failed; log: $LOGDIR/compile_$safe.log" >&2
    tail -20 "$LOGDIR/compile_$safe.log" >&2
    exit 2
  fi
}

passes() { # $1 = project dir, $2 = label, $3 = optional query subset (csv)
  ( cd "$1" && java $JOPTS -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC -Xmx"${SPARK_DRIVER_MEM:-8g}" \
      -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
      graft.DevTime "${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" "${3:-all}" "$PASSES" \
      2>/dev/null | grep '^\[pass' | sed "s/^/[$2] /" )
}

# Stratified quick subset: 4 queries per wall-time decile of the newest
# archived full board (evenly spaced within the decile, so the subset
# spans sub-second scans to the multi-second iterative heavies), plus the
# five bench_diff anchors for plan-shape coverage. Validated round 15
# against the full-board verdict on the r14 episode (see SCALING.md).
# Round 16: the stratifier is graft.QuickSubset (shared with Bench's
# warmup) — it sorts snapshots by PARSED round number (the lexicographic
# glob sort here misordered r99 vs r100) and intersects the picks with
# BOTH the current registry and the previous round's snapshot inventory,
# logging drops, so a query added or renamed at HEAD can no longer kill
# the ref worktree's DevTime with an opaque require() failure.
quick_subset() {
  java $JOPTS -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.QuickSubset .
}

verdict() { # $1 = mode label, $2/$3 = head/ref wall files; rc 0/1/3 (3 = near-bar)
  python3 - "$REF" "$2" "$3" "$1" "$LOGDIR" <<'PY'
import datetime, os, re, sys
ref, head_f, ref_f, mode = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
logdir = sys.argv[5]
def walls(path):
    ws = [float(m.group(1)) for line in open(path)
          if (m := re.search(r"\[pass \d+\] wall\s+([0-9.]+)\s*s", line))]
    if not ws:
        raise SystemExit(f"ab_prev: no '[pass N] wall' lines parsed from {path}")
    return ws
hw, rw = walls(head_f), walls(ref_f)
ratio = min(rw) / min(hw)
# Exonerated iff the old code is no faster than HEAD like-for-like;
# 0.95 absorbs pass-to-pass noise on an otherwise-identical board.
exonerated = ratio >= 0.95
# Quick mode is decisive only CLEARLY away from the bar: within ±10% of
# 0.95 the subset's sampling error could flip the verdict — escalate.
near_bar = mode == "quick" and 0.855 <= ratio <= 1.045
rng = lambda ws: f"{min(ws):.1f}-{max(ws):.1f} s" if len(ws) > 1 else f"{ws[0]:.1f} s"
verdict = ("quick A/B near the exoneration bar — escalating to the full board"
           if near_bar else
           "code EXONERATED — the previous round's code runs no faster than "
           "HEAD on this host, so the raw bench drift is host-borne"
           if exonerated else
           "REAL uniform regression — the previous round's code runs faster "
           "than HEAD like-for-like; the gate stays red")
stamp = datetime.datetime.now().strftime("%Y-%m-%d %H:%M")
rnd = os.environ.get("ROUND", "?")
board = ("~40-query stratified subset (wall-decile strata + plan-shape anchors)"
         if mode == "quick" else "whole-board")
block = (f"\n### Round-{rnd} same-VM previous-commit A/B ({stamp}, mechanical, {mode})\n"
         f"\n`dev/ab_prev.sh {'--quick ' if mode == 'quick' else ''}{ref}` — "
         f"{board} DevTime sequential walls on the current host:\n"
         f"- HEAD: {rng(hw)} (passes: {', '.join(f'{w:.1f}' for w in hw)})\n"
         f"- {ref}: {rng(rw)} (passes: {', '.join(f'{w:.1f}' for w in rw)})\n"
         f"- ratio min({ref})/min(HEAD) = {ratio:.2f}x "
         f"(exoneration bar: >= 0.95{'; quick decisive outside [0.855, 1.045]' if mode == 'quick' else ''})\n"
         f"\nDisposition: {verdict}.\n")
with open("SCALING.md", "a") as f:
    f.write(block)
print(block)
# Record the ratio so the calibration-pair appender can pick it up when
# both a quick and a full verdict land in one invocation.
with open(os.path.join(logdir, f"ratio_{mode}.txt"), "w") as f:
    f.write(f"{ratio:.2f}")
sys.exit(3 if near_bar else (0 if exonerated else 1))
PY
}

calibrate() { # append a (quick, full) pair to the SCALING.md calibration table
  [ -f "$LOGDIR/ratio_quick.txt" ] && [ -f "$LOGDIR/ratio_full.txt" ] || return 0
  python3 - "$REF" "$(cat "$LOGDIR/ratio_quick.txt")" "$(cat "$LOGDIR/ratio_full.txt")" <<'PY'
import os, sys
ref, quick, full = sys.argv[1], float(sys.argv[2]), float(sys.argv[3])
rnd = os.environ.get("ROUND", "?")
full_v = "exonerated" if full >= 0.95 else "REAL regression"
row = (f"| r{rnd} | {ref} | {quick:.2f}x | {full:.2f}x | "
       f"escalate (in window) | {full_v} |\n")
lines = open("SCALING.md").read().splitlines(keepends=True)
hdr = next((i for i, l in enumerate(lines)
            if l.startswith("| round | ref | quick ratio |")), None)
if hdr is None:
    sys.exit("ab_prev: calibration table header not found in SCALING.md")
end = hdr
while end + 1 < len(lines) and lines[end + 1].startswith("|"):
    end += 1
lines.insert(end + 1, row)
open("SCALING.md", "w").writelines(lines)
print(f"ab_prev: appended calibration pair quick={quick:.2f}x full={full:.2f}x")
PY
}

echo "ab_prev: building $REF in $WT"
git worktree remove --force "$WT" 2>/dev/null || true
git worktree add "$WT" "$REF" >/dev/null
# DevTime may postdate the ref — carry the current tool into the worktree
cp src/main/scala/graft/DevTime.scala "$WT/src/main/scala/graft/DevTime.scala"
compile "$WT" "$REF"
# HEAD must run the CURRENT code, not stale target/ classes — an sbt
# compile is a no-op when fresh and cheap when not (ADVICE r13: an
# advisory echo does not enforce freshness).
compile "$(pwd)" HEAD

finish() { git worktree remove --force "$WT"; }

if [ "$QUICK" = 1 ]; then
  SUBSET=$(quick_subset)
  NSUB=$(awk -F, '{print NF}' <<<"$SUBSET")
  echo "ab_prev: quick mode — $NSUB-query stratified subset"
  echo "ab_prev: HEAD quick passes"
  passes "$(pwd)" HEAD "$SUBSET" | tee "$LOGDIR/walls_head_q.txt"
  echo "ab_prev: $REF quick passes (same host, same fixtures)"
  passes "$WT" "$REF" "$SUBSET" | tee "$LOGDIR/walls_ref_q.txt"
  set +e
  verdict quick "$LOGDIR/walls_head_q.txt" "$LOGDIR/walls_ref_q.txt"
  QRC=$?
  set -e
  if [ "$QRC" != 3 ]; then finish; exit "$QRC"; fi
  echo "ab_prev: quick verdict near the bar — running the full board"
fi

echo "ab_prev: HEAD passes"
passes "$(pwd)" HEAD | tee "$LOGDIR/walls_head.txt"
echo "ab_prev: $REF passes (same host, same fixtures)"
passes "$WT" "$REF" | tee "$LOGDIR/walls_ref.txt"
finish

set +e
verdict full "$LOGDIR/walls_head.txt" "$LOGDIR/walls_ref.txt"
FRC=$?
set -e
calibrate
exit "$FRC"
