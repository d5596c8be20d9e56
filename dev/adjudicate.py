#!/usr/bin/env python3
"""Dev-only gate-3 auto-adjudicator for borderline bench flags.

Three consecutive rounds ended with the same manual ritual: bench_diff
flags 1-2 queries at the double-threshold boundary, a human waits for a
quiet window, re-times anchor + flagged queries with DevTime, applies
the band test, and writes a disposition paragraph into SCALING.md. This
script is that ritual, mechanically:

  1. wait for loadavg < --loadavg (default 0.5), up to --max-wait;
  2. run `graft.DevTime <sf-dir> <anchors>,<flags>` directly against
     the compiled classes (min over 3 pass-major passes, the first one
     cold — the adjudication primitive);
  3. band test per flag: divide the re-timed value by the MEDIAN of the
     anchors' old→new drifts measured in the SAME quiet window, then re-apply
     bench_diff's double threshold (>1.25x AND >0.15 s) against the
     flag's previous-round time — inside the band = ambient;
  4. append the disposition block to SCALING.md (the record the round
     recipe requires) and exit 0 iff every flag is ambient.

Usage: dev/adjudicate.py <prev_bench.json> <flags.txt> [--sf-dir DIR]
Invoked by dev/round_check.sh when bench_diff exits nonzero with a
flags file. A REAL (still-out-of-band) regression keeps the gate red —
this automates the ambient case only, which is the common one.
"""
import argparse
import datetime
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(__file__))
from bench_diff import load  # noqa: E402

ROOT = os.path.join(os.path.dirname(__file__), "..")
# Anchor set spanning plan shapes (round-14): one scan-shaped anchor
# under-tracked shuffle-heavy host drift in round 13 (gate 1.13x vs
# quiet-window 2.91x). The quiet-window drift is the MEDIAN over these.
ANCHORS = ["q_agg_pricing", "q_join_agg", "q_window_topk",
           "q_global_rank", "q_kcore"]

# JDK17 module opens Spark 4 needs outside spark-submit — the list
# build.sbt also reads, so the direct-java DevTime run works while sbt
# holds the project lock.
with open(os.path.join(os.path.dirname(__file__), "jdk17-add-opens.txt")) as f:
    ADD_OPENS = [l.strip() for l in f if l.strip() and not l.startswith("#")]


def loadavg1() -> float:
    # max(1-min, 5-min): right after a ~20-min whole-board bench the 1-min
    # average drops under the threshold while the box is still settling
    # (round 14: an adjudication gated on 1-min-only re-timed two flags
    # ~1.8x high and called them REAL; a back-to-back same-VM A/B minutes
    # later read both codebases identical and in-band).
    parts = open("/proc/loadavg").read().split()
    return max(float(parts[0]), float(parts[1]))


def devtime(sf_dir: str, queries: list) -> dict:
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            "-cp", f"{ROOT}/target/scala-2.13/classes:/opt/spark/jars/*",
            "graft.DevTime", sf_dir, ",".join(queries)]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    times = {}
    for line in out.stdout.splitlines():
        parts = line.split()
        if parts[:1] == ["[time]"]:
            times[parts[1]] = float(parts[3])
    if out.returncode != 0 or set(queries) - set(times):
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-2000:])
        raise SystemExit("adjudicate: DevTime run failed")
    return times


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("prev_bench")
    ap.add_argument("flags_file")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--loadavg", type=float, default=0.5)
    ap.add_argument("--max-wait", type=int, default=900)
    ap.add_argument("--ratio", type=float, default=1.25)
    ap.add_argument("--abs", dest="abs_s", type=float, default=0.15)
    args = ap.parse_args()

    flags = [l.strip() for l in open(args.flags_file) if l.strip()]
    if not flags:
        print("adjudicate: no flags to adjudicate")
        return 0
    old = load(args.prev_bench)["queries"]
    missing = [q for q in flags if not old.get(q)]
    if missing:
        print(f"adjudicate: no previous-round time for {missing} — "
              f"cannot band-test, leaving the gate red", file=sys.stderr)
        return 1
    anchors = [a for a in ANCHORS if old.get(a)]
    if not anchors:
        print(f"adjudicate: no previous-round time for any anchor in "
              f"{ANCHORS} — cannot measure drift, leaving the gate red",
              file=sys.stderr)
        return 1
    if len(anchors) < len(ANCHORS):
        print(f"adjudicate: anchors missing old times, excluded: "
              f"{sorted(set(ANCHORS) - set(anchors))}", file=sys.stderr)

    deadline = time.time() + args.max_wait
    while (la := loadavg1()) >= args.loadavg:
        if time.time() > deadline:
            print(f"adjudicate: no quiet window under {args.loadavg} within "
                  f"{args.max_wait}s (loadavg {la}) — leaving the gate red "
                  f"for manual adjudication", file=sys.stderr)
            return 1
        print(f"adjudicate: waiting for quiet window (loadavg {la})")
        time.sleep(30)

    la = loadavg1()
    import statistics
    times = devtime(args.sf_dir, sorted(set(anchors + flags)))
    per_anchor = {a: times[a] / old[a] for a in anchors}
    drift = statistics.median(per_anchor.values())
    # Window-power check (round 14): the anchors are re-timed in the SAME
    # window as the flags, so their drift SPREAD measures the window's
    # per-query noise. A spread past 1.5x (e.g. one anchor at 0.84x and
    # another at 1.61x of its old time) means sub-second queries are
    # swinging by more than the band test's own threshold — any REAL
    # verdict at that noise level is untrustworthy in BOTH directions.
    # Exit 2 so round_check escalates to the whole-board same-VM A/B
    # (dev/ab_prev.sh), whose 340-query walls average the jitter out.
    spread = max(per_anchor.values()) / min(per_anchor.values())
    if spread > 1.5:
        stamp = datetime.datetime.now().strftime("%Y-%m-%d %H:%M")
        rnd = os.environ.get("ROUND", "?")
        per = "  ".join(f"`{a}` {r:.2f}x" for a, r in per_anchor.items())
        block = (
            f"\n### Round-{rnd} gate-3 adjudication UNPOWERED ({stamp})\n"
            f"\nQuiet-window DevTime (loadavg {la:.2f}) anchor drifts: {per} "
            f"— spread {spread:.2f}x > 1.5x. Per-query band tests have no "
            f"power in this window; escalating to the same-VM "
            f"previous-commit A/B (dev/ab_prev.sh).\n")
        with open(os.path.join(ROOT, "SCALING.md"), "a") as f:
            f.write(block)
        print(block)
        return 2
    lines, real = [], []
    for q in flags:
        norm = times[q] / drift
        ambient = not (norm > old[q] * args.ratio
                       and norm - old[q] > args.abs_s)
        verdict = "ambient" if ambient else "REAL"
        if not ambient:
            real.append(q)
        lines.append(
            f"`{q}` {old[q]:.2f} s → re-timed {times[q]:.2f} s "
            f"({norm:.2f} s anchor-normalized, band ≤ "
            f"{max(old[q] * args.ratio, old[q] + args.abs_s):.2f} s) — "
            f"{verdict}")

    stamp = datetime.datetime.now().strftime("%Y-%m-%d %H:%M")
    rnd = os.environ.get("ROUND", "?")
    disposition = ("all flags ambient; gate passes" if not real else
                   f"REAL regression(s): {', '.join(real)}; gate stays red")
    # Heavily drifted adjudication anchors divide the flags by a large
    # factor and make the band test near-vacuous (round 13: drift 2.91x
    # passed everything with no power). Don't fail on it — a slow host is
    # a legitimate ambient cause — but say so, and name the corroboration
    # that actually decides (same-VM previous-commit A/B).
    power = ("" if drift <= 1.5 else
             f"\nLOW POWER: the median adjudication-anchor drift is "
             f"{drift:.2f}x, so the normalized band test has little "
             f"discriminating power — corroborate with "
             f"`dev/ab_prev.sh <prev-round-closing-commit>` before "
             f"treating this PASS as a code verdict.\n")
    anchor_tbl = "  ".join(
        f"`{a}` {old[a]:.2f}→{times[a]:.2f} s ({r:.2f}x)"
        for a, r in per_anchor.items())
    block = (
        f"\n### Round-{rnd} gate-3 auto-adjudication ({stamp}, mechanical)\n"
        f"\nQuiet-window DevTime (loadavg {la:.2f}, min of 3 passes), "
        f"anchors: {anchor_tbl} — median drift {drift:.2f}x divided out.\n"
        + "".join(f"- {l}\n" for l in lines)
        + power
        + f"\nDisposition: {disposition}.\n")
    with open(os.path.join(ROOT, "SCALING.md"), "a") as f:
        f.write(block)
    print(block)
    return 1 if real else 0


if __name__ == "__main__":
    sys.exit(main())
