"""The benchmark's own tests of its trace: that every Spark job lands on the
op that caused it.

    python3 perfbench/test_trace.py        # from the repository root

1. A traced query_seq run: every q_join_agg op records 9 jobs, 4 of them
   the parquet schema inference that Tables fires (``parquet at
   Tables.scala``).
2. A traced query_conc run, whose ops overlap in time: no job is left
   unattributed, no job id appears under two ops, and each query's job
   count per op equals its count in the sequential run, so no job was lost
   to or taken from a concurrent op.

Exits 1 when a check fails.
"""
import collections
import json
import os
import subprocess
import sys

SECONDS = "1"


def traced_records(workload):
    p = subprocess.run([sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", SECONDS,
                        "--trace", "1"], capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} traced run failed (rc={p.returncode})")
    run_dir = os.path.join(".perfbench", "run", workload)
    with open(os.path.join(run_dir, "records.json")) as f:
        records = json.load(f)
    with open(os.path.join(run_dir, "summary.json")) as f:
        unattributed = json.load(f)["metrics"]["trace.unattributed_jobs"][0]
    return records, unattributed


def jobs_per_query(records):
    counts = collections.defaultdict(set)
    for r in records:
        counts[r["name"]].add(r["scheduling.jobs"])
    return counts


def main():
    failures = []

    def check(ok, what):
        print(("PASS " if ok else "FAIL ") + what)
        if not ok:
            failures.append(what)

    seq, seq_leaks = traced_records("query_seq")
    join = [r for r in seq if r["name"] == "q_join_agg"]
    check(bool(join), "query_seq traced q_join_agg")
    for r in join:
        schema = sum(1 for j in r["jobs"] if "Tables.scala" in j["name"])
        check(r["scheduling.jobs"] == 9 and schema == 4 and r["tables.schema_jobs"] == 4,
              f"q_join_agg {r['op']}: {r['scheduling.jobs']} jobs (want 9), "
              f"{schema} at Tables.scala (want 4)")
    check(seq_leaks == 0, f"query_seq: {seq_leaks} unattributed jobs")

    conc, conc_leaks = traced_records("query_conc")
    spans = sorted((r["start_ms"], r["end_ms"]) for r in conc)
    overlapping = any(b[0] < a[1] for a, b in zip(spans, spans[1:]))
    check(overlapping, "query_conc ops overlapped in time")
    check(conc_leaks == 0, f"query_conc: {conc_leaks} unattributed jobs")
    owners = collections.defaultdict(set)
    for r in conc:
        for j in r["jobs"]:
            owners[j["id"]].add(r["op"])
    shared = [j for j, ops in owners.items() if len(ops) > 1]
    check(not shared, f"query_conc: {len(shared)} jobs under more than one op")
    want = jobs_per_query(seq)
    for name, got in sorted(jobs_per_query(conc).items()):
        check(got == want.get(name), f"query_conc {name}: jobs per op {sorted(got)}, "
                                      f"sequential {sorted(want.get(name, []))}")
    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
