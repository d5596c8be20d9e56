"""graft benchmark: one command for the query_seq, query_conc and etl_daily
workloads (see perfbench/README.md).

    python3 perfbench/run.py --workload query_seq --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds graft and the benchmark's JVM side
(perfbench/build.py), generates the inputs from the seed, runs the workload
on local[nproc], checks every output (exit 1 on a wrong one) and prints as
its last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer ones with ``--trace 1``. End-to-end timings are host-normalized
by a probe timed between ops (README, "Host speed"). Everything it writes
stays under ``.perfbench/`` in the working directory.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("query_seq", "query_conc", "etl_daily")
JVM_TIMEOUT_S = 165
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# Per-layer metrics that are summed per op; the rest are derived below.
PER_OP_SUMS = ["tables.schema_jobs", "tables.schema_job_s", "queries.construct_s",
               "queries.construct_jobs", "planning.analysis_s", "planning.optimization_s",
               "planning.planning_s", "scheduling.jobs", "scheduling.stages", "scheduling.tasks",
               "scheduling.job_gap_s", "scheduling.scheduler_delay_s", "scheduling.failed_tasks",
               "operators.executor_run_s", "operators.executor_cpu_s", "operators.gc_s",
               "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
               "shuffle.spill_bytes", "pipeline.write_s", "pipeline.write_bytes",
               "pipeline.write_records"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().strip()


def percentile(values, q):
    """Linear-interpolation percentile (numpy's default)."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def fixture_dir(work, spec):
    """The sf fixture, regenerated when the generator or its spec changed."""
    out = os.path.join(work, "fixture")
    with open(os.path.join(HERE, "inputs.py"), "rb") as f:
        stamp = hashlib.sha256(f.read() + json.dumps(spec, sort_keys=True).encode()).hexdigest()
    stamp_file = out + ".stamp"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        inputs.write_fixture(out, seed=spec["seed"], sf=spec["scale_factor"])
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return out


def run_jvm(classpath, run_dir, args, cds):
    """Run graftbench.Main in ``run_dir``; ``cds`` is the class-data
    archive option (see class_archive)."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env["SPARK_LOCAL_DIRS"] = tmp
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", cds, f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/spark-warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", ":".join(classpath), "graftbench.Main"] +
           [f"{k}={v}" for k, v in args.items()])
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write("".join(l for l in f.readlines() if " INFO " not in l)[-6000:])
        raise SystemExit(f"benchmark JVM failed (rc={rc}); see {jvm_log}")
    with open(result) as f:
        return json.load(f)


def class_archive(classpath, stamp, work, spec, nproc):
    """The JVM option that maps a class-data archive of every class the
    workloads load. Spark's cold start is mostly class loading, which the
    archive roughly halves. It is part of the build: made once per build by a
    training JVM that runs both kinds of workload on tiny inputs, so every
    measured run starts the same way."""
    archive = os.path.join(work, "classes.jsa")
    stamp_file = archive + ".stamp"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        train = os.path.join(work, "train")
        shutil.rmtree(train, ignore_errors=True)
        os.makedirs(train)
        fixture = os.path.join(train, "fixture")
        inputs.write_fixture(fixture, seed=spec["fixture"]["seed"], sf=0.001)
        day = os.path.join(train, "raw")
        inputs.write_etl_day(day, 0, dict(spec["etl_daily"], artists=50, albums=100, tracks=300))
        if os.path.exists(archive):
            os.remove(archive)
        run_jvm(classpath, train, {"workload": "train", "seed": 0, "seconds": 0, "trace": 1,
                                   "cpus": nproc, "work": train, "fixture": fixture,
                                   "queries": ",".join(spec["queries"]["list"]), "raw": day},
                f"-XX:ArchiveClassesAtExit={archive}")
        shutil.rmtree(train)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return f"-XX:SharedArchiveFile={archive}"


def check_queries(root, fixture, res):
    """Hash-exact compare of every listed query's output with its DuckDB
    oracle through dev/check.py. Returns the names that failed."""
    sys.path.insert(0, os.path.join(root, "dev"))
    import check
    failed = set(res["check"]["errors"])
    for name, err in sorted(res["check"]["errors"].items()):
        log(f"FAIL {name}: {err}")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(fixture, res["check"]["dir"])
    log(buf.getvalue().rstrip())
    failed |= {l.split()[1].rstrip(":") for l in buf.getvalue().splitlines() if l.startswith("FAIL ")}
    return sorted(failed)


def check_etl(res, truths):
    """Per-partition row counts and first-fetch-wins winners against the
    generator's planted truth, read after the closing same-date re-run.
    Returns the run dates whose output is wrong."""
    import duckdb
    con = duckdb.connect()
    out = res["check"]["dir"]
    raw_of = {w["date"]: w["raw"] for w in res["written"]}
    failed = set()
    for entity in res["entities"]:
        got = dict(con.execute(
            f"SELECT CAST(ingest_date AS VARCHAR), count(*) FROM read_parquet("
            f"'{out}/{entity}/*/*.parquet', hive_partitioning = true) GROUP BY 1").fetchall())
        for date in sorted(set(got) | set(raw_of)):
            want = truths[raw_of[date]]["counts"][entity] if date in raw_of else None
            if got.get(date) != want:
                log(f"FAIL etl_daily {date}: {entity} has {got.get(date)} rows, want {want}")
                failed.add(date)
    for entity, key, name in (("album", "album_id", "album_name"), ("track", "track_id", "track_name")):
        for date, r in sorted(raw_of.items()):
            got = dict(con.execute(
                f"SELECT {key}, {name} FROM read_parquet('{out}/{entity}/ingest_date={date}/*.parquet')"
            ).fetchall())
            want = truths[r]["winners"][entity]
            if got != want:
                wrong = sum(1 for k, v in want.items() if got.get(k) != v)
                log(f"FAIL etl_daily {date}: {wrong} {entity} winners are not the first fetch")
                failed.add(date)
    return sorted(failed)


def end_to_end(res, timed, nominal_probe_s):
    """The end-to-end metrics in host-normalized time: every timing is
    scaled by the nominal over the lower quartile of this run's host-probe
    times (see HostProbe in Main.scala), so slow and fast stretches of a
    shared host give nearly the same figures for the same code. The lower
    quartile, because whatever else runs during a sample only adds to its
    time. The raw figures go to stderr and summary.json."""
    ok = [o for o in timed if o["error"] is None]
    lat = [o["latency_s"] for o in ok]
    if not lat:
        raise SystemExit("no op succeeded")
    # An op that straddles the end of its pass's window counts for the share
    # of its time inside the window, so throughput is not quantized to
    # whole ops per window.
    windows = {p["pass"]: p["window_s"] for p in res["passes"]}
    in_window = sum(min(1.0, max(0.0, (windows[o["pass"]] - o["end_s"]) / o["latency_s"] + 1.0))
                    for o in ok)
    beyond = sum(1 for x in lat if x > percentile(lat, 0.9))
    log(f"ops={len(timed)} ok={len(ok)} in_window={in_window:.2f} beyond_p90={beyond} "
        f"passes={len(res['passes'])} timed_s={sum(p['wall_s'] for p in res['passes']):.2f} "
        f"check_pass_s={res['check_pass_s']:.2f}")
    raw = {
        "setup_s": (statistics.median(s["start_s"] + s["warmup_s"] for s in res["setups"]), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_p90_s": (percentile(lat, 0.9), "s"),
        "ops_per_s": (in_window / sum(windows.values()), "1/s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
    }
    probe = statistics.quantiles(res["host_probe_s"], n=4)[0]
    speed = probe / nominal_probe_s
    log(f"host probe: lower quartile {probe:.6f} s over {len(res['host_probe_s'])} samples "
        f"(nominal {nominal_probe_s} s); raw: " +
        " ".join(f"{k}={v:.6g}" for k, (v, _) in raw.items()))
    scale = {"s": 1 / speed, "1/s": speed}
    return {k: (v * scale.get(u, 1.0), u) for k, (v, u) in raw.items()}, raw


def per_layer(res, timed):
    recs = res["records"]
    n = max(len(recs), 1)
    tot = {k: sum(r[k] for r in recs) for k in PER_OP_SUMS}
    m = {k: (tot[k] / n, "s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count")
         for k in PER_OP_SUMS}
    wall = sum(r["wall_s"] for r in recs) or 1.0
    tables = sum(r["tables.tables_read"] for r in recs)
    etl = "written" in res
    input_bytes = sum(r["input.bytes"] for r in recs)
    written = res.get("written", [])
    in_raw = sum(w["input_bytes"] for w in written)
    traced = [o["latency_s"] for o in timed if o["traced"] and o["error"] is None]
    untraced = [o["latency_s"] for o in timed if not o["traced"] and o["error"] is None]
    p50t, p50u = statistics.median(traced), statistics.median(untraced)
    m.update({
        "sessions.start_s": (statistics.median(s["start_s"] for s in res["setups"]), "s"),
        "sessions.warmup_s": (statistics.median(s["warmup_s"] for s in res["setups"]), "s"),
        "tables.schema_jobs_per_table": (tot["tables.schema_jobs"] / tables if tables else 0.0, "ratio"),
        "queries.construct_share": (tot["queries.construct_s"] / wall, "ratio"),
        "operators.busy_cores": (tot["operators.executor_run_s"] / wall, "cores"),
        "operators.peak_exec_mem_mb": (max((r["operators.peak_exec_mem_mb"] for r in recs), default=0.0), "MiB"),
        "checkpoints.release_s": (sum(p["release_s"] for p in res["passes"]) / max(len(timed), 1), "s"),
        "json.read_bytes": (input_bytes / n if etl else 0.0, "bytes"),
        "json.read_records": (sum(r["input.records"] for r in recs) / n if etl else 0.0, "count"),
        "pipeline.write_files":
            (sum(w["written_files"] for w in written) / len(written) if written else 0.0, "count"),
        "pipeline.written_bytes_per_input_byte":
            (sum(w["written_bytes"] for w in written) / in_raw if in_raw else 0.0, "ratio"),
        "trace.ops": (len(recs), "count"),
        "trace.unattributed_jobs": (len(res["unattributed_jobs"]), "count"),
        "trace.op_p50_traced_s": (p50t, "s"),
        "trace.op_p50_untraced_s": (p50u, "s"),
        "trace.overhead_s": (p50t - p50u, "s"),
    })
    return m


def write_trace(run_dir, res):
    """Spans (op, its phases, its jobs) as JSON lines, plus the
    construction-time job census per query."""
    census = {}
    with open(os.path.join(run_dir, "spans.jsonl"), "w") as f:
        def span(**kw):
            f.write(json.dumps(kw) + "\n")
        for r in res["records"]:
            span(id=r["op"], parent=None, name=r["name"], start_ms=r["start_ms"],
                 end_ms=r["end_ms"], self_s=r["scheduling.job_gap_s"])
            ends = [p["start_ms"] for p in r["phases"][1:]] + [r["end_ms"]]
            for ph, end in zip(r["phases"], ends):
                span(id=f"{r['op']}/{ph['phase']}", parent=r["op"], name=ph["phase"],
                     start_ms=ph["start_ms"], end_ms=end)
            for j in r["jobs"]:
                span(id=f"job{j['id']}", parent=j["group"], name=j["name"],
                     start_ms=j["start_ms"], end_ms=j["end_ms"])
            c = census.setdefault(r["name"], {"runs": 0, "jobs": 0, "construct_jobs": 0})
            c["runs"] += 1
            c["jobs"] += r["scheduling.jobs"]
            c["construct_jobs"] += r["queries.construct_jobs"]
    with open(os.path.join(run_dir, "records.json"), "w") as f:
        json.dump(res["records"], f)
    with open(os.path.join(run_dir, "census.json"), "w") as f:
        json.dump(census, f, indent=1, sort_keys=True)
    total = {k: sum(c[k] / c["runs"] for c in census.values()) for k in ("jobs", "construct_jobs")}
    log("census (jobs per execution): " + ", ".join(
        f"{q} {c['construct_jobs'] / c['runs']:g}/{c['jobs'] / c['runs']:g}"
        for q, c in sorted(census.items())))
    log(f"census total: {total['construct_jobs']:g} of {total['jobs']:g} jobs fire during construction")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    work = os.path.join(root, ".perfbench")
    load_start = loadavg()
    nproc = len(os.sched_getaffinity(0))
    if not os.path.isfile(os.path.join(root, "dev", "check.py")):
        raise SystemExit("dev/check.py not found (run from the repository root)")
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    classpath, stamp = build.build(root, work)
    cds = class_archive(classpath, stamp, work, spec, nproc)

    run_dir = os.path.join(work, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm_args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "cpus": nproc, "work": run_dir}
    if a.workload == "etl_daily":
        days = [os.path.join(run_dir, "raw", f"day{d}")
                for d in range(spec["etl_daily"]["landed_days"])]
        truths = [inputs.write_etl_day(d, [a.seed % 2**32, i], spec["etl_daily"])
                  for i, d in enumerate(days)]
        jvm_args["raw"] = ",".join(days)
    else:
        fixture = fixture_dir(work, spec["fixture"])
        jvm_args.update(fixture=fixture, queries=",".join(spec["queries"]["list"]))

    res = run_jvm(classpath, run_dir, jvm_args, cds)
    if a.workload == "etl_daily":
        failed_checks = check_etl(res, truths)
    else:
        failed_checks = check_queries(root, fixture, res)
    timed = res["ops"]
    errors = [o for o in timed if o["error"] is not None]
    for o in errors[:5]:
        log(f"op failed: {o['name']}: {o['error']}")
    # The query workloads' correctness pass runs each listed query once
    # more; etl_daily checks the timed ops' own outputs.
    checked = 0 if a.workload == "etl_daily" else len(spec["queries"]["list"])

    raw = None
    if a.trace:
        write_trace(run_dir, res)
        metrics = per_layer(res, timed)
    else:
        metrics, raw = end_to_end(res, timed, spec["host_probe"]["nominal_s"])
    summary = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "nproc": nproc, "loadavg_start": load_start, "loadavg_end": loadavg(),
               "clients": res["clients"], "passes": len(res["passes"]), "ops": len(timed)}
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(dict(summary, metrics=metrics, raw_metrics=raw,
                       host_probe_s=res["host_probe_s"]), f, indent=1)
    log(" ".join(f"{k}={v}" for k, v in summary.items()))
    for k, (v, unit) in sorted(metrics.items()):
        log(f"  {k:40s} {v:14.6g} {unit}")
    correct = not failed_checks
    print(json.dumps({
        "correct": correct,
        "attempted": len(timed) + checked,
        "failed": len(errors) + len(failed_checks),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
