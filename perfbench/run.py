#!/usr/bin/env python3
"""graft benchmark: runs one workload and prints one JSON result line.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads and metrics are described in BENCHMARK.json. One invocation:

1. builds the library and the harness (perfbench/build.sbt) with sbt,
   unless the sources are unchanged since the last build;
2. checks the read-only seed-42 sf0.1 tables against their content
   checksum in perfbench/fixtures.json and, for mixed_10x, prepares the
   10x fixture under perfbench/.work/fixtures with tools/scale10.py,
   regenerated when missing or when its checksum differs;
3. runs the harness JVM (perfbench.Main): set-up, a cold pass, warm passes
   for --seconds, and an untimed verification pass;
4. checks every verified result exactly against its DuckDB oracle with
   tools/check.py;
5. writes the run record to perfbench/.work/records and prints the result.

--seed fixes the query order of every warm pass; the cold pass runs in
list order. --trace 1 attaches the
listener-based tracer and prints the per-layer metrics instead of the
end-to-end ones. The machine's load average and CPU steal are stamped on
every record; a run that starts while the 1-minute load average exceeds
the core count is flagged, never re-timed or dropped.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORKLOADS = {
    "relational_sf0.1": {"fixture": "sf0.1", "heap": "3g"},
    "mixed_10x": {"fixture": "sf0.1x10", "heap": "4g"},
}
JVM_TIMEOUT_S = 150  # with the result check, a run stays within 180 s
CHECK_TIMEOUT_S = 20

# Per-layer metrics split by module group (only groups the workloads run).
GROUPS = ["ops", "dedup", "sim"]
GROUPED = [("build_s", "build_s", "s"), ("plan_s", "plan_s", "s"), ("exec_s", "exec_s", "s"),
           ("exec.stages", "stages", "count"), ("exec.task_s", "task_s", "s")]


def executor_cores():
    """All cores but one: the driver thread, the JIT compiler and the GC
    then never queue behind task threads, which on a small machine made
    driver-bound timings slower."""
    return max(1, (os.cpu_count() or 2) - 1)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fixture():
    """The read-only seed-42 sf0.1 tables every fixture derives from:
    $PERFBENCH_SOURCE_FIXTURE, else the sf0.1 directory TESTDATA.md names."""
    if "PERFBENCH_SOURCE_FIXTURE" in os.environ:
        return Path(os.environ["PERFBENCH_SOURCE_FIXTURE"])
    for line in (ROOT / "TESTDATA.md").read_text().splitlines():
        if line.startswith("| 0.1 |"):
            return Path(line.split("`")[1])
    fail("TESTDATA.md names no sf0.1 directory; set PERFBENCH_SOURCE_FIXTURE")


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".scala", ".properties"))
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile library + harness unless unchanged; returns the classpath."""
    stamp, cp_file = WORK / "build" / "digest", WORK / "build" / "classpath"
    digest = source_digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
         "-Dsbt.offline=true", "-Xmx2g"]))
    log = WORK / "build" / "sbt.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    lines = log.read_text().splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        fail(f"build failed, see {log}")
    cp_file.write_text(cp[-1].strip())
    stamp.write_text(digest)
    return cp[-1].strip()


# ------------------------------------------------------------- fixtures

def content_checksum(d):
    """Order-independent digest of every table's rows (count + hash sum)."""
    import duckdb
    con = duckdb.connect()
    h = hashlib.sha256()
    for t in TABLES:
        n, s = con.execute(
            f"SELECT count(*), coalesce(sum(hash(x)), 0)::HUGEINT "
            f"FROM read_parquet('{d}/{t}.parquet') x").fetchone()
        h.update(f"{t}:{n}:{s};".encode())
    return h.hexdigest()


def prepare_fixture(name, expected):
    """Returns (dir, checksum, seconds spent generating). sf0.1 is read in
    place and only checked; the 10x fixture is generated from it into the
    benchmark's working directory when missing or different."""
    src = source_fixture()
    if not all((src / f"{t}.parquet").exists() for t in TABLES):
        fail(f"source fixture {src} not found")
    if name == "sf0.1":
        d, gen_s = src, 0.0
    else:
        d = WORK / "fixtures" / name
        have = all((d / f"{t}.parquet").exists() for t in TABLES)
        if have and content_checksum(d) == expected[name]:
            return d, expected[name], 0.0
        t0 = time.time()
        if d.exists():
            shutil.rmtree(d)
        d.parent.mkdir(parents=True, exist_ok=True)
        subprocess.run([sys.executable, str(ROOT / "tools" / "scale10.py"), str(src), str(d), "10", "10"],
                       check=True, stdout=subprocess.DEVNULL, stdin=subprocess.DEVNULL, timeout=300)
        gen_s = time.time() - t0
    got = content_checksum(d)
    if got != expected[name]:
        fail(f"fixture {name} in {d} has checksum {got}, expected {expected[name]}")
    return d, got, gen_s


# ---------------------------------------------------------- verification

def verify(queries, verify_dir, fixture):
    """Checks every verified result exactly against its DuckDB oracle with
    tools/check.py. Returns {query: None if correct else reason}."""
    oracles = {q["name"]: q["oracle"] for q in queries}
    no_oracle = [n for n, sql in oracles.items() if sql is None]
    if no_oracle:
        fail(f"queries without an oracle cannot be checked: {no_oracle}")
    verify_dir.mkdir(parents=True, exist_ok=True)
    (verify_dir / "oracle_sql.json").write_text(json.dumps(oracles))
    try:
        r = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(fixture), str(verify_dir)],
                           capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=CHECK_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("tools/check.py timed out")
    out = {}
    for line in r.stdout.splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict == "PASS":
            out[rest.split(" ")[0]] = None
        elif verdict == "FAIL":
            name, _, reason = rest.partition(": ")
            out[name] = reason[:300]
    if r.returncode not in (0, 1) or out.keys() != oracles.keys():
        fail(f"tools/check.py gave no verdict for every query (exit {r.returncode}): "
             f"{(r.stdout + r.stderr)[-1000:]}")
    return out


# --------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(rec):
    warm = [r["wall_s"] for r in rec["runs"] if r["pass"] > 0]
    return {
        "setup_s": (rec["setup_s"], "s"),
        "cold_pass_s": (rec["cold_pass_s"], "s"),
        "warm_pass_s": (median(rec["warm_pass_s"]), "s"),
        "query_p50_s": (median(warm), "s"),
    }


def per_layer(rec):
    tr = rec["trace"]
    runs = tr["runs"]
    traced = sorted({r["pass"] for r in runs if r["pass"] > 0})
    cold = [r for r in runs if r["pass"] == 0]
    passes = [[r for r in runs if r["pass"] == p] for p in traced]

    def per_pass(f, rs=None):
        """Median over the traced warm passes of the pass total of f."""
        return median([sum(f(r) for r in ps) for ps in (passes if rs is None else rs)])

    def ratio(num, den):
        n, d = per_pass(num), per_pass(den)
        return n / d if d else 0.0

    m = {
        "build_s": (per_pass(lambda r: r["build_s"]), "s"),
        "build.jobs": (per_pass(lambda r: r["build_jobs"]), "count"),
        "cold.build_s": (per_pass(lambda r: r["build_s"], [cold]), "s"),
        "cold.build.jobs": (per_pass(lambda r: r["build_jobs"], [cold]), "count"),
        "plan_s": (per_pass(lambda r: r["plan_s"]), "s"),
        "plan.exchanges": (per_pass(lambda r: r["exchanges"]), "count"),
        "plan.broadcasts": (per_pass(lambda r: r["broadcasts"]), "count"),
        "plan.cached_scans": (per_pass(lambda r: r["cached_scans"]), "count"),
        "exec_s": (per_pass(lambda r: r["exec_s"]), "s"),
        "exec.jobs": (per_pass(lambda r: r["jobs"]), "count"),
        "exec.stages": (per_pass(lambda r: r["stages"]), "count"),
        "exec.tasks": (per_pass(lambda r: r["tasks"]), "count"),
        "exec.one_task_stage_frac": (ratio(lambda r: r["one_task_stages"], lambda r: r["stages"]), "ratio"),
        "exec.task_s": (per_pass(lambda r: r["task_s"]), "s"),
        "exec.task_cpu_s": (per_pass(lambda r: r["task_cpu_s"]), "s"),
        "exec.gc_s": (per_pass(lambda r: r["gc_s"]), "s"),
        "exec.sched_delay_s": (per_pass(lambda r: r["sched_delay_s"]), "s"),
        "exec.driver_gap_s": (per_pass(lambda r: r["driver_gap_s"]), "s"),
        "exec.driver_gap_frac": (ratio(lambda r: r["driver_gap_s"], lambda r: r["wall_s"]), "ratio"),
        "exec.core_util": (ratio(lambda r: r["task_s"], lambda r: r["wall_s"] * rec["cpus"]), "ratio"),
        "exec.unattributed_jobs": (tr["jobs_unattributed"], "count"),
        "cold.exec.task_s": (per_pass(lambda r: r["task_s"], [cold]), "s"),
        "shuffle.write_mb": (per_pass(lambda r: r["shuffle_write_mb"]), "MB"),
        "shuffle.read_mb": (per_pass(lambda r: r["shuffle_read_mb"]), "MB"),
        "shuffle.fetch_wait_s": (per_pass(lambda r: r["fetch_wait_s"]), "s"),
        "shuffle.spill_mb": (per_pass(lambda r: r["spill_mb"]), "MB"),
        "scan.input_mrows": (per_pass(lambda r: r["input_mrows"]), "Mrows"),
        "scan.tasks_per_stage": (ratio(lambda r: r["scan_tasks"], lambda r: r["scan_stages"]), "count"),
        "memo.pins_added": (per_pass(lambda r: r["pins_added"], [cold]), "count"),
        "memo.warm_pins_added": (per_pass(lambda r: r["pins_added"]), "count"),
        "memo.storage_mb": (rec["storage_pinned_mb"], "MB"),
    }
    reads = [r for ps in passes for r in ps if r["cached_scans"] > 0]
    m["memo.hit_ratio"] = (sum(r["pins_added"] == 0 for r in reads) / len(reads) if reads else 0.0, "ratio")
    for g in GROUPS:
        for key, field, unit in GROUPED:
            m[f"{key}.{g}"] = (per_pass(lambda r: r[field] if r["group"] == g else 0), unit)
    covered = [r["covered"] for ps in passes + [cold] for r in ps]
    m["trace.coverage_min"] = (min(covered) if covered else 0.0, "ratio")
    untraced = [w for p, w in enumerate(rec["warm_pass_s"], 1) if p not in traced]
    traced_w = [w for p, w in enumerate(rec["warm_pass_s"], 1) if p in traced]
    m["trace.overhead_frac"] = (median(traced_w) / median(untraced) - 1
                                if untraced and traced_w else 0.0, "ratio")
    return m


# ------------------------------------------------------------------ load

def load_stamp():
    with open("/proc/loadavg") as f:
        la = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": la, "cpu_total": sum(cpu), "cpu_steal": cpu[7] if len(cpu) > 7 else 0}


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in ("build.sbt", "src/main/scala", "tools/scale10.py", "tools/check.py", "TESTDATA.md"):
        if not (ROOT / need).exists():
            fail(f"{ROOT / need} is missing: run from a full checkout of the repository")

    start = load_stamp()
    WORK.mkdir(exist_ok=True)
    cp = build()

    expected = json.loads((BENCH / "fixtures.json").read_text())
    wl = WORKLOADS[args.workload]
    fixture, fixture_sum, gen_s = prepare_fixture(wl["fixture"], expected)

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    out = run_dir / "record.json"
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = (["java", f"-Xms{wl['heap']}", f"-Xmx{wl['heap']}", f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--fixture", str(fixture), "--work", str(run_dir), "--out", str(out),
              "--cpus", str(executor_cores())])
    log = run_dir / "jvm.log"
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               cwd=run_dir, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out, see {log}")
    if r.returncode != 0 or not out.exists():
        fail(f"harness exited with {r.returncode}, see {log}")
    rec = json.loads(out.read_text())

    wrong = verify(rec["queries"], run_dir / "verify", fixture)

    threw = [r for r in rec["runs"] if r["error"] and r["pass"] >= 0]
    failed_verify = {k: v for k, v in wrong.items() if v is not None}
    attempted = len([r for r in rec["runs"] if r["pass"] >= 0]) + len(wrong)
    failed = len(threw) + len(failed_verify)
    end = load_stamp()
    cpus = os.cpu_count() or 1
    dt = max(1, end["cpu_total"] - start["cpu_total"])
    rec.update({
        "fixture": wl["fixture"], "fixture_checksum": fixture_sum, "fixture_gen_s": gen_s,
        "load": {"start": start["loadavg"], "end": end["loadavg"],
                 "steal_frac": (end["cpu_steal"] - start["cpu_steal"]) / dt,
                 "loaded": start["loadavg"][0] > cpus},
        "failed_frac": failed / attempted,
        "wrong_results": failed_verify,
        "exceptions": [f"{r['name']}: {r['error']}" for r in threw],
    })
    metrics = per_layer(rec) if args.trace else end_to_end(rec)
    if args.trace:
        tr = rec["trace"]
        probe = [r for r in tr["runs"] if r["pass"] < 0]
        rec["selftest"] = {
            "coverage_ge_95pct": all(r["covered"] >= 0.95 for r in tr["runs"] if r["pass"] >= 0),
            "events_drained": tr["drained"],
            # the probe builds its two sketches on threads of its own during
            # build: their jobs must be attributed to build or counted
            "probe_jobs_accounted": bool(probe) and all(
                r["build_jobs"] + r["unattributed_jobs"] >= 2 for r in probe),
        }
        metrics["trace.selftest_failed"] = (sum(not ok for ok in rec["selftest"].values()), "count")
    rec["metrics"] = {k: v for k, (v, _) in metrics.items()}
    rec_dir = WORK / "records"
    rec_dir.mkdir(exist_ok=True)
    (rec_dir / f"{args.workload}_seed{args.seed}_trace{args.trace}_{int(time.time())}.json") \
        .write_text(json.dumps(rec))
    for msg in rec["exceptions"] + [f"{k}: {v}" for k, v in failed_verify.items()]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    if rec.get("selftest") and not all(rec["selftest"].values()):
        print(f"perfbench: tracing self-test: {rec['selftest']}", file=sys.stderr)
    if rec["load"]["loaded"]:
        print(f"perfbench: loaded machine: {rec['load']}", file=sys.stderr)
    missing = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if missing:
        fail(f"no value for {missing}, see {rec_dir}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
