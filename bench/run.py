#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout:

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: registry_seq, hrv_pipeline (see bench/NOTES.md).

The first run in a checkout builds the engine and the benchmark program from
source with sbt (bench/build.sbt), generates the registry tables with the
engine's own deterministic generator (graft.GenSf), and counts each sampled
query's rows with DuckDB over the oracle SQL. All of it is cached under
bench/.work. Each run then starts one JVM (graftbench.Main), which prints the
result; this script checks it carries every metric BENCHMARK.json names and
prints it as the last line of stdout. The exit code is 0 only when every
operation returned the right result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ["registry_seq", "hrv_pipeline"]
# the registry workload's tables
DATA = os.path.join(WORK, "data", "sf0.01")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt)
OPENS = [a for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run(cmd, timeout, logfile, cwd=None, env=None):
    """Run cmd in its own process group; kill the group on timeout. Returns
    (exit code, stdout)."""
    with open(logfile, "ab") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail(f"{cmd[0]} timed out after {timeout} s (log: {logfile})")
    return p.returncode, out.decode()


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and graftbench with sbt unless the sources are unchanged;
    return the runtime classpath and the sources' stamp."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala/graft")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read(), stamp
    log("building the engine and graftbench with sbt")
    # no sbt server, and sbt's scratch files stay in the checkout
    sbt_tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={sbt_tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    logfile = os.path.join(WORK, "build.log")
    code, _ = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                  BUILD_TIMEOUT_S, logfile, cwd=BENCH, env=env)
    if code != 0 or not os.path.exists(cp_file):
        log(tail(logfile))
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read(), stamp


def java(cp, main, args, logfile, cores, timeout, cwd):
    tmp = os.path.join(cwd, "scratch", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, so the resident-set high-water mark does not follow the
    # collector's heap resizing
    cmd = ["java", *OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(cwd, 'scratch', 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(cwd, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-cp", cp, main, *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    return run(cmd, timeout, logfile, cwd=cwd, env=env)


def expected_path(stamp):
    """Row counts of the sampled queries; keyed by the sources, which fix
    the sample and the oracle SQL."""
    return os.path.join(DATA, f"expected_{stamp[:16]}.txt")


def prepare(cp, cores, stamp):
    """Tables and DuckDB row counts of the registry workload; made once per
    checkout. The tables do not depend on the seed."""
    scratch = os.path.join(WORK, "prep")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    logfile = os.path.join(WORK, "prep.log")
    if not os.path.exists(os.path.join(DATA, "_DONE")):
        log("generating sf0.01 tables")
        shutil.rmtree(DATA, ignore_errors=True)
        code, _ = java(cp, "graft.GenSf", [DATA, "0.01"], logfile, cores, 240, scratch)
        if code != 0:
            log(tail(logfile))
            fail("table generation failed")
        open(os.path.join(DATA, "_DONE"), "w").close()
    counts = expected_path(stamp)
    if not os.path.exists(counts):
        log("counting the sampled queries' rows with DuckDB")
        code, names = java(cp, "graftbench.Main", ["--workload", "registry_seq", "--list", "1"],
                           logfile, cores, 120, scratch)
        code2, _ = java(cp, "graft.OracleDump", [scratch], logfile, cores, 120, scratch)
        if code or code2:
            log(tail(logfile))
            fail("could not list the workload's queries")
        with open(os.path.join(scratch, "oracle_sql.json")) as f:
            oracle = json.load(f)
        write_counts(names.split(), oracle, counts, cores)
    shutil.rmtree(scratch, ignore_errors=True)


def write_counts(names, oracle, path, cores):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={cores}")
    con.execute(f"SET temp_directory='{os.path.join(WORK, 'duckdb_tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    lines = []
    for n in names:
        (c,) = con.execute(f"SELECT count(*) FROM ({oracle[n]}) AS q").fetchone()
        lines.append(f"{n} {c}\n")
    con.close()
    with open(path + ".tmp", "w") as f:
        f.writelines(lines)
    os.replace(path + ".tmp", path)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cp, stamp = build()
    if a.workload == "registry_seq":
        prepare(cp, cores, stamp)

    # one directory per run, removed when it ends; the profile and the log
    # of the last run are kept
    rundir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        run_jvm(a, spec, cp, stamp, cores, rundir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def run_jvm(a, spec, cp, stamp, cores, rundir):
    profiles = os.path.join(WORK, "profiles")
    os.makedirs(profiles, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", rundir,
            "--profile", os.path.join(profiles, f"{a.workload}_seed{a.seed}.jsonl")]
    if a.workload == "registry_seq":
        args += ["--data", DATA, "--expected", expected_path(stamp)]
    logfile = os.path.join(WORK, "last_run.log")
    open(logfile, "w").close()
    code, out = java(cp, "graftbench.Main", args, logfile, cores, RUN_TIMEOUT_S, rundir)
    with open(logfile, errors="replace") as f:
        sys.stderr.writelines(l for l in f if l.startswith("[graftbench]"))
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        log(tail(logfile))
        fail(f"graftbench.Main exited with {code}")
    result = json.loads(lines[-1])
    want = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in want if m["name"] not in result["metrics"]
               or result["metrics"][m["name"]]["unit"] != m["unit"]]
    if missing:
        fail(f"result lacks metrics {missing}")
    result["metrics"] = {m["name"]: result["metrics"][m["name"]] for m in want}
    print(json.dumps(result), flush=True)
    if not result["correct"] or result["failed"]:
        log(f"{result['failed']} of {result['attempted']} operations failed (log: {logfile})")
        sys.exit(1)


if __name__ == "__main__":
    main()
